package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.Texty

/** Deduplication operators for a training-data pipeline (BASELINE.json
  * north star — SURVEY.md §2h EXT). Exact, n-gram-Jaccard, MinHash-LSH
  * and SimHash variants, all built from native/codegen'd Catalyst
  * expressions — no UDFs, no driver loops. The MinHash and SimHash paths
  * run on the portable two-prime polynomial hash basis
  * (graft.functions.Portable) so their outputs are reproducible in the
  * DuckDB oracle end to end; Jaccard uses the faster FNV-basis
  * [[graft.functions.WordShingleHashes]] since it only needs hash
  * identity, not cross-engine hash values.
  *
  * Scale design: every variant is shuffle-bounded by (a) a doc-frequency
  * cap on shingles and (b) a bucket-size cap on LSH bands, so a pathological
  * hot key (boilerplate text repeated across millions of docs) degrades to
  * dropped candidates, never to an executor-OOM quadratic join. Dropped
  * volume is observable in the `*_capped` counters of capStats.
  *
  * Reused intermediates (kept-shingle tables, signatures) are cached or
  * checkpointed; their lifetime is [[graft.Materialize]]'s contract.
  */
object Dedup {

  /** Exact dedup: group identical text, keep the smallest id. Hash-groupBy
    * on the full text value — at scale, group on md5(text) instead of the
    * raw value to keep shuffle rows narrow; both are exposed here. */
  def exact(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Incremental exact dedup — the steady-state shape of corpus ingestion:
    * keep only `incoming` docs whose content fingerprint is not already in
    * `base` (nor duplicated within the batch, where the smallest id wins).
    * One anti-join on md5 + one self-dedup; both sides shuffle on the
    * 128-bit fingerprint, never the text, so at 100 TB the exchange moves
    * ~48 bytes/doc. The base side only ever needs (fp) — at scale that is
    * a pre-materialized fingerprint index, not a rescan of the corpus. */
  def incrementalExact(base: DataFrame, incoming: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val baseFp = base.select(md5(col(text)).as("fp")).distinct()
    incoming.select(col(id).as("keep_id"), md5(col(text)).as("fp"))
      .groupBy("fp").agg(min("keep_id").as("keep_id"))
      .join(baseFp, Seq("fp"), "left_anti")
      .select("fp", "keep_id")
      .orderBy("keep_id")
  }

  /** Distinct (doc, shingle) pairs with a document-frequency cap: shingles
    * appearing in more than `maxDf` docs are boilerplate — they generate
    * O(df²) candidate pairs for no signal, so they are dropped (standard
    * stop-shingle trick; the cap is part of the operator contract).
    *
    * The cap is an aggregate to a hot-list + anti-join, NOT a
    * count-over-window: a window would sort-shuffle every shingle row.
    * Strategy choice (measured with tools/Stress at 10x replication):
    * the hash-keyed variants force broadcast of the hot list — it is
    * fixed-width longs (1M entries = 8 MB; even an absurd 100M-shingle
    * boilerplate corpus stays under Spark's 8 GB broadcast hard limit,
    * which fails loudly, not with a silent OOM) and the broadcast anti
    * was 3x faster than the AQE-chosen shuffle anti. This string-keyed
    * variant leaves the choice to AQE since string hot lists are
    * unbounded in width. */
  def shingles(docs: DataFrame, k: Int, maxDf: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val sh = docs
      .select(col(id).as("doc_id"),
        explode(Texty.wordShingles(col(text), k)).as("s"))
    val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")
    sh.join(hot, Seq("s"), "left_anti")
      .select("doc_id", "s")
  }

  /** Distinct (doc, shingle-hash) pairs with the same df cap as
    * [[shingles]] — every downstream consumer (Jaccard join keys, MinHash
    * input) only needs shingle *identity*, so a 64-bit hash of the
    * shingle replaces the string: shuffle rows shrink to two longs.
    * Shingle hashes come from the codegen'd [[graft.functions.
    * WordShingleHashes]] kernel — no shingle string is ever built.
    * (Collision odds across a corpus are ~n²/2⁶⁴ — negligible, and the
    * df cap bounds any blowup a collision could cause.) */
  def shingleHashes(docs: DataFrame, k: Int, maxDf: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // NOTE (round-14 measured NEGATIVE): the exploded stream feeds two
    // passes by construction (df-cap aggregate + kept stream), so the
    // kernel runs twice per call — but materializing the stream with a
    // localCheckpoint barrier here measured 0.90× on the dedup subset
    // at sf0.1 (storing tokens× corpus rows costs more than re-running
    // the hash kernel, which is scan-bound and cheap relative to the
    // explode's volume). Recompute is the right trade; buildSigIndex
    // keeps its barrier because its stream feeds FOUR consumers.
    val sh = Spread(docs)
      .select(col(id).as("doc_id"),
        explode(graft.functions.WordShingleHashes(col(text), k)).as("h"))
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    sh.join(broadcast(hot), Seq("h"), "left_anti")
      .select("doc_id", "h")
  }

  /** [[shingleHashes]] on the PORTABLE two-prime polynomial basis
    * (graft.functions.Portable) instead of the FNV/xxhash one: same
    * distinct-(doc, 64-bit-hash) output contract, same df cap, but every
    * hash is reproducible in the DuckDB oracle — this is the input of the
    * MinHash path so its signatures become end-to-end SQL-checkable. */
  def shinglePolyHashes(docs: DataFrame, k: Int, maxDf: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // same two-pass-by-recompute trade as [[shingleHashes]] (the
    // round-14 barrier experiment measured 0.90× — see there)
    val sh = Spread(docs)
      .select(col(id).as("doc_id"),
        explode(graft.functions.WordShinglePolyHashes(col(text), k)).as("h"))
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    sh.join(broadcast(hot), Seq("h"), "left_anti")
      .select("doc_id", "h")
  }

  /** Asymmetric shingle-containment near-dup pairs: containment of A in
    * B = |A∩B| / |A| — the inclusion measure symmetric Jaccard is blind
    * to. A short document quoted whole inside a long one has jaccard
    * ≈ |A|/|B| (tiny) but containment ≈ 1; training corpora are full of
    * exactly this shape (quotes, boilerplate wrappers, concatenated
    * scrapes), and keeping the container while dropping the contained
    * doc is the standard curation move. Emits one DIRECTED row per
    * (inner, outer) direction meeting the threshold — an exact dup pair
    * appears in both directions at 10000 bp. Same df-capped shingle
    * machinery and one shingle-keyed shuffle as [[ngramJaccard]]. */
  def containmentPairs(docs: DataFrame, k: Int = 3, maxDf: Int = 100,
      minContainBp: Long = 8000): DataFrame = {
    require(minContainBp >= 1 && minContainBp <= 10000,
      s"minContainBp in [1,10000], got $minContainBp")
    // the kept-shingle stream feeds three consumers
    val sh = Materialize.barrier(shingleHashes(docs, k, maxDf),
      "Dedup.containmentPairs.shingles")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
      .join(n.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(n.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
    // both directions from ONE undirected co-occurrence table
    val aInB = common.select(col("da").as("inner_id"), col("db").as("outer_id"),
      Texty.ratioBp(col("c"), col("na")).as("contain_bp"))
    val bInA = common.select(col("db").as("inner_id"), col("da").as("outer_id"),
      Texty.ratioBp(col("c"), col("nb")).as("contain_bp"))
    aInB.union(bInA)
      .filter(col("contain_bp") >= minContainBp)
      .orderBy("inner_id", "outer_id")
  }

  /** [[containmentPairs]] at PPJoin losslessness: directed containment
    * |A∩B|/|A| ≥ t with NO df cap — the capped variant inherits the cap's
    * blindness (two docs whose shared content is hot boilerplate beyond
    * maxDf silently stop pairing; TextDedupSpec demonstrates the miss).
    *
    * The prefix filter under the CONTAINMENT bound sits on the inner side
    * only: order each doc's shingles by the global rarest-first total
    * order ([[rarestFirstArrays]]) and keep the first |A| − ⌈t·|A|⌉ + 1
    * as A's prefix. If A∩B avoided A's prefix it would fit in the
    * ⌈t|A|⌉ − 1 suffix, contradicting |A∩B| ≥ t|A| — so a contained doc
    * must share a PREFIX token with the container's FULL set, and
    * candidates → exact-verify loses nothing. The outer side has no
    * prefix (any of its tokens can be the shared one), but work stays
    * bounded for the same reason as [[jaccardPrefix]]: inner prefixes are
    * rarest-first, so hot boilerplate never generates candidates from the
    * probing side — df(h) postings are only walked for RARE h.
    *
    * Two additional lossless prunes on the candidate join: the length
    * bound |B| ≥ t·|A| (overlap can't exceed |B|), and the PPJoin
    * positional bound at the earliest common token — tokens sort in the
    * same global order in both docs, so overlap ≤ min(|A|−pa, |B|−pb)
    * at 0-based match ranks (pa, pb); integer-exact in bp. Verification
    * is `size(array_intersect)` over the checkpointed array table —
    * candidate-sized work, the [[jaccardPrefix]] shape.
    *
    * Output ≡ uncapped directed containment (the registered query's
    * oracle IS the plain containment SQL, no `kept` CTE). Exact
    * duplicates contain each other at 10000 bp and DO pair here; on a
    * duplicate-saturated corpus that true answer is quadratic in the
    * duplication factor — run [[exact]] first, as with every pairwise
    * op. */
  def containmentPrefix(docs: DataFrame, k: Int = 3,
      minContainBp: Long = 8000): DataFrame = {
    require(minContainBp >= 1 && minContainBp <= 10000,
      s"minContainBp in [1,10000], got $minContainBp")
    val arr = rarestFirstArrays(docs, k)
    // inner prefix length |A| − ⌈t·|A|⌉ + 1, integer-exact
    val pfxLen =
      col("n_sh") - expr(s"(n_sh * $minContainBp + 9999) div 10000") + 1
    val innerPfx = arr.select(col("doc_id"), col("n_sh"),
      posexplode(slice(col("hs"), lit(1), pfxLen.cast("int")))
        .as(Seq("p", "h")))
    val outerFull = arr.select(col("doc_id"), col("n_sh"),
      posexplode(col("hs")).as(Seq("p", "h")))
    // positional bound: keep iff min(|A|−pa, |B|−pb) · 10000 ≥ t_bp · |A|
    // (valid at the earliest common token; a true pair always passes
    // there, so keeping pairs where ANY match passes is conservative)
    val posBound =
      least(col("a.n_sh") - col("a.p"), col("b.n_sh") - col("b.p")) *
        10000L >= lit(minContainBp) * col("a.n_sh")
    val cand = innerPfx.as("a").join(outerFull.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n_sh") * 10000L >= lit(minContainBp) * col("a.n_sh") &&
          posBound)
      .select(col("a.doc_id").as("inner_id"), col("b.doc_id").as("outer_id"))
      .distinct()
    cand
      .join(arr.select(col("doc_id").as("inner_id"), col("hs").as("ha"),
        col("n_sh").as("na")), "inner_id")
      .join(arr.select(col("doc_id").as("outer_id"), col("hs").as("hb")),
        "outer_id")
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("contain_bp", Texty.ratioBp(col("c"), col("na")))
      .filter(col("contain_bp") >= minContainBp)
      .select("inner_id", "outer_id", "contain_bp")
      .orderBy("inner_id", "outer_id")
  }

  /** Exact n-gram Jaccard near-dup pairs: candidate pairs share >=1 kept
    * shingle; jaccard = |A∩B| / (|A|+|B|-|A∩B|), reported in exact basis
    * points. The shingle-equijoin is a plain shuffle hash join on the
    * shingle hash — partitioned by shingle, so co-occurrence counting is
    * local, and the join key is one long. */
  def ngramJaccard(docs: DataFrame, k: Int = 3, maxDf: Int = 100,
      minJaccardBp: Long = 5000): DataFrame = {
    // The kept-shingle set feeds three consumers (per-doc counts + both
    // sides of the self-join): materialize once instead of re-exploding
    // the corpus three times. At cluster scale this is the "write the
    // shingle table once" step of a multi-stage dedup job.
    val sh = Materialize.cache(shingleHashes(docs, k, maxDf),
      "Dedup.ngramJaccard.shingles")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    common
      .join(n.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(n.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
      .withColumn("jaccard_bp",
        Texty.ratioBp(col("c"), col("na") + col("nb") - col("c")))
      .filter(col("jaccard_bp") >= minJaccardBp)
      .select("da", "db", "jaccard_bp")
      .orderBy("da", "db")
  }

  /** Exact n-gram Jaccard near-dup pairs via LOSSLESS prefix filtering
    * (the AllPairs/PPJoin candidate condition) — the alternative scale
    * mechanism to [[ngramJaccard]]'s df cap. The cap BOUNDS work by
    * dropping boilerplate shingles (documents whose only shared content
    * is hot boilerplate silently stop pairing); prefix filtering keeps
    * every true pair: order each document's shingles by the GLOBAL
    * rarest-first total order (df asc, hash asc — identical in every
    * document), keep only the first |d| − ⌈t·|d|⌉ + 1 as the "prefix",
    * and join candidates on shared PREFIX shingles plus the length
    * bound t·max(|A|,|B|) ≤ min(|A|,|B|). Any pair with J ≥ t must
    * share a prefix token (if A∩B avoided A's prefix it would fit in
    * A's ⌈t|A|⌉−1 suffix, contradicting |A∩B| ≥ t|A|), so candidates →
    * exact-verify loses nothing. Work is bounded because prefixes are
    * RAREST-first: hot boilerplate lands in suffixes and never
    * generates candidates — the same pathology the df cap handles, but
    * by construction instead of by dropping.
    *
    * Output ≡ uncapped exact Jaccard at the same threshold (the
    * registered query's oracle IS the plain Jaccard SQL); TextDedupSpec
    * shows a boilerplate corpus where the capped variant goes blind and
    * this one does not. The prefix-length and length-filter arithmetic
    * is integer-exact (ceil(a/b) as (a+b-1) div b) — no float
    * thresholds.
    *
    * Shape: the per-doc rarest-first shingle ARRAY is the working
    * representation (one groupBy over the df-joined shingle stream,
    * checkpointed — |docs| rows). Prefixes are array slices; candidate
    * verification is `size(array_intersect)` after two |cand|-row joins
    * against the array table — NOT a re-join of the full exploded
    * shingle stream (measured at sf0.1: 6.8 s → the exploded-verify
    * shape's two 1M-row shuffles + per-pair count dominate; arrays cut
    * the verify to candidate-sized work). Per-doc arrays are bounded by
    * document length (same bound the explode already materializes), so
    * no skew risk beyond the corpus's own max-doc-length.
    *
    * EXACT DUPLICATES COLLAPSE FIRST (the PPJoin-standard step): the
    * pairwise machinery runs on DISTINCT texts only, and pairs expand
    * back through md5-group membership at the end — members of one
    * group pair at jaccard 10000 (when the text has ≥ 1 shingle; docs
    * under k tokens have no shingles and never pair, matching the plain
    * Jaccard SQL), and cross-group pairs inherit their representatives'
    * jaccard (identical texts ⇒ identical shingle sets). On a
    * duplicate-saturated corpus (every shingle's postings ×d) the
    * candidate equi-join otherwise grows d² per true pair; collapsing
    * makes pairwise work independent of duplication while the output
    * stays bit-identical (the expansion joins are output-sized — the
    * true answer on such a corpus IS quadratic in d, which is the
    * caller's signal to run [[exact]] dedup first). A duplicate-free
    * corpus skips the collapse (one cheap membership probe against the
    * checkpointed group table) and runs the pairwise machinery
    * directly. Measured at 10× sf0.1 replication: 333 s → output-bound
    * seconds; duplicate-free cost unchanged. */
  def jaccardPrefix(docs: DataFrame, k: Int = 3,
      minJaccardBp: Long = 5000): DataFrame = {
    require(minJaccardBp >= 1 && minJaccardBp <= 10000,
      s"minJaccardBp in [1,10000], got $minJaccardBp")
    // fp-width shuffle discipline ([[exact]]): group membership derives
    // from (md5, id) pairs; text only moves in the rep-side join below
    val ids = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val groups = Materialize.cache(ids.groupBy("fp")
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("m")),
      "Dedup.jaccardPrefix.groups")
    // duplicate-free probe costs one fp-width shuffle; the expansion
    // machinery (members checkpoint, rep join) only materializes when
    // duplicates actually exist
    val hasDups = groups.filter(col("m") > 1).limit(1).count() > 0
    if (!hasDups) {
      groups.unpersist()
      return prefixPairs(docs, k, minJaccardBp)
        .select(col("ra").as("da"), col("rb").as("db"), col("jaccard_bp"))
        .orderBy("da", "db")
    }
    val members = Materialize.barrier( // reps filter + both expansions
      ids.join(groups.select("fp", "rep_id"), "fp").select("rep_id", "doc_id"),
      "Dedup.jaccardPrefix.members")
    groups.unpersist()
    val reps = docs.join(
      members.filter(col("doc_id") === col("rep_id")).select("doc_id"),
      "doc_id")
    val (repPairs, arr) = prefixPairsWithArr(reps, k, minJaccardBp)
    // expansion: members of shingle-bearing groups pair at 10000 within
    // the group (arr inner join drops shingle-less reps); cross-group
    // pairs fan out each rep pair over both memberships
    val m = members
      .join(arr.select(col("doc_id").as("rep_id")), "rep_id")
    val intra = m.as("a").join(m.as("b"),
        col("a.rep_id") === col("b.rep_id") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        lit(10000L).as("jaccard_bp"))
    val cross = repPairs
      .join(members.select(col("rep_id").as("ra"), col("doc_id").as("ma")), "ra")
      .join(members.select(col("rep_id").as("rb"), col("doc_id").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("da"),
        greatest(col("ma"), col("mb")).as("db"), col("jaccard_bp"))
    intra.union(cross).orderBy("da", "db")
  }

  /** The pairwise prefix-filter machinery of [[jaccardPrefix]] over a
    * (distinct-text) corpus: returns pairs (ra, rb, jaccard_bp). */
  private def prefixPairs(corpus: DataFrame, k: Int,
      minJaccardBp: Long): DataFrame =
    prefixPairsWithArr(corpus, k, minJaccardBp)._1

  /** Per-doc shingle arrays in the GLOBAL rarest-first total order
    * (df asc, hash asc — identical in every document): the working
    * representation of every prefix-filter op ([[jaccardPrefix]],
    * [[containmentPrefix]]). One groupBy over the df-joined shingle
    * stream, localCheckpoint'd: multiple consumers (prefix explode +
    * verify sides), and materializing lets the wide shingle stream
    * unpersist eagerly. */
  private def rarestFirstArrays(corpus: DataFrame, k: Int): DataFrame = {
    val sh = Materialize.cache(Spread(corpus)
      .select(col("doc_id"),
        explode(graft.functions.WordShingleHashes(col("text"), k)).as("h")),
      "Dedup.rarestFirstArrays.shingles")
    val dfT = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val arr = Materialize.barrier(sh.join(dfT, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("dh"))
      .select(col("doc_id"),
        transform(col("dh"), x => x("h")).as("hs"),
        size(col("dh")).cast("long").as("n_sh")),
      "Dedup.rarestFirstArrays.arr")
    sh.unpersist()
    arr
  }

  /** [[prefixPairs]] plus the per-doc shingle-array table (the expansion
    * path needs `arr` to identify shingle-bearing groups). */
  private def prefixPairsWithArr(corpus: DataFrame, k: Int,
      minJaccardBp: Long): (DataFrame, DataFrame) = {
    val arr = rarestFirstArrays(corpus, k)
    val pfxLen =
      col("n_sh") - expr(s"(n_sh * $minJaccardBp + 9999) div 10000") + 1
    // posexplode keeps each prefix token's 0-based rank for the PPJoin
    // positional filter below
    val prefix = arr.select(col("doc_id"), col("n_sh"),
      posexplode(slice(col("hs"), lit(1), pfxLen.cast("int")))
        .as(Seq("p", "h")))
    // PPJoin positional filter (lossless, tighter than the plain prefix
    // filter): a match at ranks (pa, pb) bounds the overlap by the
    // tokens at-or-after the match, min(na−pa, nb−pb); the pair can
    // only reach jaccard ≥ s if that bound ≥ α = ceil(s·(na+nb)/(1+s)).
    // Integer-exact in bp: bound·(10000+bp) ≥ bp·(na+nb).
    val posBound =
      least(col("a.n_sh") - col("a.p"), col("b.n_sh") - col("b.p")) *
        (10000L + minJaccardBp) >=
        lit(minJaccardBp) * (col("a.n_sh") + col("b.n_sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") * minJaccardBp <= col("b.n_sh") * 10000L &&
          col("b.n_sh") * minJaccardBp <= col("a.n_sh") * 10000L &&
          posBound)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val repPairs = cand
      .join(arr.select(col("doc_id").as("da"), col("hs").as("ha"),
        col("n_sh").as("na")), "da")
      .join(arr.select(col("doc_id").as("db"), col("hs").as("hb"),
        col("n_sh").as("nb")), "db")
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard_bp",
        Texty.ratioBp(col("c"), col("na") + col("nb") - col("c")))
      .filter(col("jaccard_bp") >= minJaccardBp)
      .select(col("da").as("ra"), col("db").as("rb"), col("jaccard_bp"))
    (repPairs, arr)
  }

  val MinhashK = 32 // signature length
  val MinhashBands = 8 // bands of 4 rows => catches jaccard >≈ 0.5

  /** MinHash signatures: column m0..m31 = min over shingle hashes of a
    * seeded affine re-hash `(a_i * (h mod P1) + b_i) mod P1` on the
    * portable basis (graft.functions.Portable — coefficients shared with
    * the DuckDB oracle, so the whole signature is SQL-checkable). One
    * partial/final aggregate over the exploded shingles — the signature
    * never leaves the executors un-aggregated. Input is
    * [[shinglePolyHashes]] output: the 32 re-hashes run over a
    * fixed-width long (two mults + two mods each), not the shingle
    * string. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val aggs = (0 until MinhashK).map(k =>
      min((lit(aCoef(k)) * (col("h") % lit(P1)) + lit(bCoef(k))) % lit(P1))
        .as(s"m$k"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash+LSH near-dup candidates: band signatures into 8 buckets of 4
    * components, join docs sharing a bucket, then score candidates by
    * matching signature components (sig_matches/32 estimates jaccard).
    * `maxBucket` caps pathological buckets (see class doc). Band keys are
    * the portable fold `bk = (bk * BandMix + m) mod P1` seeded with
    * band_idx+1 — reproducible in the oracle like everything upstream. */
  def minhashLsh(docs: DataFrame, k: Int = 3, maxDf: Int = 100,
      maxBucket: Int = 50, minSigMatches: Int = 16): DataFrame = {
    // Signatures feed banding plus both sides of the candidate re-score
    // join: one narrow row per doc, ideal cache candidate — recomputing
    // would re-run the full shingle explode + 32-way min-agg three times.
    val sig = Materialize.cache(minhashSignatures(
      shinglePolyHashes(docs, k, maxDf)), "Dedup.minhashLsh.sig")
    lshPairsFromSignatures(sig, maxBucket, minSigMatches)
  }

  /** (doc_id, band_idx, band_hash) rows from a signature table, with
    * buckets above `maxBucket` members dropped (the hot-bucket cap —
    * fixed-width broadcast hot-list, same discipline as [[shingleHashes]]).
    * Shared by the self-join LSH pairs and the [[ingestGate]] cross-side
    * probe so both see identical bucket selectivity. */
  private def bandedKeys(sig: DataFrame, maxBucket: Int): DataFrame = {
    val banded = bandKeysRaw(sig)
    capBands(banded, hotBucketsOf(banded, maxBucket))
  }

  /** The (band_idx, band_hash) buckets of `banded` with more than
    * `maxBucket` members. */
  private def hotBucketsOf(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
      .select("band_idx", "band_hash")

  /** The hot-bucket cap: `banded` rows without the buckets listed in
    * `hotBuckets`, a fixed-width broadcast anti-join. Every banded table
    * the gates and the index probe is capped here. */
  private def capBands(banded: DataFrame, hotBuckets: DataFrame): DataFrame =
    banded.join(broadcast(hotBuckets), Seq("band_idx", "band_hash"), "left_anti")

  /** Uncapped (doc_id, band_idx, band_hash) banding of a signature table
    * — the raw stream [[bandedKeys]] caps and [[buildSigIndex]] persists
    * (the index keeps its hot-bucket list as separate build-time state
    * so probes can apply the SAME cap to their own keys). */
  private def bandKeysRaw(sig: DataFrame): DataFrame = {
    import graft.functions.Portable.{P1, BandMix}
    val bandCols = (0 until MinhashBands).map { b =>
      (0 until 4).foldLeft(lit(b + 1L).cast("long")) { (bk, j) =>
        (bk * lit(BandMix) + col(s"m${4 * b + j}")) % lit(P1)
      }
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Signature-component match count between two aliased [[minhashSignatures]]
    * sides (`sa`, `sb`): the sig_matches/K jaccard estimate. */
  private def sigMatchCount: Column = (0 until MinhashK)
    .map(j => when(col(s"sa.m$j") === col(s"sb.m$j"), 1L).otherwise(0L))
    .reduce(_ + _)

  /** Distinct pairs of a row of `b` and a row of `c` sharing an LSH
    * bucket, as (`left`, `right`) doc ids; `cond` further restricts a
    * pair through the aliases `b` and `c`. */
  private def bucketPairs(b: DataFrame, c: DataFrame, left: String,
      right: String, cond: Column = lit(true)): DataFrame =
    b.as("b").join(c.as("c"),
        col("b.band_idx") === col("c.band_idx") &&
          col("b.band_hash") === col("c.band_hash") && cond)
      .select(col("b.doc_id").as(left), col("c.doc_id").as(right))
      .distinct()

  /** The gates' best-match probe: candidate pairs `cand (bid, other)`
    * re-scored on the signature tables `sigA` (the bid side) and `sigB`,
    * kept at >= `minSigMatches` agreeing components, and each bid's
    * most-agreeing `other` taken, the smallest id on ties. Output
    * (doc_id, other). */
  private def bestMatch(cand: DataFrame, sigA: DataFrame, sigB: DataFrame,
      other: String, minSigMatches: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bid").orderBy(desc("sig_matches"), asc(other))
    cand
      .join(sigA.as("sa"), col("bid") === col("sa.doc_id"))
      .join(sigB.as("sb"), col(other) === col("sb.doc_id"))
      .withColumn("sig_matches", sigMatchCount)
      .filter(col("sig_matches") >= minSigMatches)
      .select(col("bid"), col(other), col("sig_matches"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("bid").as("doc_id"), col(other))
  }

  /** The gates' verdict ladder over batch fingerprints `bfp (id, fp)`:
    * `exact_dup` (the fp is in the dictionary `cfp (fp, exact_id)`) >
    * `batch_dup` (a smaller batch id has the same fp) > each near tier
    * (verdict, frame of (id, matched id)) in order > `new`. match_id is
    * the id that decided, null for `new`. Output (id, verdict,
    * match_id), unordered. */
  private[graft] def gateVerdicts(bfp: DataFrame, cfp: DataFrame,
      nearTiers: Seq[(String, DataFrame)], id: String): DataFrame = {
    val bkeep = bfp.groupBy("fp").agg(min(id).as("batch_keep_id"))
    val near = nearTiers.indices.map(i => s"__near$i")
    val joined = nearTiers.zip(near).foldLeft(
        bfp.join(cfp, Seq("fp"), "left").join(bkeep, "fp")) {
      case (df, ((_, tier), m)) => df.join(tier.toDF(id, m), Seq(id), "left")
    }
    val tiers = Seq(
        (lit("exact_dup"), col("exact_id").isNotNull, col("exact_id")),
        (lit("batch_dup"), col(id) =!= col("batch_keep_id"), col("batch_keep_id"))) ++
      nearTiers.zip(near).map { case ((v, _), m) => (lit(v), col(m).isNotNull, col(m)) }
    def ladder(out: ((Column, Column, Column)) => Column): Column =
      tiers.tail.foldLeft(when(tiers.head._2, out(tiers.head))) {
        (c, t) => c.when(t._2, out(t)) }
    joined.select(col(id),
      ladder(_._1).otherwise(lit("new")).as("verdict"),
      ladder(_._3).as("match_id"))
  }

  /** The md5 dictionary (fp, exact_id): each distinct text's smallest id. */
  private def fpDict(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(md5(col(text)).as("fp"), col(id).as("cid"))
      .groupBy("fp").agg(min("cid").as("exact_id"))

  /** Band a (persisted) signature table into LSH buckets and emit scored
    * candidate pairs — the back half of [[minhashLsh]], split out so
    * composed ops ([[minhashRecall]]) can feed it a signature table built
    * from a SHARED shingle scan instead of paying a second explode. */
  private def lshPairsFromSignatures(sig: DataFrame, maxBucket: Int,
      minSigMatches: Int): DataFrame = {
    val kept = Materialize.cache(bandedKeys(sig, maxBucket),
      "Dedup.lshPairsFromSignatures.kept")
    bucketPairs(kept, kept, "da", "db", col("b.doc_id") < col("c.doc_id"))
      .join(sig.as("sa"), col("da") === col("sa.doc_id"))
      .join(sig.as("sb"), col("db") === col("sb.doc_id"))
      .withColumn("sig_matches", sigMatchCount)
      .filter(col("sig_matches") >= minSigMatches)
      .select("da", "db", "sig_matches")
      .orderBy("da", "db")
  }

  /** Continuous-ingest admission gate: classify every document of an
    * arriving `batch` against the standing `corpus` — the decision a
    * training-data pipeline makes on every ingest cycle before letting
    * new documents in. Verdict precedence per batch doc:
    *
    *   1. `exact_dup`  — its text fingerprint already exists in the
    *      corpus (match_id = smallest such corpus doc);
    *   2. `batch_dup`  — fingerprint is new to the corpus but an earlier
    *      (smaller-id) batch doc has the same text (match_id = that
    *      keeper; exactly one keeper admits per novel fingerprint);
    *   3. `near_dup`   — MinHash-LSH banding puts it in a bucket with a
    *      corpus doc and ≥ `minSigMatches`/[[MinhashK]] signature
    *      components agree (match_id = the corpus doc with the most
    *      matching components, smallest id on ties);
    *   4. `batch_near_dup` — no corpus match, but banding pairs it with
    *      an EARLIER (smaller-id) doc of the same batch at ≥
    *      `minSigMatches` components (match_id = that doc, best-match
    *      then smallest-id tie-break). This closes the round-5/6
    *      documented blind spot where two near-identical — but not
    *      byte-identical — docs arriving in one batch were both admitted
    *      as `new`. The batch×batch quadrant is batch-sized (same
    *      banding, same hot-bucket caps), so the steady-state cost story
    *      is unchanged: the probe still never pays corpus×corpus. The
    *      match target is chosen by id order, not verdict — it may
    *      itself be rejected by an earlier rule (a gate consumer
    *      resolving chains follows match_id links, the
    *      [[resolveClusters]] pointer discipline);
    *   5. `new`        — admitted (match_id null).
    *
    * Scale: fingerprints shuffle as fixed-width md5 strings, never text;
    * signatures/banding reuse the [[minhashLsh]] machinery with the SAME
    * df and hot-bucket caps computed over corpus ∪ batch (so gate
    * selectivity matches the batch-mode self-join exactly), and the
    * candidate probe joins batch-side buckets against corpus-side
    * buckets only — a steady-state ingest never pays the corpus×corpus
    * quadrant. In production the corpus-side signature/banding tables
    * are incrementally maintained (append admitted docs' rows per cycle)
    * rather than recomputed; every stage here is deterministic and
    * portable, so the whole gate is DuckDB-oracle-checkable end to end. */
  def ingestGate(corpus: DataFrame, batch: DataFrame, k: Int = 3,
      maxDf: Int = 100, maxBucket: Int = 50, minSigMatches: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // null-text docs are EXPLICITLY out of scope on both sides: a null
    // fingerprint never equals anything (and would otherwise fall out of
    // the inner keeper join silently) — callers route null text to a
    // cleaning stage, not the gate
    val corpusNN = corpus.filter(col(text).isNotNull)
    val batchNN = batch.filter(col(text).isNotNull)
    // the shared signature build below merges rows by doc id, so an id
    // living on BOTH sides would fuse two different documents into one
    // bogus signature and silently drop the corpus doc from the probe —
    // refuse loudly instead (one id-width semi-join; real pipelines with
    // independent id sequences must remap before gating)
    require(corpusNN.select(col(id))
        .join(batchNN.select(col(id)), id :: Nil, "left_semi")
        .isEmpty,
      "ingestGate requires corpus and batch doc ids to be disjoint")
    val cfp = fpDict(corpusNN, id, text)
    val bfp = batchNN.select(col(id).as("doc_id"), md5(col(text)).as("fp"))

    // near-dup probe: one signature build over corpus ∪ batch, split back
    // into sides by membership (id-width join, no parity assumption)
    val union = corpusNN.select(col(id).as("doc_id"), col(text).as("text"))
      .unionByName(batchNN.select(col(id).as("doc_id"), col(text).as("text")))
    // sig feeds banding + both verify sides, kept feeds both probe sides
    val sig = Materialize.barrier(minhashSignatures(
      shinglePolyHashes(union, k, maxDf)), "Dedup.ingestGate.sig")
    val kept = Materialize.barrier(bandedKeys(sig, maxBucket),
      "Dedup.ingestGate.kept")
    val batchIds = batchNN.select(col(id).as("doc_id"))
    val keptB = kept.join(batchIds, "doc_id")
    val keptC = kept.join(batchIds, Seq("doc_id"), "left_anti")
    val near = bestMatch(bucketPairs(keptB, keptC, "bid", "cid"),
      sig, sig, "cid", minSigMatches)
    // intra-batch near-dup quadrant (verdict 4): same banded keys, each
    // batch doc against EARLIER batch docs only — batch-sized work
    val nearB = bestMatch(
      bucketPairs(keptB, keptB, "bid", "bbid", col("c.doc_id") < col("b.doc_id")),
      sig, sig, "bbid", minSigMatches)
    gateVerdicts(bfp, cfp,
      Seq("near_dup" -> near, "batch_near_dup" -> nearB), "doc_id")
      .orderBy("doc_id")
  }

  /** PERSISTED ingest index — the steady-state form of [[ingestGate]].
    * The gate recomputes corpus signatures every cycle (its df and
    * hot-bucket caps are scoped over corpus ∪ batch); at 100 TB the
    * corpus side is computed ONCE here and written as four parquet
    * tables, and every later ingest cycle pays batch-sized work only:
    *
    *  - `fp/`           (fp, exact_id): md5 dictionary for verdict 1;
    *  - `hot_shingles/` (h): shingles with corpus df > maxDf — probes
    *    drop the same shingles from batch docs, so batch signatures are
    *    comparable with the indexed ones;
    *  - `sig/`          (doc_id, m0..m31): MinHash signatures;
    *  - `hot_buckets/` + `banded/`: LSH bucket keys with the build-time
    *    hot-bucket list kept SEPARATE, so probes cap their own keys with
    *    identical selectivity.
    *
    * Cap scoping is the one deliberate semantic difference from the
    * inline gate: the index pins df/bucket statistics AT BUILD TIME
    * (production refreshes them on periodic rebuilds; appending admitted
    * docs' sig/banded rows between rebuilds is a plain parquet append).
    * All state is on the portable-hash basis, so the whole
    * build→probe→verdict chain is DuckDB-oracle-checkable. */
  def buildSigIndex(corpus: DataFrame, path: String, k: Int = 3,
      maxDf: Int = 100, maxBucket: Int = 50,
      id: String = "doc_id", text: String = "text"): Unit = {
    val c = corpus.filter(col(text).isNotNull)
    fpDict(c, id, text).write.mode("overwrite").parquet(s"$path/fp")
    val sh = Materialize.barrier( // feeds the hot list + the kept stream
      polyShingles(c, k, id, text), "Dedup.buildSigIndex.shingles")
    val hot = Materialize.barrier( // feeds the sink + the anti join
      sh.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("h"), "Dedup.buildSigIndex.hot")
    hot.write.mode("overwrite").parquet(s"$path/hot_shingles")
    val sig = Materialize.barrier(minhashSignatures( // sink + banding
      sh.join(broadcast(hot), Seq("h"), "left_anti")), "Dedup.buildSigIndex.sig")
    sig.write.mode("overwrite").parquet(s"$path/sig")
    val banded = Materialize.barrier(bandKeysRaw(sig), "Dedup.buildSigIndex.banded")
    val hotBuckets = Materialize.barrier(hotBucketsOf(banded, maxBucket),
      "Dedup.buildSigIndex.hotBuckets")
    hotBuckets.write.mode("overwrite").parquet(s"$path/hot_buckets")
    capBands(banded, hotBuckets).write.mode("overwrite").parquet(s"$path/banded")
  }

  /** (doc_id, h) word k-shingle poly hashes of `docs`, uncapped and not
    * deduplicated per doc: the stream an index caps with its own hot list. */
  private def polyShingles(docs: DataFrame, k: Int, id: String,
      text: String): DataFrame =
    Spread(docs.select(col(id).as("doc_id"), col(text).as("text")))
      .select(col("doc_id"),
        explode(graft.functions.WordShinglePolyHashes(col("text"), k)).as("h"))

  /** Signatures of `docs` under the index at `path`'s build-time caps,
    * behind the barrier `barrier` (they feed two consumers), and their
    * band keys capped by its hot buckets: what [[appendToSigIndex]]
    * appends and [[probeSigIndex]] probes with. */
  private def indexedSignatures(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, k: Int, id: String, text: String,
      barrier: String): (DataFrame, DataFrame) = {
    val hot = spark.read.parquet(s"$path/hot_shingles")
    val sig = Materialize.barrier(minhashSignatures(polyShingles(docs, k, id, text)
      .join(broadcast(hot), Seq("h"), "left_anti")), barrier)
    (sig, capBands(bandKeysRaw(sig), spark.read.parquet(s"$path/hot_buckets")))
  }

  /** Incremental index maintenance — the steady-state cycle the
    * [[buildSigIndex]] scaladoc promised ("appending admitted docs'
    * sig/banded rows between rebuilds is a plain parquet append"), now
    * demonstrated instead of documented: append the ADMITTED docs of a
    * probed batch (their fp dictionary rows, hot-shingle-filtered
    * signatures, and hot-bucket-filtered band keys) so the NEXT cycle's
    * probe sees them as corpus — batch-sized work, no rebuild.
    *
    * Cap scoping is inherited, pinned at build time: the appended docs'
    * shingles are filtered by the BUILD-TIME hot list and their band
    * keys by the BUILD-TIME hot buckets (df/bucket statistics refresh
    * only on periodic rebuilds — the documented contract). Caller
    * invariant: `admitted` is the batch's keeper set (verdict `new`),
    * so fps are disjoint from the dictionary; the fp append still
    * min-groups per fp defensively. */
  def appendToSigIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, admitted: DataFrame, k: Int = 3,
      id: String = "doc_id", text: String = "text"): Unit = {
    val a = admitted.filter(col(text).isNotNull)
    fpDict(a, id, text).write.mode("append").parquet(s"$path/fp")
    val (sig, bands) = indexedSignatures(spark, path, a, k, id, text,
      "Dedup.appendToSigIndex.sig") // sig sink + banding
    sig.write.mode("append").parquet(s"$path/sig")
    bands.write.mode("append").parquet(s"$path/banded")
  }

  /** Classify `batch` against a [[buildSigIndex]] index: same verdicts
    * and precedence as [[ingestGate]] (exact_dup / batch_dup / near_dup
    * / new + match_id), but every corpus-side input is a parquet scan of
    * build-time state — the probe never touches corpus text. Work per
    * cycle: one batch shingle explode, one signature aggregate, one
    * bucket equi-join against the indexed keys (batch×corpus only), one
    * candidate-sized signature verify. The same batch-internal near-dup
    * blind spot as the gate applies ([[pipeline]] the batch first). */
  def probeSigIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, k: Int = 3, minSigMatches: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val b = batch.filter(col(text).isNotNull)
    val bfp = b.select(col(id).as("doc_id"), md5(col(text)).as("fp"))
    val (bsig, bBand) = indexedSignatures(spark, path, b, k, id, text,
      "Dedup.probeSigIndex.bsig") // banding + verify side
    val cand = bucketPairs(bBand, spark.read.parquet(s"$path/banded"), "bid", "cid")
    val near = bestMatch(cand, bsig, spark.read.parquet(s"$path/sig"), "cid",
      minSigMatches)
    gateVerdicts(bfp, spark.read.parquet(s"$path/fp"), Seq("near_dup" -> near),
      "doc_id").orderBy("doc_id")
  }

  /** MinHash candidate recall vs the exact Jaccard answer, from ONE
    * shared df-capped shingle scan — the "write the shingle table once"
    * shape of a production dedup audit. The exact side is
    * [[ngramJaccard]]'s construction on the poly basis (Jaccard needs
    * only hash identity, so any 64-bit basis gives identical pairs); the
    * approximate side is [[minhashSignatures]] + banding over the SAME
    * kept-shingle table. One row: n_exact, n_cand, n_captured,
    * recall_bp (exact floor-bp). */
  def minhashRecall(docs: DataFrame, k: Int = 3, maxDf: Int = 100,
      maxBucket: Int = 50, minSigMatches: Int = 16,
      minJaccardBp: Long = 5000): DataFrame = {
    val sh = Materialize.cache(shinglePolyHashes(docs, k, maxDf),
      "Dedup.minhashRecall.shingles")
    val n = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("c"))
    val exact = common
      .join(n.withColumnRenamed("doc_id", "da").withColumnRenamed("n_sh", "na"), "da")
      .join(n.withColumnRenamed("doc_id", "db").withColumnRenamed("n_sh", "nb"), "db")
      .filter(Texty.ratioBp(col("c"), col("na") + col("nb") - col("c"))
        >= minJaccardBp)
      .select("da", "db")
    val sig = Materialize.cache(minhashSignatures(sh), "Dedup.minhashRecall.sig")
    val cand = lshPairsFromSignatures(sig, maxBucket, minSigMatches)
      .select("da", "db")
    // ONE full-outer join + ONE aggregate reads each pair pipeline
    // exactly once (a count-per-side formulation re-ran them per
    // aggregate — measured 3 extra seconds at sf0.1)
    val joined = exact.withColumn("in_e", lit(1L))
      .join(cand.withColumn("in_c", lit(1L)), Seq("da", "db"), "full")
    joined.agg(
      coalesce(sum("in_e"), lit(0L)).as("n_exact"),
      coalesce(sum("in_c"), lit(0L)).as("n_cand"),
      coalesce(sum(col("in_e") * col("in_c")), lit(0L)).as("n_captured"))
      .withColumn("recall_bp", Texty.ratioBp(col("n_captured"), col("n_exact")))
  }

  /** Resolve near-dup pair edges into clusters: iterative min-label
    * propagation with a label-shortcut step (pointer doubling). Returns
    * (doc_id, cluster_id) where cluster_id = the smallest doc_id in the
    * component — i.e. the canonical "keep" document for every member.
    *
    * Each round propagates over the AUGMENTED edge set
    * sym ∪ {(x, label(x)), (label(x), x)}: one join + one min-aggregate
    * yields min(label(x), label(label(x)), min over neighbors) — the
    * label-of-label term is the pointer-doubling shortcut, so rounds
    * needed are O(log diameter); neighbor-only propagation would be
    * O(diameter) and silently split long chain components at the
    * iteration cap. (Round 1 of the previous formulation spent three
    * joins per round on the same recurrence.)
    *
    * Convergence is read from the label SUM on the just-checkpointed
    * pass: labels are min-monotone (label(x) ≤ x, strictly decreasing
    * whenever anything changes), so sum-unchanged ⟺ converged — no
    * join against the previous round, and the sum job runs on the
    * checkpointed rows. DECIMAL(38,0) so a 100 TB corpus of 2^63-ish ids
    * cannot overflow the test. If the cap is still hit (pathological
    * input), this THROWS rather than returning split clusters.
    * `localCheckpoint` truncates lineage so plans don't grow with
    * iterations. No driver-side graph materialization.
    */
  def resolveClusters(pairs: DataFrame, a: String = "da", b: String = "db",
      maxIter: Int = 50, strategy: String = "broadcast"): DataFrame = {
    require(Graphs.Strategies(strategy),
      s"strategy must be one of ${Graphs.Strategies}, got $strategy")
    // pairs is typically an expensive derived table (e.g. ngramJaccard):
    // materialize it ONCE — the symmetric closure and every round read
    // the cache, not the upstream plan.
    val p = Materialize.cache(pairs.select(col(a).as("src"), col(b).as("dst")),
      "Dedup.resolveClusters.pairs")
    // Round-14 shape (guide §2.4, §3.1): the symmetric closure is
    // hash-clustered by src ONCE; each round then broadcast-joins the
    // |V|-sized label table onto it (the pagerankInt argument: labels
    // are one narrow row per distinct endpoint of the pair tail — pass
    // strategy = "copartition" when that outgrows broadcast, the same
    // escape the whole iterative graph family carries) and the
    // per-round neighbor-min aggregate groups on src, which the
    // broadcast join PRESERVES — so no round re-shuffles the edge
    // table. The previous shape unioned the label-derived rows INTO
    // the edge set before a sort-merge join + aggregate, which
    // re-exchanged |E|+2|V| rows twice per round.
    val sym = Graphs.prepEdges(
      p.union(p.select(col("dst").as("src"), col("src").as("dst"))),
      "dst", strategy, clusterBy = Some("src"))
    // init = min over the closed neighborhood: exactly what round 1 of
    // the propagation loop would compute, at the cost of one aggregate
    // instead of a union + join + aggregate — one round saved.
    // Group on the RAW column and alias after: referencing a grouping
    // ALIAS inside agg() only resolves through implicit lateral-column-
    // alias resolution (a default-on conf), while grouping EXPRESSIONS
    // are always referenceable.
    var labels = Materialize.barrier(sym.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("node"), col("label")),
      "Dedup.resolveClusters.round0")
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    // NB: one propagation step per localCheckpoint. Each step references
    // its input several times (neighbor join + two label-derived legs),
    // so stacking two steps into one un-materialized plan recomputes the
    // inner step per reference — measured strictly slower than
    // checkpointing each round despite halving the round trips.
    while (!converged && i < maxIter) {
      // The round's candidate multiset is IDENTICAL to the old
      // aug-union form, decomposed so the |E|-sized leg never
      // exchanges: neighbors' labels (edge leg), label-of-label (the
      // pointer-doubling shortcut, |V| rows), and the label's own row
      // (what the reversed (label → node) union leg contributed: for
      // (src=label(x), dst=x) the joined dl IS label(x), i.e. the
      // candidate (L, L)).
      val dl = labels.select(col("node").as("dst"), col("label").as("dl"))
      val nbr = Graphs.stateJoin(sym, dl, "dst", strategy)
        .groupBy(col("src"))
        .agg(min("dl").as("label"))
        .select(col("src").as("node"), col("label"))
      val jump = labels.as("l")
        .join(labels.select(col("node").as("lbl"), col("label").as("gl")),
          col("label") === col("lbl"))
        .select(col("node"), col("gl").as("label"))
      val selfRows = labels.select(col("label").as("node"), col("label"))
      val updated = Materialize.barrier(nbr.unionByName(jump)
        .unionByName(selfRows).groupBy(col("node")).agg(min("label").as("label")),
        s"Dedup.resolveClusters.round${i + 1}")
      val s = labelSum(updated)
      labels = updated
      converged = (s == null && prevSum == null) ||
        (s != null && prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      i += 1
    }
    sym.unpersist()
    p.unpersist()
    if (!converged) throw new IllegalStateException(
      s"resolveClusters did not converge within $maxIter rounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** 60-bit portable SimHash per document: token hashes vote per bit,
    * weighted by occurrence count. SimHash is a pure per-document function
    * of the token multiset, so it is computed by the codegen'd
    * [[graft.functions.SimHash60]] kernel in a single map-only
    * projection — no token explode, no 60-buffer aggregate, no shuffle.
    * (An earlier aggregate formulation shuffled every token occurrence
    * with 64 long buffers per group; it dominated the dedup bench.) The
    * portable bit derivation (graft.functions.Portable) makes hash,
    * chunks and hamming SQL-reproducible, so the pair query is oracle'd.
    * Null-text docs produce no row, matching the explode-based semantics. */
  def simhash(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    Spread(docs)
      .filter(col(text).isNotNull)
      .select(col(id).as("doc_id"),
        graft.functions.SimHash60(col(text)).as("simhash"))

  /** SimHash near-dup pairs with hamming distance <= maxHamming, blocked
    * on 4 x 15-bit chunks (pigeonhole: any pair within hamming 3 shares at
    * least one exact chunk). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 100): DataFrame = {
    // sh is a map-only projection now — recomputing it per consumer is
    // cheaper than a persist round-trip; only `kept` (post anti-join,
    // feeding both sides of the self-join) is worth caching.
    val sh = simhash(docs)
    val chunks = (0 until 4).map(j =>
      shiftrightunsigned(col("simhash"), j * 15).bitwiseAND(0x7FFFL))
    val blocked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(chunks: _*)).as(Seq("chunk_idx", "chunk")))
    val hotChunks = blocked.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
      .select("chunk_idx", "chunk")
    val kept = Materialize.cache(blocked
      .join(broadcast(hotChunks), Seq("chunk_idx", "chunk"), "left_anti"),
      "Dedup.simhashPairs.kept")
    kept.as("a").join(kept.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("da", "db")
  }

  /** Token-set (bag-of-words) canonicalization dedup: two docs are
    * duplicates iff they use exactly the same set of words, regardless of
    * order or repetition — the cheapest useful near-dup notion (catches
    * shuffled/re-duplicated boilerplate that exact hashing misses, with
    * zero pairwise work).
    *
    * Same shape (and scale posture) as [[exact]]: canonicalize map-side
    * (split → distinct → sort → join), then one hash-groupBy on the md5
    * of the canonical form so the shuffle carries a 128-bit fingerprint
    * per doc, never the text. */
  def tokenSetDedup(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs
      .select(col(id),
        md5(array_join(array_sort(array_distinct(
          split(col(text), " "))), " ")).as("fp"))
      .groupBy("fp")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Normalization (canonical-form) dedup: lowercase, strip non-
    * alphanumerics, collapse whitespace — then exact-dedup the canonical
    * text. Catches the casing/punctuation/spacing variants that exact
    * hashing misses, at exact-dedup cost (map-side canonicalize + one
    * 128-bit fingerprint shuffle; zero pairwise work). The regex subset
    * (char classes only) matches identically in Java regex and RE2/
    * DuckDB, which is what makes the canonical form portable. */
  def normalizedDedup(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col(text)), "[^a-z0-9 ]", " "), " +", " "))
    docs
      .select(col(id), md5(canon).as("fp"))
      .groupBy("fp")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")
  }

  /** Edit-distance (Levenshtein) near-dup pairs, blocked so the pairwise
    * work is bounded: candidates must share (lang, length-bucket), and
    * the distance is computed over a fixed-length prefix with Spark's
    * banded `levenshtein(l, r, threshold)` — O(prefix × maxDist) per
    * pair and an early exit at the band, not O(n·m) over full texts.
    *
    * Blocking is the operator contract, exactly like [[simhashPairs]]'s
    * chunk buckets: per-(lang, bucket) group sizes bound the join
    * fan-out, and `maxBucket` drops pathological blocks loudly rather
    * than letting one giant block go quadratic at scale. The cap bounds
    * PAIR work at maxBucket²/2 per block — and unlike content-keyed
    * buckets, length-bucket sizes grow LINEARLY with the corpus (pair
    * work quadratically: a 10x tools/Stress replication measured 43 s at
    * cap 500, 121 s at 1000), so the default matches simhashPairs' 100.
    * At real corpus scale this op is the exact RE-SCORER: generate
    * candidates with [[simhashPairs]]/[[minhashLsh]] (content-blocked,
    * near-dup-density-bounded) and compute banded Levenshtein only on
    * those pairs; the length-blocked form here is the self-contained,
    * oracle-checkable surface for corpora that fit its caps. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 12,
      prefixLen: Int = 40, bucketChars: Int = 16, maxBucket: Int = 100,
      id: String = "doc_id", text: String = "text",
      lang: String = "lang", nChars: String = "n_chars"): DataFrame = {
    val d = docs.select(col(id).as("doc_id"), col(lang).as("blang"),
      floor(col(nChars) / bucketChars).as("lb"),
      substring(col(text), 1, prefixLen).as("pfx"))
    val hotBlocks = d.groupBy("blang", "lb")
      .agg(count(lit(1)).as("bs")).filter(col("bs") > maxBucket)
      .select("blang", "lb")
    val kept = d.join(broadcast(hotBlocks), Seq("blang", "lb"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.blang") === col("b.blang") && col("a.lb") === col("b.lb") &&
          col("a.doc_id") < col("b.doc_id"))
      // threshold form returns -1 above the band — keep 0..maxDist
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr(s"levenshtein(a.pfx, b.pfx, $maxDist)").cast("long").as("lev"))
      .filter(col("lev") >= 0)
      .orderBy("da", "db")
  }

  /** Cap observability — the `*_capped` counters the class doc promises:
    * how much each bounded-candidate stage dropped on THIS corpus. One
    * row per cap site (total order on stage name):
    *
    *  - `edit_block`   — (lang, length-bucket) blocks over
    *                     [[editDistancePairs]]'s maxBucket
    *  - `minhash_band` — LSH band buckets over [[minhashLsh]]'s
    *                     maxBucket (computed on the df-capped shingles,
    *                     exactly like the operator)
    *  - `shingle_df`   — shingle hashes over [[shingleHashes]]' maxDf
    *  - `simhash_chunk`— 15-bit chunk buckets over [[simhashPairs]]'s
    *                     maxBucket
    *
    * `n_hot_keys` = keys over the cap; `n_dropped_rows` = the (doc, key)
    * rows those keys carried — the exact volume the operators shed
    * rather than going quadratic. Every count is integer-exact on the
    * portable hash basis, so the whole report is DuckDB-oracle'd: the
    * drop-loudly contract is itself a checked query surface, not a
    * code comment. Each stage is one aggregate over the same
    * intermediates its operator builds; cost ≈ one extra pass per
    * stage, intended for pipeline-audit runs, not the hot path. */
  def capStats(docs: DataFrame, k: Int = 3, maxDf: Int = 100,
      lshMaxBucket: Int = 50, simhashMaxBucket: Int = 100,
      editBucketChars: Int = 16, editMaxBucket: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    def stageRow(name: String, keyed: DataFrame, keys: Seq[String],
        cap: Int): DataFrame =
      keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
        .filter(col("sz") > cap)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_hot_keys"),
          coalesce(sum("sz"), lit(0L)).as("n_dropped_rows"))
        .select(lit(name).as("stage"), col("n_hot_keys"),
          col("n_dropped_rows"))

    // shingle df cap: distinct (doc, poly-hash) pairs — ONE explode,
    // persisted; both the hot-list report and the kept table (feeding
    // the minhash chain) derive from it rather than re-exploding
    val sh = Materialize.cache(Spread(docs)
      .select(col("doc_id"),
        explode(graft.functions.WordShinglePolyHashes(col("text"), k)).as("h")),
      "Dedup.capStats.shingles")
    val hot = sh.groupBy("h").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxDf)
    val shingleDf = hot
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_hot_keys"),
        coalesce(sum("sz"), lit(0L)).as("n_dropped_rows"))
      .select(lit("shingle_df").as("stage"), col("n_hot_keys"),
        col("n_dropped_rows"))

    // minhash band cap: banded signatures built from the KEPT shingles,
    // the same chain minhashLsh runs
    val kept = sh.join(broadcast(hot.select("h")), Seq("h"), "left_anti")
      .select("doc_id", "h")
    val banded = bandKeysRaw(minhashSignatures(kept))
    val bandStage = stageRow("minhash_band", banded,
      Seq("band_idx", "band_hash"), lshMaxBucket)

    // simhash chunk cap: 4 × 15-bit chunk blocks
    val shh = simhash(docs)
    val chunks = (0 until 4).map(j =>
      shiftrightunsigned(col("simhash"), j * 15).bitwiseAND(0x7FFFL))
    val blocked = shh.select(col("doc_id"),
      posexplode(array(chunks: _*)).as(Seq("chunk_idx", "chunk")))
    val chunkStage = stageRow("simhash_chunk", blocked,
      Seq("chunk_idx", "chunk"), simhashMaxBucket)

    // edit-distance (lang, length-bucket) block cap
    val blocks = docs.select(col("lang").as("blang"),
      floor(col("n_chars") / editBucketChars).as("lb"))
    val editStage = stageRow("edit_block", blocks,
      Seq("blang", "lb"), editMaxBucket)

    editStage.unionByName(bandStage).unionByName(shingleDf)
      .unionByName(chunkStage)
      .orderBy("stage")
  }

  /** The 100 TB edit-distance path: re-score CANDIDATE pairs (from
    * [[simhashPairs]] / [[minhashLsh]] — content-blocked generators whose
    * output is bounded by near-dup density, not corpus size) with the
    * banded Levenshtein. Two id-keyed joins to re-attach prefixes, then a
    * map-side distance per candidate — linear in |pairs|, no self-join
    * anywhere. Keeps pairs with distance <= maxDist. */
  def levenshteinRescore(pairs: DataFrame, docs: DataFrame,
      maxDist: Int = 12, prefixLen: Int = 40,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val d = docs.select(col(id).as("rid"),
      substring(col(text), 1, prefixLen).as("rpfx"))
    pairs.select("da", "db")
      .join(d.select(col("rid").as("da"), col("rpfx").as("pa")), Seq("da"))
      .join(d.select(col("rid").as("db"), col("rpfx").as("pb")), Seq("db"))
      .select(col("da"), col("db"),
        expr(s"levenshtein(pa, pb, $maxDist)").cast("long").as("lev"))
      .filter(col("lev") >= 0)
      .orderBy("da", "db")
  }

  /** Chunk-granular exact substring dedup WITH document rebuild — the
    * "remove duplicated passages, keep the rest of the document" pass
    * (boilerplate headers, licence blocks, templated paragraphs), as
    * opposed to whole-document dedup which throws away documents that
    * are mostly unique. Documents are cut into fixed `w`-token chunks;
    * of all occurrences of an identical chunk across the corpus, only
    * the first (min (doc_id, pos)) survives; each document is
    * reassembled from its surviving chunks in order.
    *
    * Scale: the global first-occurrence decision shuffles ONLY
    * (md5 fp, id, pos) — never chunk text (the fp-width-shuffle
    * discipline of [[exact]]); winners come back as fixed-width
    * (id, pos) pairs and re-attach to the re-derived chunks with one
    * (id, pos)-keyed join, and the rebuild groups text by doc — text
    * moves through exactly two doc-keyed exchanges regardless of
    * duplication rate. No caps needed: every aggregation key (fp, doc)
    * has bounded fan-in (occurrences dedup to one winner; chunks per
    * doc is bounded by document length).
    *
    * Returns (id, n_chunks, n_kept, clean_text); documents whose every
    * chunk lost rebuild to the empty string. */
  def chunkDedup(docs: DataFrame, w: Int = 10, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(w >= 1, s"chunk width >= 1, got $w")
    val tk = split(col(text), " ")
    val nChunks = expr(s"(size(split($text, ' ')) + ${w - 1}) div $w")
    val chunked = docs.select(col(id), posexplode(
      transform(sequence(lit(0), nChunks - 1),
        j => array_join(slice(tk, j * w + 1, lit(w)), " "))).as(Seq("pos", "chunk")))
    val occ = chunked.select(col(id), col("pos"), col("chunk"),
      md5(col("chunk")).as("fp"))
    val winners = occ.select(col("fp"), col(id), col("pos"))
      .groupBy("fp").agg(min(struct(col(id), col("pos"))).as("win"))
      .select(col("win")(id).as("wid"), col("win")("pos").as("wpos"))
    val kept = occ.join(winners,
      col(id) === col("wid") && col("pos") === col("wpos"))
    val rebuilt = kept.groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x("chunk")), " ").as("clean_text"))
    docs.select(col(id), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(id)
  }

  /** Boilerplate removal — the df-threshold cleanup pass (C4/RefinedWeb
    * style "drop lines that recur across the corpus"): a `w`-token chunk
    * appearing in at least `minDocs` DISTINCT documents is boilerplate
    * (headers, licence blocks, templated navigation) and is removed from
    * EVERY document — including its first occurrence, which is what
    * distinguishes this from [[chunkDedup]]'s keep-first passage dedup.
    * Chunks below the threshold all survive, even if repeated within one
    * document (repetition inside a doc is [[TextAnalysis.repetition]]'s
    * concern, not boilerplate).
    *
    * Scale: the df count shuffles ONLY (md5 fp, doc_id) — never chunk
    * text; the hot set comes back as bare fingerprints (its size is
    * bounded by corpus boilerplate density, typically minuscule) and is
    * removed with one fp-keyed LEFT ANTI join AQE turns into a broadcast
    * when the hot side is small — correct unconditionally either way.
    * Rebuild is the same two doc-keyed text exchanges as [[chunkDedup]].
    *
    * Returns (id, n_chunks, n_kept, clean_text). */
  def boilerplateStrip(docs: DataFrame, w: Int = 10, minDocs: Int = 3,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(w >= 1, s"chunk width >= 1, got $w")
    require(minDocs >= 2, s"minDocs >= 2, got $minDocs")
    val tk = split(col(text), " ")
    val nChunks = expr(s"(size(split($text, ' ')) + ${w - 1}) div $w")
    val occ = docs.select(col(id), posexplode(
      transform(sequence(lit(0), nChunks - 1),
        j => array_join(slice(tk, j * w + 1, lit(w)), " "))).as(Seq("pos", "chunk")))
      .withColumn("fp", md5(col("chunk")))
    val hot = occ.select(col("fp"), col(id))
      .groupBy("fp").agg(countDistinct(col(id)).as("dfd"))
      .filter(col("dfd") >= minDocs).select("fp")
    val kept = occ.join(hot, Seq("fp"), "left_anti")
    val rebuilt = kept.groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x("chunk")), " ").as("clean_text"))
    docs.select(col(id), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(id)
  }

  /** Quality-aware canonical selection: for each near-dup cluster
    * ([[resolveClusters]] over [[ngramJaccard]] candidates), keep the
    * BEST member — max uniq-token ratio, then max length, then min id —
    * instead of the min-id convention. This is what production dedup
    * actually ships: near-duplicates differ precisely in boilerplate
    * and truncation, so canonical choice IS a quality decision. All
    * ranking keys are integers (the quality_filter basis-point columns),
    * so the argmax is deterministic and oracle-able. One quality scan +
    * a cluster-keyed rank window over cluster-sized partitions. */
  def keepBest(docs: DataFrame): DataFrame = {
    val clusters = resolveClusters(ngramJaccard(docs))
    val q = graft.ops.TextAnalysis.qualityFilter(docs)
      .select("doc_id", "n_tokens", "uniq_ratio_bp")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val wr = wc.orderBy(desc("uniq_ratio_bp"), desc("n_tokens"),
      asc("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("n_members", count(lit(1)).over(wc))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members"), col("uniq_ratio_bp"), col("n_tokens"))
      .orderBy("cluster_id")
  }
}
