package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.{ArrayDot, Portable, Scored, TopKByScore}

/** Similarity search over an embedding column `Array[Float]`
  * (BASELINE.json north star; SURVEY.md §2h EXT).
  *
  * Two paths:
  *  - brute-force cosine (exact; broadcast nested-loop over a small query
  *    set, or all-pairs for near-dup edges) — the correctness baseline,
  *    oracle-checkable;
  *  - portable sign-LSH (random-hyperplane buckets from the codegen'd
  *    [[graft.functions.SignLshKeys]] kernel; approximate; the 100 TB
  *    path — candidates meet only inside hash buckets, then are re-scored
  *    exactly, so LSH only ever prunes — and the whole pipeline is
  *    integer-deterministic, hence DuckDB-oracle'd).
  *
  * The inner product is graft.functions.ArrayDot — a custom codegen'd
  * Catalyst expression (sequential double accumulation ⇒ bit-identical to
  * the sequential oracle; ~20× faster than the interpreted higher-order
  * form it replaced).
  */
object Similarity {

  def dot(a: Column, b: Column): Column = ArrayDot(a, b)

  def norm(a: Column): Column = sqrt(ArrayDot(a, a))

  /** Exact cosine top-k neighbors for each query vector (vec_id < nQueries).
    * Query side is tiny => Spark picks BroadcastNestedLoopJoin; each
    * executor scans its slice of the corpus once per batch of queries. */
  /** Matryoshka truncation eval: recall@k of brute top-k under a
    * PREFIX of the embedding dims vs the full vector — the measurement
    * behind MRL-style dimension-adaptive retrieval ("how much ranking
    * quality do the first `dims` dims carry"), run before shipping a
    * truncated index. Pure composition of two [[bruteTopK]] passes and
    * a full-outer set intersection per query; output is ids and integer
    * basis points, so the float ranking only has to ORDER identically
    * cross-engine (the sim_brute_topk determinism already pinned). */
  def matryoshkaRecall(emb: DataFrame, dims: Int, nQueries: Int = 20,
      k: Int = 10): DataFrame = {
    val trunc = emb.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"))
    val fullK = bruteTopK(emb, nQueries, k).select("q_id", "vec_id")
    val preK = bruteTopK(trunc, nQueries, k).select("q_id", "vec_id")
    fullK.withColumn("in_f", lit(1L))
      .join(preK.withColumn("in_p", lit(1L)), Seq("q_id", "vec_id"), "full")
      .groupBy("q_id")
      .agg(coalesce(sum(col("in_f") * col("in_p")), lit(0L))
        .as("n_captured"))
      .withColumn("recall_bp", expr(s"n_captured * 10000 div $k"))
      .orderBy("q_id")
  }

  /** Hard-negative mining — the contrastive-training sampler: for each
    * anchor (vec_id < nQueries), the top-k most-cosine-similar vectors
    * with a DIFFERENT label ("similar but wrong" — the negatives that
    * actually move a retrieval/embedding model), plus the anchor's
    * hardest positive (max same-label cosine) and the triplet-margin
    * flag `violates_margin` = negative beats hardest positive — the
    * active set a margin-0 triplet loss would train on. Anchors without
    * any positive surface with NULL pos_cos/flag (not dropped, not
    * defaulted — the caller decides).
    *
    * Scale shape: identical to [[bruteTopK]] (one broadcast of the
    * nQueries anchors against the corpus, map-side scoring, per-anchor
    * top-k) — the corpus is scanned, never self-joined; swap the scorer
    * for [[ivfTopK]]/[[pqTopK]] candidates at billion-row corpora and
    * keep the same label-exclusion + margin tail. Float cosine ordering
    * is the sim_brute_topk cross-engine discipline; whole output
    * hash-oracle'd. */
  def hardNegatives(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", norm(col("embedding")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"), col("label").as("q_label"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
    val hardestPos = scored.filter(col("label") === col("q_label"))
      .groupBy("q_id").agg(max("cosine").as("pos_cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("vec_id"))
    scored.filter(col("label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(broadcast(hardestPos), Seq("q_id"), "left")
      .select(col("q_id"), col("rnk"), col("vec_id"), col("cosine"),
        col("pos_cos"),
        (col("cosine") > col("pos_cos")).as("violates_margin"))
      .orderBy("q_id", "rnk")
  }

  /** Cosine RANGE search — "everything within τ of each query", the
    * other retrieval primitive next to top-k: radius queries are what
    * near-dup admission (`cosine ≥ τ ⇒ duplicate`), recall-oriented RAG
    * filters, and labeling-set expansion actually want, where k is the
    * wrong contract (a query with 3 neighbors above τ must return 3,
    * not k).
    *
    * Scale shape: STRICTLY LIGHTER than [[bruteTopK]] — the broadcast
    * query batch is scored map-side against the corpus scan and the
    * threshold filters IN the scan; no per-query window, no rank
    * shuffle, output is only the matching tail. At billion-row corpora
    * swap the scan for the IVF-pruned candidate stream ([[ivfTopK]]'s
    * probe set) and keep the same threshold tail. Float cosine follows
    * the sim_brute_topk cross-engine discipline (array order is the
    * summation order in both engines), so the whole match set
    * hash-oracles. */
  def rangeSearch(emb: DataFrame, nQueries: Int,
      minCosine: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    base.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
      .filter(col("cosine") >= minCosine)
      .select("q_id", "vec_id", "cosine")
      .orderBy("q_id", "vec_id")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space
    * complement of [[graft.ops.TextAnalysis.contamination]]: flag every
    * corpus vector within cosine `minCosine` of ANY benchmark vector.
    * Lexical (shingle) decontamination catches verbatim and near-
    * verbatim leaks; it provably misses PARAPHRASES — a bench item
    * rewritten in different words shares no k-grams but its embedding
    * still sits next to the original, which is exactly what this scan
    * keys on (the gap `decontaminate_semantic` demonstrates with a
    * planted paraphrase the shingle gate passes).
    *
    * Shape: [[rangeSearch]] with the benchmark as the query side —
    * eval suites are MBs, corpora are TBs, so the bench set is the
    * broadcast side and the corpus is scored in ONE map-side pass with
    * the threshold filtering inside the scan; no corpus shuffle, no
    * window, linear at 100 TB. At billion-row corpora swap the scan
    * for an IVF-probed candidate stream and keep the threshold tail.
    *
    * GUARDED broadcast (the [[graft.ops.TextAnalysis.contamination]]
    * discipline): one cheap count of the SMALL side decides whether the
    * bench may broadcast, so a "bench" argument that is secretly
    * corpus-sized degrades to a partitioned non-broadcast plan instead
    * of hitting the 8 GB broadcast wall. The guard count is one extra
    * scan of the small side's narrow lineage — deliberately NOT
    * persisted (a block-store entry per call would outlive the query;
    * ADVICE r10). Note the join is NON-EQUI by nature (every corpus ×
    * bench pair must be scored; `id =!= bench_id` only excludes
    * self-matches), so the oversized-bench fallback plans a partitioned
    * cartesian scan — correct, parallel, and O(corpus × bench) BY
    * PROBLEM DEFINITION. An exact semantic scan against a corpus-sized
    * "bench" is a misuse of this operator: route that shape through the
    * IVF-probed candidate stream instead.
    *
    * Float cosine follows the sim_brute_topk cross-engine discipline
    * (element order IS the summation order in both engines), so the
    * whole verdict set hash-oracles. */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      minCosine: Double, id: String = "vec_id",
      maxBroadcastBytes: Long = 512L << 20): DataFrame = {
    val b = bench.select(col(id).as("bench_id"), col("embedding").as("bv"))
      .withColumn("bn", norm(col("bv")))
    // BYTE-aware broadcast guard (VERDICT r11 item 4): a row-count cap
    // is dimension-blind — 1M rows of 1536-dim doubles is ~12 GB, past
    // the 8 GB broadcast wall the guard exists to avoid. Estimate bytes
    // from the SAME one-pass guard scan (rows × (max dims × 8 float
    // payload as doubles-in-flight + ~48 B row overhead)); the 512 MB
    // default leaves an order of magnitude under the wall for the rest
    // of the task. The shingle/vocab guards elsewhere stay row-counted:
    // their rows are FIXED-width (a long / a ≤3-char trigram), so rows
    // are a faithful byte proxy there.
    val g = b.agg(count(lit(1)).as("n"),
      coalesce(max(size(col("bv"))), lit(0)).as("dims")).head
    val estBytes = g.getLong(0) * (g.getInt(1).toLong * 8L + 48L)
    val probe = if (estBytes <= maxBroadcastBytes) broadcast(b) else b
    corpus.select(col(id), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
      .join(probe, col(id) =!= col("bench_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("bv")) / (col("nrm") * col("bn")))
      .filter(col("cosine") >= minCosine)
      .select(col(id).as("doc_id"), col("bench_id"), col("cosine"))
      .orderBy("doc_id", "bench_id")
  }

  def bruteTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** The top-k tail every exact re-rank shares: per query, the `k` best
    * `cosine` rows, ties broken by vec_id, as (q_id, rnk, vec_id, cosine)
    * sorted by (q_id, rnk). */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    Relational.topNPerGroup(scored, "q_id", "cosine", "vec_id", k)
      .select(col("q_id"), col("rn").as("rnk"), col("vec_id"), col("cosine"))

  /** MMR (maximal marginal relevance) diversity RE-RANK — the retrieval
    * post-processor that stops a RAG context window from filling with k
    * copies of the same passage: greedily select `k` of the top-`c`
    * candidates per query, each step maximizing
    * λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s) (relevance minus
    * redundancy against what is already picked), ties on vec_id asc.
    *
    * Exact cross-engine: every cosine is the same element-order double
    * fold both engines compute bit-identically (the `sim_brute_topk`
    * discipline), and the λ mix is two double products in fixed order —
    * so the greedy SELECTION (pure comparisons of identical doubles) is
    * reproducible in SQL, oracle'd end to end.
    *
    * Scale: candidate generation is pluggable (brute here; feed an ANN
    * top-c at 100 TB) — past it the re-rank touches only candidates:
    * one c-per-query pairwise-sim table (nQueries·c² rows) + k−1
    * candidate-sized agg steps. Cost is INDEPENDENT of corpus size; k
    * is a small constant so the unrolled lineage stays flat. */
  def mmrRerank(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
      c: Int = 20, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && c >= k, s"need c >= k >= 1, got k=$k c=$c")
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val cand = bruteTopK(emb, nQueries, c)
      .select("q_id", "vec_id", "cosine")
      .join(base, "vec_id")
      .select(col("q_id"), col("vec_id"), col("cosine"),
        col("embedding"), col("nrm"))
    // pairwise candidate sims through the SAME ArrayDot kernel the
    // relevance cosines used — the greedy step then only COMPARES these
    // doubles, never recomputes them
    val ps = cand.as("a").join(cand.as("b"),
        col("a.q_id") === col("b.q_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.q_id").as("q_id"), col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        (dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))).as("sim"))
    // per-query data is BOUNDED BY CONSTRUCTION (c candidates, c² sims
    // — corpus-independent), so the greedy k-step selection runs as ONE
    // cogroup over q_id (single co-shuffle, in-memory loop per group) —
    // k chained DataFrame steps would pay k scheduler rounds for the
    // same comparisons. JVM double mul/sub is the same IEEE arithmetic
    // Catalyst codegen emits, so the scores stay oracle-exact.
    val spark = emb.sparkSession
    import spark.implicits._
    val lam = lambda; val om = 1.0 - lambda
    val candK = cand.select("q_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].groupByKey(_._1)
    val psK = ps.as[(Long, Long, Long, Double)].groupByKey(_._1)
    candK.cogroup(psK) { (q, cIt, pIt) =>
      // NaN hygiene: a zero-norm/NaN embedding yields NaN cosines, and
      // NaN fails EVERY comparison — the greedy scan would keep the -1
      // sentinel and the next step's sims lookup would throw. Drop NaN
      // candidates up front and skip NaN pairwise sims (treat as "no
      // redundancy evidence"), asserting a real pick each round.
      val cs = cIt.map(t => (t._2, t._3)).filter(!_._2.isNaN).toArray
      val sims = pIt.map(t => ((t._2, t._3), t._4))
        .filter(!_._2.isNaN).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double)]
      (1 to math.min(k, cs.length)).foreach { r =>
        var bestV = -1L; var bestS = Double.NegativeInfinity
        cs.foreach { case (v, rel) =>
          if (!picked.contains(v)) {
            val reds = if (picked.isEmpty) Nil
              else picked.flatMap(s => sims.get((v, s)))
            val red = if (reds.isEmpty) 0.0 else reds.max
            val score =
              if (picked.isEmpty) lam * rel else lam * rel - om * red
            if (score > bestS || (score == bestS && v < bestV)) {
              bestS = score; bestV = v
            }
          }
        }
        assert(bestV >= 0L,
          s"mmrRerank q=$q round $r: no pickable candidate (all NaN?)")
        picked += bestV
        out += ((q, r.toLong, bestV, bestS))
      }
      out.iterator
    }.toDF("q_id", "sel_rank", "vec_id", "mmr_score")
      .orderBy("q_id", "sel_rank")
  }

  /** Exact cosine near-dup pairs (cosine >= minCosine, vec_id a<b).
    * All-pairs O(N²): only for modest corpus sizes / verification — the
    * LSH variant below is the scale path. GUARDED: refuses to plan the
    * quadratic join above `maxRows` input rows (the guard count is one
    * cheap scan; the join it prevents is N²/2 dot products), so a blind
    * call on a real corpus fails loudly with a pointer to [[lshNearDup]]
    * instead of melting the cluster. */
  def bruteNearDup(emb: DataFrame, minCosine: Double,
      maxRows: Long = 200000L): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"bruteNearDup is all-pairs O(N²) and got N=$n > maxRows=$maxRows; " +
        "use lshNearDup (bucketed, re-scored exactly) for large corpora " +
        "or raise maxRows explicitly")
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    base.as("a").join(base.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .orderBy("va", "vb")
  }

  /** Keep rate (basis points) for the portable ANCHOR sample: ~`cap`
    * anchors however large the corpus, the [[fitSample]] rule. */
  def anchorKeepBp(n: Long, cap: Int): Long = {
    require(n >= 1 && cap >= 1, s"need n >= 1 and cap >= 1, got $n / $cap")
    math.min(10000L, (cap * 10000L) / n + 1L)
  }

  /** Anchor-membership predicate: seeded affine portable hash on the id
    * (coefficient index 29 — disjoint from every other draw, so anchor
    * status never correlates with splits/samples), replicable verbatim
    * in oracle SQL. pmod-first keeps products inside signed-64. */
  def isAnchor(id: Column, keepBp: Long): Column =
    pmod(pmod(id, lit(Portable.P1)) * lit(Portable.aCoef(29))
      + lit(Portable.bCoef(29)), lit(Portable.P1)) % 10000L < keepBp

  /** SAMPLED-ANCHOR exact near-dup pairs — the gold set that keeps
    * pair-recall evaluation runnable at 100 TB, where [[bruteNearDup]]'s
    * all-pairs scan (α≈2 measured across a decade) cannot go: draw
    * ~`anchorCap` anchor vectors by portable hash, compute EXACT cosines
    * anchor × corpus only, and emit the ≥ `minCosine` tail as normalized
    * (va < vb) pairs. Cost is O(|anchors|·N) with |anchors| FIXED — one
    * broadcast map-side scan, linear in the corpus forever — and the
    * result is a uniformly-sampled subset of the true pair set (every
    * pair with ≥ 1 anchor endpoint), so recall measured against it is an
    * unbiased estimate of recall against the full gold set.
    *
    * Anchor-anchor pairs enter twice (once from each endpoint's scan)
    * with BIT-IDENTICAL cosines (element products commute, the fold
    * order is the array order both times), so the normalize+distinct is
    * exact, not a float dedup gamble. Everything deterministic ⇒
    * hash-oracle'd; [[bruteNearDup]] stays as the spec-only verifier
    * (anchored ⊆ brute on guard-sized corpora). */
  def anchoredNearDup(emb: DataFrame, minCosine: Double,
      anchorCap: Int = 100): DataFrame = {
    val keepBp = anchorKeepBp(emb.count(), anchorCap)
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val anchors = base.filter(isAnchor(col("vec_id"), keepBp))
      .select(col("vec_id").as("a_id"), col("embedding").as("av"),
        col("nrm").as("an"))
    base.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("av")) / (col("nrm") * col("an")))
      .filter(col("cosine") >= minCosine)
      .select(least(col("vec_id"), col("a_id")).as("va"),
        greatest(col("vec_id"), col("a_id")).as("vb"), col("cosine"))
      .distinct()
      .orderBy("va", "vb")
  }

  /** Approximate near-dup pairs via portable SIGN-LSH (random-hyperplane
    * LSH for cosine): band keys come from the codegen'd integer kernel
    * [[graft.functions.SignLshKeys]] — no model fit, deterministic across
    * engines, so the query is DuckDB-oracle'd end to end. Docs sharing a
    * band bucket become candidates (`maxBucket` caps pathological
    * buckets, same contract as the dedup family), then candidates are
    * re-scored with the exact codegen'd cosine — LSH only prunes, never
    * invents pairs. With r-bit bands, a pair at angle θ shares a given
    * band with prob (1-θ/π)^r. Defaults (8-bit × 32 bands) are tuned for
    * the corpus's near-dup regime, cosine ≈ 0.4-0.55 — barely above
    * random bit-agreement (0.63 vs 0.50), the hardest regime for any
    * LSH — measured ~60% recall of exact ≥0.4 pairs with candidates
    * bounded by the bucket cap. For true near-duplicate thresholds
    * (cos ≥ 0.8) the same defaults give ≥99% recall with far sparser
    * candidates. */
  val LshBitsPerBand = 8
  val LshBands = 32
  val LshMaxBucket = 100

  /** COLLISION-LAW auto geometry for [[lshNearDup]] (BASELINE.md
    * round-10 rule made executable — VERDICT r10 item 3): the 8-bit ×
    * 32-band default is a ≤4k-corpus tuning; at 200k vectors every
    * 256-bucket band blows the cap and the pair set collapses. Derive
    * the geometry from the corpus instead:
    *
    *  - `bitsPerBand` r = the smallest MULTIPLE OF 4 ≥ max(8,
    *    ceil_log2(n / loadPerBucket)): ~`loadPerBucket` random
    *    collisions per bucket however big the corpus (uniform keys ⇒
    *    bucket load ≈ n/2^r), so the `maxBucket` cap stays an OUTLIER
    *    guard instead of the recall-killing binding constraint.
    *    Integer-only derivation (bit length), reproducible anywhere.
    *  - `bands` b = ceil(ln(1−targetRecall) / ln(1−p^r)) with p =
    *    1 − acos(τ)/π (the hyperplane bit-agreement probability AT the
    *    threshold; pairs above τ collide more). StrictMath keeps the
    *    driver-side derivation JVM-reproducible. At n ≤ 4096 and
    *    τ = 0.4 this lands exactly on the historical (8, 32) — the
    *    registered SQL twins bake that geometry, valid at every scale
    *    the driver verifies.
    *
    * The derivation REFUSES (loudly) when bands > maxBands: at τ=0.4
    * (p≈0.631/bit) holding recall costs ~25× more bands per decade of
    * corpus — the measured round-10 finding that banding at a
    * similarity-search RADIUS cannot scale; τ ≥ 0.9 (p≈0.856/bit)
    * grows gently (~2.5×/decade) and stays viable. The error message
    * routes the caller to the probe-bounded IVF/ADC family, whose
    * probes measure FLAT across two decades. */
  def lshAutoGeometry(n: Long, minCosine: Double,
      targetRecall: Double = 0.55, loadPerBucket: Int = 16,
      maxBands: Int = 256): (Int, Int) =
    lshAutoGeometryOpt(n, minCosine, targetRecall, loadPerBucket, maxBands)
      .getOrElse {
        val (r, bands) =
          lshGeometryRaw(n, minCosine, targetRecall, loadPerBucket)
        throw new IllegalArgumentException(
          f"sign-LSH banding cannot hold ${targetRecall * 100}%.0f%% pair " +
            f"recall at radius tau=$minCosine and corpus size $n: needs " +
            s"$bands bands of $r bits (> $maxBands). tau=$minCosine at " +
            "this scale is a similarity-search RADIUS, not a near-dup " +
            "radius - use the probe-bounded IVF/ADC family (BASELINE.md " +
            "round-10 collision law)")
      }

  /** Non-throwing form of [[lshAutoGeometry]]: None = banding cannot
    * hold the recall target at this (n, τ) within `maxBands` —
    * [[lshNearDup]] ROUTES that case to the IVF-bounded candidate path
    * instead of aborting (VERDICT r11 item 1: the designed refusal
    * should redirect, not kill, a registered query at scale). */
  def lshAutoGeometryOpt(n: Long, minCosine: Double,
      targetRecall: Double = 0.55, loadPerBucket: Int = 16,
      maxBands: Int = 256): Option[(Int, Int)] = {
    require(minCosine > -1.0 && minCosine < 1.0,
      s"minCosine in (-1, 1), got $minCosine")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall in (0, 1), got $targetRecall")
    if (n <= 0) return Some((LshBitsPerBand, LshBands)) // empty corpus: moot
    val (r, bands) = lshGeometryRaw(n, minCosine, targetRecall, loadPerBucket)
    if (bands <= maxBands) Some((r, bands)) else None
  }

  private def lshGeometryRaw(n: Long, minCosine: Double,
      targetRecall: Double, loadPerBucket: Int): (Int, Int) = {
    val m = math.max(1L, n / loadPerBucket)
    val ceilLog2 = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val r = ((math.max(8, ceilLog2) + 3) / 4) * 4
    val p = 1.0 - StrictMath.acos(minCosine) / StrictMath.PI
    val pr = StrictMath.pow(p, r.toDouble)
    val bands = math.max(1, math.ceil(
      StrictMath.log1p(-targetRecall) / StrictMath.log1p(-pr)).toInt)
    (r, bands)
  }

  /** `bitsPerBand`/`bands` ≤ 0 (the default) derive the geometry from
    * the corpus via [[lshAutoGeometry]] — one count() per call, the
    * index-build-time cost (`corpusN ≥ 0` supplies a known count and
    * skips the scan — registered queries pass a cached fixture count,
    * ADVICE r11). Explicit values pin it (the persisted-index forms pin
    * theirs at build and verify at probe).
    *
    * ROUTING (VERDICT r11 item 1): when the collision law refuses —
    * banding cannot hold the recall target at this (n, τ) within the
    * band budget — the call no longer aborts; candidates come from the
    * IVF-bounded path instead ([[ivfNearDup]]: multi-assign coarse
    * lists, in-list pair expansion under a cap, exact re-score). The
    * routed result is deterministic (integer-Lloyd fit) and strictly a
    * pruned subset of the exact pair set, like the banded form. At
    * every driver-verified scale (n ≤ 4096, τ = 0.4) the derivation
    * lands on the historical (8, 32), so the baked SQL twins keep
    * hashing — SimilarityEventsSpec pins that range as the tripwire
    * for the oracle pairing (ADVICE r11). */
  def lshNearDup(emb: DataFrame, minCosine: Double,
      bitsPerBand: Int = -1, bands: Int = -1,
      maxBucket: Int = LshMaxBucket, corpusN: Long = -1L): DataFrame = {
    require((bitsPerBand > 0) == (bands > 0),
      "pin both bitsPerBand and bands, or neither (auto)")
    if (bitsPerBand > 0) lshNearDupAt(emb, minCosine, bitsPerBand, bands,
      maxBucket)
    else {
      val n = if (corpusN >= 0L) corpusN else emb.count()
      lshAutoGeometryOpt(n, minCosine) match {
        case Some((bpb, nBands)) =>
          lshNearDupAt(emb, minCosine, bpb, nBands, maxBucket)
        // forward the caller's hot-bucket cap (ADVICE r12: a tightened/
        // loosened cap must mean the same thing on the routed path)
        case None => ivfNearDup(emb, minCosine, maxBucket = maxBucket,
          corpusN = n)
      }
    }
  }

  /** IVF-bounded near-dup pairs — the scale route [[lshNearDup]] takes
    * when banding cannot hold recall at the requested radius (the
    * round-10 collision law: τ ≲ 0.55 at 10⁵⁺ vectors needs quadratic
    * band growth). TWO-LEVEL shape — coarse lists, then sign-LSH
    * banding INSIDE each list:
    *
    *  1. fit the integer-Lloyd coarse quantizer on the bounded sample,
    *     `nCentroids` derived from the corpus (~`loadPerList` vectors
    *     per list, clamped to [16, MaxClusters]) so list sizes stay
    *     O(constant) as the corpus grows;
    *  2. MULTI-ASSIGN every vector to its `nProbe` nearest centroids
    *     (the [[rankProbes]] metric through the bounded TopKByScore
    *     aggregator) — pairs straddling one list boundary still meet
    *     in the neighbor list;
    *  3. candidates = same-(list, band, bucket) pairs under the
    *     DEFAULT (8, 32) sign-LSH geometry, which the collision law
    *     endorses at list-sized populations (≈ load/2⁸ ≈ 2 random
    *     collisions per bucket at load 512 — the exact n ≤ 4096 regime
    *     the spec pins). A flat in-list all-pairs expansion would
    *     materialize n·load·nProbe²/2 candidates (10⁸ at ×100) for a
    *     pair tail of thousands; the in-list banding keeps candidate
    *     volume collision-law-bounded. Buckets above `maxBucket` drop
    *     whole (the dedup hot-bucket contract);
    *  4. exact cosine re-score at the same τ (corpus broadcast under
    *     the byte-aware guard) — the route only PRUNES, never invents.
    *
    * Dominant cost is the coarse ASSIGNMENT scan (n × nCentroids
    * integer dots — ~10¹⁰ kernel ops at ×100, a 1-2 minute 32-way
    * stage): with nCentroids ∝ n this term is O(n²·dims/load), the
    * honest complexity of flat single-level quantization; production
    * systems at 10⁹⁺ vectors make it O(n·√n) with a two-level coarse
    * quantizer, the documented next step if a corpus ever needs it.
    * Deterministic end to end (integer fit, integer assignment,
    * portable band keys), so the routed form could be oracle'd; it is
    * exercised at bench decades where no oracle runs. */
  def ivfNearDup(emb: DataFrame, minCosine: Double, nProbe: Int = 2,
      loadPerList: Int = 256, maxBucket: Int = LshMaxBucket,
      corpusN: Long = -1L, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap,
      maxBroadcastBytes: Long = 512L << 20, gProbe: Int = 4): DataFrame = {
    val n = if (corpusN >= 0L) corpusN else emb.count()
    val nCentroids = math.min(MaxClusters.toLong,
      math.max(16L, n / loadPerList)).toInt
    val model = fitOnSample(fitSample(quantVec(emb, scale), fitSampleCap),
      1, nCentroids, rounds = 2, scale)
    // multi-assignment = each vector's nProbe nearest centroids (asc
    // integer ‖q−c‖², ties cluster asc) — as ONE fused map kernel
    // ([[graft.functions.IvfAssignTopN]]), not the broadcast-join +
    // TopKByScore aggregate it replaces: that relational form
    // materialized n·nCentroids scored ROWS through a BroadcastNested-
    // LoopJoin and an ObjectHashAggregate (156 M rows at 200k×781 —
    // the r12 VERDICT's dominant stage), where the quantizer is
    // driver-side state and the whole selection fits in a primitive
    // loop inside the scan's map pass (guide §1.2 step 1: fix the
    // distributed shape before tuning anything). Above
    // [[TwoLevelFlatMax]] fitted centroids the kernel additionally
    // scans through a √C-group TWO-LEVEL index (gProbe groups probed;
    // O(n·√C·dims) instead of O(n·C·dims) — the r12 VERDICT's named
    // O(n²·dims/load) fix); at or below it the scan is exhaustive and
    // bit-identical to the flat form (every driver-verified scale).
    val nCodes = model.nCodes // the sample may seed fewer than asked
    val assignCol =
      if (nCodes <= TwoLevelFlatMax)
        graft.functions.IvfAssignTopN.flat(quantExpr(col("embedding"),
          scale), model.cents, nProbe)
      else {
        val (groups, gcents) =
          graft.functions.IvfAssignTopN.groupCentroids(model.cents)
        graft.functions.IvfAssignTopN(quantExpr(col("embedding"), scale),
          model.cents, groups, gcents, gProbe, nProbe)
      }
    // in-list sign-LSH keys: (vec, band, bkey) × the nProbe assigned
    // lists; the bucket is (cluster, band, bkey). EXPLODE ORDER IS
    // LOAD-BEARING (guide §4.4's duplication trap, measured on this
    // exact operator): the kernel must be the FIRST generator's DIRECT
    // input — `explode(ivf_assign(...))` evaluates it exactly once per
    // vector (SPARK-36715 keeps InferFiltersFromGenerate off non-cheap
    // inputs), whereas aliasing it beside the band generator lets
    // CollapseProject hoist it ABOVE the explode (×bands evaluations)
    // AND duplicate it into a pushed-down size()>0 filter — the probed
    // plan ran the assignment ~34× per vector. The band keys then cost
    // nProbe evaluations per vector in the second generate (the cheap
    // side: ~2×32-band projections vs a √C-centroid scan). No
    // assignment join, no second corpus scan. The up-front repartition
    // buys kernel parallelism: single-file corpora arrive in 1-2 scan
    // partitions and the n·(√C·gProbe)·dims multiplies would otherwise
    // run on 2 cores (the exchange the old shape paid on qv for the
    // same reason).
    val keyed = emb.select(col("vec_id"), col("embedding"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"),
        explode(assignCol).as("cluster"))
      .select(col("vec_id"), col("cluster"),
        posexplode(graft.functions.SignLshKeys(col("embedding"),
          LshBitsPerBand, LshBands)).as(Seq("band", "bkey")))
    val wb = Window.partitionBy("cluster", "band", "bkey")
    val pairs = keyed
      .withColumn("bs", count(lit(1)).over(wb))
      .filter(col("bs") <= maxBucket)
      .groupBy("cluster", "band", "bkey")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a),
          b => struct(a.as("va"), b.as("vb")))))).as("p"))
      .select(col("p.va").as("va"), col("p.vb").as("vb"))
      .distinct() // pairs meet in up to nProbe lists × LshBands bands
    // exact re-score: the candidate set is ~n·load·nProbe²/2 rows of
    // BARE IDS — the vectors must rejoin here, and a sort-merge join
    // would shuffle candidateCount × vector-width bytes TWICE (~60 GB
    // at ×100). The corpus itself is the small side (n × dim floats);
    // broadcast it under the byte-aware guard (the semanticContamination
    // discipline — dims read from one row, never a second scan), fall
    // back to the partitioned join where a true 100 TB corpus would.
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    // 8 bytes/element: embeddings deserialize as doubles-in-flight —
    // the semanticContamination guard's estimate, not the 4-byte float
    // payload (ADVICE r12: the 4-byte figure let a broadcast run ~2×
    // past the budget). headOption: an empty corpus must fall through
    // to dims = 0, not throw on .head (ADVICE r12).
    val dims = emb.select(size(col("embedding"))).limit(1).collect()
      .headOption match {
      case Some(r) if !r.isNullAt(0) => r.getInt(0).toLong
      case _ => 0L
    }
    val baseBytes = n * (dims * 8L + 64L)
    def side(keyName: String, e: String, nn: String) = {
      val s = base.select(col("vec_id").as(keyName),
        col("embedding").as(e), col("nrm").as(nn))
      if (baseBytes <= maxBroadcastBytes) broadcast(s) else s
    }
    pairs
      .join(side("va", "ea", "na"), Seq("va"))
      .join(side("vb", "eb", "nb"), Seq("vb"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= minCosine)
      .select("va", "vb", "cosine")
      .orderBy("va", "vb")
  }

  private def lshNearDupAt(emb: DataFrame, minCosine: Double,
      bitsPerBand: Int, bands: Int, maxBucket: Int): DataFrame = {
    // ids only through the band shuffle — embeddings rejoin at re-score
    val keyed = emb.select(col("vec_id"),
      posexplode(graft.functions.SignLshKeys(col("embedding"), bitsPerBand, bands))
        .as(Seq("band", "bkey")))
    // One pass, one shuffle: a (band,bkey)-partitioned window counts each
    // bucket (WindowExec spills, so a degenerate hot bucket streams through
    // bounded memory), the cap filter drops hot buckets BEFORE collect_list
    // ever buffers one, and the groupBy reuses the window's partitioning —
    // no second exchange, no self-join, no persisted intermediate.
    val wb = Window.partitionBy("band", "bkey")
    val pairs = keyed
      .withColumn("bs", count(lit(1)).over(wb))
      .filter(col("bs") <= maxBucket)
      .groupBy("band", "bkey")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      // all id pairs (a<b) of a ≤maxBucket-sized bucket, generated inline
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a),
          b => struct(a.as("va"), b.as("vb")))))).as("p"))
      .select(col("p.va").as("va"), col("p.vb").as("vb"))
      .distinct() // pairs sharing several bands dedup on IDS, not arrays
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    pairs
      .join(base.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("va"))
      .join(base.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("vb"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= minCosine)
      .select("va", "vb", "cosine")
      .orderBy("va", "vb")
  }

  /** MULTI-PROBE sign-LSH top-k — the table-count reducer of LSH
    * retrieval: instead of adding bands (more state) to raise recall,
    * each query also probes the buckets at Hamming distance 1 from its
    * own key in every band (the perturbation most likely to hold a
    * near-miss neighbor, since one flipped hyperplane sign is the
    * smallest possible disagreement). (1 + bitsPerBand) probes per
    * band per query; candidates re-rank by exact cosine to top-k.
    *
    * Fully hash-oracle'd — keys are the portable SignLshKeys ints, the
    * probe expansion is bit arithmetic, and the re-rank is the
    * element-order double cosine — no float fit anywhere (the one ANN
    * family whose APPROXIMATE path needs no recall-floor escape hatch).
    *
    * Scale: the corpus pays one key projection (the same state an LSH
    * index already persists); probe cost is queries × bands ×
    * (bitsPerBand+1) bucket lookups, each bounded by `maxBucket` (hot
    * buckets dropped BEFORE the candidate join, cap-stats discipline).
    * No all-pairs anywhere. */
  def lshMultiProbeTopK(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
      bitsPerBand: Int = LshBitsPerBand, bands: Int = LshBands,
      maxBucket: Int = LshMaxBucket, multiProbe: Boolean = true): DataFrame = {
    val keyed = emb.select(col("vec_id"),
      posexplode(graft.functions.SignLshKeys(col("embedding"),
        bitsPerBand, bands)).as(Seq("band", "bkey")))
    val wb = Window.partitionBy("band", "bkey")
    val corpus = keyed
      .withColumn("bs", count(lit(1)).over(wb))
      .filter(col("bs") <= maxBucket)
      .select(col("vec_id"), col("band"), col("bkey").as("pkey"))
    val probeKeys =
      if (multiProbe) expr(s"array_union(array(bkey), transform(" +
        s"sequence(0, ${bitsPerBand - 1}), " +
        s"i -> bkey ^ CAST(shiftleft(1, i) AS BIGINT)))")
      else expr("array(bkey)")
    val probes = keyed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("band"),
        explode(probeKeys).as("pkey"))
    val cand = probes.join(corpus, Seq("band", "pkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val scored = cand
      .join(base.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn")), Seq("q_id"))
      .join(base, Seq("vec_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** Persist the sign-LSH index: the per-(band, key) posting lists with
    * the hot-bucket cap PRE-APPLIED at build time (the cap is corpus
    * statistics — the sig-index build-pinned-caps contract applied to
    * vectors), hive-partitioned by band. Build once, probe many: the
    * corpus pays the key projection exactly once, and every later query
    * batch pays bucket lookups only — the steady-state retrieval shape
    * [[lshMultiProbeTopK]] recomputes inline. */
  def buildLshIndex(emb: DataFrame, dir: String,
      bitsPerBand: Int = LshBitsPerBand, bands: Int = LshBands,
      maxBucket: Int = LshMaxBucket): Unit = {
    val keyed = emb.select(col("vec_id"),
      posexplode(graft.functions.SignLshKeys(col("embedding"),
        bitsPerBand, bands)).as(Seq("band", "bkey")))
    val wb = Window.partitionBy("band", "bkey")
    keyed.withColumn("bs", count(lit(1)).over(wb))
      .filter(col("bs") <= maxBucket)
      .select(col("bkey"), col("vec_id"), col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    // the geometry is BAKED into the postings (key width, band count,
    // cap) — persist it so a probe with mismatched parameters fails
    // loudly instead of silently degrading recall with bogus Hamming-1
    // perturbations. Underscore-prefixed: parquet readers skip it.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_lsh_meta"),
      s"$bitsPerBand,$bands,$maxBucket".getBytes("UTF-8")): Unit
  }

  /** Probe the persisted sign-LSH index — ≡ [[lshMultiProbeTopK]] by
    * construction (spec-asserted): query keys + Hamming-1 perturbations
    * look up the persisted postings, candidates re-rank by exact cosine
    * against `emb`. Per-batch cost: queries × bands × (bitsPerBand+1)
    * bucket lookups, nothing corpus-sized. */
  def probeLshIndex(spark: SparkSession, dir: String, emb: DataFrame,
      nQueries: Int = 20, k: Int = 5,
      bitsPerBand: Int = LshBitsPerBand, bands: Int = LshBands,
      multiProbe: Boolean = true): DataFrame = {
    val metaPath = java.nio.file.Paths.get(dir, "_graft_lsh_meta")
    if (java.nio.file.Files.exists(metaPath)) {
      val Array(bpb, bd, _) = new String(
        java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
        .trim.split(",").map(_.toInt)
      require(bpb == bitsPerBand && bands == bd,
        s"probeLshIndex geometry mismatch: index at $dir was built with " +
          s"bitsPerBand=$bpb bands=$bd, probe asked for " +
          s"bitsPerBand=$bitsPerBand bands=$bands — probing with the " +
          "wrong geometry silently degrades recall; rebuild or re-probe " +
          "with the build-time values")
    }
    val postings = spark.read.parquet(dir)
      .select(col("vec_id"), col("band"), col("bkey").as("pkey"))
    val probeKeys =
      if (multiProbe) expr(s"array_union(array(bkey), transform(" +
        s"sequence(0, ${bitsPerBand - 1}), " +
        s"i -> bkey ^ CAST(shiftleft(1, i) AS BIGINT)))")
      else expr("array(bkey)")
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        posexplode(graft.functions.SignLshKeys(col("embedding"),
          bitsPerBand, bands)).as(Seq("band", "bkey")))
      .select(col("vec_id").as("q_id"), col("band"),
        explode(probeKeys).as("pkey"))
    val cand = probes.join(postings, Seq("band", "pkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val scored = cand
      .join(base.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("qn")), Seq("q_id"))
      .join(base, Seq("vec_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** Embedding-cosine near-duplicate detection as a dedup primitive:
    * the edge list of near-dup pairs; consumers pick a keep policy
    * (connected components need an iterative algorithm out of scope here). */
  def embeddingNearDupEdges(emb: DataFrame, minCosine: Double): DataFrame =
    bruteNearDup(emb, minCosine)

  /** Symmetric int8 quantization of the embedding column — the storage/
    * bandwidth primitive of a large-scale vector pipeline (4× smaller
    * vectors, int-SIMD dot products downstream). Per-vector scale =
    * max|x|; q_i = floor(x_i * 127 / scale) ∈ [-127, 127] (floor, not
    * round: both engines floor identically on every IEEE double, while
    * half-way rounding modes differ — SURVEY.md §7 "hard parts").
    * All-zero vectors quantize to all-zero with scale 0. Map-only.
    * The quantized vector is surfaced as a CSV string (the driver's
    * checker cannot hash array columns). */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val maxabs = array_max(transform(col("embedding"),
      x => abs(x))).cast("double")
    emb
      .select(col("vec_id"), col("embedding"), maxabs.as("scale"))
      .select(col("vec_id"), col("scale"),
        array_join(
          transform(col("embedding"), x =>
            when(col("scale") === 0d, lit(0L))
              .otherwise(floor((x.cast("double") * lit(127.0d)) / col("scale")))
              .cast("string")),
          ",").as("q_csv"))
      .orderBy("vec_id")
  }

  /** Product quantization top-k (Jégou et al. 2011) — the OTHER classic
    * ANN scale path, orthogonal to [[ivfTopK]]'s list pruning: compress
    * every vector to `m` codes (one codebook per subspace), score
    * candidates against a per-query lookup table of subspace dot
    * products (ADC — asymmetric distance computation), then EXACTLY
    * re-rank the ADC shortlist with the codegen'd cosine. With
    * `shortlist` >= corpus size the re-rank sees every candidate and
    * the result equals [[bruteTopK]] bit-for-bit regardless of codebook
    * quality (the IVF full-probe discipline, spec-asserted); at
    * production settings the ADC pass reads `m` bytes per vector
    * instead of `4·dim`.
    *
    * The codebooks are fit with PINNED INTEGER LLOYD ROUNDS
    * ([[fitOnSample]] — the sim_kmeans_step discipline: floor(x·
    * scale) BIGINT quantization, first-k deterministic seeding, exact
    * integer assignment, portable floor-mean updates) instead of
    * ml.KMeans floats, so the ENTIRE retrieval — fit, encode, ADC
    * ranking, exact re-rank — is reproducible in SQL and hash-oracle'd
    * at the driver (round 9 left this family rows-only behind the
    * float fit). Recall is measured UNCHANGED by the swap at the
    * registered m=8/codebookSize=256/shortlist=64 configuration:
    * 9300 bp at N=2000, 10000 bp at N=500 — identical to the k-means||
    * float fit it replaces (both measured via the DuckDB twin of this
    * pipeline), with the 6000 bp floor in `ann_recall_pq` still armed.
    *
    * Scale shape: codebooks are `m × codebookSize` tiny rows (fit on
    * the bounded [[fitSample]], collected driver-side like ml model
    * coefficients, broadcast back); the LUT is `nQueries × m ×
    * codebookSize` integer dots (broadcast); the ADC pass is one
    * broadcast hash join over the (vec_id, s, code) table with
    * map-side partial aggregation keyed (query, vector) — no corpus
    * self-join anywhere; the exact re-rank touches only `nQueries ×
    * shortlist` full vectors. Returns (q_id, rnk, vec_id, cosine) like
    * [[bruteTopK]].
    *
    * `shortlist = -1` (the default) auto-sizes to `max(50,
    * ceil(0.15·N))` — the round-5 fixed 50 held its recall floor at
    * N=500 but collapsed at N=2000 (the corpus grew, the shortlist
    * didn't). At production N you keep the re-rank sublinear the other
    * way: grow `m·codebookSize` (ADC resolution) so the fraction
    * needed for a given recall falls — the registered m=8/cb=256
    * configuration holds a FIXED 64-row shortlist at 9300 bp where the
    * coarse 4×16 default needs 15% of the corpus for 7200 bp. */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int, m: Int = 4,
      codebookSize: Int = 16, shortlist: Int = -1, dim: Int = 64,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap,
      fit: Option[CodebookModel] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $m / $dim")
    val autoShortlist =
      if (shortlist > 0) shortlist
      else math.max(50L, math.ceil(emb.count() * 0.15).toLong).toInt
    require(autoShortlist >= k, s"shortlist >= k, got $autoShortlist < $k")
    val subDim = dim / m

    val qv = quantVec(emb, scale)
    val model = fit.getOrElse(
      fitOnSample(fitSample(qv, fitSampleCap), m, codebookSize, rounds,
        scale))
    require(model.m == m && model.subDim == subDim && model.scale == scale,
      s"fitted model (m=${model.m}, subDim=${model.subDim}, " +
        s"scale=${model.scale}) does not match the call's " +
        s"m=$m/subDim=$subDim/scale=$scale")
    // an INLINE fit may honestly seed fewer codewords than requested
    // (sample smaller than the codebook); an INJECTED model must match
    // the requested geometry exactly or the call silently runs at the
    // model's resolution instead (ADVICE r11)
    fit.foreach(f => require(f.nCodes == codebookSize,
      s"injected codebook has ${f.nCodes} codes, call asked for " +
        s"codebookSize=$codebookSize — refit or fix the argument"))
    val cents = centsDF(emb.sparkSession, model.cents)
    // encode = ONE codegen map pass (kernel argmin), then explode the
    // m-byte code row only for the ADC join — never m·codebookSize
    val codes = encodeCodes(qv, model)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))

    // ADC: candidates are the WHOLE code table (flat PQ — a compressed
    // scan; [[ivfPqTopK]] is the composed form whose candidate pass is
    // list-bounded), scored against the broadcast integer LUT with
    // map-side partial aggregation keyed (query, vector)
    val adc = codes.join(broadcast(adcLutInt(
        subspaced(qv.filter(col("vec_id") < nQueries), m, subDim), cents)),
        Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("lv")).as("adcl"))
      .select(col("q_id"), col("vec_id"),
        col("adcl").cast("double").as("adc"))
    val cand = adcShortlist(adc, col("vec_id"), autoShortlist)
      .select("q_id", "vec_id")

    // exact re-rank of the shortlist — bruteTopK's scoring, tie-break, shape
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvv"),
        col("nrm").as("qn"))
    val scored = cand.join(base, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qvv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** Default codebook-fit sample cap: quantizer training reads AT MOST
    * this many rows however big the corpus is (the production ANN
    * discipline — FAISS-style indexes train on ~100k–1M sampled vectors;
    * a Lloyd fit over all of a 100 TB corpus is a cost cliff that buys
    * no recall). Registered queries pin a cap that BITES at bench scale
    * so the sampled path is the one the floors actually measure. */
  val DefaultFitSampleCap = 100000

  /** Largest shortlist the [[TopKByScore]] aggregator path serves: the
    * sorted-Seq buffer re-sorts k+1 rows per insert, the right trade at
    * presentation-sized k but not at corpus-sized parity configurations
    * (shortlist ≥ N keeps everything — nothing to bound, the window
    * form is strictly simpler there). */
  private val MaxAggShortlist = 128

  /** Upper bound on nCentroids for the IVFADC path — the shortlist
    * aggregator's (score, key) rows pack `vec_id * MaxClusters +
    * cluster` into the key (each vec_id maps to ONE cluster, so the
    * packed order ≡ vec_id order and the tie-break discipline is
    * unchanged), letting the exact re-rank join the partitioned lists
    * on (cluster, vec_id) and prune like the candidate pass. Requires
    * non-negative vec_ids (any parquet-scan corpus here). */
  val MaxClusters = 1024

  /** Largest fitted coarse-quantizer size [[ivfNearDup]] scans
    * exhaustively (flat, exact assignment — bit-identical to the
    * TopKByScore form it replaced). Above it the [[graft.functions
    * .IvfAssignTopN]] two-level index takes over: 64 = 16384 corpus
    * vectors at the default load, safely past every driver-verified
    * scale AND past the n = 4112 routing boundary's first decade.
    * Flat-vs-two-level divergence is no longer oracle-dark:
    * `sim_ivf_neardup` forces the route at [[RoutedOracleCorpusN]]
    * (two-level kernel, √C-group probing) against a full DuckDB twin,
    * and `ann_recall_ivf_routed` arms a recall floor on that exact
    * configuration (VERDICT r13 item 2). */
  val TwoLevelFlatMax = 64

  /** The corpusN override that FORCES [[lshNearDup]] onto the IVF route
    * at oracle scale: past the n = 4112 banding refusal boundary (the
    * collision law returns None at (200000, τ=0.4)) and large enough
    * that nCentroids = min(1024, 200000/256) = 781 > [[TwoLevelFlatMax]],
    * so the registered `sim_ivf_neardup` exercises [[graft.functions
    * .IvfAssignTopN]]'s TWO-LEVEL path end-to-end over the real (small)
    * corpus — small enough that the DuckDB twin replays the whole chain
    * exhaustively. Shared by the query registration, the generated
    * oracle SQL, and the SimilarityEventsSpec forced-route pins. */
  val RoutedOracleCorpusN = 200000L

  /** Deterministic bounded fit sample for quantizer training: a seeded
    * affine portable hash on `vec_id` keeps ~`cap` rows (coefficient
    * index 19 — disjoint from the hashSplit/sample/PPS/kfold draws, so
    * sampling never correlates with split membership). `n <= cap`
    * short-circuits to the full frame; the one `count()` is an
    * index-build-time cost, paid where production pays it. pmod-first
    * keeps every product inside signed-64 for any vec_id. */
  private def fitSample(df: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"fitSampleCap >= 1, got $cap")
    val n = df.count()
    if (n <= cap) df
    else {
      val keepBp = math.min(10000L, (cap * 10000L) / n + 1L)
      df.filter(
        pmod(pmod(col("vec_id"), lit(Portable.P1)) * lit(Portable.aCoef(19))
          + lit(Portable.bCoef(19)), lit(Portable.P1)) % 10000L < keepBp)
    }
  }

  /** Exact BIGINT dot product of two long arrays — the codegen'd
    * [[graft.functions.ArrayDotLong]] kernel (the interpreted
    * zip_with/aggregate form was a measured 5× drag on the encode
    * passes). Quantized elements are |q| ≤ scale (1024 default), so
    * per-element products ≤ ~1.05e6 and any realistic dim keeps the
    * sum far inside both signed-64 and DOUBLE's 2^53 exact-integer
    * range. */
  private def dotL(a: Column, b: Column): Column =
    graft.functions.ArrayDotLong(a, b)

  /** floor(x·scale) BIGINT quantization of the corpus as ONE array
    * column (vec_id, qv, qq = ‖qv‖²) — the sign-LSH / kmeansStep
    * portability discipline in vector form: every downstream distance
    * and dot is exact integer arithmetic, identical in Spark and the
    * DuckDB oracle. */
  /** floor(x·scale) BIGINT quantization of one embedding column — the
    * element expression [[quantVec]] maps over the corpus, reusable
    * inline where a frame-shaped quantize would force a second scan. */
  private def quantExpr(embedding: Column, scale: Int): Column =
    transform(embedding, x => floor(x.cast("double") * scale).cast("long"))

  private def quantVec(emb: DataFrame, scale: Int): DataFrame =
    emb.select(col("vec_id"),
        quantExpr(col("embedding"), scale).as("qv"))
      .withColumn("qq", dotL(col("qv"), col("qv")))

  /** Per-subspace rows (vec_id, s, ql, sqq) of a [[quantVec]] frame —
    * the row count grows m×, but each row carries only subDim longs,
    * so bytes in flight are unchanged. */
  private def subspaced(qv: DataFrame, m: Int, subDim: Int): DataFrame =
    qv.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("qv"))
      .select(col("vec_id"), col("s"),
        slice(col("qv"), col("s") * subDim + 1, lit(subDim)).as("ql"))
      .withColumn("sqq", dotL(col("ql"), col("ql")))

  /** Driver-side fitted integer-Lloyd codebook — the ANN family's
    * model artifact (m × nCodes codewords of subDim longs at the fit's
    * quantization scale; the same KB-scale state ml.KMeans keeps as
    * model coefficients). Deterministic function of (corpus, config),
    * so FIT-ONCE/REUSE across the queries that share a config is
    * bit-identical to refitting inline — the model-registry shape a
    * production pipeline runs (VERDICT r10 item 2). */
  case class CodebookModel(m: Int, subDim: Int, scale: Int,
      cents: Map[(Int, Int), Array[Long]]) {
    def nCodes: Int = cents.size / m
  }

  /** Fit PQ subspace codebooks with pinned integer Lloyd rounds over
    * the bounded [[fitSample]] — the public fit-once entry point
    * ([[pqTopK]]/[[ivfPqTopK]] accept the model and skip their inline
    * fit). `m = 1` fits a coarse quantizer ([[fitCoarseQuantizer]]). */
  def fitPqCodebooks(emb: DataFrame, m: Int, codebookSize: Int,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap): CodebookModel =
    fitOnSample(fitSample(quantVec(emb, scale), fitSampleCap), m,
      codebookSize, rounds, scale)

  /** The IVF coarse quantizer IS a one-subspace PQ codebook. */
  def fitCoarseQuantizer(emb: DataFrame, nCentroids: Int = 16,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap): CodebookModel =
    fitPqCodebooks(emb, 1, nCentroids, rounds, scale, fitSampleCap)

  /** PINNED INTEGER LLOYD codebook fit over an (already sampled)
    * [[quantVec]] frame — the [[kmeansStep]] discipline generalized to
    * m subspaces × `rounds` rounds, replacing ml.KMeans so the fit has
    * an exact SQL twin (what promoted the PQ/IVF families from
    * rows-only to hash-oracled in round 10):
    *
    *  1. seeds = the `codebookSize` LOWEST sampled vec_ids' subvectors
    *     (deterministic data-point seeding; measured recall at the
    *     registered configs equals the k-means|| float fit it
    *     replaces);
    *  2. each round: exact integer assignment — the codegen'd
    *     [[graft.functions.PqEncodeLong]] argmin kernel, ONE map pass
    *     over the sample (the relational encode join it replaces
    *     materialized O(N·m·codebookSize) rows; VERDICT r10 item 1) —
    *     then a per-dim floor-mean update via the portable pmod
    *     identity; EMPTY codes keep their previous centroid;
    *  3. centroids live driver-side between rounds (m × codebookSize
    *     tiny rows — the same place ml.KMeans keeps its model). Each
    *     collect ASSERTS its expected cardinality instead of trusting
    *     an unordered limit (ADVICE r10: a violated uniqueness
    *     invariant must fail loudly, not silently drop rows).
    *
    * subDim is derived from the seed vectors themselves (every row
    * must agree — the kernel throws on ragged input). */
  private def fitOnSample(fsIn: DataFrame, m: Int, codebookSize: Int,
      rounds: Int, scale: Int): CodebookModel = {
    val spark = fsIn.sparkSession
    import spark.implicits._
    require(rounds >= 0, s"rounds >= 0, got $rounds")
    require(m >= 1 && codebookSize >= 1,
      s"m/codebookSize >= 1, got $m/$codebookSize")
    // the sample feeds 2 + rounds driver actions (seed ids, seed
    // vectors, one update collect per round) — persist it for the
    // fit's lifetime instead of re-deriving the scan+quantize+sample
    // lineage per action; released before returning. REPARTITIONED to
    // the session parallelism first: a filter of a single-file corpus
    // inherits 1-2 input partitions, and the per-round argmin encode
    // (sample × nCodes × dims kernel ops) would run on 1-2 cores — at
    // the routed ivfNearDup's 100k-sample × 781-centroid fit that is
    // the difference between minutes and seconds. Fit RESULTS are
    // partition-independent (portable integer aggregates, ordered
    // seed selection), so every baked oracle is unaffected.
    val fs = Materialize.cache(fsIn.select(col("vec_id"), col("qv"))
      .repartition(fsIn.sparkSession.sparkContext.defaultParallelism),
      "Similarity.fitOnSample.sample")
    // a sample smaller than codebookSize seeds fewer codewords (the
    // SQL twin's LIMIT semantics, and what a 251-point sample honestly
    // supports — the float fit it replaced padded duplicate centroids)
    val seedIds = fs.select("vec_id").distinct().orderBy("vec_id")
      .limit(codebookSize).as[Long].collect()
    require(seedIds.nonEmpty, "codebook fit needs a non-empty sample")
    val codeOf = seedIds.zipWithIndex.toMap
    val seedRows = fs.filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id"), col("qv")).collect()
    require(seedRows.length == seedIds.length,
      s"codebook seed collect returned ${seedRows.length} rows for " +
        s"${seedIds.length} distinct seed ids — vec_id uniqueness " +
        "invariant violated in the fit sample")
    val dim = seedRows.head.getSeq[Long](1).length
    require(dim % m == 0 && dim / m >= 1,
      s"m must divide the vector dim, got m=$m dim=$dim")
    val subDim = dim / m
    var cents: Map[(Int, Int), Array[Long]] = seedRows.iterator.flatMap {
      r =>
        val qv = r.getSeq[Long](1).toArray
        require(qv.length == dim,
          s"ragged fit sample: vec ${r.getLong(0)} has ${qv.length} " +
            s"dims, expected $dim")
        val code = codeOf(r.getLong(0))
        (0 until m).map(s => ((s, code),
          java.util.Arrays.copyOfRange(qv, s * subDim, (s + 1) * subDim)))
    }.toMap
    for (_ <- 1 to rounds) {
      val enc = graft.functions.PqEncodeLong(col("qv"), cents, m, subDim)
      // per-dim floor-mean (pmod identity: Spark div truncates, DuckDB
      // // floors — raw integer division diverges on negative sums).
      // The encode is materialized through a persist BARRIER before the
      // dim explode (guide §4.4): aliased beside the posexplode, the
      // optimizer hoists the argmin kernel ABOVE the Generate and
      // re-evaluates it per (vec, dim) ROW — dims× the intended work
      // per round (at the routed ×100 fit, 64× of a sample×nCodes×dims
      // scan; KernelFunctionsSpec pins the barrier's plan shape).
      // The InMemoryRelation boundary pins one evaluation per vector;
      // values are unchanged (deterministic kernel), and the cached
      // frame is sample-sized and released the moment the round's
      // aggregate is collected.
      val encoded = Materialize.cache(fs.select(col("qv"), enc.as("codes")),
        "Similarity.fitOnSample.encoded")
      val upd = encoded
        .select(col("codes"), posexplode(col("qv")).as(Seq("dg", "qk")))
        .select(expr(s"CAST(dg div $subDim AS INT)").as("s"),
          pmod(col("dg"), lit(subDim)).as("d"), col("codes"), col("qk"))
        .select(col("s"), col("d"),
          element_at(col("codes"), col("s") + 1).as("code"), col("qk"))
        .groupBy("s", "code", "d")
        .agg(sum("qk").as("sm"), count(lit(1)).as("n"))
        .select(col("s"), col("code"), col("d"),
          expr("(sm - pmod(sm, n)) div n").as("c"))
        .groupBy("s", "code")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          t => t.getField("c")).as("cl"))
        .collect()
      encoded.unpersist(false)
      val updM = upd.map(r => ((r.getInt(0), r.getInt(1)),
        r.getSeq[Long](2).toArray)).toMap
      require(updM.size == upd.length && updM.size <= cents.size &&
        updM.keySet.subsetOf(cents.keySet),
        s"codebook update produced ${upd.length} cells outside the " +
          s"${cents.size}-cell codebook — assignment invariant violated")
      cents = cents ++ updM // codes with no members keep their centroid
    }
    fs.unpersist(false)
    CodebookModel(m, subDim, scale, cents)
  }

  /** Map-only PQ encode of a [[quantVec]] frame against a fitted model:
    * (vec_id, codes array<int>), one WholeStageCodegen pass — no
    * explode, no join, no aggregate (the O(N·m·nCodes) encode join this
    * replaces was the round-10 regression; at ×100 it measured 193 s on
    * the inline PQ path). */
  private def encodeCodes(qv: DataFrame, model: CodebookModel): DataFrame =
    qv.select(col("vec_id"),
      graft.functions.PqEncodeLong(col("qv"), model.cents, model.m,
        model.subDim).as("codes"))

  /** The tiny (s, code, cl, cc) codebook frame from its driver-side
    * form — `cc` = ‖cl‖² precomputed for the assignment identity. */
  private def centsDF(spark: SparkSession,
      cents: Map[(Int, Int), Array[Long]]): DataFrame = {
    import spark.implicits._
    cents.toSeq
      .map { case ((s, code), cl) => (s, code, cl, cl.map(x => x * x).sum) }
      .sortBy(t => (t._1, t._2))
      .toDF("s", "code", "cl", "cc")
  }

  /** Integer ADC lookup table: q·c per (query, s, code) — nQueries ×
    * m × codebookSize BIGINT rows, broadcast. `qsub` is the query
    * slice of a [[subspaced]] frame. */
  private def adcLutInt(qsub: DataFrame, cents: DataFrame): DataFrame =
    qsub.select(col("vec_id").as("q_id"), col("s"), col("ql"))
      .join(broadcast(cents), Seq("s"))
      .select(col("q_id"), col("s"), col("code"),
        dotL(col("ql"), col("cl")).as("lv"))

  /** ADC shortlist selection. Production-sized shortlists go through
    * the typed [[TopKByScore]] aggregator (ObjectHashAggregate: ≤
    * shortlist rows per (query, map partition) cross the exchange —
    * never the q-keyed full-candidate sort a `row_number` window pays);
    * the window form survives only for full-probe parity configurations
    * (shortlist ≥ corpus), where nothing is dropped anyway. `keyCol`
    * must be a non-negative long that ORDERS like vec_id (vec_id
    * itself, or the [[MaxClusters]] packing); ADC-score ties break
    * ascending on it, the family's O1 discipline, identical in both
    * branches. */
  private def adcShortlist(adc: DataFrame, keyCol: Column,
      shortlist: Int): DataFrame =
    if (shortlist <= MaxAggShortlist) {
      val topsl = udaf(new TopKByScore(shortlist), ExpressionEncoder[Scored]())
      adc.groupBy("q_id")
        .agg(topsl(col("adc"), keyCol).as("top"))
        .select(col("q_id"), explode(col("top")).as("t"))
        .select(col("q_id"), col("t.key").as("vec_id"))
    } else {
      adc.withColumn("__k", keyCol)
        .withColumn("adc_rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("adc"), asc("__k"))))
        .filter(col("adc_rnk") <= shortlist)
        .select(col("q_id"), col("__k").as("vec_id"))
    }

  /** IVFADC top-k (Jégou et al. 2011, the composed form): IVF's coarse
    * quantizer bounds WHICH vectors are candidates (nProbe of nCentroids
    * inverted lists per query), PQ's byte codes bound HOW MUCH is read
    * per candidate (m bytes via the ADC LUT instead of 4·dim), and a
    * fixed-size exact re-rank restores ranking quality — every
    * production ANN system (FAISS IVFADC/IVF-PQ) is this composition.
    * [[ivfTopK]] alone scans full vectors of probed lists; [[pqTopK]]
    * alone ADC-scans EVERY code row per query batch; composed, the
    * candidate pass reads ~nProbe/nCentroids of the code table and the
    * full-width vectors are touched only for shortlist × nQueries rows.
    *
    * Codes are raw-vector codebooks (not residual-encoded): residual PQ
    * adds per-list codebook quality but couples the codec to the coarse
    * quantizer (re-encode the corpus on every coarse refresh); the
    * measured recall at the registered settings clears the same floor,
    * so the operationally simpler codec wins here — documented trade.
    *
    * Full-probe parity: with nProbe = nCentroids and shortlist ≥ corpus
    * the result equals [[bruteTopK]] bit-for-bit (spec-asserted — the
    * IVF and PQ disciplines compose). Both quantizers are pinned
    * integer-Lloyd fits ([[fitOnSample]]), so the composed path is
    * hash-oracle'd end to end at the driver (it was rows-only behind
    * ml.KMeans floats through round 9) — and recall at the registered
    * nProbe=6/shortlist=64 settings MEASURES HIGHER than the float fit
    * it replaces (8100 bp vs 6900 at N=2000, both via the DuckDB
    * twin), with the 6000 bp floor in `ann_recall_ivfpq` still armed.
    *
    * Both quantizers train on the bounded [[fitSample]]. Inline form
    * re-derives the index per call; [[buildIvfPqIndex]] /
    * [[probeIvfPqIndex]] is the build-once/probe-many shape whose
    * candidate scan partition-prunes (DPP) to the probed lists. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8,
      codebookSize: Int = 256, shortlist: Int = 64, dim: Int = 64,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap,
      coarseFit: Option[CodebookModel] = None,
      pqFit: Option[CodebookModel] = None): DataFrame = {
    val (codes, lists, centroids, codebooks, subDim) =
      ivfPqParts(emb, nCentroids, m, codebookSize, dim, rounds, scale,
        fitSampleCap, coarseFit, pqFit)
    val q = quantQueries(emb.filter(col("vec_id") < nQueries), scale)
    ivfPqProbe(codes, lists, centroids, codebooks, q, k, nProbe,
      shortlist, m, subDim)
  }

  /** The four tables an IVFADC index consists of: PQ codes and full
    * vectors both keyed by coarse cluster, plus the tiny centroid and
    * codebook tables (broadcast everywhere). Both quantizers are the
    * pinned integer-Lloyd fit ([[fitOnSample]]) at the same `scale`,
    * so the whole index derivation hash-oracles. The corpus is
    * quantized ONCE and the bounded fit sample derived ONCE for both
    * quantizer fits (ADVICE r10: the previous shape paid the
    * quantize+count passes twice); each encode is one kernel map pass. */
  private def ivfPqParts(emb: DataFrame, nCentroids: Int, m: Int,
      codebookSize: Int, dim: Int, rounds: Int, scale: Int,
      fitSampleCap: Int, coarseFit: Option[CodebookModel] = None,
      pqFit: Option[CodebookModel] = None)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Int) = {
    require(m >= 1 && dim % m == 0, s"m must divide dim, got $m / $dim")
    require(nCentroids >= 1 && nCentroids <= MaxClusters,
      s"nCentroids in [1, $MaxClusters] (shortlist key packing), got " +
        nCentroids)
    val subDim = dim / m
    val qv = quantVec(emb, scale)
    lazy val fs = fitSample(qv, fitSampleCap)
    val coarse = coarseFit.getOrElse(
      fitOnSample(fs, 1, nCentroids, rounds, scale))
    val pq = pqFit.getOrElse(
      fitOnSample(fs, m, codebookSize, rounds, scale))
    require(coarse.m == 1 && coarse.subDim == dim && coarse.scale == scale,
      s"coarse model (m=${coarse.m}, subDim=${coarse.subDim}, " +
        s"scale=${coarse.scale}) does not match dim=$dim/scale=$scale")
    require(pq.m == m && pq.subDim == subDim && pq.scale == scale,
      s"pq model (m=${pq.m}, subDim=${pq.subDim}, scale=${pq.scale}) " +
        s"does not match m=$m/subDim=$subDim/scale=$scale")
    coarseFit.foreach(f => require(f.nCodes == nCentroids,
      s"injected coarse quantizer has ${f.nCodes} centroids, call asked " +
        s"for nCentroids=$nCentroids (ADVICE r11)"))
    pqFit.foreach(f => require(f.nCodes == codebookSize,
      s"injected PQ codebook has ${f.nCodes} codes, call asked for " +
        s"codebookSize=$codebookSize (ADVICE r11)"))
    val assign = encodeCodes(qv, coarse)
      .select(col("vec_id"), element_at(col("codes"), 1).as("cluster"))
    val codes = encodeCodes(qv, pq)
      .join(assign, Seq("vec_id"))
      .select("cluster", "vec_id", "codes")
    val lists = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
      .join(assign, Seq("vec_id"))
      .select("cluster", "vec_id", "embedding", "nrm")
    val centroids = centsDF(emb.sparkSession, coarse.cents)
      .select(col("code").as("cluster"), col("cl"), col("cc"),
        lit(scale).as("qscale"))
    (codes, lists, centroids, centsDF(emb.sparkSession, pq.cents), subDim)
  }

  /** IVFADC probe shared by [[ivfPqTopK]] and [[probeIvfPqIndex]]:
    * `codes` (cluster, vec_id, codes), `lists` (cluster, vec_id,
    * embedding, nrm), `q` a [[quantQueries]] frame quantized at the
    * index's scale. */
  private def ivfPqProbe(codes: DataFrame, lists: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, q: DataFrame, k: Int,
      nProbe: Int, shortlist: Int, m: Int, subDim: Int): DataFrame = {
    require(shortlist >= k, s"shortlist >= k, got $shortlist < $k")
    val probes = rankProbes(q, centroids, nProbe)
    // integer LUT from the quantized query subvectors
    val qsub = q
      .select(col("q_id").as("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("qv"))
      .select(col("vec_id"), col("s"),
        slice(col("qv"), col("s") * subDim + 1, lit(subDim)).as("ql"))
    val lut = adcLutInt(qsub, codebooks)
    // candidate generation is LIST-BOUNDED: the codes scan joins the
    // broadcast probe table ON THE PARTITION COLUMN first (the persisted
    // form dynamic-partition-prunes here — PlanShapeSpec asserts it),
    // then explodes to (s, code) and hits the LUT with map-side partial
    // aggregation keyed (query, cluster, vector)
    val adc = codes.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cluster"), col("vec_id"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(lut), Seq("q_id", "s", "code"))
      .groupBy("q_id", "cluster", "vec_id")
      .agg(sum(col("lv")).as("adcl"))
      .select(col("q_id"), col("cluster"), col("vec_id"),
        col("adcl").cast("double").as("adc"))
    // bounded-state shortlist with the cluster packed into the key, so
    // the exact re-rank can join the lists on (cluster, vec_id) and
    // prune the full-vector scan to the probed lists too
    val cand = adcShortlist(adc,
        col("vec_id") * lit(MaxClusters.toLong) + col("cluster"), shortlist)
      .select(col("q_id"),
        expr(s"vec_id div $MaxClusters").as("vec_id"),
        pmod(col("vec_id"), lit(MaxClusters.toLong)).cast("int").as("cluster"))
    val scored = cand.join(lists, Seq("cluster", "vec_id"))
      .join(broadcast(q.select(col("q_id"), col("embedding").as("qvv"),
        col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qvv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** Persist an IVFADC index under `dir` — [[buildIvfIndex]]'s layout
    * extended with the compressed candidate table: `codes/` (m bytes per
    * vector) and `lists/` (full vectors, re-rank only) both
    * HIVE-PARTITIONED BY CLUSTER so probes prune to the nProbe lists
    * they rank; `centroids/` + `codebooks/` are the tiny broadcast
    * tables. At 100 TB the ADC pass reads nProbe/nCentroids of an
    * m-byte-per-vector table — the only full-width reads are
    * shortlist × nQueries point lookups inside probed partitions. */
  def buildIvfPqIndex(emb: DataFrame, dir: String, nCentroids: Int = 16,
      m: Int = 8, codebookSize: Int = 256, dim: Int = 64,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap,
      coarseFit: Option[CodebookModel] = None,
      pqFit: Option[CodebookModel] = None): Unit = {
    val (codes, lists, centroids, codebooks, _) =
      ivfPqParts(emb, nCentroids, m, codebookSize, dim, rounds, scale,
        fitSampleCap, coarseFit, pqFit)
    codes.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/codes")
    lists.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/lists")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Probe a [[buildIvfPqIndex]] index with an arbitrary query table
    * (vec_id, embedding). Self-matches excluded like every inline form.
    * Three metadata-bounded reads recover the index geometry (quant
    * scale from the centroid table, m and subDim from the codebooks —
    * the manifest-collect discipline), so probes are always quantized
    * at the scale the index was BUILT at. */
  def probeIvfPqIndex(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4, shortlist: Int = 64): DataFrame = {
    val codes = spark.read.parquet(s"$dir/codes")
    val lists = spark.read.parquet(s"$dir/lists")
    val centroids = spark.read.parquet(s"$dir/centroids")
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val scale = centroids.select(col("qscale")).head.getInt(0)
    val subDim = codebooks.select(size(col("cl")).as("d")).head.getInt(0)
    val m = codebooks.agg(max(col("s"))).head.getInt(0) + 1
    val q = quantQueries(queries, scale)
    ivfPqProbe(codes, lists, centroids, codebooks, q, k, nProbe,
      shortlist, m, subDim)
  }

  /** IVF (inverted-file) approximate top-k: the classic ANN scale path.
    *
    *  1. Fit the coarse quantizer with pinned integer Lloyd rounds
    *     ([[fitOnSample]] at m=1 — the coarse quantizer IS a
    *     one-subspace PQ codebook; replacing ml.KMeans floats makes the
    *     whole path hash-oracle'd, and recall at the registered partial
    *     probe MEASURES HIGHER: 7900 bp vs the float fit's 5800 at
    *     N=2000, nProbe=4/16, both via the DuckDB twin).
    *  2. Assign every corpus vector to its nearest centroid — the
    *     "inverted lists", hash-partitioned by cluster id.
    *  3. Each query probes its `nProbe` nearest centroids (exact
    *     integer L2 against the tiny broadcast centroid table) and
    *     scores ONLY vectors in those lists with the exact codegen'd
    *     cosine.
    *
    * Work per query drops from O(N) to O(N * nProbe / nCentroids); with
    * nProbe = nCentroids the result equals [[bruteTopK]] exactly (probing
    * everything = exhaustive scan), which is the property the spec tests.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, rounds: Int = 2,
      scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap,
      fit: Option[CodebookModel] = None): DataFrame = {
    val (listed, centroids) = ivfParts(emb, nCentroids, rounds, scale,
      fitSampleCap, fit)
    val q = quantQueries(emb.filter(col("vec_id") < nQueries), scale)
    ivfProbe(listed, centroids, q, k, nProbe)
  }

  /** The two tables an IVF index consists of: the inverted lists
    * (vec_id, embedding, nrm, cluster) and the tiny centroid table
    * (cluster, cl, cc, qscale — integer codewords plus the quant scale
    * they live at, so probes can re-quantize queries identically).
    * Shared by the inline [[ivfTopK]] and the persisted
    * [[buildIvfIndex]]/[[probeIvfIndex]] pair.
    *
    * The quantizer trains on the bounded [[fitSample]]; assignment
    * covers the whole corpus (sampling moves centroids, never drops
    * vectors). Inverted lists are NOT persisted by the inline form:
    * each consumer recomputes one narrow columnar scan + an
    * nCentroids-row broadcast assignment — cheaper and leak-free vs
    * pinning the corpus in the block store (a 100 TB corpus could
    * never persist anyway; assignment is deterministic, so every
    * computation agrees). */
  private def ivfParts(emb: DataFrame, nCentroids: Int, rounds: Int,
      scale: Int, fitSampleCap: Int,
      fit: Option[CodebookModel] = None): (DataFrame, DataFrame) = {
    require(nCentroids >= 1 && nCentroids <= MaxClusters,
      s"nCentroids in [1, $MaxClusters] (shortlist key packing), got " +
        nCentroids)
    val qv = quantVec(emb, scale)
    val model = fit.getOrElse(
      fitOnSample(fitSample(qv, fitSampleCap), 1, nCentroids, rounds,
        scale))
    require(model.m == 1 && model.scale == scale,
      s"coarse model (m=${model.m}, scale=${model.scale}) does not " +
        s"match m=1/scale=$scale")
    fit.foreach(f => require(f.nCodes == nCentroids,
      s"injected coarse quantizer has ${f.nCodes} centroids, call asked " +
        s"for nCentroids=$nCentroids (ADVICE r11)"))
    val assign = encodeCodes(qv, model)
      .select(col("vec_id"), element_at(col("codes"), 1).as("cluster"))
    val listed = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
      .join(assign, Seq("vec_id"))
      .select("vec_id", "embedding", "nrm", "cluster")
    val centroids = centsDF(emb.sparkSession, model.cents)
      .select(col("code").as("cluster"), col("cl"),
        col("cc"), lit(scale).as("qscale"))
    (listed, centroids)
  }

  /** Query prep for integer probe ranking: (q_id, embedding, nrm, qv,
    * qq) with qv/qq quantized at the index's `scale`. */
  private def quantQueries(queries: DataFrame, scale: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding"))
      .withColumn("nrm", norm(col("embedding")))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long")))
      .withColumn("qq", dotL(col("qv"), col("qv")))

  /** Rank each query's centroids by EXACT integer squared L2 (the
    * assignment metric itself — ascending ‖q−c‖², ties cluster asc,
    * the kmeansStep discipline) and keep the nProbe nearest. A query
    * always probes the list it would be assigned to. */
  private def rankProbes(q: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val wq = Window.partitionBy("q_id")
      .orderBy(asc("c_dist2"), asc("cluster"))
    q.select(col("q_id"), col("qv"), col("qq"))
      .join(broadcast(centroids.select(col("cluster"), col("cl"),
        col("cc"))))
      .withColumn("c_dist2",
        col("qq") - lit(2L) * dotL(col("qv"), col("cl")) + col("cc"))
      .withColumn("c_rnk", row_number().over(wq))
      .filter(col("c_rnk") <= nProbe)
      .select("q_id", "cluster")
  }

  /** Probe-side scoring shared by [[ivfTopK]] and [[probeIvfIndex]]:
    * `q` is a [[quantQueries]] frame at the index's scale. */
  private def ivfProbe(listed: DataFrame, centroids: DataFrame,
      q: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probes = rankProbes(q, centroids, nProbe)
      .join(broadcast(q.select(col("q_id"), col("embedding").as("qvv"),
        col("nrm").as("qn"))), Seq("q_id"))
    // score only the probed inverted lists, exact cosine re-rank
    val scored = listed.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("qvv")) / (col("nrm") * col("qn")))
    cosineTopK(scored, k)
  }

  /** Persist an IVF index under `dir` — the build-once/probe-many shape
    * real vector search runs at scale (the inline [[ivfTopK]] re-fits the
    * quantizer per call; a 100 TB corpus fits it once per index build and
    * amortizes it over every query batch that follows).
    *
    * Layout: `lists/` holds the inverted lists HIVE-PARTITIONED BY
    * CLUSTER, so a probe scan prunes to the nProbe/nCentroids partitions
    * it actually ranks (dynamic partition pruning from the broadcast
    * probe table — the same mechanism `dpp_partitioned_join` exercises);
    * `centroids/` holds the nCentroids-row quantizer table. */
  def buildIvfIndex(emb: DataFrame, dir: String, nCentroids: Int = 16,
      rounds: Int = 2, scale: Int = 1024,
      fitSampleCap: Int = DefaultFitSampleCap): Unit = {
    val (listed, centroids) = ivfParts(emb, nCentroids, rounds, scale,
      fitSampleCap)
    listed.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/lists")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Probe a [[buildIvfIndex]] index with an arbitrary query table
    * (vec_id, embedding): same ranking/scoring as [[ivfTopK]], reading
    * the persisted lists instead of re-deriving them, with queries
    * quantized at the scale the index records. Self-matches (identical
    * vec_id) are excluded like the inline form. */
  def probeIvfIndex(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val listed = spark.read.parquet(s"$dir/lists")
    val centroids = spark.read.parquet(s"$dir/centroids")
    val scale = centroids.select(col("qscale")).head.getInt(0)
    ivfProbe(listed, centroids, quantQueries(queries, scale), k, nProbe)
  }

  /** Per-vector statistics via higher-order array functions — the
    * map-only profile pass a vector pipeline runs before indexing
    * (dead/degenerate-vector detection, magnitude distribution).
    * `filter`/`transform`/`aggregate` run inside whole-stage codegen with
    * no explode: the row count never changes, so at 100 TB this is a pure
    * scan-speed pass.
    *
    * The squared norm is surfaced as an INTEGER quadrature (each element
    * quantized to round(x·1000), then summed as BIGINT): float sums are
    * order- and width-sensitive across engines, integer sums are exact
    * (SURVEY.md §7 "hard parts" — same discipline as moneySum). */
  /** One audited Lloyd (k-means) step over the embedding corpus, fully
    * integer-deterministic — the clustering primitive behind IVF
    * codebooks and corpus partitioning, surfaced with an EXACT oracle
    * (unlike ml.KMeans's float/seed paths, which stay rows-only):
    *
    *  1. quantize each vector to BIGINT at `scale` (floor(x·1024) — the
    *     ann-oracle discipline; |q| ≤ 1024, so Σ_dims (Δq)² ≤ 2.7e8,
    *     nowhere near overflow);
    *  2. seed centroids = the first k vectors (deterministic seeding, as
    *     reproducible pipelines require);
    *  3. assign: nearest centroid by squared L2 over the quantized ints,
    *     ties → lower centroid id (min(struct(dist2, cid)) — a map-side
    *     agg against BROADCAST centroids, the scale shape: k·dims cells
    *     per executor, one corpus scan per round);
    *  4. update: per-dim floor-mean via the portable pmod identity
    *     (s − pmod(s, n))/n — Spark `div` truncates while DuckDB `//`
    *     floors, so raw integer division would diverge on negative sums;
    *  5. re-assign against the updated centroids.
    *
    * Output per cluster: both rounds' member counts, the updated
    * centroid's coordinate sum, and the squared centroid shift — the
    * convergence signal a production loop would iterate on. Every value
    * is exact BIGINT arithmetic ⇒ hash-oracle'd end to end.
    *
    * Seeds are members of their own cluster at distance 0 in round 1, so
    * no cluster is ever empty and the floor-mean never divides by zero —
    * PROVIDED vec_ids 0..k-1 all exist (asserted in-plan below; sparse
    * ids would silently seed fewer than k clusters) and the k seed
    * vectors are pairwise distinct: two identical seeds tie at distance
    * 0 and the lower-cid tie-break empties the higher seed's cluster in
    * round 1 (reported as n_r1 = 0, not an error — the caller picks
    * distinct seeds or reads the counts). */
  def kmeansStep(emb: DataFrame, k: Int = 8, scale: Int = 1024): DataFrame = {
    val qv = quantized(emb, scale)
    val c0 = seedCentroids(qv, k)
    val seedCk = seedGuard(c0, k)

    def assign(centroids: DataFrame): DataFrame =
      qv.join(broadcast(centroids), Seq("d"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).getField("cid").as("cid"))

    val a1 = assign(c0)
    val c1 = qv.join(a1, Seq("vec_id"))
      .groupBy("cid", "d")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("cid"), col("d"),
        expr("(s - pmod(s, n)) div n").as("c"))
    val a2 = assign(c1)

    val nr1 = a1.groupBy("cid").agg(count(lit(1)).as("n_r1"))
    val nr2 = a2.groupBy("cid").agg(count(lit(1)).as("n_r2"))
    val cstats = c1.join(c0.withColumnRenamed("c", "c_old"), Seq("cid", "d"))
      .groupBy("cid")
      .agg(sum("c").as("centroid_sum"),
        sum((col("c") - col("c_old")) * (col("c") - col("c_old")))
          .as("shift_sq"))
    nr1.join(nr2, Seq("cid"), "left")
      .join(cstats, Seq("cid"))
      .join(broadcast(seedCk))
      // routing cluster_id through the guard forces its evaluation
      // (it is NULL when the seed check passes, throws otherwise)
      .select(when(col("__seed_g").isNull, col("cid").cast("long"))
          .as("cluster_id"),
        col("n_r1"), coalesce(col("n_r2"), lit(0L)).as("n_r2"),
        col("centroid_sum"), col("shift_sq"))
      .orderBy("cluster_id")
  }

  /** floor(x·scale) BIGINT quantization of the embedding corpus — the
    * ann-oracle discipline shared by [[kmeansStep]] and
    * [[kmeansAssignStats]]. */
  private def quantized(emb: DataFrame, scale: Int): DataFrame =
    emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        floor(col("x").cast("double") * scale).cast("long").as("q"))

  /** Deterministic seeds = the first k vectors. */
  private def seedCentroids(qv: DataFrame, k: Int): DataFrame =
    qv.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("d"), col("q").as("c"))

  /** Seed-completeness gate: filter(vec_id < k) assumes dense ids
    * 0..k-1; a corpus with sparse ids would seed < k clusters and the
    * "no empty clusters" claim would silently break. 1-row guard,
    * NULL on pass / throws on fail (joined broadcast into the output
    * plan). */
  private def seedGuard(c0: DataFrame, k: Int): DataFrame =
    c0.agg(countDistinct(col("cid")).as("n_seed"))
      .select(assert_true(col("n_seed") === k,
        lit(s"kmeansStep: expected $k seed vectors with vec_id 0..${k - 1}" +
          " — sparse vec_ids seed fewer clusters; re-key ids densely " +
          "first")).as("__seed_g"))

  /** Assignment-BALANCE audit of the deterministic coarse quantizer:
    * assign every vector to its nearest seed centroid (the
    * [[kmeansStep]] metric — squared L2 over floor(x·scale) ints,
    * lower-cid tie-break) and report, per cluster, the membership
    * count, corpus share in basis points, inertia (Σ dist²) and radius
    * (max dist²).
    *
    * This is the number that decides whether an IVF layout survives
    * scale: probe cost is proportional to LIST SIZE, so a coarse
    * quantizer with a hot cluster (share_bp ≫ 10000/k) turns nProbe=1
    * into a scan of the hot list — the imbalance must be measured, not
    * assumed (the [[graft.ops.Dedup]] cap-stats discipline applied to
    * vector partitioning). Radius catches the dual failure: a huge
    * radius means the list's members are far from their centroid and
    * recall will sag there.
    *
    * One broadcast-centroid scan + a k-row aggregate — the audit costs
    * one corpus pass regardless of size. Exact integers throughout ⇒
    * hash-oracle'd. */
  def kmeansAssignStats(emb: DataFrame, k: Int = 8,
      scale: Int = 1024): DataFrame = {
    val qv = quantized(emb, scale)
    val c0 = seedCentroids(qv, k)
    val best = qv.join(broadcast(c0), Seq("d"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        col("m.dist2").as("dist2"))
    val tot = best.agg(count(lit(1)).as("n_total"))
    best.groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("dist2").as("inertia"),
        max("dist2").as("radius_sq"))
      .crossJoin(broadcast(tot))
      .join(broadcast(seedGuard(c0, k)))
      .select(when(col("__seed_g").isNull, col("cid").cast("long"))
          .as("cluster_id"),
        col("n_members"), expr("n_members * 10000 div n_total").as("share_bp"),
        col("inertia"), col("radius_sq"))
      .orderBy("cluster_id")
  }

  /** Cluster-BALANCED coverage sample — the eval-subset constructor: m
    * deterministic representatives per coarse cluster, so the sample
    * covers the embedding SPACE instead of mirroring its density (a
    * uniform hash sample draws ~proportional to density — rare modes
    * contribute ~nothing and an eval built from it never measures
    * them). Assignment is the [[kmeansAssignStats]] integer metric
    * (squared L2 over floor(x·scale) BIGINTs, lower-cid tie-break,
    * dense-seed guard); the per-cluster choice is the bottom-m portable
    * affine hash of vec_id (coefficient index 23 — semantics-oblivious,
    * reproducible in SQL; injective mod P1, vec_id tie-break kept
    * anyway). One broadcast-centroid pass + one cluster-keyed top-m
    * window — k·m output rows whatever the corpus size. */
  def coverageSample(emb: DataFrame, k: Int = 8, m: Int = 5,
      scale: Int = 1024): DataFrame = {
    import graft.functions.Portable
    val qv = quantized(emb, scale)
    val c0 = seedCentroids(qv, k)
    val best = qv.join(broadcast(c0), Seq("d"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val w = Window.partitionBy("cid").orderBy("h", "vec_id")
    best
      .withColumn("h",
        (lit(Portable.aCoef(23)) * pmod(col("vec_id"), lit(Portable.P1))
          + lit(Portable.bCoef(23))) % lit(Portable.P1))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= m)
      .join(broadcast(seedGuard(c0, k)))
      .select(when(col("__seed_g").isNull, col("cid").cast("long"))
          .as("cluster_id"),
        col("rn"), col("vec_id"), col("h"))
      .orderBy("cluster_id", "rn")
  }

  /** Frozen-centroid APPEND audit — the no-refit maintenance loop of a
    * production IVF index, mirrored on the [[graft.ops.Dedup]] sig-index
    * lifecycle (probe → append → monitor → rebuild): the even-vec_id
    * half is the indexed base corpus, the odd half arrives later and is
    * assigned to the base's FROZEN seed centroids (appending never
    * refits — that is the whole point of the append path), and per
    * cluster the audit reports what the append did to the layout:
    *
    *   - `growth_bp`: appended members per 10k base members — a hot
    *     cluster here means the probe cost model the index was sized
    *     for is drifting;
    *   - `n_beyond` / `stale_bp`: appended vectors whose distance to
    *     their assigned centroid exceeds the base list's radius
    *     (max dist² over base members) — the out-of-envelope fraction.
    *     High staleness means the frozen centroids no longer describe
    *     the data and recall will sag exactly as the sig-index's
    *     build-pinned caps drift;
    *   - `needs_rebuild`: stale_bp > `rebuildBp` — the monitoring
    *     verdict that triggers the refit, as a column, not a policy
    *     buried in a driver loop.
    *
    * Same integer discipline as [[kmeansAssignStats]] (squared L2 over
    * floor(x·scale) BIGINTs, lower-cid tie-break, dense-seed guard on
    * the base half) ⇒ hash-oracle'd end to end. Scale: one
    * broadcast-centroid pass per half + a k-row join — one corpus scan
    * total, nothing accumulates with appends. */
  def ivfAppendAudit(emb: DataFrame, k: Int = 8, scale: Int = 1024,
      rebuildBp: Int = 2000): DataFrame = {
    val qv = quantized(emb, scale)
    val base = qv.filter(col("vec_id") % 2 === 0)
    val appended = qv.filter(col("vec_id") % 2 === 1)
    // seeds: the k smallest base ids (0,2,…,2k-2 when ids are dense)
    val c0 = base.filter(col("vec_id") < 2 * k)
      .select(col("vec_id").as("cid"), col("d"), col("q").as("c"))
    val guard = c0.agg(countDistinct(col("cid")).as("n_seed"))
      .select(assert_true(col("n_seed") === k,
        lit(s"ivfAppendAudit: expected $k even seed vectors with vec_id" +
          s" 0,2,…,${2 * k - 2} — sparse ids seed fewer lists")).as("__g"))
    def assign(half: DataFrame): DataFrame =
      half.join(broadcast(c0), Seq("d"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist2"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("cid"))).as("m"))
        .select(col("m.cid").as("cid"), col("m.dist2").as("dist2"))
    val baseStats = assign(base).groupBy("cid")
      .agg(count(lit(1)).as("n_base"), max("dist2").as("radius_sq_base"))
    val appStats = assign(appended)
      .join(broadcast(baseStats), Seq("cid"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_appended"),
        sum(when(col("dist2") > col("radius_sq_base"), 1L).otherwise(0L))
          .as("n_beyond"))
    baseStats.join(broadcast(appStats), Seq("cid"), "left")
      .join(broadcast(guard))
      .select(when(col("__g").isNull, col("cid").cast("long"))
          .as("cluster_id"),
        col("n_base"), col("radius_sq_base"),
        coalesce(col("n_appended"), lit(0L)).as("n_appended"),
        coalesce(col("n_beyond"), lit(0L)).as("n_beyond"))
      .withColumn("growth_bp", expr("n_appended * 10000 div n_base"))
      .withColumn("stale_bp", when(col("n_appended") === 0, 0L)
        .otherwise(expr("n_beyond * 10000 div n_appended")))
      .withColumn("needs_rebuild",
        (col("stale_bp") > rebuildBp).cast("long"))
      .orderBy("cluster_id")
  }

  /** EXACT duplicate-vector groups — the vector-store hygiene primitive
    * (re-ingested shards, re-encoded copies, degenerate constant rows all
    * surface as bit-identical embeddings; every production vector DB
    * dedups before indexing). Identity basis: the portable polynomial
    * fold over floor(x·1024) BIGINT quantization (the [[kmeansStep]]
    * discipline — quantize THEN hash, so the fingerprint is exactly
    * reproducible in SQL; pmod maps negative quanta into [0, P1) before
    * the fold). Output: one row per duplicate GROUP (n_dups ≥ 2) with
    * the keeper (min vec_id) — the group fingerprint stays internal, ids
    * are the contract.
    *
    * Scale: map-only fingerprint + one fingerprint-width shuffle + a
    * duplicate-groups-sized tail — the exact-dedup shape of
    * [[graft.ops.Dedup.exactDups]] applied to vectors. */
  def exactDupVectors(emb: DataFrame): DataFrame = {
    val fp = polyFp(col("embedding"))
    emb.select(col("vec_id"), fp.as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min("vec_id").as("keep_id"),
        max("vec_id").as("max_id"))
      .filter(col("n_dups") >= 2)
      .select("keep_id", "max_id", "n_dups")
      .orderBy("keep_id")
  }

  /** Portable polynomial fingerprint of a float array: TWO independent
    * folds over the ⌊x·1024⌋ quantization — h1 on (B1, P1), h2 on
    * (B2, P2) — combined as h1·P2 + h2, the dedup kernels' ~2⁶⁰
    * identity space (a single 10⁹-prime fold would already see
    * birthday collisions at ~10⁵ vectors: n²/2 / 10⁹). pmod maps
    * negative quanta into the field before folding; products stay
    * inside signed-64 (h1 < P1, so h1·P2 < 1.1e18). DuckDB twin is two
    * list_reduce folds. Public: the streaming vector-ingest gate probes
    * a persisted table of these. */
  def vecFingerprint(embedding: Column): Column = polyFp(embedding)

  private def polyFp(embedding: Column): Column = {
    def fold(b: Long, p: Long) = aggregate(
      transform(embedding, x =>
        pmod(floor(x.cast("double") * 1024).cast("long"), lit(p))),
      lit(0L),
      (h, q) => pmod(h * lit(b) + q, lit(p)))
    fold(Portable.B1, Portable.P1) * lit(Portable.P2) +
      fold(Portable.B2, Portable.P2)
  }

  /** Norm-distribution audit — the pre-indexing profile of a vector
    * corpus: per band of the INTEGER squared norm (Σ ⌊x·1024⌋², banded
    * at `bandWidth`), the vector count and the id range. Dead vectors
    * (norm ≈ 0), clipped/exploded outliers, and bimodal mixes (two
    * encoders writing one table) all show up as occupied bands where a
    * healthy corpus has one hump. Exact integers end to end (the
    * [[hofStats]] quadrature discipline), map-only + a #bands-row agg. */
  def normHistogram(emb: DataFrame, bandWidth: Long = 262144L): DataFrame = {
    require(bandWidth >= 1, s"bandWidth >= 1, got $bandWidth")
    val qnorm2 = aggregate(
      transform(col("embedding"), x =>
        floor(x.cast("double") * 1024).cast("long")),
      lit(0L), (acc, q) => acc + q * q)
    emb.select(col("vec_id"), qnorm2.as("qn2"))
      .groupBy(expr(s"qn2 div $bandWidth").as("band"))
      .agg(count(lit(1)).as("n_vectors"), min("qn2").as("min_qnorm2"),
        max("qn2").as("max_qnorm2"))
      .orderBy("band")
  }

  /** Per-dimension centroid DRIFT between two halves of the corpus
    * (vec_id parity = the deterministic stand-in for any before/after
    * split): floor-mean of ⌊x·1024⌋ per (dimension, half) via the
    * portable pmod identity (sums go negative — plain integer division
    * truncates and diverges from the floor convention), then the
    * absolute gap. THE embedding-distribution-shift audit a training
    * pipeline runs before mixing corpora or swapping encoder versions —
    * a dimension whose halves disagree by ≫ quantization noise means
    * the two sides were not drawn from the same encoder/distribution.
    * dims × 2 aggregate cells; nothing corpus-sized past the first
    * shuffle. */
  def centroidDrift(emb: DataFrame): DataFrame =
    quantized(emb, 1024)
      .withColumn("half", pmod(col("vec_id"), lit(2L)))
      .groupBy("d", "half")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .select(col("d"), col("half"),
        expr("(s - pmod(s, n)) div n").as("m"))
      .groupBy("d")
      .agg(max(when(col("half") === 0, col("m"))).as("mean_even"),
        max(when(col("half") === 1, col("m"))).as("mean_odd"))
      .withColumn("drift", abs(col("mean_even") - col("mean_odd")))
      .orderBy("d")

  def hofStats(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("CAST(size(filter(embedding, x -> x > 0)) AS BIGINT)").as("n_pos"),
      expr("""aggregate(
                transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                0L, (acc, v) -> acc + v * v)""").as("qnorm2"))
      .orderBy("vec_id")

  /** Audited covariance-structure step — the PCA/whitening primitive
    * surfaced with an EXACT oracle (the [[kmeansStep]] discipline
    * applied to second moments): vectors quantize to BIGINT at `scale`
    * (⌊x·1024⌋), the un-centered second-moment matrix G = Σ q qᵀ is one
    * (d, d′)-keyed aggregate (dims² cells, NOT corpus-sized), and one
    * power-iteration step v₁ = G·1 (the row sums — the first Krylov
    * vector from the all-ones start every power method accepts) rides
    * along per dimension with the diagonal (energy) term.
    *
    * Overflow headroom: \|q\| ≤ 1024 ⇒ \|q·q′\| ≤ 2²⁰ per vector pair
    * of dims; a cell is Σ over N vectors ≤ N·2²⁰ and the row sum ≤
    * dims· that — 2e11 at N=20k/dims=64, four orders inside BIGINT;
    * the in-plan assert arms the documented line rather than wrapping.
    *
    * Scale: explode to (vec, d, q) — 64× the scan, map-only — then ONE
    * shuffle keyed on vec_id for the self-join and a dims²-row
    * aggregate; everything after runs on 4096 rows. */
  def covPowerStep(emb: DataFrame, scale: Int = 1024): DataFrame = {
    val qv = quantized(emb, scale)
    val g = qv.join(qv.select(col("vec_id"), col("d").as("d2"),
        col("q").as("q2")), "vec_id")
      .groupBy("d", "d2")
      .agg(sum(col("q") * col("q2")).as("g"))
    val n = emb.agg(count(lit(1)).as("n"))
    g.groupBy("d")
      .agg(sum("g").as("v1_q"),
        sum(when(col("d2") === col("d"), col("g"))).as("diag_q"))
      .crossJoin(broadcast(n))
      .select(col("d"),
        when(assert_true(abs(col("v1_q")) <= lit(Long.MaxValue / 4096),
            lit("covPowerStep: row sum nearing BIGINT overflow — lower " +
              "the quantization scale or shard dimensions")).isNull,
          col("v1_q")).as("v1_q"),
        col("diag_q"), col("n"))
      .orderBy("d")
  }
}
