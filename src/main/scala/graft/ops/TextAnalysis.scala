package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.Texty

/** Text-analysis operators for a training-data pipeline (BASELINE.json
  * north star; not in the reference, which only parses one string column —
  * SURVEY.md §2h). All per-document: embarrassingly parallel, no shuffle
  * except the final presentation sort, safe at any scale.
  */
object TextAnalysis {

  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct word k-grams with a benchmark/eval set — the
    * pipeline stage that keeps test data out of training corpora.
    *
    * Shape: the benchmark side reduces to a DISTINCT shingle set and is
    * explicitly broadcast (eval suites are MBs, corpora are TBs), so the
    * check is one map-side hash probe per corpus shingle plus a doc-level
    * count — no shuffle of the corpus beyond its own distinct, linear at
    * 100 TB. Exact-match k-grams (via the codegen'd
    * [[graft.functions.WordShingles]] kernel — the interpreted chain was
    * the whole cost of this op); combine with [[graft.ops.Dedup]]'s
    * near-dup families for fuzzy contamination.
    *
    * GUARDED broadcast: nothing in the signature stops a caller from
    * passing a "bench" set that is actually corpus-sized, and an
    * unconditional broadcast would then hit Spark's 8 GB broadcast wall
    * (or OOM every executor before that). One cheap count over the
    * distinct bench shingles (a scan of the SMALL side only) picks the
    * plan: ≤ `maxBroadcastShingles` → map-side broadcast probe; above
    * it → plain shuffle hash join on the shingle, which stays correct at
    * any size. The default (5 M rows) is sized in BYTES, not just rows:
    * word trigram strings run ~25-60 B plus relation overhead, so 5 M ≈
    * low hundreds of MB broadcast — generous for any real eval suite,
    * far from the wall. Same guard discipline as bruteNearDup's
    * maxRows, except degrading to the slower-but-safe plan instead of
    * refusing. The distinct bench shingles feed the guard count AND the
    * join, so they are cached ([[graft.Materialize]]). */
  def contamination(corpus: DataFrame, bench: DataFrame, k: Int = 3,
      minShared: Int = 3, id: String = "doc_id",
      text: String = "text",
      maxBroadcastShingles: Long = 5000000L): DataFrame = {
    val sh = corpus.select(col(id),
      explode(graft.functions.WordShingles(col(text), k)).as("s"))
    val bsh = Materialize.cache(bench
      .select(explode(graft.functions.WordShingles(col(text), k)).as("s"))
      .distinct(), "TextAnalysis.contamination.benchShingles")
    val probe =
      if (bsh.count() <= maxBroadcastShingles) broadcast(bsh) else bsh
    sh.join(probe, Seq("s"))
      .groupBy(id)
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(id)
  }

  /** Contamination MATRIX: [[contamination]] stratified to a
    * (corpus stratum × benchmark stratum) grid — the release-gate view
    * ("which training domains leak into which eval sets, and how
    * badly") rather than the per-document list. Per cell: documents
    * over the `minShared` threshold and total shared-shingle volume.
    * Same broadcast-probe shape; the grid aggregate is
    * |strata|²-bounded. */
  def contaminationMatrix(corpus: DataFrame, bench: DataFrame,
      k: Int = 3, minShared: Int = 3, stratum: String = "source",
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val sh = corpus.select(col(stratum).as("corpus_source"), col(id),
      explode(graft.functions.WordShingles(col(text), k)).as("s"))
    val bsh = bench
      .select(col(stratum).as("bench_source"),
        explode(graft.functions.WordShingles(col(text), k)).as("s"))
      .distinct()
    sh.join(broadcast(bsh), Seq("s"))
      .groupBy("corpus_source", "bench_source", id)
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy("corpus_source", "bench_source")
      .agg(count(lit(1)).as("n_contaminated_docs"),
        sum("n_shared").as("n_shared_shingles"))
      .orderBy("corpus_source", "bench_source")
  }

  /** Per-document statistics + quality score. Ratios are exact basis
    * points (see Texty.ratioBp) so the DuckDB oracle matches bit-for-bit. */
  def textStats(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val t = col(text)
    val toks = Texty.tokens(t)
    docs.select(
      col(id),
      length(t).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq_tokens"),
      Texty.stopCount(t, StopWords).cast("long").as("n_stopwords"))
      .withColumn("uniq_ratio_bp", Texty.ratioBp(col("n_uniq_tokens"), col("n_tokens")))
      .withColumn("stop_ratio_bp", Texty.ratioBp(col("n_stopwords"), col("n_tokens")))
      // quality: longer docs (up to 100 tokens) + lexical diversity, in bp.
      .withColumn("quality_bp",
        (Texty.ratioBp(least(col("n_tokens"), lit(100)), lit(200))
          + col("uniq_ratio_bp") / 2).cast("long"))
      .orderBy(id)
  }

  /** Language profiles: a few high-frequency function words per language.
    * Real systems use char n-gram models; this is the deterministic,
    * SQL-checkable heuristic variant (the corpus `lang` column is a label,
    * not derivable from the synthetic English-word text). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "los", "es", "y", "una"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** N-gram(1) profile language ID: argmax of profile-word hits, 'zh' if
    * CJK characters present, 'und' when nothing matches. Tie-break:
    * profile order (en, de, es, fr). */
  def langId(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val t = col(text)
    val scored = docs.select(
      (col(id) +: LangProfiles.map { case (l, ws) =>
        Texty.stopCount(t, ws).as(s"score_$l")
      }) :+ t.rlike("[一-鿿]").as("has_cjk"): _*)
    val best = LangProfiles.map(p => col(s"score_${p._1}"))
      .reduce((a, b) => greatest(a, b))
    val pick = LangProfiles.foldRight(lit("und")) { case ((l, _), els) =>
      when(col(s"score_$l") === best, lit(l)).otherwise(els)
    }
    scored
      .withColumn("lang_pred",
        when(col("has_cjk"), lit("zh"))
          .when(best <= 0, lit("und"))
          .otherwise(pick))
      .select(col(id), col("lang_pred"))
      .orderBy(id)
  }

  /** Flesch reading-ease readability, integer-milli edition — the
    * grade-level quality signal corpus curation uses beside length/
    * stopword ratios (kids' content vs legalese vs prose reads
    * differently even at equal token counts):
    *
    *   fre_milli = 206835 − (1015·words) div sentences
    *                      − (84600·syllables) div words
    *
    * (the classic 206.835 − 1.015·w/s − 84.6·syll/w, ×1000, each term
    * floor-divided identically in the twin). Syllables use the standard
    * cheap proxy — vowel-group runs — and sentences count terminal
    * punctuation (min 1, so punctuation-free fragments score as one
    * long sentence instead of dividing by zero). Empty docs are
    * excluded (readability of nothing is undefined). Map-only. */
  def readability(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val t = col(text)
    docs.select(col(id),
        size(filter(split(t, " "), x => x =!= "")).cast("long")
          .as("n_words"),
        greatest(size(regexp_extract_all(t, lit("[.!?]"), lit(0)))
          .cast("long"), lit(1L)).as("n_sentences"),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("fre_milli",
        expr("206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_syllables) div n_words"))
      .orderBy(id)
  }

  /** Language-ID EVALUATION against the corpus's labeled `lang` column
    * — the confusion matrix + the headline numbers that decide whether
    * the n-gram heuristic is good enough to gate ingest on: per
    * (true, predicted) cell its count, the cell's share of the true
    * class (row recall) and of the predicted class (column precision),
    * and the global accuracy riding on every row, all in floor bp.
    * Classifier evals that only report accuracy hide exactly the
    * asymmetric confusions (es↔fr here) this surfaces.
    *
    * Scale: the scorer is map-only ([[langId]]); the matrix is a
    * \|langs\|²-bounded hash agg with two broadcast marginals and a
    * 1-row total. */
  def langIdEval(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    val joined = docs.select(col("doc_id"), col(labelCol).as("lang_true"))
      .join(langId(docs), "doc_id")
    val cells = joined.groupBy("lang_true", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("lang_true").agg(sum("n").as("n_true"))
    val colTot = cells.groupBy("lang_pred").agg(sum("n").as("n_pred"))
    val tot = joined.agg(count(lit(1)).as("n_docs"),
      sum(when(col("lang_true") === col("lang_pred"), 1L).otherwise(0L))
        .as("n_correct"))
    cells
      .join(broadcast(rowTot), "lang_true")
      .join(broadcast(colTot), "lang_pred")
      .crossJoin(broadcast(tot))
      .withColumn("recall_bp", expr("n * 10000 div n_true"))
      .withColumn("precision_bp", expr("n * 10000 div n_pred"))
      .withColumn("accuracy_bp", expr("n_correct * 10000 div n_docs"))
      .select("lang_true", "lang_pred", "n", "n_true", "n_pred",
        "recall_bp", "precision_bp", "accuracy_bp")
      .orderBy("lang_true", "lang_pred")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * lexer ([a-z]+ | digit runs | single non-alnum symbols). */
  /** Per-document top-k terms by frequency (stopwords and empty tokens
    * excluded; ties broken by term ascending) — the keyword/topic-surface
    * primitive of a text pipeline. Exact integer counts, so fully
    * oracle-able, unlike a float TF-IDF (log() has no cross-engine
    * bit-parity; rank by raw tf instead and leave idf to consumers as a
    * join against the corpus document-frequency table).
    *
    * Scale: explode→groupBy is one shuffle keyed (doc, term); the top-k
    * window partitions by doc over the aggregated tf rows (bounded by
    * distinct terms per doc, not corpus size). */
  def topTerms(docs: DataFrame, k: Int = 3, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val w = Window.partitionBy(id).orderBy(desc("tf"), asc("term"))
    docs
      .select(col(id), explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(StopWords: _*))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(id), col("rnk"), col("term"), col("tf"))
      .orderBy(id, "rnk")
  }

  /** Per-document top-k terms by TF-IDF. The corpus-level statistics stay
    * integer-exact so the query is hash-oracle-able: instead of
    * `tf * ln(N/df)` (log() has no cross-engine bit parity) the score is
    * `tf * ((10000 * N) div df)` — the same ordering for fixed tf, and a
    * faithful "rare terms weigh more" surrogate. Stopwords are NOT
    * excluded: their df ≈ N drives idf_bp to ~10000 (the minimum), which
    * is exactly the behavior idf exists to provide.
    *
    * Scale: explode→groupBy(doc,term) is one shuffle; the df branch
    * re-aggregates the same exchange by term (ReuseExchange — one scan);
    * N comes from a 1-row aggregate broadcast, not a driver collect; the
    * tf⋈df join keys on term (vocabulary-sized right side — AQE
    * broadcasts it when small, hash-join otherwise); the top-k window
    * partitions by doc over per-doc distinct terms, bounded rows. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val tf = docs
      .select(col(id), explode(Texty.tokens(col(text))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(id).orderBy(desc("tfidf_bp"), asc("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      // div: integral division — exact in both engines (DuckDB `//`)
      .withColumn("idf_bp", expr("(10000 * n_docs) div df"))
      .withColumn("tfidf_bp", col("tf") * col("idf_bp"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(id), col("rnk"), col("term"), col("tf"), col("df"),
        col("tfidf_bp"))
      .orderBy(id, "rnk")
  }

  /** Gopher-style quality filtering (Rae et al. 2021, §A1.1): keep a
    * document only if it passes every structural-quality rule. Rules are
    * integer-exact (the mean-token-length bound is expressed as
    * `3*n <= sum_len <= 10*n` — no division at all) so the whole filter
    * is hash-oracle-able. Map-only: tokenize + array aggregates per row,
    * no shuffle except the presentation sort — safe at any scale. */
  def qualityFilter(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    withQualityColumns(docs, text)
      .select(col(id), col("n_tokens"), col("sum_tok_len"),
        col("n_stopwords"), col("uniq_ratio_bp"), col("r_len"),
        col("r_mean_len"), col("r_stopwords"), col("r_uniq"), col("keep"))
      .orderBy(id)

  /** APPENDS the [[qualityFilter]] stat/rule/keep columns to `docs` in
    * one map-only projection — the composable form: [[corpusPrep]] uses
    * it to avoid a corpus-sized self-join of the filter output back onto
    * the cleaned text. */
  def withQualityColumns(docs: DataFrame,
      text: String = "text"): DataFrame = {
    val toks = Texty.tokens(col(text))
    val flag = (c: Column) => c.cast("long")
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("sum_tok_len",
        aggregate(transform(toks, t => length(t)), lit(0L), _ + _))
      .withColumn("n_stopwords",
        Texty.stopCount(col(text), StopWords).cast("long"))
      .withColumn("uniq_ratio_bp",
        Texty.ratioBp(size(array_distinct(toks)), size(toks)))
      .withColumn("r_len",
        flag(col("n_tokens") >= 5 && col("n_tokens") <= 5000))
      .withColumn("r_mean_len",
        flag(col("sum_tok_len") >= col("n_tokens") * 3 &&
          col("sum_tok_len") <= col("n_tokens") * 10))
      .withColumn("r_stopwords", flag(col("n_stopwords") >= 2))
      .withColumn("r_uniq", flag(col("uniq_ratio_bp") >= 3000))
      .withColumn("keep",
        flag(col("r_len") + col("r_mean_len") + col("r_stopwords") +
          col("r_uniq") === 4))
  }

  /** Corpus-level bigram document frequencies, global top-k: which word
    * pairs appear in the most documents (the n-gram LM / contamination-
    * check primitive). Per-doc DISTINCT shingles (Texty.wordShingles) so
    * the count is a document frequency, not an occurrence count.
    *
    * Scale: explode→groupBy(bigram) is one shuffle with map-side partial
    * aggregation; the global top-k is ORDER BY + LIMIT, which Spark plans
    * as TakeOrderedAndProject (per-partition heaps, k rows to the driver)
    * — never a full sort. Shingling is the codegen'd [[graft.functions
    * .WordShingles]] kernel: the interpreted transform/concat_ws/
    * array_distinct chain was ~half the query's runtime. */
  def bigramDf(docs: DataFrame, k: Int = 20, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs
      .select(explode(graft.functions.WordShingles(col(text), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("bigram"))
      .limit(k)

  /** Collocation mining: the corpus's top-k adjacent word pairs by
    * LIFT — observed co-occurrence over the independence expectation,
    * `lift_bp = 10⁴ · c(w₁w₂) · N div (c(w₁) · c(w₂))` — the integer
    * stand-in for PMI (PMI = log lift, and log is monotone, so the
    * RANKING is identical while the arithmetic stays exact cross-engine;
    * the §7 float discipline). High-lift pairs are multiword expressions
    * — what a tokenizer-vocab or stopword-phrase curation pass mines.
    *
    * OCCURRENCE counts, not document frequencies ([[bigramDf]] is the
    * df/contamination twin): both gram tables aggregate from one
    * tokenized scan, the unigram table joins back twice (broadcast —
    * it's the vocabulary, the [[Graphs]] |V| argument), and the global
    * N is a 1-row broadcast cross join. `minCount` floors the pair
    * support first, both the statistical floor (lift on a count of 1 is
    * noise) and the scale bound: the joined table is the ≥ minCount
    * pair tail, not every hapax bigram. Top-k = TakeOrderedAndProject.
    *
    * Overflow: c·N·10⁴ needs c·N < 9.2e14 — holds through N ≈ 3e9
    * corpus tokens with the observed c ≤ 3e5 pair tail; beyond, widen
    * the product to DECIMAL(38) (DuckDB throws where Spark wraps — the
    * oracle would catch a wrap, same guard as events_covariance). */
  def collocations(docs: DataFrame, k: Int = 30, minCount: Int = 5,
      text: String = "text"): DataFrame = {
    val toks = docs.select(Texty.tokens(col(text)).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("n_total"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(total))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("c_xy"), col("c1"), col("c2"),
        expr("c_xy * n_total * 10000 div (c1 * c2)").as("lift_bp"))
      .orderBy(desc("lift_bp"), asc("bigram"))
      .limit(k)
  }

  /** Per-stratum n-gram diversity report — the distinct-1 / distinct-2
    * ratios of Li et al. 2016 applied to corpus curation: for each
    * `by` slice (source, lang), total and distinct unigram/bigram
    * counts and their ratios in integer bp. LOW distinct-n = templated
    * or machine-duplicated text (the slice a mixture re-weights down or
    * a dedup pass revisits); a diversity COLLAPSE between two corpus
    * versions is the cheap memorization/mode-collapse screen for
    * model-generated contamination.
    *
    * Scale: two gram streams off one tokenized scan, each a (stratum,
    * gram)-keyed count-distinct — reducer state is the per-stratum gram
    * VOCABULARY, not the corpus. At 100 TB swap the exact
    * countDistinct for [[Sketches.hllGrouped]] registers (same report,
    * ±2% — the merge-law discipline is already spec'd there); exact is
    * the right default at audit scale because the ratios feed release
    * gates. Strata with no bigrams (all docs single-token) surface with
    * zero counts and NULL distinct2_bp rather than dropping. */
  def ngramDiversity(docs: DataFrame, by: String = "source",
      text: String = "text"): DataFrame = {
    val toks = docs.select(col(by), Texty.tokens(col(text)).as("t"))
    val uniAgg = toks.select(col(by), explode(col("t")).as("g"))
      .groupBy(by).agg(count(lit(1)).as("n_unigrams"),
        countDistinct(col("g")).as("d_unigrams"))
    val biAgg = toks.filter(size(col("t")) >= 2)
      .select(col(by), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat(t[i], ' ', t[i + 1]))")).as("g"))
      .groupBy(by).agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("g")).as("d_bigrams"))
    uniAgg.join(biAgg, Seq(by), "left")
      .select(col(by),
        col("n_unigrams"), col("d_unigrams"),
        expr("d_unigrams * 10000 div n_unigrams").as("distinct1_bp"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("d_bigrams"), lit(0L)).as("d_bigrams"),
        expr("d_bigrams * 10000 div n_bigrams").as("distinct2_bp"))
      .orderBy(by)
  }

  /** [[ngramDiversity]] with the documented 100 TB swap APPLIED: the
    * per-stratum distinct counts come from portable HLL register tables
    * ([[Sketches.hllRegistersBy]]) over rolling-hashed grams instead of
    * exact countDistinct — reducer state is |strata|·1024 registers,
    * not the gram vocabulary, and a billion-gram stream partial-
    * aggregates map-side. Totals stay exact (they're plain counts).
    * Raw-HLL small-range bias applies below ~2.5·m distinct grams (the
    * [[Sketches.hllRegisters]] sizing note); at audit scale the exact
    * variant is the gate, this is the fleet-wide monitor. Every number
    * is the same portable arithmetic as the sketch family ⇒ the whole
    * estimated report is hash-oracle-checked, estimates included. */
  def ngramDiversityHll(docs: DataFrame, by: String = "source",
      text: String = "text"): DataFrame = {
    val toks = docs.select(col(by), Texty.tokens(col(text)).as("t"))
    val uniG = toks.select(col(by), explode(col("t")).as("g"))
    val biG = toks.filter(size(col("t")) >= 2)
      .select(col(by), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat(t[i], ' ', t[i + 1]))")).as("g"))
    def est(grams: DataFrame, out: String): DataFrame =
      Sketches.hllSummaryBy(
        Sketches.hllRegistersBy(
          grams.select(col(by), Texty.rollingHash(col("g")).as("k")),
          "k", Seq(by)),
        Seq(by))
        .select(col(by), col("est_distinct").as(out))
    val un = uniG.groupBy(by).agg(count(lit(1)).as("n_unigrams"))
    val bn = biG.groupBy(by).agg(count(lit(1)).as("n_bigrams"))
    un.join(est(uniG, "est_d_unigrams"), Seq(by))
      .join(bn, Seq(by), "left")
      .join(est(biG, "est_d_bigrams"), Seq(by), "left")
      .select(col(by),
        col("n_unigrams"), col("est_d_unigrams"),
        expr("est_d_unigrams * 10000 div n_unigrams").as("est_distinct1_bp"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("est_d_bigrams"),
        expr("est_d_bigrams * 10000 div n_bigrams").as("est_distinct2_bp"))
      .orderBy(by)
  }

  def tokenCounts(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs.select(
      col(id),
      size(Texty.tokens(col(text))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col(text),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("n_bpe_tokens"))
      .orderBy(id)

  /** Temperature-based source MIXING allocation — the data-mixing step
    * of a training pipeline: split a token budget across sources so
    * low-resource sources are UP-sampled relative to their raw share
    * (τ = 1/2 sampling weights n_i^τ, the multilingual-rebalance
    * convention). Exact integers end to end: weights are ⌊√n_i⌋ (IEEE
    * sqrt is correctly rounded, so both engines floor the identical
    * double), the budget B = total div `budgetDen` splits by LARGEST
    * REMAINDER — base_i = B·w_i div W plus +1 for the B − Σ base
    * largest remainders (ties by source asc) — so Σ alloc_i == B
    * EXACTLY, asserted in-plan. Output per source: raw tokens and
    * share, weight, allocated tokens and share (the up-sampling is the
    * share_bp − raw_share_bp gap).
    *
    * Scale: one map-side-combined groupBy(source) over the corpus,
    * then |sources|-row arithmetic — the single-partition remainder
    * rank windows over the per-source AGGREGATE (bounded by source
    * cardinality), never the corpus. Overflow: B·w_i ≤ B·√N ≈ 3·10¹⁸
    * at a 10¹³-token corpus with a 10% budget — inside signed-64 with
    * ~3× headroom. */
  def mixAllocation(docs: DataFrame, budgetDen: Int = 10,
      text: String = "text"): DataFrame = {
    require(budgetDen >= 1, s"budgetDen >= 1, got $budgetDen")
    val perSrc = docs.select(col("source"),
        size(Texty.tokens(col(text))).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens"))).cast("long"))
    val tot = perSrc.agg(sum("n_tokens").as("nt"), sum("weight").as("wt"))
    val based = perSrc.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"nt div $budgetDen"))
      .withColumn("base", expr("budget * weight div wt"))
      .withColumn("rem", expr("(budget * weight) % wt"))
    val ranked = based
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("rem"), asc("source"))))
      .crossJoin(broadcast(based.agg(sum("base").as("sb"))))
      .withColumn("alloc_tokens",
        col("base") + when(col("rk") <= col("budget") - col("sb"), 1L)
          .otherwise(0L))
    val gate = ranked.agg(sum("alloc_tokens").as("sa"), max("budget").as("b"))
      .select(assert_true(col("sa") === col("b"),
        concat(lit("mixAllocation: largest-remainder allocation lost " +
          "tokens: sum="), col("sa").cast("string"), lit(" budget="),
          col("b").cast("string"))).as("__g"))
    ranked.join(broadcast(gate))
      .select(when(col("__g").isNull, col("source")).as("source"),
        col("n_tokens"),
        expr("n_tokens * 10000 div nt").as("raw_share_bp"),
        col("weight"), col("alloc_tokens"),
        expr("alloc_tokens * 10000 div budget").as("share_bp"))
      .orderBy("source")
  }

  /** Per-source token-budget CURATION — greedy quality-first selection:
    * within each source, documents are taken in (uniq_ratio_bp desc,
    * doc_id asc) order while the running token total fits the source's
    * budget (its own tokens div `budgetDen`). The data-constrained
    * curation rule — spend the token budget on the highest-quality
    * documents first, per source so no source is squeezed out by a
    * bigger neighbor — with the verdict per document, not a filtered
    * corpus (downstream decides what to do with kept=0 rows).
    *
    * Exact integers (uniq_ratio_bp is the [[withQualityColumns]] floor
    * ratio; prefix sums over an explicit ROWS frame with a unique
    * tie-break, so both engines accumulate in the identical order).
    * Scale: ONE source-keyed sort shuffle shared by the prefix sum and
    * the per-source total — no join, no second pass. */
  def budgetSelect(docs: DataFrame, budgetDen: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(budgetDen >= 1, s"budgetDen >= 1, got $budgetDen")
    val toks = Texty.tokens(col(text))
    val base = docs.select(col(id), col("source"),
      size(toks).cast("long").as("n_tokens"),
      Texty.ratioBp(size(array_distinct(toks)), size(toks))
        .as("uniq_ratio_bp"))
    val wCum = Window.partitionBy("source")
      .orderBy(desc("uniq_ratio_bp"), asc(id))
      .rowsBetween(Window.unboundedPreceding, 0)
    base
      .withColumn("cum_tokens", sum("n_tokens").over(wCum))
      .withColumn("src_budget",
        expr(s"sum(n_tokens) OVER (PARTITION BY source) div $budgetDen"))
      .withColumn("kept",
        (col("cum_tokens") <= col("src_budget")).cast("long"))
      .orderBy(id)
  }

  /** Email/phone pattern for PII scrubbing. Deliberately restricted to
    * syntax that Java regex and RE2-family engines (DuckDB) interpret
    * identically: character classes, bounded repeats — no backrefs, no
    * lookaround. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the compliance pass of a training-data pipeline:
    * count and mask email/phone occurrences per document. Map-only
    * (regexp_replace + count), codegen'd, no shuffle except the
    * presentation sort. */
  def redactPii(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val t = col(text)
    docs.select(
      col(id),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("redacted"))
      .orderBy(id)
  }

  /** Fixed-size token chunking with overlap — the LLM-pipeline primitive
    * that turns documents into training/context windows: chunk i covers
    * tokens [i*stride, i*stride + size). The last chunk may be short;
    * every token is covered (stride <= size ⇒ overlap = size - stride).
    * Pure per-document map (tokenize + slice, no shuffle except the
    * presentation sort) — safe at any scale; chunk EXPLOSION multiplies
    * rows by ~n_tokens/stride, which is the point, not a bug. */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 40, stride: Int = 30,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val toks = Texty.tokens(col(text))
    docs
      .select(col(id), toks.as("toks"))
      // map-only: the token array rides through the explode (≈ size/stride
      // copies per doc) — cheaper than any join/shuffle to re-fetch it
      .select(col(id), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col(id), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(chunkSize)).as("chunk"))
      .select(col(id), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy(col(id), col("chunk_idx"))
  }

  /** Intra-document repetition statistics (Gopher repetition rules, Rae
    * et al. 2021 §A1.1): the within-doc twin of the corpus-level dedup
    * family — a doc whose text loops on itself is low quality even if
    * globally unique. Per doc, over word bigram OCCURRENCES (not the
    * distinct shingles [[bigramDf]] counts): total bigrams, distinct
    * bigrams, the top bigram's occurrence count, and two exact
    * basis-point scores — duplicate-bigram fraction and top-bigram
    * fraction. Docs with fewer than 2 tokens have no bigrams and are
    * absent by definition.
    *
    * Scale: explode→groupBy(doc, bigram) is one shuffle with map-side
    * partial aggregation; the per-doc rollup re-aggregates rows bounded
    * by distinct bigrams per doc. No window, no self-join. */
  def repetitionStats(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val toks = Texty.tokens(col(text))
    // non-distinct bigram list: zip tokens with their successors
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    val occ = docs
      .filter(size(toks) >= 2)
      .select(col(id), explode(bigrams).as("bg"))
      .groupBy(col(id), col("bg"))
      .agg(count(lit(1)).as("c"))
    occ.groupBy(id)
      .agg(sum("c").as("n_bigrams"),
        count(lit(1)).as("n_uniq_bigrams"),
        max("c").as("top_occ"))
      .withColumn("dup_bp",
        Texty.ratioBp(col("n_bigrams") - col("n_uniq_bigrams"), col("n_bigrams")))
      .withColumn("top_bp", Texty.ratioBp(col("top_occ"), col("n_bigrams")))
      .orderBy(id)
  }

  /** Inverted index with truncated posting lists: term → full document
    * frequency + the `cap` lowest containing doc ids — the
    * search/retrieval build primitive. Truncation (not df-banding) keeps
    * every term visible while BOUNDING every output row: no term can
    * produce a giant posting row however common it is, which is what
    * makes the index writable at 100 TB. (This corpus's synthetic vocab
    * is 31 ubiquitous terms — a rare-term df band would be empty at
    * every scale; real pipelines compose this with a stopword df-drop.)
    *
    * Scale: per-doc DISTINCT terms (array_distinct before the explode —
    * one (doc, term) row per containing doc, not per occurrence); rank
    * and df share ONE sort-shuffle by term (two window frames over the
    * same partition spec), the cap filter drops everything but `cap`
    * rows per term, and the final groupBy reuses the term partitioning.
    * A stopword-scale term makes its window partition sort-spill rather
    * than OOM (windows spill; collect_list would not). Postings surface
    * as a CSV string sorted by doc id — deterministic, hash-comparable. */
  def invertedIndex(docs: DataFrame, cap: Int = 20,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(cap >= 1, s"cap >= 1, got $cap")
    val wRank = Window.partitionBy("term").orderBy(id)
    val wAll = Window.partitionBy("term")
    docs
      .select(col(id), explode(array_distinct(Texty.tokens(col(text)))).as("term"))
      .filter(col("term") =!= "")
      .withColumn("rn", row_number().over(wRank))
      .withColumn("df", count(lit(1)).over(wAll).cast("long"))
      .filter(col("rn") <= cap)
      .groupBy("term")
      .agg(max("df").as("df"), sort_array(collect_set(col(id))).as("__ids"))
      .select(col("term"), col("df"),
        array_join(transform(col("__ids"), _.cast("string")), ",").as("postings"))
      .orderBy("term")
  }

  /** Sequence-packing manifest — the GPT-style "concatenate the corpus in
    * a fixed order and cut every `budget` tokens" layout: for each doc,
    * its token count, global start offset, and the first/last training
    * sequence it lands in. The offset is an exact global prefix sum over
    * doc_id order, from [[Features.withRunningTotal]] (the
    * [[Features.sliceScan]] construction). */
  def packSequences(docs: DataFrame, budget: Int = 256,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(budget >= 1, s"budget >= 1, got $budget")
    val base = docs.select(col(id),
      size(Texty.tokens(col(text))).cast("long").as("n_tokens"))
    Features.withRunningTotal(base, id, "n_tokens", "cum")
      .withColumn("start_off", col("cum") - col("n_tokens"))
      .withColumn("seq_first", expr(s"start_off div $budget"))
      .withColumn("seq_last", expr(s"(cum - 1) div $budget"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(col(id), col("n_tokens"), col("start_off"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(id)
  }

  /** Packing-efficiency report over [[packSequences]]: one row of exact
    * integers a training-infra owner reads before picking the context
    * budget — corpus size, sequence count, padding waste in basis
    * points of the padded volume, and how many documents straddle a
    * sequence boundary (straddlers are the docs a packer either splits
    * or pads around; their share decides whether budget or layout is
    * the lever). The running total is the same distributed prefix sum
    * as packSequences — no single-partition window. */
  def packEfficiency(docs: DataFrame, budget: Int = 256,
      id: String = "doc_id", text: String = "text"): DataFrame =
    packSequences(docs, budget, id, text)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("seq_last") + 1L).as("n_sequences"),
        sum(when(col("n_seqs") > 1, 1L).otherwise(0L)).as("n_straddlers"))
      .withColumn("padded_tokens", col("n_sequences") * budget)
      .withColumn("waste_bp", Texty.ratioBp(
        col("padded_tokens") - col("total_tokens"), col("padded_tokens")))

  /** Token-balanced SHARD assignment report — the training-export
    * balancer: docs are laid on the exact global token prefix-sum line
    * (doc_id order, [[graft.ops.Features.withRunningTotal]]'s
    * distributed prefix sum — no single-partition window) and cut into
    * `nShards` contiguous token ranges, so every shard's token total is
    * total/S ± one document by construction — the balance that decides
    * training-throughput stragglers, reported as exact share_bp per
    * shard rather than assumed from doc counts (heavy-tailed docs make
    * count-balanced shards token-skewed). One prefix-sum pass + an
    * S-row aggregate. */
  def shardBalance(docs: DataFrame, nShards: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(nShards >= 1, s"nShards >= 1, got $nShards")
    val base = docs.select(col(id),
      size(Texty.tokens(col(text))).cast("long").as("n_tokens"))
    val cum = graft.ops.Features.withRunningTotal(base, id, "n_tokens", "cum")
    val tot = base.agg(sum("n_tokens").as("total"))
    cum.crossJoin(broadcast(tot))
      .withColumn("shard", least(lit(nShards - 1L),
        expr(s"(cum - n_tokens) * $nShards div total")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"),
        max("total").as("__t"))
      .withColumn("share_bp", expr("shard_tokens * 10000 div __t"))
      .select("shard", "n_docs", "shard_tokens", "share_bp")
      .orderBy("shard")
  }

  /** Corpus mixture report — the data-mixing dashboard: per stratum
    * (source/domain/language), document and token counts plus each
    * stratum's exact basis-point share of total tokens. This is the table
    * a training run's mixture weights are negotiated against, and the
    * check that [[graft.ops.Features.sourceQuota]] capping actually moved
    * the mix. One partial-aggregated shuffle collapses the corpus to
    * #strata rows; the total rides back as a broadcast 1-row aggregate
    * (never a driver collect). */
  def corpusMix(docs: DataFrame, stratum: String = "source",
      text: String = "text"): DataFrame = {
    val s = docs.groupBy(stratum)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Texty.tokens(col(text)))).cast("long").as("n_tokens"))
    val total = s.agg(sum("n_tokens").as("total_tokens"))
    s.crossJoin(broadcast(total))
      .withColumn("share_bp", Texty.ratioBp(col("n_tokens"), col("total_tokens")))
      .select(col(stratum), col("n_docs"), col("n_tokens"), col("share_bp"))
      .orderBy(stratum)
  }

  /** EXACT global top-k tokens WITHOUT a full-vocabulary shuffle — the
    * corpus-frequency surface (stopword-list mining, tokenizer-vocab
    * seeding) at a scale where "group by token" means shuffling billions
    * of distinct keys.
    *
    * Two passes, lossless by the candidate+rescore discipline
    * ([[graft.ops.Dedup.levenshteinRescore]], PPJoin):
    *  1. one map-only scan runs a bounded Misra–Gries summary
    *     (`capacity` counters) per partition and emits only its
    *     candidate tokens plus the partition's token count — ≤
    *     (capacity+1) rows per partition, no shuffle. MG guarantees any
    *     token with partition frequency > n_p/capacity survives, so
    *     (by averaging over partitions) any token with GLOBAL frequency
    *     > N/capacity appears in the union — for every partitioning.
    *  2. a second scan counts ONLY the candidate tokens exactly (map-side
    *     hash probe against the broadcast candidate set, partial-agg'd
    *     shuffle of ≤ #partitions × capacity rows), then takes top-k.
    *
    * The result is provably exact iff the k-th rescored count exceeds
    * N/capacity; that bound is ASSERTED inside the plan (`assert_true`
    * over the final k rows cross-joined with the 1-row total) — fail
    * loudly, never silently approximate, same contract as
    * [[graft.ops.Similarity.bruteTopK]]'s refusal. Skew-immune: a hot
    * token costs one counter per partition, never a hot shuffle key.
    *
    * ADAPTIVE capacity (the round-7 10×-decade lesson: the fixed 256
    * bound failed loudly on a corpus whose vocabulary grows with N —
    * disjoint-token replication, the adversarial non-Zipf shape): a
    * probe run at the given capacity checks the bound; if it fails, ONE
    * retry at `n_total/n_k + 2` counters — an upper bound on what's
    * needed, because the failed probe's rescored n_k is exact for its
    * candidates and therefore a lower bound on the true k-th count.
    * The returned plan still carries the armed assert at the retry
    * capacity, so a corpus the clamp (2²⁴ counters) can't cover fails
    * loudly, never approximately. Price: the probe is one extra
    * two-scan pass — the cost of not guessing state size; callers that
    * know their vocabulary pass a right-sized `capacity` and the probe
    * confirms in one go. */
  def heavyHitters(docs: DataFrame, k: Int = 20, capacity: Int = 256,
      text: String = "text", maxCapacity: Int = 1 << 24): DataFrame = {
    require(k >= 1 && capacity > k, s"need capacity > k >= 1; got $k, $capacity")
    require(maxCapacity >= capacity,
      s"maxCapacity >= capacity; got $maxCapacity < $capacity")
    val probe = rescoredTopK(docs, k, capacity, text)
      .agg(min("n_tok").as("nk"), max("n_total").as("nt")).head()
    val cap2 =
      if (probe.isNullAt(0)) capacity // empty corpus: any capacity holds
      else {
        val nk = probe.getLong(0); val nt = probe.getLong(1)
        if (nk * capacity.toLong > nt) capacity
        else math.min(maxCapacity.toLong, nt / nk + 2L).toInt
      }
    rescoredTopK(docs, k, cap2, text)
      .where(assert_true(col("n_tok") * cap2 > col("n_total"),
        lit(s"top-$k not provable at capacity $cap2: a returned count " +
          "is under N/capacity — raise capacity")).isNull)
      .select("tok", "n_tok")
      .orderBy(desc("n_tok"), asc("tok"))
  }

  /** The two-pass MG-candidates + exact-rescore pipeline behind
    * [[heavyHitters]]: k rows of (tok, n_tok, n_total), unasserted —
    * the caller arms the losslessness bound (or probes it). */
  private def rescoredTopK(docs: DataFrame, k: Int, capacity: Int,
      text: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(split(col(text), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // pass 1: per-partition MG candidates + token tally, in ONE scan;
    // the tiny summary feeds two consumers, so materialize it once
    val summary = Materialize.barrier(toks.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { t =>
        n += 1
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None if m.size < capacity => m.update(t, 1L)
          case None => // decrement-all step: amortized O(1) per token
            val dead = List.newBuilder[String]
            m.foreach { case (key, c) =>
              if (c == 1L) dead += key else m.update(key, c - 1) }
            dead.result().foreach(m.remove)
        }
      }
      Iterator.single((null: String, n)) ++ m.keysIterator.map((_, -1L))
    }.toDF("tok", "n_p"), "TextAnalysis.heavyHitters.summary")
    val total = summary.filter(col("tok").isNull)
      .agg(sum(col("n_p")).as("n_total"))
    val cands = summary.filter(col("tok").isNotNull).select("tok").distinct()
    // pass 2: exact rescore of candidates only
    toks.join(broadcast(cands), "tok")
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
      .orderBy(desc("n_tok"), asc("tok")).limit(k)
      .crossJoin(broadcast(total))
  }

  /** Corpus-statistical language-model familiarity scoring — the
    * integer-exact stand-in for perplexity-based quality filtering: train
    * a char-trigram count model ON the corpus itself, then score each
    * document by how common its trigrams are corpus-wide. Documents full
    * of rare trigrams (mojibake, binary spew, exotic boilerplate) score
    * low; typical prose scores high. Floats never appear (a real LM's
    * log-probs have no cross-engine bit parity — counts do), so the
    * whole surface is hash-oracle-able.
    *
    * Scale: the trigram vocabulary is bounded by charset³ (≤ ~1 M for
    * printable ASCII), NOT corpus size, so the count table broadcasts
    * and scoring is a map-side probe over the trigram stream — the
    * corpus itself never shuffles (the per-doc aggregation moves only
    * partial-agg'd (doc, sum) rows). The broadcast is GUARDED like
    * [[contamination]]'s: one cheap count picks broadcast vs shuffle
    * join, so a pathological charset degrades to slower-but-safe.
    * Documents under 3 chars have no trigrams and are absent (same as
    * the SQL twin's empty generate_series). The count table feeds the
    * guard AND the join, so it is cached ([[graft.Materialize]]). */
  def lmFamiliarity(docs: DataFrame, maxBroadcastVocab: Long = 2000000L,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // the trigram explode multiplies rows ~|text|-fold: fan the few-file
    // doc scan out first or the whole expansion runs on one core
    val tri = Spread(docs).filter(length(col(text)) >= 3)
      .select(col(id), explode(transform(
        sequence(lit(1), length(col(text)) - 2),
        i => col(text).substr(i, lit(3)))).as("tri"))
    val counts = Materialize.cache(tri.groupBy("tri").agg(count(lit(1)).as("n")),
      "TextAnalysis.lmFamiliarity.counts")
    val scored =
      if (counts.count() <= maxBroadcastVocab) tri.join(broadcast(counts), "tri")
      else tri.join(counts, "tri")
    scored.groupBy(col(id))
      .agg(count(lit(1)).as("n_tri"), sum(col("n")).as("fam_sum"))
      .withColumn("fam_avg", expr("fam_sum div n_tri"))
      .orderBy(id)
  }

  /** Integer-exact BM25 retrieval: top-k documents for a literal query —
    * the search/RAG-indexing surface over the same corpus the dedup and
    * quality families curate. Every factor of the classical formula is
    * re-expressed in basis-point integer arithmetic with explicit floor
    * semantics so scores are bit-identical on any engine (log-idf and
    * float length-norm have no cross-engine parity; the monotone
    * surrogates preserve BM25's structure):
    *
    *   idf_bp     = (10000·N) div df              (rare terms weigh more)
    *   dlnorm_bp  = 10000 − b + (b·dl) div avgdl  (b = 7500: length penalty)
    *   contrib    = (idf_bp·tf·(k1 + 10000))
    *                  div (tf·10000 + (k1·dlnorm_bp) div 10000)
    *                                              (k1 = 12000: tf saturation)
    *   score_bp   = Σ_terms contrib
    *
    * Scale: the corpus never shuffles its vocabulary — tokens filter to
    * the literal query terms map-side BEFORE the (doc, term) aggregation,
    * so the only corpus-keyed shuffle carries query-term postings; df is
    * a |query|-row aggregate over those postings (broadcast back); dl
    * rides the posting rows (min over the per-doc constant), and the
    * corpus-wide (N, avgdl) pair is a 1-row map-only aggregate. The
    * global top-k plans TakeOrderedAndProject. */
  /** [[bm25TopK]]'s scorer with the term set as a TABLE instead of a
    * literal list — what query expansion needs: the expanded vocabulary
    * is data (derived in-plan from feedback docs), so it joins in as a
    * broadcast instead of being collected into an `isin`. Same integer
    * contribution arithmetic, same plan shape (postings-only shuffle). */
  private def bm25ScoreByTermTable(docs: DataFrame, terms: DataFrame,
      k1Bp: Long, bBp: Long, id: String, text: String): DataFrame = {
    val toks = split(col(text), " ")
    val dl = size(filter(toks, t => t =!= "")).cast("long")
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(dl).as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avgdl"))
    val tf = docs.select(col(id), dl.as("dl"), explode(toks).as("term"))
      .join(broadcast(terms.select("term").distinct()), "term")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bp", expr("(10000 * n_docs) div df"))
      .withColumn("dlnorm_bp",
        lit(10000L - bBp) + expr(s"($bBp * dl) div avgdl"))
      .withColumn("contrib", expr(
        s"(idf_bp * tf * ($k1Bp + 10000)) div " +
          s"(tf * 10000 + ($k1Bp * dlnorm_bp) div 10000)"))
      .groupBy(col(id)).agg(sum(col("contrib")).as("score_bp"))
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio's PRF, the
    * BM25 edition): retrieve `fbDocs` feedback docs for the original
    * query, mine their `fbTerms` most frequent non-query non-stopword
    * terms, and re-score the corpus with the EXPANDED term set — the
    * classic recall lever when the user's two words under-specify the
    * intent. Everything stays in-plan: feedback docs come from
    * [[bm25TopK]], the mined terms are a TakeOrdered table (never
    * collected), and the rescore joins them in via
    * [[bm25ScoreByTermTable]]'s broadcast. The chosen expansion terms
    * ride along as a sorted CSV column so the expansion itself — not
    * just the ranking — is driver-checked. Integer BM25 throughout ⇒
    * the whole feedback loop hash-oracles.
    *
    * Scale: two postings-only passes over the corpus (base + rescore)
    * plus one token scan of fbDocs documents; no corpus-sized shuffle
    * beyond bm25's own. */
  def prfExpand(docs: DataFrame, queryTerms: Seq[String], fbDocs: Int = 3,
      fbTerms: Int = 3, k: Int = 10, k1Bp: Long = 12000L,
      bBp: Long = 7500L, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 1 && k >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val base = bm25TopK(docs, queryTerms, fbDocs, k1Bp, bBp, id, text)
    val fb = docs.join(base.select(col(id)), Seq(id), "left_semi")
    // mined is ≤ fbTerms rows but sits on the WHOLE base-BM25 pipeline
    // (corpus scan + score + top-k + feedback-doc semi-join); its two
    // consumers below (expandedCsv + the expanded-term re-score) each
    // replayed that pipeline — materialize the 3-row table once
    // (round 14; the Features.withRunningTotal k×-read discipline).
    val mined = Materialize.barrier(fb.select(explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(queryTerms: _*) &&
        !col("term").isin(StopWords: _*))
      .groupBy("term").agg(count(lit(1)).as("tf_fb"))
      .orderBy(desc("tf_fb"), asc("term")).limit(fbTerms), "TextAnalysis.prfExpand.mined")
    val expandedCsv = mined.agg(
      array_join(array_sort(collect_list("term")), ",")
        .as("expanded_terms"))
    val allTerms = mined.select("term")
      .unionByName(queryTerms.toDF("term")).distinct()
    val w = Window.orderBy(desc("score_bp"), col(id))
    bm25ScoreByTermTable(docs, allTerms, k1Bp, bBp, id, text)
      .orderBy(desc("score_bp"), col(id)).limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(expandedCsv))
      .select(col(id), col("rnk"), col("score_bp"), col("expanded_terms"))
      .orderBy("rnk")
  }

  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1Bp: Long = 12000L, bBp: Long = 7500L,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k >= 1, s"k >= 1, got $k")
    val toks = split(col(text), " ")
    val dl = size(filter(toks, t => t =!= "")).cast("long")
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(dl).as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avgdl"))
    val tf = docs.select(col(id), dl.as("dl"), explode(toks).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.orderBy(desc("score_bp"), col(id))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bp", expr("(10000 * n_docs) div df"))
      .withColumn("dlnorm_bp",
        lit(10000L - bBp) + expr(s"($bBp * dl) div avgdl"))
      .withColumn("contrib", expr(
        s"(idf_bp * tf * ($k1Bp + 10000)) div " +
          s"(tf * 10000 + ($k1Bp * dlnorm_bp) div 10000)"))
      .groupBy(col(id)).agg(sum(col("contrib")).as("score_bp"))
      .orderBy(desc("score_bp"), col(id)).limit(k)
      // ≤ k rows reach the rank window: the single partition is the point
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col(id), col("rnk"), col("score_bp"))
      .orderBy("rnk")
  }

  /** Vocabulary drift between two corpus slices: per token, the
    * absolute difference of its SHARE of each slice's token mass
    * (basis points, integer floor) — the distribution-shift monitor a
    * pipeline runs between ingest batches ("did the token mix move"),
    * reported as the top-k movers. Shares, not raw counts, so unequal
    * slice sizes compare; integer bp so the ranking is exact. Two
    * vocabulary-sized aggregates + a full-outer merge; TakeOrdered
    * top-k with a token tie-break. */
  def vocabDrift(a: DataFrame, b: DataFrame, k: Int = 20,
      text: String = "text"): DataFrame = {
    def shares(df: DataFrame) = {
      val cnt = df
        .select(explode(Texty.tokens(col(text))).as("tk"))
        .filter(col("tk") =!= "")
        .groupBy("tk").agg(count(lit(1)).as("cnt"))
      cnt.crossJoin(broadcast(cnt.agg(sum("cnt").as("total"))))
        .select(col("tk"), expr("cnt * 10000 div total").as("share_bp"))
    }
    shares(a).withColumnRenamed("share_bp", "share_a_bp")
      .join(shares(b).withColumnRenamed("share_bp", "share_b_bp"),
        Seq("tk"), "full")
      .select(col("tk"),
        coalesce(col("share_a_bp"), lit(0L)).as("share_a_bp"),
        coalesce(col("share_b_bp"), lit(0L)).as("share_b_bp"))
      .withColumn("drift_bp",
        abs(col("share_a_bp") - col("share_b_bp")))
      .orderBy(desc("drift_bp"), asc("tk"))
      .limit(k)
  }

  /** Retrieval-quality evaluation: per single-term query, rank the
    * corpus by the integer BM25 score ([[bm25TopK]]'s exact formula) and
    * report the reciprocal rank of the first RELEVANT hit in the top-k —
    * relevance being the label-free density criterion tf ≥ `relevanceTf`
    * (a doc that merely mentions the term once is a weak hit; the eval
    * asks whether the scorer surfaces term-DENSE docs first). MRR is the
    * standard first-relevant metric of a RAG/retrieval pipeline;
    * `rr_scaled` = 2520/rank (2520 = lcm(1..10)) keeps 1/rank exact in
    * integers, the RRF discipline.
    *
    * Scale: only query-term postings are touched; the per-term rank
    * window sorts one posting list per partition. Stop-word-sized
    * postings need the heavy-hitters cap first ([[invertedIndex]]'s cap
    * contract); curated eval terms are never that. */
  def retrievalMrr(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      relevanceTf: Int = 3, k1Bp: Long = 12000L, bBp: Long = 7500L,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = split(col(text), " ")
    val dl = size(filter(toks, t => t =!= "")).cast("long")
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(dl).as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avgdl"))
    val tf = docs.select(col(id), dl.as("dl"), explode(toks).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy("term").orderBy(desc("score_bp"), col(id))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_bp", expr("(10000 * n_docs) div df"))
      .withColumn("dlnorm_bp",
        lit(10000L - bBp) + expr(s"($bBp * dl) div avgdl"))
      .withColumn("score_bp", expr(
        s"(idf_bp * tf * ($k1Bp + 10000)) div " +
          s"(tf * 10000 + ($k1Bp * dlnorm_bp) div 10000)"))
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= k)
      .groupBy("term")
      .agg(min(when(col("tf") >= relevanceTf, col("rnk"))).as("best_rank"),
        count(lit(1)).as("n_ranked"))
      .withColumn("rr_scaled",
        coalesce(expr("2520 div best_rank"), lit(0L)))
      .orderBy("term")
  }

  /** Hybrid retrieval — BM25 lexical ranks fused with embedding-cosine
    * ranks by Reciprocal Rank Fusion (Cormack et al. 2009), the standard
    * two-tower + lexical ensemble of a RAG data pipeline. The fused
    * score is integer-exact basis points, `10000 div (rrfK + rank)` per
    * system (0 when absent from that system's top-k), so the whole
    * surface is hash-oracle-able: fusing RANKS — not raw scores — is the
    * point of RRF, and it also sidesteps cross-engine float drift.
    *
    * The query doc (`queryVecId`) stands in for an encoded query: its
    * embedding is the vector-side probe (itself excluded from results).
    *
    * Scale: BM25 touches only query-term postings ([[bm25TopK]]); the
    * vector side is one broadcast of a single query vector and a corpus
    * scan that TakeOrderedAndProject reduces to per-partition top-k
    * heaps; fusion is a full outer join of two ≤k-row lists — driver-
    * trivial, executor-bounded. */
  def searchHybrid(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVecId: Long = 0L, k: Int = 10, rrfK: Long = 60L,
      id: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val lex = bm25TopK(docs, terms, k, id = id)
      .select(col(id), col("rnk").as("lex_rank"))
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val q = base.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val w = Window.orderBy(desc("cosine"), asc("vec_id"))
    val vec = base.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        Similarity.dot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
      .orderBy(desc("cosine"), asc("vec_id")).limit(k)
      // ≤ k rows reach the single-partition rank window (bm25TopK shape)
      .withColumn("vec_rank", row_number().over(w).cast("long"))
      .select(col("vec_id").as(id), col("vec_rank"))
    lex.join(vec, Seq(id), "full")
      .withColumn("rrf_bp",
        coalesce(expr(s"10000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"10000 div ($rrfK + vec_rank)"), lit(0L)))
      .select(col(id),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        col("rrf_bp"))
      .orderBy(desc("rrf_bp"), col(id))
  }

  /** First-iteration BPE merge statistics: corpus-wide frequencies of
    * adjacent character pairs within whitespace tokens, top-k — the
    * statistic a byte-pair-encoding tokenizer trainer maximizes on its
    * first merge (and re-derives each round after merging; this surface
    * is the building block). Map-only explode; the aggregation key space
    * is bounded by charset² — a fixed-size shuffle independent of corpus
    * size — and the global top-k plans TakeOrderedAndProject. */
  def bpePairStats(docs: DataFrame, k: Int = 20,
      text: String = "text"): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    docs.select(explode(split(col(text), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair")).limit(k)
  }

  /** Distributed BPE tokenizer training — the first `merges` merge
    * rounds, exactly the algorithm (Sennrich et al. 2016): represent
    * every token occurrence as its characters joined by single spaces,
    * and each round (a) counts adjacent-symbol pairs corpus-wide,
    * (b) picks the global argmax (ties: pair ascending), (c) rewrites
    * every occurrence by the merge. Greedy left-to-right non-overlapping
    * rewrite is exactly `replace("x y" → "xy")` semantics — identical in
    * Spark and DuckDB, which is what makes the whole training loop
    * hash-oracle-able (the oracle unrolls rounds as CTEs with scalar
    * subqueries for the argmax).
    *
    * Scale: the corpus is touched ONCE — tokens aggregate to the
    * WORD-FREQUENCY DICTIONARY (distinct token, occurrence count), the
    * representation every real BPE trainer merges over, and that
    * vocabulary-sized table is what the rounds iterate on (pair counts
    * weighted by occurrence count are identical integers to counting
    * every occurrence — Σ_occurrences = Σ_vocab w·per-token-pairs — so
    * the oracle is unchanged). Distinct tokens stay distinct under
    * merging (the concatenation of a rep's symbols is invariant), so
    * the dictionary never re-aggregates: each round is a pair explode
    * over |vocab| rows, a bounded-key weighted count, a 1-row argmax
    * collect (the driver-side step every distributed trainer has), and
    * a lazy `replace` projection Catalyst fuses into the next round's
    * map stage. Measured at sf0.1: 11 s → 1.6 s for 5 rounds vs
    * iterating over token occurrences. Rounds stop early if no pair
    * remains.
    *
    * Returns the merge table (round, pair, n). */
  def bpeTrain(docs: DataFrame, merges: Int = 5,
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeList(docs, merges, text).toDF("round", "pair", "n")
      .orderBy("round")
  }

  /** Batched BPE training — [[bpeTrain]]'s merge table mined with up to
    * `maxBatch` merges per full pair-count pass, the 100 TB pass-count
    * fix for the one sequential cost [[bpeTrain]] retains (one
    * dictionary-wide aggregate per merge). Per round: one weighted pair
    * count, ONE driver argmax collect of the top few candidates, then a
    * greedy batch of extra merges accepted only while provably
    * low-interaction — each next candidate must (a) be strictly below
    * the previous accepted count (a TIE is exactly where merge order
    * changes the table → stop) and (b) share no symbol with any
    * accepted pair (shared-symbol merges change each other's counts →
    * stop, never skip: sequential might pick the conflicting pair next).
    * Accepted merges apply in acceptance order in one fused projection,
    * and the dictionary localCheckpoints per round, so lineage stays
    * O(1) instead of the sequential form's O(rounds) replay chain.
    *
    * Exactness boundary, stated honestly: symbol-disjointness freezes
    * every accepted candidate's own count (pair adjacencies change only
    * around a merged symbol), so reported (pair, n) rows are exact; the
    * one divergence mode left is a pair CREATED by an earlier merge in
    * the batch outranking a later accepted candidate, which strict
    * descent makes rare but not impossible. The guard is loud, not
    * statistical: the spec asserts batched ≡ sequential on the test
    * corpora, and the registered `bpe_train_batched` query shares the
    * SEQUENTIAL DuckDB oracle — any divergence is a driver hash FAIL,
    * never silent drift. Measured (sf0.1, merges=20): see BASELINE.md. */
  def bpeTrainBatched(docs: DataFrame, merges: Int = 5, maxBatch: Int = 4,
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeListBatched(docs, merges, maxBatch, text)
      .toDF("round", "pair", "n").orderBy("round")
  }

  private def bpeMergeListBatched(docs: DataFrame, merges: Int,
      maxBatch: Int, text: String): Seq[(Long, String, Long)] = {
    require(merges >= 1 && merges <= 50, s"merges in [1,50], got $merges")
    require(maxBatch >= 1, s"maxBatch >= 1, got $maxBatch")
    val spark = docs.sparkSession
    import spark.implicits._
    val reps0 = Materialize.barrier(docs.select(explode(split(col(text), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("w"))
      .select(concat_ws(" ",
        filter(split(col("tok"), ""), s => s =!= "")).as("rep"), col("w")),
      "TextAnalysis.bpeMergeListBatched.reps0")
    var reps = reps0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val syms = split(col("rep"), " ")
      val topC = reps
        .filter(size(syms) >= 2)
        .select(col("w"), explode(transform(sequence(lit(0), size(syms) - 2),
          i => concat(element_at(syms, i + 1), lit(" "),
            element_at(syms, i + 2)))).as("pair"))
        .groupBy("pair").agg(sum(col("w")).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(math.max(4 * maxBatch, 8))
        .as[(String, Long)].collect()
      if (topC.isEmpty) exhausted = true
      else {
        val want = math.min(maxBatch, merges - r + 1)
        val accepted = scala.collection.mutable.ArrayBuffer(topC.head)
        val usedSyms =
          scala.collection.mutable.Set(topC.head._1.split(' ').toSeq: _*)
        var i = 1
        var stop = false
        while (!stop && accepted.size < want && i < topC.length) {
          val (p, n) = topC(i)
          val ps = p.split(' ')
          if (n == accepted.last._2 || ps.exists(usedSyms)) stop = true
          else { accepted += ((p, n)); usedSyms ++= ps }
          i += 1
        }
        accepted.foreach { case (p, n) => out += ((r.toLong, p, n)); r += 1 }
        val newRep = accepted.foldLeft(col("rep")) { (c, pn) =>
          org.apache.spark.sql.functions.replace(c, lit(pn._1),
            lit(pn._1.replace(" ", "")))
        }
        reps = Materialize.barrier(reps.select(newRep.as("rep"), col("w")),
          s"TextAnalysis.bpeMergeListBatched.merge$r")
      }
    }
    reps0.unpersist()
    out.toSeq
  }

  /** The training loop behind [[bpeTrain]]/[[bpeEncode]], returning the
    * driver-resident merge table (every distributed BPE trainer collects
    * exactly this artifact — it IS the tokenizer). */
  private def bpeMergeList(docs: DataFrame, merges: Int,
      text: String): Seq[(Long, String, Long)] = {
    require(merges >= 1 && merges <= 50, s"merges in [1,50], got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    val reps0 = Materialize.barrier(docs.select(explode(split(col(text), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("w"))
      // split(tok, "") keeps a trailing "" in Spark; drop empties so
      // symbols are exactly the characters
      .select(concat_ws(" ",
        filter(split(col("tok"), ""), s => s =!= "")).as("rep"), col("w")),
      "TextAnalysis.bpeMergeList.reps0")
    var reps = reps0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val syms = split(col("rep"), " ")
      val top = reps
        .filter(size(syms) >= 2) // sequence(0, -1) would DESCEND, not empty
        .select(col("w"), explode(transform(sequence(lit(0), size(syms) - 2),
          i => concat(element_at(syms, i + 1), lit(" "),
            element_at(syms, i + 2)))).as("pair"))
        .groupBy("pair").agg(sum(col("w")).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(1)
        .as[(String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pair, n) = top.head
        out += ((r.toLong, pair, n))
        reps = reps.select(
          org.apache.spark.sql.functions.replace(col("rep"), lit(pair),
            lit(pair.replace(" ", ""))).as("rep"), col("w"))
        r += 1
      }
    }
    // the merge table is driver-resident — the checkpointed corpus can
    // release its blocks before returning (no lazy dependency remains)
    reps0.unpersist()
    out.toSeq
  }

  /** BPE ENCODE — apply a trained merge table to the corpus, the other
    * half of the tokenizer story ([[bpeTrain]] derives the merges; this
    * tokenizes with them). Per document: word count, character count,
    * post-merge token count, and compression in basis points
    * (`tokens·10000 div chars` — the tokens-per-byte statistic every
    * training-data budget is planned around). Greedy non-overlapping
    * left-to-right merge application is the same `replace("x y"→"xy")`
    * chain as training, so the oracle reuses the training CTEs and
    * applies the merges as chained scalar-subquery replaces.
    *
    * Scale: training cost is dictionary-bounded (see [[bpeTrain]]);
    * encoding is ONE map-only corpus pass — the `merges` replaces fuse
    * into a single codegen'd projection — followed by a doc-keyed
    * partial aggregation. Nothing but (id, two longs) shuffles. Empty
    * documents surface with zero counts (left join back to the corpus),
    * not as dropped rows. */
  def bpeEncode(docs: DataFrame, merges: Int = 5, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pairs = bpeMergeList(docs, merges, text).map(_._2)
    val rep0 = concat_ws(" ",
      filter(split(col("tok"), ""), s => s =!= ""))
    val rep = pairs.foldLeft(rep0)((c, p) =>
      org.apache.spark.sql.functions.replace(c, lit(p),
        lit(p.replace(" ", ""))))
    val perTok = docs
      .select(col(id), explode(split(col(text), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(id), length(col("tok")).cast("long").as("n_c"),
        size(split(rep, " ")).cast("long").as("n_s"))
    val agg = perTok.groupBy(col(id)).agg(
      count(lit(1)).as("n_words"),
      sum(col("n_c")).as("n_chars"),
      sum(col("n_s")).as("n_tokens"))
    docs.select(col(id)).join(agg, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("compression_bp",
        when(col("n_chars") === 0L, lit(0L))
          .otherwise(expr("(n_tokens * 10000) div n_chars")))
      .orderBy(id)
  }

  /** Tokenizer FERTILITY report — [[bpeEncode]] rolled up per source:
    * how many tokens the trained tokenizer spends per word
    * (fertility), and how many characters each token covers
    * (compression), per corpus slice. This is the statistic that
    * decides token budgets and flags tokenizer/domain mismatch: a
    * source whose fertility is far above the rest (many tokens per
    * word) is one the merge table never learned — its share of the
    * training budget silently inflates.
    *
    *   fertility_milli       = Σtokens · 1000 div Σwords
    *   chars_per_token_milli = Σchars  · 1000 div Σtokens
    *
    * Integer milli-units, floor division — the corpus_mix share
    * discipline. Cost = one [[bpeEncode]] pass (training is
    * dictionary-bounded, encoding map-only) + a source-keyed rollup of
    * three longs. */
  def bpeFertility(docs: DataFrame, merges: Int = 5): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(bpeEncode(docs, merges), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_chars").as("n_chars"), sum("n_tokens").as("n_tokens"))
      .withColumn("fertility_milli",
        when(col("n_words") === 0L, lit(0L))
          .otherwise(expr("n_tokens * 1000 div n_words")))
      .withColumn("chars_per_token_milli",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("n_chars * 1000 div n_tokens")))
      .orderBy("source")

  /** COMPOSED corpus preparation — the full text-pipeline path run end to
    * end as ONE lazy plan, the way a 100 TB training-data build actually
    * executes it (each stage checked separately elsewhere; this query
    * checks their composition and the stage-attribution semantics):
    *
    *   1. boilerplate strip ([[Dedup.boilerplateStrip]]): df-threshold
    *      chunk removal, docs rebuilt as `clean_text`;
    *   2. Gopher quality filter ([[qualityFilter]]) over the CLEANED
    *      text — stripping first means quality judges what would
    *      actually be trained on;
    *   3. exact dedup among quality passers (md5(clean_text), min-id
    *      rep wins);
    *   4. decontamination ([[contamination]]) of the surviving reps
    *      only — the cheapest place in the chain to probe the benchmark
    *      shingle set.
    *
    * Output, per corpus doc: (doc_id, source, status, n_tokens_kept)
    * where status is the FIRST failing stage — 'quality', 'duplicate',
    * 'contaminated' — or 'kept', and n_tokens_kept is the cleaned token
    * count for kept docs (0 otherwise): summing it per source gives the
    * post-pipeline token budget directly.
    *
    * Scale: no stage adds a shape beyond its standalone form — chunk/
    * shingle exchanges carry fingerprints, the dedup shuffle carries
    * md5s, contamination probes reps only (strictly fewer rows than the
    * corpus), and the stage joins are doc-keyed. Quality columns are
    * APPENDED in the strip pass ([[withQualityColumns]]), not joined
    * back, so the cleaned corpus is built exactly once; that build
    * (strip → quality → fp) feeds three consumers (rep agg, benchmark
    * probe, final attribution join) and is cached
    * ([[graft.Materialize]]). The bench split (doc_id % 50 == 0) stands in for
    * an external eval suite. */
  def corpusPrep(docs: DataFrame, id: String = "doc_id",
      text: String = "text", source: String = "source"): DataFrame = {
    val bench = docs.filter(col(id) % 50 === 0)
      .select(col(text).as("clean_text"))
    val corpus = docs.filter(col(id) % 50 =!= 0)
    val stripped = Dedup.boilerplateStrip(corpus, id = id, text = text)
      .select(col(id), col("clean_text"))
    val base = corpus.select(col(id), col(source).as("source"))
      .join(stripped, Seq(id))
    val withQ = withQualityColumns(base, "clean_text")
      .select(col(id), col("source"), col("clean_text"),
        col("n_tokens"), col("keep"))
      .withColumn("fp", md5(col("clean_text")))
    Materialize.cache(withQ, "TextAnalysis.corpusPrep.withQ")
    val reps = withQ.filter(col("keep") === 1)
      .groupBy("fp").agg(min(col(id)).as("rep_id"))
    val repDocs = withQ.join(reps, Seq("fp"))
      .filter(col(id) === col("rep_id"))
      .select(col(id), col("clean_text"))
    val contam = contamination(repDocs, bench, id = id, text = "clean_text")
      .select(col(id).as("contam_id"))
    withQ
      .join(reps, Seq("fp"), "left")
      .join(contam, col(id) === col("contam_id"), "left")
      .withColumn("status",
        when(col("keep") === 0, lit("quality"))
          .when(col(id) =!= col("rep_id"), lit("duplicate"))
          .when(col("contam_id").isNotNull, lit("contaminated"))
          .otherwise(lit("kept")))
      .select(col(id), col("source"), col("status"),
        when(col("status") === "kept", col("n_tokens")).otherwise(lit(0L))
          .as("n_tokens_kept"))
      .orderBy(id)
  }

  /** Per-(source, lang) corpus health report — the dashboard aggregation
    * a data team watches during a crawl/ingest: document and token
    * volumes, Gopher-quality pass rate, and exact-duplicate rate, all in
    * integer basis points so the whole report hash-matches DuckDB.
    *
    * Scale: one map pass appends the quality columns
    * ([[withQualityColumns]]) and the md5 fingerprint, then ONE
    * aggregation keyed (source, lang) — count/sum columns partial-
    * aggregate map-side; the dup rate's `countDistinct(fp)` expands to
    * the standard two-phase distinct aggregate on fingerprints, never
    * text. */
  def corpusReport(docs: DataFrame, id: String = "doc_id",
      text: String = "text", source: String = "source",
      lang: String = "lang"): DataFrame =
    withQualityColumns(docs, text)
      .withColumn("fp", md5(col(text)))
      .groupBy(col(source).as("source"), col(lang).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("keep")).as("n_quality"),
        countDistinct(col("fp")).as("n_distinct"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        expr("n_quality * 10000 div n_docs").as("quality_bp"),
        expr("(n_docs - n_distinct) * 10000 div n_docs").as("dup_bp"),
        expr("n_tokens div n_docs").as("avg_tokens"))
      .orderBy("source", "lang")

  /** Document fingerprints: md5 (content-exact) + polynomial rolling hash
    * (shift-tolerant primitive used by chunk-level dedup). */
  def fingerprints(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    docs.select(
      col(id),
      md5(col(text)).as("fp_md5"),
      Texty.rollingHash(col(text)).as("fp_roll"))
      .orderBy(id)

  /** Cross-source vocabulary overlap — the corpus-mix diagnostic: for
    * every source pair, exact vocabulary sizes, intersection, union and
    * Jaccard in floor bp. Near-identical sources (a re-crawl, a mirror)
    * jump out as high-Jaccard pairs BEFORE they skew a training mix;
    * the exact-set twin of the KMV-sketch Jaccard one file over.
    *
    * Scale: one distinct-collapse to (source, term) — the vocabulary
    * shuffle, map-side combined — then a term-keyed self-join whose
    * fan-out per term is bounded by \|sources\|² (sources are a handful
    * by construction, never corpus-sized), and a \|sources\|-row size
    * table joined twice (broadcast). */
  def sourceOverlap(docs: DataFrame, source: String = "source",
      text: String = "text"): DataFrame = {
    val vocab = docs.select(col(source).as("src"),
        explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    val sizes = vocab.groupBy("src").agg(count(lit(1)).as("v"))
    val inter = vocab.select(col("src").as("sa"), col("term"))
      .join(vocab.select(col("src").as("sb"), col("term")), "term")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("src").as("sa"), col("v").as("va"))), "sa")
      .join(broadcast(sizes.select(col("src").as("sb"), col("v").as("vb"))), "sb")
      .withColumn("uni", col("va") + col("vb") - col("inter"))
      .withColumn("jaccard_bp", expr("inter * 10000 div uni"))
      .select("sa", "sb", "va", "vb", "inter", "uni", "jaccard_bp")
      .orderBy("sa", "sb")
  }

  /** Frequency-of-frequencies spectrum — the Zipf diagnostic read before
    * sizing a tokenizer vocabulary or a pruning threshold: how many
    * terms occur exactly-once (bin 0 = the hapax mass every BPE/vocab
    * decision hinges on), how the tail decays, and what share of both
    * the vocabulary and the token volume each log₂ frequency band
    * carries. Bin = binary digit count of the term frequency (the
    * [[Graphs.degreeDistribution]] arithmetic — no float log), shares
    * in floor milli.
    *
    * Scale: explode → one (term)-keyed aggregate (the unavoidable
    * vocabulary shuffle, map-side combined) → a ≤ 64-row binned
    * aggregate + 1-row broadcast totals. */
  def freqSpectrum(docs: DataFrame, text: String = "text"): DataFrame = {
    val tf = docs.select(explode(split(col(text), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("f"))
    val spec = tf
      .withColumn("bin", (length(bin(col("f"))) - 1).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_terms"), sum("f").as("n_occurrences"))
    val tot = spec.agg(sum("n_terms").as("vocab"),
      sum("n_occurrences").as("toks"))
    spec.crossJoin(broadcast(tot))
      .withColumn("lo_f",
        call_function("shiftleft", lit(1L), col("bin").cast("int")))
      .withColumn("terms_share_milli", expr("n_terms * 1000 div vocab"))
      .withColumn("occ_share_milli",
        expr("n_occurrences * 1000 div toks"))
      .select("bin", "lo_f", "n_terms", "n_occurrences",
        "terms_share_milli", "occ_share_milli")
      .orderBy("bin")
  }
}
