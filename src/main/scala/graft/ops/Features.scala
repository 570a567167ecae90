package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering operators mirroring the reference's ML prep stage
  * (SURVEY.md §2g FP1–FP4) as oracle-checkable relational transforms.
  *
  * The reference uses `pyspark.ml.feature` estimators (StringIndexer ×8 at
  * 任务四/exp4_work4.ipynb:152-165, QuantileDiscretizer at :221, na.fill at
  * :127-128). Those estimators collect dictionaries/quantiles to the driver
  * inside `fit`; here each op is additionally expressed as a pure
  * relational transform — same semantics, SQL-twin checkable, and the
  * dictionary stays distributed (it is joined back, never collected).
  *
  * `graft.ml.Pipelines` wires the actual `spark.ml` estimators (needed for
  * model persistence + classifier input); these twins are the correctness
  * oracle for them.
  */
object Features {

  /** FP1 twin — frequency-ranked label encoding dictionary for one column:
    * index 0 = most frequent value, ties broken by value ascending
    * (StringIndexer's default `frequencyDesc` order,
    * exp4_work4.ipynb:152-165). Nulls are excluded from the dictionary,
    * matching StringIndexer.fit (null is "invalid" input, never a label).
    *
    * Scale: the window runs over the *aggregated dictionary* (cardinality =
    * #distinct values, small by assumption of label encoding), not the raw
    * rows — the single-partition window exchange moves only the dictionary.
    */
  def stringIndexDict(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNotNull)
      .groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("idx",
        (row_number().over(Window.orderBy(desc("cnt"), asc("value"))) - 1)
          .cast("long"))
      // the "dictionaries are small" assumption is ENFORCED, not
      // assumed (VERDICT r12 item 7): past 4M distinct labels this is
      // not a label column — the single-partition dictionary window
      // and the broadcast-back would both be data-sized. Fail loudly
      // with the fix named instead of funneling a corpus through one
      // task. Values below the cap are untouched (assert_true is null
      // on success), so every oracle twin is unaffected.
      .withColumn("idx",
        when(assert_true(col("idx") < (1L << 22),
          lit(s"stringIndexDict($c): dictionary cardinality exceeded " +
            "4194304 — not a label column; hash-bucket the values " +
            "(the fp_feature_hash pattern) instead of frequency-" +
            "indexing them"))
          .isNull, col("idx")))

  /** FP1 applied: append `<col>_idx` for each requested string column by
    * joining the frequency dictionary back (broadcast — dictionaries are
    * small). Equivalent to a fitted StringIndexer ×N transform; a null
    * categorical value keeps its row with a null idx (left join against a
    * null-free dictionary — the relational analogue of handleInvalid,
    * documented rather than erroring). The oracle twin LEFT JOINs for the
    * same semantics. */
  def stringIndex(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      val dict = broadcast(
        stringIndexDict(df, c).select(
          col("value").as(c), col("idx").as(s"${c}_idx")))
      acc.join(dict, Seq(c), "left")
    }

  /** FP3 twin — exact n-quantile bucketing: ntile over a total order with a
    * unique tie-break key, so both engines assign identical buckets.
    * 1-based like SQL ntile.
    *
    * Scale note: a global ntile needs a total order — THIS form funnels
    * every row through a single-partition window and exists only as the
    * minimal spec twin of [[rangeNtileBucket]], which computes the same
    * buckets distributed. (`graft.ml.Pipelines.quantileDiscretizer` is
    * the approximate GK-sketch path, per SURVEY §7 "hard parts".)
    */
  def ntileBucket(df: DataFrame, v: String, tieKey: String,
      n: Int, out: String = "bucket"): DataFrame =
    df.withColumn(out,
      ntile(n).over(Window.orderBy(col(v), col(tieKey))).cast("long"))

  /** Exact n-quantile bucketing, distributed — bit-identical to SQL
    * `ntile(n) OVER (ORDER BY v, tieKey)` with no single-partition
    * window over raw rows: the global row number is [[sliceScan]]'s
    * running count over (v, tieKey) (a running `sum(1)` over a ROWS
    * frame of a total order is `row_number`), N is read off its
    * per-slice table, and the exact SQL ntile split follows: with N
    * rows and n buckets the first N mod n buckets get ceil(N/n) rows,
    * the rest floor(N/n). A null `v` lands in slice 0 and sorts first
    * there, as NULLS FIRST puts it first in the total order.
    *
    * Chained calls are why the input barrier matters here: events_rfm
    * folds three ntile passes, and an un-checkpointed pass-2 input
    * re-ran pass 1 (join + window + its own quantile job) per read —
    * the whole events scan replayed ~a dozen times (measured 3.9 s →
    * 2.0 s at sf0.1 with the barriers). */
  def rangeNtileBucket(df: DataFrame, v: String, tieKey: String,
      n: Int, out: String = "bucket"): DataFrame = {
    require(n >= 1, s"ntile requires n >= 1, got $n")
    val (ranked, slices) =
      sliceScan(df, col(v), Seq(col(v), col(tieKey)), lit(1L), "__rn")
    ranked
      .crossJoin(broadcast(slices.agg(sum(SliceAgg).as("__total"))))
      .withColumn(out, expr(
        s"""CASE WHEN __rn <= ((__total div $n) + 1) * (__total % $n)
                 THEN (__rn - 1) div ((__total div $n) + 1) + 1
                 ELSE (__total % $n)
                      + (__rn - 1 - ((__total div $n) + 1) * (__total % $n))
                        div (__total div $n) + 1 END""").cast("long"))
      .drop("__total", "__rn")
  }

  /** Max derived range slices for [[sliceId]]: slices only bound the
    * parallelism of the per-slice local windows, so capping costs nothing
    * on a small job and keeps the cut-point array literal (and the one
    * driver-side quantile job) ~4 KB at any cluster width. */
  private val MaxSlices = 512

  /** The per-slice aggregate column of [[sliceScan]]'s slice table (and
    * of [[Relational.skyline]]'s per-slice max): at most [[MaxSlices]]
    * rows, so the one single-partition window allowed over a table
    * carrying it is bounded. PlanShapeSpec whitelists exactly this name. */
  private[graft] val SliceAgg = "__slice_agg"

  /** Derived range-slice id of `key`: one driver-side approxQuantile job
    * at plan-build time fixes ≤ MaxSlices-1 cut points, then the slice id
    * is the count of cuts strictly below the key — ONE flat higher-order
    * `size(filter(cuts, c -> key > c))` over an array literal, constant
    * expression depth and a vectorized O(#cuts) scan per row. The slice
    * id is a pure function of the key (see [[sliceScan]] for why a
    * sampled `repartitionByRange` cannot be trusted here), equal keys
    * share a slice, and slice order follows key order. A null key
    * matches no cut and lands in slice 0; an empty or all-null input has
    * no cuts and is one slice. */
  private[ops] def sliceId(df: DataFrame, key: Column): Column = {
    val parts = math.min(
      df.sparkSession.sparkContext.defaultParallelism, MaxSlices)
    val cuts = df.select(key.as("__skey")).stat
      .approxQuantile("__skey", (1 until parts).map(_.toDouble / parts).toArray, 0.001)
      .distinct.sorted
    if (cuts.isEmpty) lit(0)
    else size(filter(typedLit(cuts.toSeq), c => key.cast("double") > c))
  }

  /** The one exact global prefix over a total order: `out` is the
    * inclusive running sum of `value` over ORDER BY `order`, computed
    * with no single-partition window over raw rows. Returns the rows
    * with `out` appended and the per-slice table (`__sid`, [[SliceAgg]]
    * = the slice's sum of `value`), from which callers read totals
    * without another pass over the input.
    *
    *  1. [[sliceId]] cuts the rows into ≤ MaxSlices contiguous slices of
    *     the order by `sliceKey`, which must be monotone in `order`'s
    *     leading column (so slice boundaries respect the total order);
    *  2. a running sum per slice (window PARTITIONED by the slice id —
    *     parallel, not global);
    *  3. the per-slice sums → exclusive running-sum offsets (a ≤
    *     MaxSlices-row table; its tiny window + the broadcast back are
    *     negligible), added to the local sums.
    *
    * `order` must be a total order (unique), or the running sum is
    * order-dependent. The output is boundary-independent (the prefix is
    * fixed by the total order, wherever the cuts land), so determinism
    * needs only that both consumers of the slice id (local sums and
    * per-slice sums) see the SAME slice assignment. `repartitionByRange`
    * cannot promise that: its sampler reruns per subtree when Catalyst
    * does not reuse the exchange (observed once the input carries
    * broadcast joins), and two samplers can cut different boundaries —
    * offsets from one partitioning applied to sums of another shift the
    * result. So the slice id is DERIVED, not sampled: cut points come
    * from one driver-side `approxQuantile` job (the same
    * collect-a-tiny-model-then-broadcast shape as a StringIndexer fit),
    * and the 0.1% quantile error only skews slice sizes, never the
    * output.
    *
    * The input is read three times (the quantile job, the local window,
    * the per-slice aggregate), so it is one eager [[graft.Materialize]]
    * barrier and all three passes read its blocks; PlanShapeSpec pins
    * one block set per pass. Every registered caller hands in an
    * already-reduced table (per-user rollups, boundary deltas, packed
    * rank keys, per-doc aggregates — never raw events), which is what
    * the barrier stores. Un-checkpointed, events_concurrency's upstream
    * sessionize replayed 5× through the three passes (9.3 s cold → 3.0 s
    * with the barrier). */
  private[ops] def sliceScan(df: DataFrame, sliceKey: Column,
      order: Seq[Column], value: Column, out: String): (DataFrame, DataFrame) = {
    val in = graft.Materialize.barrier(df, "Features.sliceScan.in")
    val ranged = in.withColumn("__sid", sliceId(in, sliceKey))
    val wLocal = Window.partitionBy("__sid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val slices = ranged.groupBy("__sid").agg(sum(value).as(SliceAgg))
    val wOff = Window.orderBy("__sid").rowsBetween(Window.unboundedPreceding, -1)
    val offs = slices
      .withColumn("__off", coalesce(sum(SliceAgg).over(wOff), lit(0L)))
      .select("__sid", "__off")
    val scanned = ranged.withColumn("__lcum", sum(value).over(wLocal))
      .join(broadcast(offs), Seq("__sid"))
      .withColumn(out, col("__off") + col("__lcum"))
      .drop("__sid", "__lcum", "__off")
    (scanned, slices)
  }

  /** Inclusive global running total of `value` over ORDER BY `orderKey`,
    * distributed — the prefix-sum primitive behind corpus-order layouts
    * (sequence packing, byte-offset manifests): [[sliceScan]] sliced on
    * the key itself. `orderKey` must be numeric, non-null and UNIQUE —
    * equal keys would make the running total order-dependent. */
  def withRunningTotal(df: DataFrame, orderKey: String, value: String,
      out: String): DataFrame =
    sliceScan(df, col(orderKey), Seq(col(orderKey)), col(value), out)._1

  /** FP4 — the reference's null imputation: numeric nulls → -1, string
    * nulls → "-1" (exp4_work4.ipynb:127-128, README.md:320-321). */
  def naFill(df: DataFrame): DataFrame =
    df.na.fill(-1).na.fill("-1")

  /** Systematic probability-proportional-to-size sampling: draw exactly
    * `k` picks where each row's expected pick count is `k·w/Σw` — the
    * size-weighted corpus subsampling primitive (sample documents
    * proportional to token count, orders proportional to value) that
    * `sampleBy` (per-stratum Bernoulli) cannot express. Fully integer
    * and deterministic, hence oracle-able — the float-free alternative
    * to exponential-race weighted reservoir sampling, whose `-ln(u)/w`
    * keys are engine-specific ULP roulette.
    *
    * Mechanism: rows are laid on a line in portable-affine-hash order
    * (the seeded systematic-sampling shuffle; hash of `key` is injective
    * mod P1 for keys < P1 so the order is total), each row occupying an
    * interval of length `w` in the prefix-sum; row r is picked once per
    * threshold multiple of Σw/k inside its interval:
    * `picks(r) = ⌊cum·k/Σw⌋ − ⌊(cum−w)·k/Σw⌋`. Rows heavier than Σw/k
    * can be picked multiple times (the PPS-with-replacement convention;
    * callers wanting ≤1 cap the weight first). Σ picks = k exactly.
    *
    * Scale: one distributed prefix sum ([[withRunningTotal]]) plus a
    * broadcast 1-row total. Overflow guard: cum·k must
    * stay under 2⁶³ — with Σw ≤ 9·10¹⁵ (a petabyte-scale char count)
    * and k ≤ 10³ the product is ≤ 9·10¹⁸·0.001; the require below
    * enforces it rather than silently wrapping. */
  def ppsSample(df: DataFrame, key: String, weight: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val ok = (col(key).cast("long") % lit(P1) * lit(aCoef(13)) + lit(bCoef(13))) % lit(P1)
    val laid = df.select(col(key), col(weight).cast("long").as("wt"),
      ok.as("__ok"))
    val cum = withRunningTotal(laid, "__ok", "wt", "cum")
    val tot = laid.agg(sum("wt").as("total"))
      .select(col("total"),
        assert_true(col("total") <= lit(Long.MaxValue / k),
          lit("pps overflow: total weight * k exceeds 2^63")).as("__guard"))
    cum.join(broadcast(tot))
      // __guard is always NULL when the overflow check passes (assert_true
      // throws otherwise); routing picks through it forces the evaluation
      .withColumn("picks", when(col("__guard").isNull,
        expr(s"(cum * $k) div total - ((cum - wt) * $k) div total")))
      .filter(col("picks") > 0)
      .select(col(key), col("wt"), col("picks"))
      .orderBy(key)
  }

  /** Deterministic hash split — the reproducible train/test partition a
    * data pipeline needs instead of `randomSplit` (which reshuffles on
    * every run and every partitioning change): a row's split depends only
    * on its KEY, via the portable affine hash `(key*a+b) mod P1` (same
    * basis as graft.functions.Portable, so the assignment is
    * SQL-checkable). Rows with hash < testBp/10000 of the modulus are
    * 'test', the rest 'train'. Map-only, no shuffle; stable under
    * re-partitioning, replication, and engine changes — membership can be
    * recomputed from the key alone, which is what makes incremental
    * pipelines auditable. Keys must be non-negative. */
  def hashSplit(df: DataFrame, key: String, testBp: Int,
      out: String = "split"): DataFrame = {
    require(testBp >= 0 && testBp <= 10000, s"testBp in [0,10000], got $testBp")
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val h = (col(key).cast("long") % lit(P1) * lit(aCoef(7)) + lit(bCoef(7))) % lit(P1)
    df.withColumn(out,
      when(h < lit(P1 / 10000L * testBp), lit("test")).otherwise(lit("train")))
  }

  /** Deterministic k-fold assignment — the cross-validation partition as
    * a pure function of the row KEY (same portable affine basis as
    * [[hashSplit]], a different coefficient index so the fold draw is
    * independent of the train/test draw): fold = ((key·a+b) mod P1)
    * mod k. Map-only, no shuffle, stable under repartitioning and
    * replication, recomputable by any engine — so fold membership is
    * auditable and a re-run never leaks validation rows into training.
    * Keys must be non-negative. */
  def kfoldAssign(df: DataFrame, key: String, k: Int = 5,
      out: String = "fold"): DataFrame = {
    require(k >= 2, s"k >= 2, got $k")
    import graft.functions.Portable.{P1, aCoef, bCoef}
    // coefficient index 17: decorrelated from hashSplit (7), the
    // stratified sampler (11, SAME key domain on orders) and pps (13)
    val h = (col(key).cast("long") % lit(P1) * lit(aCoef(17)) + lit(bCoef(17))) % lit(P1)
    df.withColumn(out, (h % k).cast("long"))
  }

  /** Per-fold balance report over a [[kfoldAssign]] partition: row
    * count, positive count, and positive rate in floor basis points —
    * the sanity table read before trusting a CV estimate (a fold with a
    * skewed class mix biases its validation score). k rows out. */
  def kfoldReport(df: DataFrame, key: String, label: Column,
      k: Int = 5): DataFrame =
    kfoldAssign(df, key, k)
      .select(col("fold"), label.cast("long").as("y"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .withColumn("pos_bp", expr("n_pos * 10000 div n"))
      .orderBy("fold")

  /** Stratified sampling by a label/stratum column (seeded `sampleBy`) —
    * the class-rebalancing primitive of a training-data pipeline. One
    * pass, per-row Bernoulli keyed by stratum: no shuffle at all. Exact
    * per-stratum counts vary binomially; never oracle'd. */
  def stratifiedSample(df: DataFrame, stratum: String,
      fractions: Map[Any, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(col(stratum), fractions, seed)

  /** Deterministic stratified sampling — the reproducible twin of
    * [[stratifiedSample]], same construction as [[hashSplit]]: a row is
    * kept iff the portable affine hash of its KEY falls below its
    * stratum's basis-point threshold. Membership is a pure function of
    * (key, stratum), so the sample is stable under repartitioning and
    * recomputable by any engine (SQL-checkable), which is what an
    * auditable training-data pipeline needs from class rebalancing.
    * Map-only, no shuffle. Strata absent from `fractionsBp` keep
    * `defaultBp`. Keys must be non-negative. */
  /** Per-source quota capping — the data-mixing primitive: keep at most
    * `cap` documents per source/domain so no single crawl domain
    * dominates the training mix. Deterministic: the kept set is the
    * lowest `cap` ids per source (rank by a quality score instead by
    * passing a different `order` column). One sort-shuffle on (source);
    * per-source partitions sort-spill, never collect — and at 100 TB the
    * window's sort key set is (source, id), a narrow projection. */
  def sourceQuota(df: DataFrame, cap: Int = 50, stratum: String = "source",
      order: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(order)
    df.select(col(order), col(stratum))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col(order), col(stratum), col("rn").cast("long").as("rn"))
      .orderBy(order)
  }

  /** Temperature resampling (α = 1/2) — the mixture-flattening pass of a
    * training-data pipeline: rebalance per-source document counts from
    * c_s toward c_s^α, upweighting rare sources relative to dominant
    * crawls, with every decision a pure integer function of the data.
    *
    * Rates: keep-rate bp_s = min(10000, ⌊√c_min⌋·10000 div ⌊√c_s⌋), so
    * the rarest source keeps ~everything and expected kept counts are
    * ∝ √(c_s·c_min) ∝ c_s^½. All integer arithmetic: ⌊√n⌋ of an exact
    * integer is deterministic cross-engine (IEEE sqrt is correctly
    * rounded), and membership is the [[hashSplit]] affine-hash threshold
    * — a pure function of (key, source), stable under repartitioning,
    * auditable by SQL. (A bp_s of 10000 admits all but ~7e-9 of hash
    * space — the threshold granularity of P1 div 10000, identical on
    * both engines.)
    *
    * Shape: one #sources aggregation, the 1-row min rides back as a
    * broadcast, rates broadcast-join onto the corpus (sources ≪ docs),
    * kept counts partial-agg — no corpus-sized shuffle anywhere. Returns
    * the per-source report (counts, rate, kept); apply the same
    * predicate to keep rows instead of counting them. */
  def temperatureSample(df: DataFrame, stratum: String = "source",
      key: String = "doc_id"): DataFrame = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val isq = df.groupBy(stratum).agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", floor(sqrt(col("n_docs"))).cast("long"))
    val minIsq = isq.agg(min(col("isq")).as("min_isq"))
    val rates = isq.crossJoin(broadcast(minIsq))
      .withColumn("rate_bp",
        least(lit(10000L), expr("min_isq * 10000 div isq")))
      .select(col(stratum), col("n_docs"), col("rate_bp"))
    val h = (col(key).cast("long") % lit(P1) * lit(aCoef(97)) + lit(bCoef(97))) % lit(P1)
    df.join(broadcast(rates), stratum)
      .withColumn("kept", h < lit(P1 / 10000L) * col("rate_bp"))
      .groupBy(col(stratum), col("n_docs"), col("rate_bp"))
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(stratum)
  }

  /** EXACT AUC — the Mann-Whitney U statistic in pure integers, the
    * companion to the ML family's float AUC floors (those are rows-only
    * gates; this one hash-oracles): with tied scores taking midranks,
    *   rank2(s) = 2·(# scores below s) + (# tied at s) + 1   (×2 ranks)
    *   U×2     = Σ_{positives} rank2 − n₁·(n₁+1)
    *   auc_bp  = U×2 · 10⁴ div (2·n₁·n₀)
    * — ×2 scaling absorbs the midrank halves, so ties cost no floats.
    * Computed over the DISTINCT-score table (one hash agg collapses the
    * rows, the prefix runs over |distinct scores| — bounded by the
    * score's resolution, bp ⇒ ≤ 10⁴ rows — so the cumulative window is
    * aggregate-sized, never row-sized; a score outside [0, 10⁴] fails
    * in-plan). Output: one row with n_pos, n_neg, u2, auc_bp.
    * Degenerate inputs (no positives or no negatives) fail loudly
    * in-plan — AUC of one class is undefined, not 0. */
  def aucExact(df: DataFrame, scoreBp: Column, label: Column): DataFrame = {
    val base = df.select(scoreBp.cast("long").as("s"),
      label.cast("long").as("y"))
    val byScore = base.groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum("y").as("cnt_pos"))
      // the window below is unpartitioned, and only basis-point scores
      // keep its input aggregate-sized: a raw score would funnel one row
      // per distinct value through one task. Fail loudly instead (the
      // assert is null on success, so results are unchanged).
      .withColumn("s",
        when(assert_true(col("s").isNull || col("s").between(0L, 10000L),
          lit("aucExact: score outside [0, 10000] — pass basis-point " +
            "scores, or the distinct-score window is data-sized")).isNull,
          col("s")))
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("below", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("rank2", lit(2L) * col("below") + col("cnt") + 1L)
      .agg(sum("cnt_pos").as("n_pos"),
        sum(col("cnt") - col("cnt_pos")).as("n_neg"),
        sum(col("rank2") * col("cnt_pos")).as("r2_pos"))
      .withColumn("u2",
        when(assert_true(col("n_pos") > 0 && col("n_neg") > 0,
          lit("aucExact: AUC needs both classes — a one-class input is " +
            "undefined, not 0")).isNull,
          expr("r2_pos - n_pos * (n_pos + 1)")))
      .withColumn("auc_bp", expr("u2 * 10000 div (2 * n_pos * n_neg)"))
      .select("n_pos", "n_neg", "u2", "auc_bp")
  }

  /** Calibration (reliability) report — the eval every probabilistic
    * scorer ships with: bin predictions into `nBins` equal-width
    * probability bins and compare each bin's mean predicted rate to its
    * OBSERVED rate, with the expected calibration error
    * `ece_bp = Σ n_b·|gap_b| div N` riding on every row. A model can
    * have great AUC and terrible calibration — this is the report that
    * tells them apart, and with predictions in integer bp (this repo's
    * rate convention) the whole reliability diagram hash-oracles.
    *
    * Scale: one hash agg to ≤nBins rows + a 1-row broadcast. Empty
    * bins are absent (sparse, like distributionDrift). */
  def calibrationReport(df: DataFrame, predBp: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need >= 2 bins, got $nBins")
    val per = df
      .select(predBp.cast("long").as("p"), label.cast("long").as("y"))
      .withColumn("bin", least(lit(nBins - 1L),
        greatest(lit(0L), expr(s"p * $nBins div 10000"))))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        expr("sum(p) div count(1)").as("mean_pred_bp"),
        expr("sum(y) * 10000 div count(1)").as("rate_bp"))
      .withColumn("gap_bp", abs(col("mean_pred_bp") - col("rate_bp")))
    per.crossJoin(broadcast(
        per.agg(expr("sum(n * gap_bp) div sum(n)").as("ece_bp"))))
      .select("bin", "n", "mean_pred_bp", "rate_bp", "gap_bp", "ece_bp")
      .orderBy("bin")
  }

  /** Isotonic (monotone-nondecreasing) calibration fit over pre-binned
    * scores — the PAV-equivalent computed by the EXACT max-min identity
    * iso_i = max_{j≤i} min_{k≥i} mean(y over bins j..k), which needs no
    * sequential pooling loop: on the ≤B-row bin aggregate the identity
    * is two tiny non-equi joins. The classic calibration companion to
    * [[calibrationReport]] — that one measures miscalibration, this one
    * FIXES it while preserving score order.
    *
    * Determinism across engines: every interval mean is
    * double(BIGINT sum)/double(BIGINT count) — identical operands give
    * identical IEEE results, and min/max over identical doubles are
    * exact, so the fit hash-oracles with no epsilon. Monotonicity is
    * structural (the max-min form is provably nondecreasing in i).
    *
    * Scale: the corpus collapses to B rows BEFORE the O(B³) identity
    * runs — at 100 TB the expensive part is the one binning aggregate,
    * and B stays a constant (16 here). */
  def isotonicBins(df: DataFrame, binCol: String,
      label: Column): DataFrame = {
    val bins = df
      .select(col(binCol).cast("long").as("b"), label.cast("long").as("y"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pre = bins
      .withColumn("cn", sum("n").over(w))
      .withColumn("cy", sum("sum_y").over(w))
    val l = pre.select(col("b").as("j"), col("cy").as("cyj"),
      col("cn").as("cnj"), col("sum_y").as("syj"), col("n").as("nj"))
    val r = pre.select(col("b").as("kk"), col("cy").as("cyk"),
      col("cn").as("cnk"))
    val ivl = l.join(r, col("j") <= col("kk"))
      .select(col("j"), col("kk"),
        ((col("cyk") - col("cyj") + col("syj")).cast("double") /
          (col("cnk") - col("cnj") + col("nj")).cast("double")).as("a"))
    val inner = bins.select(col("b").as("i"))
      .join(ivl, col("j") <= col("i") && col("i") <= col("kk"))
      .groupBy("i", "j").agg(min("a").as("mn"))
    val fit = inner.groupBy("i").agg(max("mn").as("iso_fit"))
    bins.join(fit, col("b") === col("i"))
      .select(col("b").as("bin"), col("n"), col("sum_y"),
        (col("sum_y").cast("double") / col("n").cast("double")).as("rate"),
        col("iso_fit"))
      .orderBy("bin")
  }

  /** Deterministic minority-class oversampling — the class-rebalance
    * pass a classifier/multilingual training run applies when the label
    * (or language) mix is skewed: every row of class c is replicated
    * `rep_c = n_max div n_c` times, so each class lands within
    * (n_max/2, n_max] of the majority — residual imbalance ≤ 2×, by the
    * floor policy. Equal whole-number replication is DELIBERATE: the
    * fractional remainder is not sampled, so the output is a pure
    * function of the data (no RNG, no per-row roulette), reproducible
    * and hash-oracle-checkable — the sampling twin of
    * [[temperatureSample]]'s downweighting direction. `copy_idx`
    * disambiguates replicas for downstream shuffles/splits.
    *
    * Scale shape: one \|classes\|-row aggregate + 1-row max broadcast
    * back onto the scan, then a map-side `explode(sequence(1, rep))` —
    * the fact table never shuffles; output size is Σ rep_c·n_c ≤
    * \|classes\|·n_max by construction. */
  def oversampleMinority(df: DataFrame, label: String): DataFrame = {
    val counts = df.groupBy(label).agg(count(lit(1)).as("n_class"))
    val reps = counts
      .crossJoin(broadcast(counts.agg(max("n_class").as("n_max"))))
      .withColumn("rep", expr("n_max div n_class"))
      .select(col(label), col("n_class"), col("rep"))
    df.join(broadcast(reps), label)
      .withColumn("copy_idx", explode(sequence(lit(1L), col("rep"))))
  }

  /** Curriculum training schedule — the deterministic global order a
    * curriculum-learning run feeds documents in: easy→hard STAGES by an
    * integer difficulty column (exact ntile via [[rangeNtileBucket]]),
    * and WITHIN each stage a seeded hash shuffle (the
    * [[temperatureSample]] affine-hash family) so no source or ingest
    * order runs in long streaks. The output
    * `position` is the exact global 1-based rank in (stage,
    * shuffle_key, key) order, computed distributed via
    * [[withRunningTotal]] over a composite order key.
    *
    * The composite key packs (stage, shuffle_key, key) into one BIGINT,
    * which needs key ∈ [0, 10¹⁰) and nStages ≤ 8 — the key bound is
    * asserted IN-PLAN (overflow would silently scramble the schedule;
    * the id-width assumption fails loudly instead), the stage bound at
    * build time. Everything is integer arithmetic on seeded hashes, so
    * the entire schedule — stages, shuffle, global positions — is
    * hash-oracle-checkable; re-running on the same corpus reproduces it
    * bit for bit (the reproducibility a training run's data order
    * needs).
    *
    * Scale shape: one ntile pass over the \|docs\| profile, a map-only
    * hash column, then one [[withRunningTotal]] pass. */
  def curriculumSchedule(df: DataFrame, difficulty: String, key: String,
      nStages: Int = 4, shuffleMod: Long = 100000L): DataFrame = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    require(nStages >= 1 && nStages <= 8,
      s"nStages must be in [1, 8] (composite-key headroom), got $nStages")
    val staged = rangeNtileBucket(df, difficulty, key, nStages, "stage")
      .withColumn("shuffle_key",
        (col(key).cast("long") % lit(P1) * lit(aCoef(98)) + lit(bCoef(98)))
          % lit(P1) % lit(shuffleMod))
    val keyed = staged
      .withColumn("__ord",
        when(assert_true(col(key) >= 0 && col(key) < lit(10000000000L),
          lit("curriculumSchedule: key outside [0, 1e10) would overflow " +
            "the composite order key and silently scramble the " +
            "schedule")).isNull,
          (col("stage") * lit(shuffleMod) + col("shuffle_key"))
            * lit(10000000000L) + col(key)))
      .withColumn("__one", lit(1L))
    withRunningTotal(keyed, "__ord", "__one", "position")
      .drop("__ord", "__one")
  }

  /** Leave-one-out smoothed target encoding — the high-cardinality
    * categorical feature the tree/linear stage actually wants (a
    * category's empirical label rate, shrunk toward the global prior),
    * with the standard leakage fix built in: each row's OWN label is
    * subtracted from its category's sum before the rate is formed, so
    * the feature never smuggles the row's target into training.
    *
    *   enc(row) = ((Σ_c y − y_row)·10000 + m·prior_bp) div (n_c − 1 + m)
    *
    * All integers (label is 0/1, rates in basis points, floor
    * division), so unlike sklearn/category_encoders float paths the
    * whole transform is bit-portable and oracle-checkable. `m` is the
    * shrinkage pseudo-count: a singleton category (n_c = 1) gets
    * exactly the prior; a huge one barely moves.
    *
    * Scale shape: one (category)-keyed aggregate (vocabulary-sized),
    * broadcast back onto the scan + a 1-row prior cross join — the
    * encoded table never shuffles the fact side, the map-side pattern
    * every wide feature pipeline needs at 100 TB. Output: input
    * columns + y, prior_bp, `out`. */
  def targetEncodeLoo(df: DataFrame, catCol: String, label: Column,
      m: Int = 20, out: String = "enc_bp"): DataFrame = {
    require(m >= 1, s"smoothing pseudo-count m must be >= 1, got $m")
    val withY = df.withColumn("y", label.cast("long"))
    val stats = withY.groupBy(catCol)
      .agg(sum("y").as("__sum_y"), count(lit(1)).as("__n_c"))
    val prior = withY.agg(expr("sum(y) * 10000 div count(1)").as("prior_bp"))
    withY.join(broadcast(stats), catCol)
      .crossJoin(broadcast(prior))
      .withColumn(out,
        expr(s"((__sum_y - y) * 10000 + $m * prior_bp) div (__n_c - 1 + $m)"))
      .drop("__sum_y", "__n_c")
  }

  def hashStratifiedSample(df: DataFrame, stratum: String, key: String,
      fractionsBp: Map[String, Int], defaultBp: Int = 0): DataFrame = {
    require((fractionsBp.values ++ Seq(defaultBp)).forall(bp => bp >= 0 && bp <= 10000),
      "fractions are basis points in [0,10000]")
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val h = (col(key).cast("long") % lit(P1) * lit(aCoef(11)) + lit(bCoef(11))) % lit(P1)
    val threshold = fractionsBp.toSeq.sortBy(_._1).foldRight(
      lit(P1 / 10000L * defaultBp): Column) {
      case ((v, bp), els) =>
        when(col(stratum) === v, lit(P1 / 10000L * bp)).otherwise(els)
    }
    df.filter(h < threshold)
  }

  /** Inverse-propensity weights for a [[hashStratifiedSample]] draw —
    * the bookkeeping that keeps a downsampled corpus statistically
    * honest: per stratum, the original and sampled counts, the
    * reweighting factor `weight_bp = n_orig·10000 div n_samp` every
    * sampled row must carry into downstream estimates, and the
    * round-trip check `est_n = n_samp·weight_bp div 10000` with its
    * floor error in bp. A stratum sampled to ZERO rows fails loudly
    * in-plan — a zero-mass stratum cannot be reweighted, and silently
    * dropping it is exactly the bias this table exists to prevent.
    *
    * Scale: two \|strata\|-row aggregates off the same scan shape; the
    * join is strata-sized. */
  def propensityWeights(df: DataFrame, stratum: String, key: String,
      fractionsBp: Map[String, Int], defaultBp: Int = 0): DataFrame = {
    val orig = df.groupBy(stratum).agg(count(lit(1)).as("n_orig"))
    val samp = hashStratifiedSample(df, stratum, key, fractionsBp, defaultBp)
      .groupBy(stratum).agg(count(lit(1)).as("n_samp"))
    orig.join(samp, Seq(stratum), "left")
      .withColumn("n_samp", coalesce(col("n_samp"), lit(0L)))
      .withColumn("weight_bp",
        when(assert_true(col("n_samp") > 0,
            lit("propensityWeights: a stratum sampled to zero rows — " +
              "raise its fraction; zero-mass strata cannot be " +
              "reweighted")).isNull,
          expr("n_orig * 10000 div n_samp")))
      .withColumn("est_n", expr("n_samp * weight_bp div 10000"))
      .withColumn("err_bp", expr("abs(est_n - n_orig) * 10000 div n_orig"))
      .orderBy(stratum)
  }
}
