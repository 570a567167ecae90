package graft

import org.apache.spark.sql.functions._

import graft.functions.FuzzyKernels
import graft.ops.{Cdc, Events, Graphs, Sketches}

/** Round-5 operator family: Count-Min sketch, Bloom semi-join reduction,
  * incremental MV maintenance, BFS hop distances, activity streaks, and
  * the Jaro-Winkler kernel. Each test pins the op's defining invariant
  * (CMS never undercounts, Bloom never false-negatives, the MV merge is
  * indistinguishable from a recompute, BFS = brute shortest path); the
  * cross-engine value checks live in the driver oracle gate.
  */
class SketchesSpec extends SparkTestBase {
  import spark.implicits._

  // ---- Jaro-Winkler kernel ------------------------------------------
  // Expected values pinned by probing DuckDB's jaro_winkler_similarity
  // directly (see functions/JaroWinkler.scala scaladoc) — the kernel
  // must be bit-identical for the er_fuzzy_match oracle to hold.

  private def jw(a: String, b: String): Double =
    FuzzyKernels.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString(a),
      org.apache.spark.unsafe.types.UTF8String.fromString(b))

  test("jaroWinkler: DuckDB-pinned values, bit-exact") {
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("jellyfish", "smellyfish") == 0.8962962962962964)
    assert(jw("kitten", "sitting") == 0.746031746031746)
    assert(jw("DwAyNE", "DuANE") == 0.8400000000000001)
    assert(jw("ab", "abcdefghij") == 0.7866666666666667)
    // integer-halved transpositions (t=1, not the textbook 1.5)
    assert(FuzzyKernels.jaro("abcdef", "bcadef") == 0.9444444444444445)
    // boost gate is STRICT > 0.7: jaro here is exactly 0.6, no bonus
    // despite the 4-char common prefix
    assert(jw("abcdxxxxxx", "abcdyyyyyy") == 0.6)
    // window = max(0, max/2 - 1): adjacent transposed 2-char strings
    // share no in-window match at all
    assert(jw("ab", "ba") == 0.0)
    assert(jw("a", "a") == 1.0)
  }

  test("jaroWinkler: edges + algebraic properties") {
    assert(jw("", "") == 0.0) // DuckDB scores empty-vs-anything 0
    assert(jw("", "abc") == 0.0)
    assert(jw("abc", "") == 0.0)
    val rnd = new scala.util.Random(42)
    def word() = (0 until 1 + rnd.nextInt(12))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    (1 to 500).foreach { _ =>
      val (a, b) = (word(), word())
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of range: jw($a, $b) = $s")
      assert(s == jw(b, a), s"asymmetric on ($a, $b)")
      assert(jw(a, a) == 1.0)
      assert(FuzzyKernels.jaro(a, b) <= s) // boost never decreases
    }
  }

  // ---- Count-Min sketch ---------------------------------------------

  test("cms: never undercounts, and is exact absent collisions") {
    val occ = spark.read.parquet(s"$sf001/documents.parquet")
      .select(explode(graft.functions.Texty.tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
    val counters = Sketches.cmsBuild(occ, "tk").cache()
    // state is bounded by depth × width no matter the corpus size —
    // the entire point of the sketch
    assert(counters.count() <= Sketches.CmsDepth * Sketches.CmsWidth)
    val truth = occ.groupBy("tk").agg(count(lit(1)).as("true_cnt"))
    val est = Sketches.cmsEstimate(counters, truth.select("tk"), "tk")
    val joined = est.join(truth, "tk")
      .select(col("tk"), col("cms_est"), col("true_cnt"))
      .as[(String, Long, Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (tk, e, t) =>
      assert(e >= t, s"CMS undercounted '$tk': est $e < true $t")
    }
    // with ~vocab distinct tokens vs 3×1024 cells, at least SOME tokens
    // must estimate exactly (a token overcounts only if it collides in
    // ALL depth rows)
    assert(joined.count { case (_, e, t) => e == t } > 0)
    counters.unpersist()
  }

  test("cms: unseen key with an untouched cell estimates low") {
    val occ = Seq("a", "a", "b").toDF("tk")
    val counters = Sketches.cmsBuild(occ, "tk")
    val est = Sketches.cmsEstimate(counters,
      Seq("zqx-never-seen").toDF("tk"), "tk")
      .as[(String, Long)].collect().head
    // 2 distinct keys into 3×1024 cells: the probe cannot collide with
    // both in every row — min over rows lands on an empty cell
    assert(est._2 == 0L)
  }

  test("cms: shard sketches merge by cell-wise addition") {
    val occ = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"),
        explode(graft.functions.Texty.tokens(col("text"))).as("tk"))
      .filter(col("tk") =!= "")
    val full = Sketches.cmsBuild(occ.select("tk"), "tk")
    val merged = Sketches.cmsBuild(occ.filter(col("doc_id") % 2 === 0).select("tk"), "tk")
      .unionByName(Sketches.cmsBuild(occ.filter(col("doc_id") % 2 === 1).select("tk"), "tk"))
      .groupBy("r", "bucket").agg(sum("counter").as("counter"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  // ---- portable HyperLogLog -----------------------------------------

  test("hll: shard registers merge by cell-wise max; estimate in band") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val full = Sketches.hllRegisters(li.select("l_orderkey"), "l_orderkey")
    val merged = Sketches
      .hllRegisters(li.filter(col("l_orderkey") % 2 === 0)
        .select("l_orderkey"), "l_orderkey")
      .unionByName(Sketches.hllRegisters(li.filter(col("l_orderkey") % 2 === 1)
        .select("l_orderkey"), "l_orderkey"))
      .groupBy("bucket").agg(max("reg").as("reg"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
    // estimate accuracy: n ≈ 14.4·m is the healthy raw-HLL regime;
    // theory std is 325 bp, gate at 3 sigma
    val row = Sketches.hllSummary(full)
      .crossJoin(li.agg(countDistinct("l_orderkey").as("true_distinct")))
      .select("est_distinct", "true_distinct").as[(Long, Long)].collect().head
    val errBp = math.abs(row._1 - row._2) * 10000 / row._2
    assert(errBp < 1000, s"HLL err $errBp bp (est ${row._1} vs ${row._2})")
  }

  test("hll: duplicate occurrences do not change the registers") {
    val keys = Seq(1L, 2L, 3L, 4L, 5L).toDF("k")
    val dup = Seq(1L, 1L, 2L, 2L, 3L, 3L, 4L, 5L, 5L, 5L).toDF("k")
    val a = Sketches.hllRegisters(keys, "k")
    val b = Sketches.hllRegisters(dup, "k")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("hllRegistersBy: per-group registers equal independent builds") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val grouped = Sketches.hllRegistersBy(
      li.select(col("l_returnflag"), col("l_orderkey")),
      "l_orderkey", Seq("l_returnflag"))
    li.select("l_returnflag").distinct().as[String].collect().foreach { g =>
      val solo = Sketches.hllRegisters(
        li.filter(col("l_returnflag") === g).select("l_orderkey"), "l_orderkey")
      val slice = grouped.filter(col("l_returnflag") === g)
        .select("bucket", "reg")
      assert(slice.exceptAll(solo).isEmpty && solo.exceptAll(slice).isEmpty,
        s"group $g registers diverge from an independent build")
    }
  }

  test("hllMergeRegisters: merge law — max-merge ≡ sketch of the union") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val a = li.filter(col("l_returnflag") === "R").select("l_partkey")
    val b = li.filter(col("l_linenumber") === 1).select("l_partkey")
    val merged = Sketches.hllMergeRegisters(
      Sketches.hllRegisters(a, "l_partkey"),
      Sketches.hllRegisters(b, "l_partkey"))
    val direct = Sketches.hllRegisters(a.unionByName(b), "l_partkey")
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("hllSlidingSummary: window=1 ≡ per-day; window merge ≡ union sketch") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val us = graft.ops.Events.tsUs(ev)
    val withDay = ev.select(col("event_id"),
      ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
        .cast("long").as("day"))
    val regs = Sketches.hllRegistersBy(withDay, "event_id", Seq("day"))
    // window = 1: the "sliding" summary must equal plain per-day ones
    val w1 = Sketches.hllSlidingSummary(regs, 1)
    val perDay = Sketches.hllSummaryBy(regs, Seq("day"))
    assert(w1.exceptAll(perDay).isEmpty && perDay.exceptAll(w1).isEmpty)
    // spot-check a mid-corpus day at window 7: the merged estimate must
    // equal the sketch built directly from the window's raw keys
    val day = withDay.agg(max("day")).head().getLong(0) - 3
    val direct = Sketches.hllSummary(Sketches.hllRegisters(
      withDay.filter(col("day") <= day && col("day") > day - 7)
        .select("event_id"), "event_id"))
      .select("est_distinct").as[Long].head()
    val slid = Sketches.hllSlidingSummary(regs, 7)
      .filter(col("day") === day)
      .select("est_distinct").as[Long].head()
    assert(slid == direct, s"merge law broke under sliding: $slid != $direct")
  }

  // ---- KMV bottom-k --------------------------------------------------

  test("kmv: exact below k, in-band above k, occurrence-invariant") {
    // 5 distinct keys, duplicated occurrences: count is EXACT (= 5)
    val small = Seq(1L, 1L, 2L, 3L, 3L, 3L, 4L, 5L).toDF("k")
    val s = Sketches.kmvSummary(Sketches.kmvBottom(small, "k"))
      .select("k_used", "est_distinct").as[(Long, Long)].collect().head
    assert(s == ((5L, 5L)))
    // full corpus: ~15k distinct vs k=256 -> relative error ~1/sqrt(k-1)
    // ≈ 6.3%; gate at 3 sigma ≈ 1900 bp
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val row = Sketches.kmvSummary(
        Sketches.kmvBottom(li.select("l_orderkey"), "l_orderkey"))
      .crossJoin(li.agg(countDistinct("l_orderkey").as("t")))
      .select("est_distinct", "t").as[(Long, Long)].collect().head
    val errBp = math.abs(row._1 - row._2) * 10000 / row._2
    assert(errBp < 1900, s"KMV err $errBp bp (est ${row._1} vs ${row._2})")
    // duplicate occurrences cannot move the bottom-k of the DISTINCT keys
    val dup = Sketches.kmvSummary(
        Sketches.kmvBottom(li.select("l_orderkey")
          .unionByName(li.select("l_orderkey")), "l_orderkey"))
      .select("est_distinct").as[Long].collect().head
    assert(dup == row._1)
  }

  test("kmvJaccard: exact below k; identical and disjoint extremes") {
    // |A ∪ B| = 90 < k=256 -> the union bottom-k IS the universe and
    // the estimate is exact: inter 30 / union 90 -> 3333 bp
    val a = (1L to 60L).toDF("k")
    val b = (31L to 90L).toDF("k")
    val r = Sketches.kmvJaccard(a, b, "k")
      .select("k_used", "n_both", "jacc_bp")
      .as[(Long, Long, Long)].collect().head
    assert(r == ((90L, 30L, 3333L)))
    // identical sets: every sampled key is in both -> 10000 bp
    val same = Sketches.kmvJaccard(a, a, "k")
      .select("jacc_bp").as[Long].collect().head
    assert(same == 10000L)
    // disjoint sets -> 0 bp
    val disj = Sketches.kmvJaccard(a, (1000L to 1100L).toDF("k"), "k")
      .select("jacc_bp").as[Long].collect().head
    assert(disj == 0L)
  }

  test("kmvSetOps: whole algebra exact below k; disjoint split accounted") {
    // |A ∪ B| = 90 < k -> sketch IS the universe: union/inter/diffs exact
    val a = (1L to 60L).toDF("k")
    val b = (31L to 90L).toDF("k")
    val r = Sketches.kmvSetOps(a, b, "k")
      .select("k_used", "n_both", "n_a_only", "n_b_only", "est_union",
        "est_inter", "est_diff_ab", "est_diff_ba")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(r == ((90L, 30L, 30L, 30L, 90L, 30L, 30L, 30L)))
    // disjoint: intersection estimate 0, the two differences partition
    // the union
    val d = Sketches.kmvSetOps(a, (1000L to 1100L).toDF("k"), "k")
      .select("est_union", "est_inter", "est_diff_ab", "est_diff_ba")
      .as[(Long, Long, Long, Long)].collect().head
    assert(d._2 == 0L && d._1 == 161L && d._3 + d._4 == d._1)
  }

  test("amsF2: single-key stream is exact; distinct stream lands in band") {
    // one key repeated n times: every counter is ±n, every square is
    // n² — the median is exactly n² whatever the signs do
    val one = Seq.fill(40)(7L).toDF("k")
    val exact = Sketches.amsF2(one, "k").as[Long].collect().head
    assert(exact == 2L * 40L * 40L)
    // 2000 distinct keys: F2 = 2000; the 8x16 grid with a 2-wise family
    // is loose, so gate generously (inside [0.2x, 3x] of 2*F2)
    val d = (1L to 2000L).toDF("k")
    val est = Sketches.amsF2(d, "k").as[Long].collect().head
    assert(est > 800L && est < 12000L, s"AMS est2 $est vs truth 4000")
  }

  test("kmvJaccard: above-k estimate lands within the sampling band") {
    // two overlapping 3000-key ranges, true jacc = 2000/4000 = 5000 bp;
    // ±1/sqrt(k) at k=256 is ~625 bp 1-sigma -> gate at 3 sigma
    val a = (1L to 3000L).toDF("k")
    val b = (1001L to 4000L).toDF("k")
    val r = Sketches.kmvJaccard(a, b, "k")
      .select("k_used", "jacc_bp").as[(Long, Long)].collect().head
    assert(r._1 == 256L)
    assert(math.abs(r._2 - 5000L) < 1900L,
      s"KMV jaccard ${r._2} bp vs truth 5000 bp")
  }

  // ---- mergeable histogram quantiles ---------------------------------

  test("histQuantiles: covering bin brackets the exact quantile; shards add") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val cents = li.select(
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val (lo, width, bins) = (0L, 4096L, 4096)
    val hist = Sketches.histCounts(cents, "cents", lo, width, bins)
    val qBps = Seq(5000, 9000, 9900)
    val est = Sketches.histQuantiles(hist, qBps, lo, width, bins)
      .select("q_bp", "est_upper").as[(Long, Long)].collect().toMap
    val sorted = cents.as[Long].collect().sorted
    qBps.foreach { q =>
      // exact q-quantile by the same covering-count definition: the
      // smallest value v with #(≤v) · 10000 ≥ q · n
      val idx = ((q.toLong * sorted.length + 9999) / 10000 - 1).toInt
      val truth = sorted(math.max(idx, 0))
      val upper = est(q.toLong)
      assert(truth <= upper && truth > upper - width,
        s"q=$q: exact $truth outside estimated bin ($upper-$width, $upper]")
    }
    // bin counts ADD across shards — the mergeability that GK/KLL lacks
    val shardSum = Sketches
      .histCounts(cents.filter(col("cents") % 2 === 0), "cents", lo, width, bins)
      .unionByName(Sketches
        .histCounts(cents.filter(col("cents") % 2 =!= 0), "cents", lo, width, bins))
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
    assert(shardSum.exceptAll(hist).isEmpty && hist.exceptAll(shardSum).isEmpty)
  }

  test("histCountsBy/histQuantilesBy: per-group ≡ independent builds") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val cents = ev.select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val (lo, width, bins) = (0L, 64L, 1024)
    val grouped = Sketches.histQuantilesBy(
      Sketches.histCountsBy(cents, "cents", Seq("event_type"), lo, width, bins),
      Seq("event_type"), Seq(5000, 9500), lo, width, bins)
    cents.select("event_type").distinct().as[String].collect().foreach { g =>
      val solo = Sketches.histQuantiles(
        Sketches.histCounts(cents.filter(col("event_type") === g)
          .select("cents"), "cents", lo, width, bins),
        Seq(5000, 9500), lo, width, bins)
      val slice = grouped.filter(col("event_type") === g)
        .select("q_bp", "bucket", "est_upper", "n_total")
      assert(slice.exceptAll(solo).isEmpty && solo.exceptAll(slice).isEmpty,
        s"group $g quantiles diverge from an independent build")
    }
  }

  // ---- retrieval MRR eval --------------------------------------------

  test("retrievalMrr: hand-scored ranking on a tiny corpus") {
    // query 'x': doc 1 is short and dense (tf=3), doc 2 mentions x once,
    // doc 3 is x-dense but long. BM25 favors 1; first dense hit rank 1
    // -> rr 2520. query 'y': only doc 2 has it, tf=1 < 3 -> no dense hit
    // in top-k, best_rank null, rr 0.
    val docs = Seq(
      (1L, "x x x pad"),
      (2L, "x y pad pad pad pad pad pad"),
      (3L, "x x x " + Seq.fill(40)("pad").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .retrievalMrr(docs, Seq("x", "y"), k = 10)
      .select("term", "best_rank", "rr_scaled")
      .as[(String, Option[Long], Long)].collect().toSeq
    assert(got == Seq(("x", Some(1L), 2520L), ("y", None, 0L)))
    // first relevant NOT at rank 1: make doc 2 the clear BM25 winner on
    // 'z' (short, tf=2 < 3) over the dense-but-long doc 3
    val docs2 = Seq(
      (2L, "z z"),
      (3L, "z z z " + Seq.fill(40)("pad").mkString(" ")))
      .toDF("doc_id", "text")
    val r2 = graft.ops.TextAnalysis.retrievalMrr(docs2, Seq("z"), k = 10)
      .select("best_rank", "rr_scaled").as[(Long, Long)].collect().head
    assert(r2 == ((2L, 1260L))) // 2520/2
  }

  // ---- CMS join-size estimate ----------------------------------------

  test("cmsJoinSize: never underestimates; exact absent collisions") {
    // tiny universes: 3 distinct keys into 3×1024 cells — no collisions,
    // estimate must be EXACTLY sum of f_a·f_b = 2·3 + 1·1 = 7
    val a = Seq("x", "x", "y", "z").toDF("k")
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val b = Seq("x", "x", "x", "y", "w").toDF("k")
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val est = Sketches.cmsJoinSize(
        Sketches.cmsBuildWeighted(a, "k", "cnt"),
        Sketches.cmsBuildWeighted(b, "k", "cnt"))
      .as[Long].collect().head
    assert(est == 7L)
    // corpus-scale: est ≥ true always (inner product only overcounts)
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val ord = spark.read.parquet(s"$sf001/orders.parquet")
    def counts(df: org.apache.spark.sql.DataFrame, kc: String) =
      df.groupBy(col(kc).cast("string").as("k")).agg(count(lit(1)).as("cnt"))
    val big = Sketches.cmsJoinSize(
        Sketches.cmsBuildWeighted(counts(ev, "user_id"), "k", "cnt"),
        Sketches.cmsBuildWeighted(counts(ord, "o_custkey"), "k", "cnt"))
      .as[Long].collect().head
    val truth = ev.join(ord, col("user_id") === col("o_custkey")).count()
    assert(big >= truth, s"CM inner product undercounted: $big < $truth")
  }

  // ---- MAD outliers ---------------------------------------------------

  test("madOutliers: flags the planted spike, honors MAD degeneracy") {
    // user 1: tight cluster around 10.00 plus one wild 99.99 spike
    // -> med=10.00, MAD=0.02, spike flagged, cluster not
    // user 2: >50% of values identical -> mad4 = 0 (degenerate), every
    // deviating value flagged — surfaced, not hidden
    val rows = Seq(
      (1L, 9.98), (1L, 9.99), (1L, 10.00), (1L, 10.01), (1L, 10.02),
      (1L, 99.99),
      (2L, 5.00), (2L, 5.00), (2L, 5.00), (2L, 7.00))
      .toDF("user_id", "value")
    val got = Events.madOutliers(rows)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // user 1: n=6, med2 = 2·((10.00+10.01)/2 · 100) = 2001·2 = hmm —
    // six sorted cents: 998,999,1000,1001,1002,9999; interpolated median
    // = (1000+1001)/2 -> m2 = 2001; d2 = |2c − 2001| = {5,3,1,1,3,17997};
    // sorted d2: 1,1,3,3,5,17997 -> mad4 = 2·3 = 6; outlier iff 2·d2 > 30
    assert(got.contains((1L, 6L, 2001L, 6L, 1L)))
    // user 2: cents {500,500,500,700}; m2 = 1000; d2 = {0,0,0,400};
    // mad4 = 0 -> the single deviating row is flagged
    assert(got.contains((2L, 4L, 1000L, 0L, 1L)))
  }

  // ---- time-decayed aggregate ----------------------------------------

  test("decayAgg: hand-computed shifts; horizon floors, not cuts") {
    val day = (d: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(d * 86400 + 7))
    // as_of = day 100. user 1: 1.00 @d100 (age 0), 2.00 @d99 (age 1),
    // 4.00 @d98 (age 2) -> 100·2^30 + 200·2^29 + 400·2^28
    // user 2: 1.00 @d100, 3.00 @d50 (age 50 -> capped 30, weight 2^0)
    val ev = Seq(
      (1L, day(100), 1.00), (1L, day(99), 2.00), (1L, day(98), 4.00),
      (2L, day(100), 1.00), (2L, day(50), 3.00))
      .toDF("user_id", "ts", "value")
    val got = Events.decayAgg(ev).as[(Long, Long, Long)].collect().toSeq
    val u1 = 100L * (1L << 30) + 200L * (1L << 29) + 400L * (1L << 28)
    val u2 = 100L * (1L << 30) + 300L
    assert(got == Seq((1L, 3L, u1), (2L, 2L, u2)))
  }

  // ---- Bloom semi-join reduction ------------------------------------

  test("bloom: no false negatives; pruning actually prunes") {
    val dim = spark.read.parquet(s"$sf001/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val fact = spark.read.parquet(s"$sf001/orders.parquet")
    val words = Sketches.bloomBuild(dim, "c_custkey")
    // every dim key passes its own filter — the no-false-negative law
    assert(dim.filter(!Sketches.bloomMightContain(col("c_custkey"), words))
      .count() == 0L)
    val candidates = fact
      .filter(Sketches.bloomMightContain(col("o_custkey"), words)).count()
    val exact = fact.join(dim.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "semi").count()
    val total = fact.count()
    assert(candidates >= exact, "bloom dropped a true match")
    assert(candidates < total,
      s"bloom pruned nothing: $candidates of $total")
    // composed reducer is EXACT
    assert(Sketches.bloomPrunedSemiJoin(fact, dim, "o_custkey", "c_custkey")
      .count() == exact)
  }

  // ---- incremental MV maintenance -----------------------------------

  test("mergeAggState: 3-way merge ≡ full recompute") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val rows = ev.select(col("user_id"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"),
      Events.tsUs(ev).as("us"))
    def pagg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id").agg(count(lit(1)).as("cnt"),
        sum("cents").as("sum_cents"),
        min("us").as("min_us"), max("us").as("max_us"))
    val merged = Cdc.mergeAggState(Seq("user_id"),
      pagg(rows.filter(col("event_id") % 3 === 0)),
      pagg(rows.filter(col("event_id") % 3 === 1)),
      pagg(rows.filter(col("event_id") % 3 === 2)))
    assert(merged.exceptAll(pagg(rows)).isEmpty &&
      pagg(rows).exceptAll(merged).isEmpty)
  }

  test("mergeJoinView: delta identity ≡ full recompute; post-delta states would double-count") {
    import org.apache.spark.sql.functions.col
    val a = Seq((1L, "a1"), (2L, "a2")).toDF("k", "av")
    val da = Seq((1L, "a3"), (3L, "a4")).toDF("k", "av")
    val b = Seq((1L, "b1"), (3L, "b2")).toDF("k", "bv")
    val db = Seq((2L, "b3"), (1L, "b4")).toDF("k", "bv")
    val merged = Cdc.mergeJoinView(a.join(b, Seq("k")), a, b, da, db,
        Seq("k"))
      .as[(Long, String, String)].collect().toSet
    val full = a.unionByName(da).join(b.unionByName(db), Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(merged == full, "delta algebra must equal the full re-join")
    // the classic bug: using POST-delta A on the A x dB leg
    val buggy = a.join(b, Seq("k"))
      .unionByName(da.join(b, Seq("k")))
      .unionByName(a.unionByName(da).join(db, Seq("k")))
      .unionByName(da.join(db, Seq("k")))
      .as[(Long, String, String)].collect()
    assert(buggy.length > full.size,
      "post-delta states double-count the corner — the identity matters")
  }

  test("mergeAggState: refuses columns without a merge rule") {
    val st = Seq((1L, 2L, 3.0)).toDF("k", "cnt", "avg_value")
    intercept[IllegalArgumentException] {
      Cdc.mergeAggState(Seq("k"), st)
    }
  }

  // ---- BFS hop distances --------------------------------------------

  test("bfsHops: equals brute shortest paths on a known graph") {
    // 1-2-3-4-5 path, 10-11 separate component, 6 dangling off 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (10L, 11L)).toDF("da", "db")
    val seeds = Seq(1L).toDF("node")
    val got = Graphs.bfsHops(edges, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 6L -> 2L, 4L -> 3L))
    // 5 is 4 hops out (beyond cap), 10/11 unreachable: absent
  }

  test("bfsHops: multi-source takes the minimum over seeds") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("da", "db")
    val got = Graphs.bfsHops(edges, Seq(1L, 4L).toDF("node"), maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("pprInt: seeds-only restart; all-seeds degenerates to pagerank") {
    // path 1-2-3 seeded at 1; isolated pair 10-11 unreachable -> dropped
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val got = Graphs.pprInt(edges, Seq(1L).toDF("node"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(!got.contains(10L) && !got.contains(11L),
      "unreachable component must hold zero mass")
    assert(got(1L) > got(3L),
      s"mass must concentrate at the seed: $got")
    // every node a seed -> the update rule IS pagerankInt's
    val all = edges.select(col("da").as("node"))
      .unionByName(edges.select(col("db").as("node"))).distinct()
    val ppr = Graphs.pprInt(edges, all, iters = 5)
    val pr = Graphs.pagerankInt(edges, iters = 5)
    assert(ppr.exceptAll(pr).isEmpty && pr.exceptAll(ppr).isEmpty)
  }

  // ---- k-core peeling -------------------------------------------------

  test("kCore: triangle survives, pendant chain peels away") {
    // triangle {1,2,3} + chain 3-4-5: 5 peels (deg 1), then 4 peels —
    // the 2-core is exactly the triangle, each member at degree 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("da", "db")
    val got = Graphs.kCore(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // strategies agree bit-for-bit
    val cop = Graphs.kCore(edges, k = 2, rounds = 3,
      strategy = "copartition").as[(Long, Long)].collect().toSeq
    assert(cop == got)
  }

  test("kCore: under-peeling fails loudly via the fixpoint certificate") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("da", "db")
    // rounds = 1 removes node 5 but leaves 4 at degree 1 < k — the
    // in-plan assert must throw, never return the pseudo-core
    val ex = intercept[Exception] {
      Graphs.kCore(edges, k = 2, rounds = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge") ||
      Option(ex.getCause).exists(_.getMessage.contains("did not converge")))
  }

  // ---- common-neighbor Jaccard link prediction ------------------------

  test("jaccardNeighbors: square suggests its diagonals, triangle none") {
    // 4-cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) share both
    // centers -> common=2, degrees all 2, jacc = 2/(2+2-2) = 10000 bp
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("da", "db")
    val got = Graphs.jaccardNeighbors(square)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L, 2L, 2L, 10000L),
      (2L, 4L, 2L, 2L, 2L, 10000L)))
    // triangle: every wedge pair is already an edge -> nothing to suggest
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("da", "db")
    assert(Graphs.jaccardNeighbors(tri).isEmpty)
  }

  test("jaccardNeighbors: neighbor cap bounds wedge candidates") {
    // star center 0 with leaves 1..5: all wedge pairs come from the
    // center; cap=2 keeps only leaves {1,2} -> exactly one pair
    val star = (1L to 5L).map(l => (0L, l)).toDF("da", "db")
    val got = Graphs.jaccardNeighbors(star, maxNeighbors = 2)
      .select("a", "b", "common").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  // ---- label propagation ----------------------------------------------

  test("labelProp: barbell converges to one community per triangle") {
    // two triangles bridged by 3-4: hand-traced synchronous sweeps with
    // the min-label tie-break settle at {1,2,3}->1 and {4,5,6}->3 by
    // round 3 and stay there — the round-4 snapshot is the stable one
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("da", "db")
    val got = Graphs.labelProp(edges, rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 3L, 3L), (5L, 3L, 3L), (6L, 3L, 3L)))
    // strategies agree bit-for-bit (the family contract)
    val cop = Graphs.labelProp(edges, rounds = 4,
      strategy = "copartition").as[(Long, Long, Long)].collect().toSeq
    assert(cop == got)
  }

  test("assortativity: star is maximally disassortative, regular graph undefined") {
    // star 0-{1,2,3}: stubs x,y pairs are (3,1)x3 and (1,3)x3
    // m2=6, sx=12, sxx=30, sxy=18 -> num=108-144=-36, den=180-144=36
    // r_milli = -1000 (perfect anti-correlation)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("da", "db")
    val got = Graphs.assortativity(star)
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().head
    assert(got == ((6L, 12L, 30L, 18L, -36L, 36L, Some(-1000L))))
    // triangle: every degree 2 -> den 0 -> r undefined (NULL, not 0)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("da", "db")
    val r = Graphs.assortativity(tri)
      .select("r_milli").as[Option[Long]].collect().head
    assert(r.isEmpty)
  }

  test("harmonicCentrality: hand distances on a path, truncation, seed set") {
    // path 1-2-3-4-5, seeds = 2 lowest nodes {1,2}, maxHops 2:
    // seed 1 reaches 2(d1),3(d2): 1000+500 = 1500, n=2
    // seed 2 reaches 1(d1),3(d1),4(d2): 1000+1000+500 = 2500, n=3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("da", "db")
    val got = Graphs.harmonicCentrality(path, nSeeds = 2, maxHops = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1500L), (2L, 3L, 2500L)))
  }

  test("graph components composition: disjoint triangles, min labels, sizes") {
    // triangles {1,2,3} and {10,11,12} plus a 2-path {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("da", "db")
    val cc = graft.ops.Dedup.resolveClusters(edges, "da", "db")
      .withColumnRenamed("doc_id", "node")
      .withColumnRenamed("cluster_id", "component")
    val sizes = cc.groupBy("component").count()
      .as[(Long, Long)].collect().toMap
    assert(sizes == Map(1L -> 3L, 10L -> 3L, 20L -> 2L))
    val labels = cc.as[(Long, Long)].collect().toMap
    assert(labels(3L) == 1L && labels(12L) == 10L && labels(21L) == 20L)
  }

  test("degreeDistribution: log2 bins, CCDF tail, star hub") {
    // star 0-{1..5}: hub degree 5 (bin 2), leaves degree 1 (bin 0)
    val star = (1L to 5L).map(i => (0L, i)).toDF("da", "db")
    val got = Graphs.degreeDistribution(star)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 1L, 5L, 5L, 6L),  // 5 leaves; all 6 nodes have degree >= 1
      (2L, 4L, 1L, 5L, 1L))) // the hub; 1 node with degree >= 4
    // boundary: degree 2 lands in bin 1, not bin 0 (path 1-2-3)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val bins = Graphs.degreeDistribution(path)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(bins == Seq((0L, 1L, 2L, 2L, 3L), (1L, 2L, 1L, 2L, 1L)))
  }

  test("modularityReport: hand-computed Q on the barbell, zero for the trivial partition") {
    // two triangles + bridge: m=7; perfect split {1,2,3}|{4,5,6}:
    // e_c=3, d_c=7 each -> contrib = 4*7*3 - 49 = 35, Q_num = 70,
    // q_bp = 700000 div 196 = 3571
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("da", "db")
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val got = Graphs.modularityReport(edges, good)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 3L, 7L, 35L, 3571L),
      (4L, 3L, 3L, 7L, 35L, 3571L)))
    // everything in one community: Q = 0 exactly (4m*m - (2m)^2)
    val triv = Seq((1L, 9L), (2L, 9L), (3L, 9L),
      (4L, 9L), (5L, 9L), (6L, 9L)).toDF("node", "label")
    val q0 = Graphs.modularityReport(edges, triv)
      .select("q_bp").as[Long].head()
    assert(q0 == 0L)
  }

  test("labelProp: one sweep on a path pins the min-label tie-break") {
    // path 1-2-3 after one synchronous sweep: node 1 takes 2 (its only
    // neighbor), node 2 ties {1,3} and must take the SMALLER label 1,
    // node 3 takes 2 — any other tie-break changes this snapshot
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val got = Graphs.labelProp(edges, rounds = 1)
      .select("node", "label").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (3L, 2L)))
  }

  test("kCore: k=3 of a 4-clique plus tail is the clique") {
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (clique ++ Seq((4L, 9L), (9L, 10L))).toDF("da", "db")
    val got = Graphs.kCore(edges, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  // ---- systematic PPS sampling ---------------------------------------

  test("ppsSample: exactly k picks, heavy rows favored, deterministic") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("w"))
    val k = 50
    val got = graft.ops.Features.ppsSample(docs, "doc_id", "w", k)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._3).sum == k, "systematic PPS must emit exactly k picks")
    assert(got.forall(_._3 >= 1))
    // determinism: same input -> identical sample (no rand() anywhere)
    val again = graft.ops.Features.ppsSample(docs, "doc_id", "w", k)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == again)
    // size-weighting: every row heavier than 2·Σw/k MUST be picked
    // (its interval contains at least one threshold)
    val total = docs.agg(sum("w")).as[Long].collect().head
    val mustPick = docs.filter(col("w") * k >= lit(2L * total))
      .select("doc_id").as[Long].collect().toSet
    assert(mustPick.subsetOf(got.map(_._1).toSet))
  }

  test("ppsSample: matches a single-partition window recompute") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("w"))
      .filter(col("doc_id") % 7 === 0) // small slice, cheap brute
    val k = 9
    val got = graft.ops.Features.ppsSample(docs, "doc_id", "w", k)
      .as[(Long, Long, Long)].collect().toSeq
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val rows = docs.as[(Long, Int)].collect()
      .map { case (id, w) => (id, w.toLong, (id % P1 * aCoef(13) + bCoef(13)) % P1) }
      .sortBy(_._3)
    val total = rows.map(_._2).sum
    var cum = 0L
    val brute = rows.flatMap { case (id, w, _) =>
      val prev = cum; cum += w
      val picks = cum * k / total - prev * k / total
      if (picks > 0) Some((id, w, picks)) else None
    }.sortBy(_._1).toSeq
    assert(got == brute)
  }

  // ---- file-level min/max skipping -----------------------------------

  test("manifest: band read skips files and equals the plain filter") {
    val tmp = Scratch.fresh("manifest-spec")
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    graft.sources.Manifest.stageClustered(orders, tmp, "o_orderdate", 8)
    val mani = graft.sources.Manifest
      .buildManifest(spark, tmp, "o_orderdate").cache()
    assert(mani.count() == 8) // one stats row per staged file
    val lo = to_timestamp(lit("1997-01-01 00:00:00"))
    val hi = to_timestamp(lit("1997-07-01 00:00:00"))
    // a 6-month band of a ~6.5-year range must NOT need all 8 files
    val files = graft.sources.Manifest.qualifyingFiles(mani, lo, hi)
    assert(files.length < 8 && files.nonEmpty,
      s"range clustering should localize the band: ${files.length} of 8")
    val pruned = graft.sources.Manifest
      .prunedBandRead(spark, mani, tmp, "o_orderdate", lo, hi)
    val direct = orders.filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
    assert(pruned.count() == direct.count())
    assert(pruned.select("o_orderkey").exceptAll(direct.select("o_orderkey")).isEmpty)
    mani.unpersist()
    val rm: java.io.File => Unit = { f =>
      def go(p: java.io.File): Unit = {
        if (p.isDirectory) Option(p.listFiles).toSeq.flatten.foreach(go)
        p.delete(): Unit
      }
      go(f)
    }
    rm(new java.io.File(tmp))
  }

  test("manifest: empty band yields empty result with the right schema") {
    val tmp = Scratch.fresh("manifest-spec-empty")
    val orders = spark.read.parquet(s"$sf001/orders.parquet").limit(100)
    graft.sources.Manifest.stageClustered(orders, tmp, "o_orderdate", 2)
    val mani = graft.sources.Manifest.buildManifest(spark, tmp, "o_orderdate")
    val got = graft.sources.Manifest.prunedBandRead(spark, mani, tmp,
      "o_orderdate",
      to_timestamp(lit("2050-01-01 00:00:00")),
      to_timestamp(lit("2051-01-01 00:00:00")))
    assert(got.count() == 0)
    assert(got.columns.toSeq == orders.columns.toSeq)
  }

  // ---- gaps-and-islands streaks --------------------------------------

  test("streaks: hand-computed islands") {
    val us = (day: Long, k: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400 + k))
    // user 1: days 10,11,12 + 20,21 -> 2 streaks, longest 3, active 5
    // user 2: day 10 three times -> 1 streak of 1
    val ev = (Seq((1L, us(10, 0)), (1L, us(10, 5000)), (1L, us(11, 3)),
      (1L, us(12, 9)), (1L, us(20, 1)), (1L, us(21, 2)),
      (2L, us(10, 1)), (2L, us(10, 2)), (2L, us(10, 3))))
      .toDF("user_id", "ts")
    val got = Events.streaks(ev)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 5L), (2L, 1L, 1L, 1L)))
  }

  // ---- bitmap distinct -------------------------------------------------

  test("bitmapDistinct: word layout, merge-law '(all)' row, dup ids") {
    // a: ids 0,1,1,33 -> words {0: bits 0+1, 1: bit 1} = 2 words, 3 ids
    // b: ids 1,64     -> words {0: bit 1, 2: bit 0}    = 2 words, 2 ids
    // (all) merges word tables: 3 words, 4 distinct ids
    val df = Seq(("a", 0L), ("a", 1L), ("a", 1L), ("a", 33L),
      ("b", 1L), ("b", 64L)).toDF("grp", "id")
    val got = graft.ops.Sketches.bitmapDistinct(df, "grp", "id")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("(all)", 3L, 4L), ("a", 2L, 3L), ("b", 2L, 2L)))
  }

  test("bitmapDistinct: negative id fails loudly") {
    val df = Seq(("a", -1L)).toDF("grp", "id")
    val ex = intercept[Exception] {
      graft.ops.Sketches.bitmapDistinct(df, "grp", "id").collect()
    }
    assert(ex.getMessage.contains("negative") ||
      Option(ex.getCause).exists(_.getMessage.contains("negative")))
  }
}
