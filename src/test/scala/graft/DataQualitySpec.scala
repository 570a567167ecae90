package graft

import org.apache.spark.sql.functions._

import graft.ops.{DataQuality, Events, Privacy}

/** Data-contract surfaces: the expectations rule algebra, the
  * out-of-orderness watermark audit, and schema-evolution reads. */
class DataQualitySpec extends SparkTestBase {
  import spark.implicits._

  test("expectations: hand-planted violations counted exactly") {
    // id 3 duplicated; one null name; one negative amount; child 99
    // orphaned (no parent 99); null FK is NOT an orphan
    val parent = Seq((1L, "a"), (2L, "b"), (3L, "c"), (3L, "d"),
      (4L, null.asInstanceOf[String])).toDF("id", "name")
    val child = Seq((10L, Some(1L), 5.0), (11L, Some(99L), -2.0),
      (12L, None, 1.0)).toDF("cid", "pid", "amount")
    val got = DataQuality.report(
      Map("p" -> parent, "c" -> child),
      Seq(
        DataQuality.Check("p", "name_not_null", col("name").isNull),
        DataQuality.Unique("p", "id"),
        DataQuality.Check("c", "amount_positive", !(col("amount") > 0)),
        DataQuality.ForeignKey("c", "pid", "p", "id")))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("check:c.amount_positive", 3L, 1L),
      ("check:p.name_not_null", 5L, 1L),
      ("fk:c.pid->p.id", 2L, 1L), // n_checked counts non-null FKs only
      ("unique:p.id", 5L, 1L)))
  }

  test("suggestRules: planted table yields exactly the holding rules") {
    // id: unique, no nulls -> not_null + unique + range
    // score: one null -> range only (not_null gated out, not unique)
    // cat: 2-value domain, no nulls -> not_null + enum
    // tag: null present, all-distinct non-nulls -> unique + enum (no
    //      not_null); domain excludes the null
    val df = Seq(
      (1L, Some(10L), "a", Some("x")),
      (2L, Some(20L), "b", Some("y")),
      (3L, None, "a", None),
      (4L, Some(10L), "b", Some("z"))
    ).toDF("id", "score", "cat", "tag")
    val got = DataQuality.suggestRules(df, numCols = Seq("id", "score"),
        strCols = Seq("cat", "tag"), enumMax = 12)
      .as[(String, String, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      ("cat", "enum", 4L, 0L, 2L, "a,b"),
      ("cat", "not_null", 4L, 0L, 2L, ""),
      ("id", "not_null", 4L, 0L, 4L, ""),
      ("id", "range", 4L, 0L, 4L, "1..4"),
      ("id", "unique", 4L, 0L, 4L, ""),
      ("score", "range", 4L, 1L, 2L, "10..20"),
      ("tag", "enum", 4L, 1L, 3L, "x,y,z"),
      ("tag", "unique", 4L, 1L, 3L, "")))
  }

  test("suggestRules: enum gate drops a domain wider than enumMax") {
    val df = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "cat")
    val got = DataQuality.suggestRules(df, numCols = Seq("id"),
        strCols = Seq("cat"), enumMax = 5)
      .select("col_name", "rule").as[(String, String)].collect().toSeq
    // cat is unique+not_null but NOT an enum; the truncated domain
    // probe must never leak a partial domain
    assert(got == Seq(("cat", "not_null"), ("cat", "unique"),
      ("id", "not_null"), ("id", "range"), ("id", "unique")))
  }

  test("seasonalResiduals: hand-computed baseline, deviation, ranking") {
    // type a, hod 0, three events across two days: pooled floor mean =
    // (100+200+400)/3 = 233 cents; SAD day0 = 133+33 = 166, day1 = 167
    // -> day1 ranks first. type b's two hods each see exactly one value
    // -> baseline equals the value, SAD 0 (the per-hod separation pin:
    // pooling b's hods would give mean 200 and SAD 200 instead).
    val us = udf((d: Long, h: Long, m: Long) =>
      d * 86400000000L + h * 3600000000L + m * 60000000L)
    val ev = Seq(
      ("a", 1.00, 0L, 0L, 0L), ("a", 2.00, 0L, 0L, 1L),
      ("a", 4.00, 1L, 0L, 0L),
      ("b", 1.00, 0L, 0L, 0L), ("b", 3.00, 0L, 1L, 0L)
    ).toDF("event_type", "value", "d", "h", "m")
      .select(col("event_type"), col("value"),
        timestamp_micros(us(col("d"), col("h"), col("m"))).as("ts"))
    val got = Events.seasonalResiduals(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 1L, 167L), ("a", 0L, 2L, 166L),
      ("b", 0L, 2L, 0L)))
  }

  test("lastTouchAttribution: carry, tie, and no-touch channels") {
    // u1: click -> purchase(2.00) attributes to click; a same-instant
    // view at the purchase ts still counts (is_conv sorts the
    // conversion after its tie). u2: purchase(1.00) with no prior touch
    // -> '(none)'. u3: click, view -> purchase(3.00) goes to view
    // (latest touch wins, not first).
    val ev = Seq(
      (1L, 10L, "click", 0.0, 100L),
      (1L, 11L, "view", 0.0, 200L),
      (1L, 12L, "purchase", 2.00, 200L),
      (2L, 20L, "purchase", 1.00, 100L),
      (3L, 30L, "click", 0.0, 100L),
      (3L, 31L, "view", 0.0, 150L),
      (3L, 32L, "purchase", 3.00, 300L)
    ).toDF("user_id", "event_id", "event_type", "value", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), timestamp_micros(col("us")).as("ts"))
    val got = Events.lastTouchAttribution(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("view", 2L, 500L, 8333L),
      ("(none)", 1L, 100L, 1666L)))
  }

  test("arCoefficients: hand slopes, FLOOR on negative quotients, zero-variance NULL") {
    // type p: counts 1,2,3,4 on days 0..3 -> lag-1 and lag-2 slopes
    // exactly +1000 milli; lag-3 has one pair (zero variance) -> NULL.
    // type n: counts 4,1,2 -> lag-1 slope -3000/9 = -333.33, which
    // must FLOOR to -334 (a truncating div would say -333).
    val us = (day: Long, k: Long) => day * 86400000000L + k
    val rows =
      (0 until 4).flatMap(d => (0 to d).map(i =>
        ("p", us(d.toLong, i.toLong)))) ++
      Seq(("n", 0L, 4), ("n", 1L, 1), ("n", 2L, 2)).flatMap {
        case (t, d, c) => (0 until c).map(i => (t, us(d, i.toLong))) }
    val ev = rows.zipWithIndex
      .map { case ((t, u), i) => (i.toLong, t, u) }
      .toDF("user_id", "event_type", "usec")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("usec")).as("ts"))
    val got = graft.ops.Events.arCoefficients(ev, maxLag = 3)
      .select("event_type", "lag", "slope_milli")
      .as[(String, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      ("n", 1L, Some(-334L)), ("n", 2L, None),
      ("p", 1L, Some(1000L)), ("p", 2L, Some(1000L)), ("p", 3L, None)))
  }

  test("stickiness: month grouping, active-day average, one-floor bp") {
    // month of day 0 (1970-01): day 0 has users {1,2}, day 1 has {1}
    // -> dau_sum 3, n_days 2, mau 2, bp = 30000 div 4 = 7500
    val us = (day: Long, u: Long) => (u, day * 86400000000L + u)
    val ev = Seq(us(0, 1), us(0, 2), us(1, 1))
      .toDF("user_id", "usec")
      .select(col("user_id"), timestamp_micros(col("usec")).as("ts"))
    val got = graft.ops.Events.stickiness(ev)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val m0 = 1970L * 12 // 1970-01 as year*12 + month - 1
    assert(got == Seq((m0, 2L, 1L, 2L, 7500L)))
  }

  test("benfordAudit: digit extraction, milli shares, dropped non-positives") {
    // cents: 100,150 -> digit 1; 25 -> 2; 999 -> 9; -500 and 0 dropped
    val df = Seq(1.00, 1.50, 0.25, 9.99, -5.00, 0.0).toDF("v")
    val got = graft.ops.DataQuality.benfordAudit(df, "v")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 500L, 301L, 199L, 2L, 478L),
      (2L, 1L, 250L, 176L, 74L, 2L, 478L),
      (9L, 1L, 250L, 45L, 205L, 2L, 478L)))
  }

  test("positionAttribution: U-weights, exact conservation, (none) journey") {
    // u1 journey 0: click/view/signup then purchase(10.00) — weights
    // 2/1/2, W=5, telescoping credits 400/200/400 (sum = 1000 exactly);
    // u1 journey 1: purchase(5.00) with no touches -> '(none)' 500.
    // u2: single-touch journey (click) closing purchase(2.00) -> 200.
    val ev = Seq(
      (1L, 10L, "click", 0.0, 100L),
      (1L, 11L, "view", 0.0, 200L),
      (1L, 12L, "signup", 0.0, 300L),
      (1L, 13L, "purchase", 10.00, 400L),
      (1L, 14L, "purchase", 5.00, 500L),
      (2L, 20L, "click", 0.0, 100L),
      (2L, 21L, "purchase", 2.00, 200L)
    ).toDF("user_id", "event_id", "event_type", "value", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), timestamp_micros(col("us")).as("ts"))
    val got = Events.positionAttribution(ev)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 2L, 600L),
      ("(none)", 1L, 500L),
      ("signup", 1L, 400L),
      ("view", 1L, 200L)))
    // conservation: credits sum to total conversion revenue
    assert(got.map(_._3).sum == 1700L)
    // the rev >= 0 precondition is an IN-PLAN guard, not a doc line: a
    // refund-valued conversion fails loudly instead of silently skewing
    // per-touch credits (floor == truncate only holds for rev >= 0)
    val refund = Seq(
      (3L, 30L, "click", 0.0, 100L),
      (3L, 31L, "purchase", -4.00, 200L)
    ).toDF("user_id", "event_id", "event_type", "value", "us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), timestamp_micros(col("us")).as("ts"))
    val e = intercept[Exception](
      Events.positionAttribution(refund).collect())
    assert(e.getMessage.contains("negative conversion value"))
  }

  test("rfmSegments: hand-built users, independent score dimensions") {
    // five users, one per quintile on R and F; u2's big spend reorders
    // only the M dimension (ascending tot: u1,u3,u4,u5,u2) — the pin
    // that the three ntiles rank independently
    val rows = (1 to 5).flatMap { u =>
      (1 to u).map { i =>
        val v = if (u == 2) 10.00 else 1.00
        (u.toLong, v, (u - 1).toLong * 86400000000L + i * 60000000L)
      }
    }
    val ev = rows.toDF("user_id", "value", "us")
      .select(col("user_id"), col("value"),
        timestamp_micros(col("us")).as("ts"))
    val got = Events.rfmSegments(ev)
      .select("user_id", "recency_days", "r_score", "f_score", "m_score",
        "rfm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 1L, 1L, 1L, 111L),
      (2L, 3L, 2L, 2L, 5L, 225L),
      (3L, 2L, 3L, 3L, 2L, 332L),
      (4L, 1L, 4L, 4L, 3L, 443L),
      (5L, 0L, 5L, 5L, 4L, 554L)))
  }

  test("privacy: k-anonymity / l-diversity on hand-planted groups") {
    // A: 6 rows all-distinct sensitive (compliant); B: 3 rows (k-viol);
    // C: 5 rows single sensitive value (l-viol); D: singleton (both)
    val df = (
      (1 to 6).map(i => ("A", s"s$i")) ++
      Seq(("B", "x"), ("B", "y"), ("B", "x")) ++
      (1 to 5).map(_ => ("C", "same")) ++
      Seq(("D", "z"))
    ).toDF("qi", "s")
    val groups = Privacy.kAnonymityGroups(df, Seq("qi"), "s")
      .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
    assert(groups == Seq(
      ("B", 3L, 2L, true, false),
      ("C", 5L, 1L, false, true),
      ("D", 1L, 1L, true, true)))
    val rep = Privacy.kAnonymityReport(df, Seq("qi"), "s")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(rep == ((15L, 4L, 4L, 6L, 1L, 1L, 2666L)))
  }

  test("privacy: report invariants on the sf0.001 customer QI") {
    val cust = spark.read.parquet(s"$sf0001/customer.parquet")
      .withColumn("bal_kb", floor(col("c_acctbal") / 1000).cast("long"))
    val rep = Privacy.kAnonymityReport(cust,
      Seq("c_nationkey", "c_mktsegment", "bal_kb"), "c_name")
      .collect().head
    assert(rep.getAs[Long]("n_rows") == cust.count())
    assert(rep.getAs[Long]("rows_k_violating") <= rep.getAs[Long]("n_rows"))
    assert(rep.getAs[Long]("min_k") >= 1L)
    val bp = rep.getAs[Long]("suppress_bp")
    assert(bp >= 0L && bp <= 10000L)
  }

  test("privacy: dpCounts geometric mechanism — exact noise, clamp, budget") {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    def to(h: Long): Long = java.lang.Long.bitCount(h ^ (h + 1)) - 1
    def noise(k: Long): Long = {
      def h(i: Int) = (k % P1 * aCoef(i) + bCoef(i)) % P1
      to(h(17)) - to(h(18))
    }
    // multi-count groups plus 50 singletons (some of which must clamp)
    val df = (Seq.fill(5)(0L) ++ Seq.fill(3)(1L) ++ (2L to 51L)).toDF("k")
    val got = graft.ops.Privacy.dpCounts(df, "k")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    got.foreach { case (k, n, z, rel, eps) =>
      assert(z == noise(k), s"noise mismatch for key $k")
      assert(rel == math.max(n + z, 0L))
      assert(eps == 6931L)
    }
    assert(got.map(_._1) == (0L to 51L))
    assert(got.take(2).map(_._2) == Seq(5L, 3L))
    // discrete-Laplace: clamping must fire somewhere among the
    // singletons (noise <= -1 has probability ~1/3 per key)
    assert(got.drop(2).exists(_._4 == 0L), "no singleton clamped to 0")
    assert(got.exists(_._3 > 0L) && got.exists(_._3 < 0L),
      "noise should be two-sided")
  }

  test("privacy: suppression releases exactly the compliant groups") {
    val df = (
      (1 to 6).map(i => ("A", s"s$i")) ++          // compliant
      Seq(("B", "x"), ("B", "y"), ("B", "x")) ++   // k-violating (n=3)
      (1 to 5).map(_ => ("C", "same")) ++          // l-violating
      Seq(("D", "z"))                              // both
    ).toDF("qi", "s")
    val rel = graft.ops.Privacy.kAnonymitySuppress(df, Seq("qi"), "s")
      .as[(String, String)].collect().toSeq.sorted
    assert(rel == (1 to 6).map(i => ("A", s"s$i")).sorted)
    // empty input -> empty release, no crash
    assert(graft.ops.Privacy
      .kAnonymitySuppress(df.limit(0), Seq("qi"), "s").count() == 0L)
  }

  test("privacy: dpSums clamps contributions and noises in sensitivity units") {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    def to(h: Long): Long = java.lang.Long.bitCount(h ^ (h + 1)) - 1
    def noise(k: Long): Long = {
      def h(i: Int) = (k % P1 * aCoef(i) + bCoef(i)) % P1
      to(h(19)) - to(h(20))
    }
    // key 0: values 150, -40 (clamped to 0), 999 (clamped to 100)
    val df = Seq((0L, 150L), (0L, -40L), (0L, 999L), (1L, 30L))
      .toDF("k", "v")
    val got = graft.ops.Privacy.dpSums(df, "k", col("v"), clampMax = 100L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // key 0: clamped sum = 100+0+100 = 200 -> units (200+50)/100 = 2
    // key 1: clamped sum = 30 -> units (30+50)/100 = 0
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((0L, 3L, 200L), (1L, 1L, 30L)))
    got.foreach { case (k, _, _, z, rel, eps) =>
      assert(z == noise(k))
      val units = if (k == 0L) 2L else 0L
      assert(rel == math.max((units + z) * 100L, 0L))
      assert(eps == 6931L)
    }
  }

  test("expectations: same-table rules fuse into one scan") {
    val df = spark.read.parquet(s"$sf001/orders.parquet")
    val plan = DataQuality.report(Map("orders" -> df), Seq(
        DataQuality.Check("orders", "ck_null", col("o_custkey").isNull),
        DataQuality.Check("orders", "tp_pos", !(col("o_totalprice") > 0)),
        DataQuality.Unique("orders", "o_orderkey")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).length
    assert(scans == 1, s"3 rules on one table must be 1 scan, got $scans:\n$plan")
  }

  test("expectations: unknown table refused") {
    intercept[IllegalArgumentException] {
      DataQuality.report(Map.empty,
        Seq(DataQuality.Unique("ghost", "id")))
    }
  }

  test("orderAudit: hand-computed lateness") {
    val ts = (s: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // type A, arrival order 1..4: ts 100, 50 (late by 50s), 200, 199
    // (late by 1s) -> n_late 2, max 50s. type B in order -> 0 late.
    val ev = Seq(
      (1L, ts(100), "A"), (2L, ts(50), "A"), (3L, ts(200), "A"),
      (4L, ts(199), "A"),
      (5L, ts(10), "B"), (6L, ts(20), "B"))
      .toDF("event_id", "ts", "event_type")
    val got = Events.orderAudit(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 4L, 2L, 50000000L), ("B", 2L, 0L, 0L)))
  }

  test("temporalJoin: facts land in the version valid at their time") {
    // versions for key 1: A [10, 20), B [20, null). Facts at 10 (start
    // inclusive -> A), 19 (A), 20 (end exclusive -> B), 99 (open B).
    // Key 2 has only an open version; a fact before its start matches
    // nothing (inner join drops it).
    val dim = Seq((1L, "A", 10L, Some(20L)), (1L, "B", 20L, None),
      (2L, "C", 50L, None))
      .toDF("k", "state", "valid_from_us", "valid_to_us")
    val facts = Seq((1L, 101L, 10L), (1L, 102L, 19L), (1L, 103L, 20L),
      (1L, 104L, 99L), (2L, 201L, 49L), (2L, 202L, 50L))
      .toDF("k", "fid", "us")
    val got = graft.ops.Cdc.temporalJoin(facts, dim, "k", "us")
      .select("fid", "state").as[(Long, String)].collect().toMap
    assert(got == Map(101L -> "A", 102L -> "A", 103L -> "B",
      104L -> "B", 202L -> "C"))
  }

  test("transitions: hand-built chain with integer row shares") {
    val ts = (s: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // user 1: A->B->A->C ; user 2: B->A. Pairs: A->B 1, B->A 2, A->C 1.
    // Row totals: A 2, B 2 -> shares A->B 5000, A->C 5000, B->A 10000.
    val ev = Seq(
      (1L, ts(1), "A"), (2L, ts(2), "B"), (3L, ts(3), "A"), (4L, ts(4), "C"),
      (5L, ts(1), "B"), (6L, ts(2), "A"))
      .toDF("event_id", "ts", "event_type")
      .withColumn("user_id", when(col("event_id") <= 4, 1L).otherwise(2L))
    val got = Events.transitions(ev)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 1L, 5000L), ("A", "C", 1L, 5000L),
      ("B", "A", 2L, 10000L)))
  }

  test("covarianceDiag: n²·cov matches a direct computation") {
    val ts = (m: Long) => // m minutes past midnight UTC
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(m * 60))
    // x = {100, 300}, y = {10, 30}: n=2, Σx=400, Σy=40, Σxy=10000
    // cov_scaled = 2·10000 − 400·40 = 4000 (= n²·cov, cov=1000)
    val ev = Seq((1L, ts(10), "A", 1.00), (2L, ts(30), "A", 3.00))
      .toDF("event_id", "ts", "event_type", "value")
      .withColumn("user_id", lit(1L))
    val got = Events.covarianceDiag(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 2L, 400L, 40L, 4000L)))
  }

  test("funnelTimed: out-of-window conversions do not count; re-views re-arm") {
    val ts = (m: Long) => // minutes
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(m * 60))
    // gap = 60 min. user 1: view@0, click@30 (ok), purchase@200 — 170min
    // after the click -> NOT converted. user 2: view@0, click@61 (out of
    // window) but view@50 re-arms -> click@61 converts (11min), purchase
    // @100 converts (39min). user 3: click with no prior view -> stage 1
    // only if they view later... they never view -> counted nowhere.
    val ev = Seq(
      (1L, 1L, ts(0), "view"), (2L, 1L, ts(30), "click"),
      (3L, 1L, ts(200), "purchase"),
      (4L, 2L, ts(0), "view"), (5L, 2L, ts(50), "view"),
      (6L, 2L, ts(61), "click"), (7L, 2L, ts(100), "purchase"),
      (8L, 3L, ts(10), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.ops.Events.funnelTimed(ev, maxGapMinutes = 60)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "view", 2L), (2L, "view>click", 2L),
      (3L, "view>click>purchase", 1L)))
  }

  test("interArrival: hand-computed gaps with exact scaled median") {
    val ts = (s: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // user 1 events at 0, 10, 30, 70 -> gaps 10s, 20s, 40s:
    // min 10s, max 40s, median 20s -> med2 = 40_000_000
    val ev = Seq((1L, ts(0)), (2L, ts(10)), (3L, ts(30)), (4L, ts(70)))
      .toDF("event_id", "ts").withColumn("user_id", lit(1L))
    val got = graft.ops.Events.interArrival(ev)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 10000000L, 40000000L, 40000000L)))
  }

  test("readEvolved: footer merge + default fill + gen provenance") {
    val root = Scratch.fresh("evo-spec")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt")
      .write.parquet(s"$root/gen=1")
    Seq((3L, 30.0, "HI"), (4L, 40.0, null.asInstanceOf[String]))
      .toDF("k", "amt", "prio").write.parquet(s"$root/gen=2")
    val got = graft.sources.Evolution.readEvolved(spark, root,
        Map("prio" -> lit("UNK")))
      .select("k", "amt", "prio", "gen").orderBy("k")
      .as[(Long, Double, String, Int)].collect().toSeq
    // gen-1 rows back-filled; the DOCUMENTED policy also fills gen-2's
    // genuine null (DEFAULT semantics); gen is a partition column
    assert(got == Seq((1L, 10.0, "UNK", 1), (2L, 20.0, "UNK", 1),
      (3L, 30.0, "HI", 2), (4L, 40.0, "UNK", 2)))
    val rm: java.io.File => Unit = { f =>
      def go(p: java.io.File): Unit = {
        if (p.isDirectory) Option(p.listFiles).toSeq.flatten.foreach(go)
        p.delete(): Unit
      }
      go(f)
    }
    rm(new java.io.File(root))
  }

  test("distributionDrift: hand-computed shares, TVD/L-inf, edge clamp") {
    // ref: 4 rows in bucket 0, 4 in bucket 1 (width 10, lo 0)
    // cur: 2 in bucket 0, 6 in bucket 1 -> shares 2500/7500 vs 5000/5000
    val ref = Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L).toDF("v")
    val cur = Seq(5L, 6L, 15L, 16L, 17L, 18L, 19L, -5L).toDF("v")
    // cur has -5 -> clamps into bucket 0 (3 rows there: 5,6,-5)
    val got = DataQuality.distributionDrift(ref, cur, "v",
        lo = 0L, width = 10L, nBuckets = 4)
      .select("bucket", "n_ref", "n_cur", "ref_bp", "cur_bp", "delta_bp",
        "tvd_bp", "linf_bp")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // shares: ref 5000/5000, cur 3750/6250 -> deltas 1250/1250
    assert(got == Seq(
      (0L, 4L, 3L, 5000L, 3750L, 1250L, 1250L, 1250L),
      (1L, 4L, 5L, 5000L, 6250L, 1250L, 1250L, 1250L)))
  }

  test("generalizationLadder: coarsening monotone, cheapest fitting level chosen") {
    // ids 1..40, value = id*10: width 10 -> every group singleton
    // (suppress 10000 bp); width 100 -> buckets of ~10 with one
    // straggler (v=400 alone -> 250 bp, under budget); width 1000 ->
    // one bucket (0 bp). budget 500 -> cheapest fitting level is 1.
    val df = (1L to 40L).map(i => (i, i * 10.0, s"n$i")).toDF("id", "v", "nm")
      .withColumn("qi", lit("all"))
    val got = graft.ops.Privacy.generalizationLadder(df,
        qiFixed = Seq("qi"), numCol = "v", sensitive = "nm",
        levels = 3, baseWidth = 10L)
      .select("level", "suppress_bp", "chosen_level", "chosen")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._2) == Seq(10000L, 250L, 0L),
      "suppression must fall as buckets widen")
    assert(got.map(_._3).distinct == Seq(1L))
    assert(got.map(_._4) == Seq(false, true, false))
  }

  test("keySkewReport: hand-computed Gini and shares; uniform load is zero") {
    // loads: key 1->1, 2->1, 3->2, 4->4 (n=4, N=8)
    // ranks asc (cnt, key): 1,2,3,4 -> rank_mass 1+2+6+16 = 25
    // gini = (50 - 40)*1e4 div 32 = 3125; max share 5000
    val rows = (Seq.fill(1)(1L) ++ Seq.fill(1)(2L) ++ Seq.fill(2)(3L) ++
      Seq.fill(4)(4L)).toDF("k")
    val got = graft.ops.Skew.keySkewReport(rows, "k")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (4L, 4L, 5000L, 4L, 8L, 3125L, 5000L),
      (3L, 2L, 2500L, 4L, 8L, 3125L, 5000L),
      (1L, 1L, 1250L, 4L, 8L, 3125L, 5000L),
      (2L, 1L, 1250L, 4L, 8L, 3125L, 5000L)))
    // perfectly even load: Gini exactly 0
    val even = (1L to 6L).flatMap(k => Seq.fill(3)(k)).toDF("k")
    val g0 = graft.ops.Skew.keySkewReport(even, "k")
      .select("gini_bp").as[Long].head()
    assert(g0 == 0L)
  }

  test("tClosenessReport: TVD vs the global mix, worst first, absent cells scored") {
    // global mix x:y = 4:4 -> q = 5000/5000 bp
    // A = 1x1y (t 0), B = 2x0y (t 5000, the absent-y cell must score),
    // C = 1x3y (t 2500)
    val df = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "x"),
      ("C", "x"), ("C", "y"), ("C", "y"), ("C", "y")).toDF("grp", "s")
    val got = Privacy.tClosenessReport(df, Seq("grp"), "s")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("B", 2L, 5000L), ("C", 4L, 2500L), ("A", 2L, 0L)))
  }

  test("distributionDrift: an empty slice fails loudly, never NULL-passes") {
    val ref = Seq(1L, 2L).toDF("v")
    val cur = spark.emptyDataFrame.select(lit(1L).as("v")).filter(lit(false))
    val e = intercept[Exception](
      DataQuality.distributionDrift(ref, cur, "v", 0L, 10L, 4).collect())
    assert(e.getMessage.contains("dead feed"))
  }
}
