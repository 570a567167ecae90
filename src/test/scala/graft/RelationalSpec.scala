package graft

import org.apache.spark.sql.functions._

import graft.ops.Relational

class RelationalSpec extends SparkTestBase {
  import spark.implicits._

  test("groupCountSortDesc: count desc, key asc tie-break (ref O1)") {
    val df = Seq("b", "a", "a", "c", "b").toDF("k")
    val got = Relational.groupCountSortDesc(df, "k")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("bucketHistogram: left-closed [lo,hi) buckets, ref label format (P11/P12)") {
    val df = Seq(0.0, 999.99, 1000.0, 1500.5, 2000.0).toDF("v")
    val got = Relational.bucketHistogram(df, "v", 1000L)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("(0,1000)", 0L, 2L), ("(1000,2000)", 1000L, 2L), ("(2000,3000)", 2000L, 1L)))
  }

  test("groupRatio: exact count/total with bround scale 4 (ref T3-1)") {
    // 3 a's of 4 rows => 0.75 exactly; ref's sum-of-1/N would accumulate FP error
    val df = Seq("a", "a", "a", "b").toDF("k")
    val got = Relational.groupRatio(df, "k")
      .select("k", "ratio").as[(String, Double)].collect().toSeq
    assert(got == Seq(("a", 0.75), ("b", 0.25)))
  }

  test("bround is HALF_EVEN like the reference's f.bround (P9)") {
    val df = Seq(0.09998333).toDF("v").select(bround($"v", 4).as("r"))
    assert(df.as[Double].head() == 0.1) // the work3-1 golden's 0.1
  }

  test("parseWorkYear: null/-1, 10+/11, </0, leading-int semantics (P13)") {
    val df = Seq(Some("10+ years"), Some("< 1 year"), Some("6 years"),
      Some("1 year"), None).toDF("w")
      .select(Relational.parseWorkYear($"w").as("n"))
    assert(df.as[Int].collect().toSeq == Seq(11, 0, 6, 1, -1))
  }

  test("topNPerGroup: n rows max per group, unique-key tie-break") {
    val df = Seq((1, 10, 5.0), (1, 11, 5.0), (1, 12, 4.0), (2, 20, 1.0))
      .toDF("g", "id", "v")
    val got = Relational.topNPerGroup(df, "g", "v", "id", 2)
      .select("g", "id", "rn").as[(Int, Int, Int)].collect().toSeq
    assert(got == Seq((1, 10, 1), (1, 11, 2), (2, 20, 1)))
  }

  test("rollupCounts: subtotal rows carry grouping_id, grand total = n") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("k1", "k2")
    val out = Relational.rollupCounts(df, "k1", "k2").collect()
    // 3 leaf rows + 2 k1 subtotals + 1 grand total
    assert(out.length == 6)
    val grand = out.filter(_.getInt(3) == 3)
    assert(grand.length == 1 && grand.head.getLong(2) == 3)
    val k1Subtotals = out.filter(_.getInt(3) == 1).map(r =>
      r.getString(0) -> r.getLong(2)).toMap
    assert(k1Subtotals == Map("a" -> 2L, "b" -> 1L))
  }

  test("pivotCounts: declared values become columns, missing combos are 0") {
    val df = Seq(("s1", "p1"), ("s1", "p1"), ("s2", "p2")).toDF("seg", "pri")
    val out = Relational.pivotCounts(df, "seg", "pri", Seq("p1", "p2"))
    assert(out.columns.toSeq == Seq("seg", "p1", "p2"))
    val rows = out.as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("s1", 2L, 0L), ("s2", 0L, 1L)))
  }

  test("saltedJoin equals the plain equi-join (skew spreading only)") {
    val fact = Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dim = Tables(spark, sf0001, "customer")
      .select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = fact.join(dim, "o_custkey")
      .groupBy("c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    val salted = graft.ops.Skew.saltedJoin(fact, dim, "o_custkey", 7)
      .groupBy("c_mktsegment").count()
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("bandedRangeJoin equals the brute non-equi interval join") {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    val events = Tables(spark, sf0001, "events")
    val banded = graft.ops.Events.bandedRangeJoin(events)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // brute force: plain theta join, same window arithmetic (tsUs adapts
    // to whichever ts encoding the corpus generation chose)
    val us = graft.ops.Events.tsUs(events)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), us.as("us"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), us.as("vus"), col("value"))
    val brute = clicks.join(views,
        col("vu") === col("user_id") &&
          col("vus") >= col("us") - 3600000000L && col("vus") < col("us"),
        "left")
      .groupBy("user_id", "event_id", "us")
      .agg(count(col("vus")).as("n"),
        coalesce(sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double"),
          lit(0.0d)).as("s"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(banded == brute)
  }

  test("Cdc.apply: latest version wins, deletes remove, inserts survive") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "b2", 1L, "U"), // update key 2
      (3L, "c", 1L, "D"),  // delete key 3
      (4L, "d", 1L, "I"),  // insert key 4
      (2L, "b3", 2L, "U")  // later update wins over earlier
    ).toDF("k", "v", "version", "op")
    val out = graft.ops.Cdc.apply(base, changes, "k")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b3", 4L -> "d"))
  }

  test("topTerms ranks by tf desc then term asc, stopwords excluded") {
    val docs = Seq((1L, "b b x the the the c")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.topTerms(docs)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, "b", 2L), (1L, 2L, "c", 1L), (1L, 3L, "x", 1L)))
  }

  test("tfidfTopTerms: rare terms outrank common ones at equal tf") {
    // 'rare' appears in 1 of 3 docs, 'shared' in all 3; both tf=1 in doc 1
    val docs = Seq(
      (1L, "rare shared zz zz"),
      (2L, "shared other1 other2 other3"),
      (3L, "shared other4 other5 other6")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.tfidfTopTerms(docs, k = 2)
      .as[(Long, Long, String, Long, Long, Long)].collect().toSeq
      .filter(_._1 == 1L)
    // zz: tf=2, df=1 -> 2*30000=60000; rare: tf=1, df=1 -> 30000;
    // shared: tf=1, df=3 -> 10000
    assert(out == Seq(
      (1L, 1L, "zz", 2L, 1L, 60000L),
      (1L, 2L, "rare", 1L, 1L, 30000L)))
  }

  test("qualityFilter: each rule rejects its own violation") {
    val docs = Seq(
      (1L, "the quick brown fox and dog ran home"), // passes all
      (2L, "too short"),                            // r_len (n=2 < 5)
      (3L, "a a b ab ba ab b a"),                   // r_mean_len (mean < 3)
      (4L, "quick brown foxes jump over lazy dogs"), // r_stopwords (0 stops)
      (5L, "the the the the the the and and")       // r_uniq (2/8 = 2500 bp)
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.qualityFilter(docs)
      .select("doc_id", "r_len", "r_mean_len", "r_stopwords", "r_uniq", "keep")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    assert(out(1L) == ((1L, 1L, 1L, 1L, 1L)))
    assert(out(2L)._1 == 0L && out(2L)._5 == 0L)
    assert(out(3L)._2 == 0L && out(3L)._5 == 0L)
    assert(out(4L)._3 == 0L && out(4L)._5 == 0L)
    assert(out(5L)._4 == 0L && out(5L)._5 == 0L)
  }

  test("Cdc.scd2: collapses runs, stamps validity, flags current") {
    val feed = Seq(
      // user 1: a,a,b,a -> three versions (a run collapses)
      (1L, 10L, "a", 1L), (1L, 20L, "a", 2L), (1L, 30L, "b", 3L),
      (1L, 40L, "a", 4L),
      // user 2: single row -> one current version
      (2L, 15L, "x", 5L)).toDF("user_id", "us", "event_type", "event_id")
    val out = graft.ops.Cdc.scd2(feed, "user_id", "event_type", "us", "event_id")
      .select("user_id", "event_type", "valid_from_us", "valid_to_us", "is_current")
      .as[(Long, String, Long, Option[Long], Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a", 10L, Some(30L), 0L),
      (1L, "b", 30L, Some(40L), 0L),
      (1L, "a", 40L, None, 1L),
      (2L, "x", 15L, None, 1L)))
  }

  test("funnel: stages advance only strictly forward in time") {
    val ev = Seq( // ts in nanoseconds (LongType path of Events.tsUs)
      // user 1 completes all three stages in order
      (1L, 10000L, "view", 1L), (1L, 20000L, "click", 2L),
      (1L, 30000L, "purchase", 3L),
      // user 2: click BEFORE view — reaches stage 1 only
      (2L, 10000L, "click", 4L), (2L, 20000L, "view", 5L),
      // user 3: click at the SAME microsecond as view — does not advance
      (3L, 10000L, "view", 6L), (3L, 10000L, "click", 7L),
      // user 4: purchase without view — reaches nothing
      (4L, 10000L, "purchase", 8L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ops.Events.funnel(ev)
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "view", 3L),
      (2L, "view>click", 1L),
      (3L, "view>click>purchase", 1L)))
  }

  test("bigramDf counts documents, not occurrences") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bigramDf(docs)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a b", 2L), ("b a", 1L), ("b c", 1L)))
  }

  test("collocations ranks pairs by integer lift with support floor") {
    val docs = Seq((1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    // unigrams a:3 b:3 c:1 d:1, N=8; lift_bp = c_xy*N*10000 div (c1*c2)
    val out = graft.ops.TextAnalysis.collocations(docs, k = 10, minCount = 1)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("c d", 1L, 1L, 1L, 80000L),
      ("a b", 3L, 3L, 3L, 3L * 8 * 10000 / 9),
      ("b a", 2L, 3L, 3L, 2L * 8 * 10000 / 9)))
    // support floor drops every pair with c_xy < minCount
    val floored =
      graft.ops.TextAnalysis.collocations(docs, k = 10, minCount = 3)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(floored == Seq(("a b", 3L, 3L, 3L, 3L * 8 * 10000 / 9)))
  }

  test("ngramDiversity: per-stratum distinct ratios, bigramless stratum kept") {
    val docs = Seq(
      (1L, "a b a", "en", "A"),
      (2L, "x", "en", "B"))
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.ops.TextAnalysis.ngramDiversity(docs)
      .as[(String, Long, Long, Long, Long, Long, Option[Long])]
      .collect().toSeq
    assert(got == Seq(
      ("A", 3L, 2L, 6666L, 2L, 2L, Some(10000L)),
      ("B", 1L, 1L, 10000L, 0L, 0L, None)))
  }

  test("ngramDiversityHll: exact totals; estimates accurate above 2.5m") {
    // corpus totals are exact whatever the regime
    val docs = Tables(spark, sf0001, "documents")
    val exact = graft.ops.TextAnalysis.ngramDiversity(docs)
      .select("source", "n_unigrams")
      .as[(String, Long)].collect().toMap
    val corp = graft.ops.TextAnalysis.ngramDiversityHll(docs)
      .select("source", "n_unigrams")
      .as[(String, Long)].collect().toSeq
    assert(corp.toMap == exact && corp.map(_._1).toSet == exact.keySet)

    // accurate regime: 10k+ distinct grams per stratum (> 2.5·1024, past
    // the documented raw-HLL small-range floor) → within ~3·stderr (10%)
    val big = (0L until 3500L)
      .map(i => (i, s"u${3 * i} u${3 * i + 1} u${3 * i + 2}", "en", "S"))
      .toDF("doc_id", "text", "lang", "source")
    val r = graft.ops.TextAnalysis.ngramDiversityHll(big)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    assert(r._2 == 10500L && r._5 == 7000L) // exact totals
    assert(math.abs(r._3 - 10500L) <= 1050, s"unigram est ${r._3}")
    assert(math.abs(r._6 - 7000L) <= 700, s"bigram est ${r._6}")
  }

  test("all registered queries run at sf0.001 and every oracle key exists") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty, name)
      df.count() // must execute
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SPARK_GRAFT_ONLY subsets the registry and refuses unknown names") {
    assert(SparkEntry.only(None).isEmpty)
    assert(SparkEntry.only(Some(" loan_t1 ,q7_join_anti,, loan_t1"))
      .map(_.keySet) == Some(Set("loan_t1", "q7_join_anti")))
    val typo = intercept[IllegalArgumentException] {
      SparkEntry.only(Some("loan_t1,graph_pagerankk,q_nope"))
    }
    assert(typo.getMessage.contains("graph_pagerankk, q_nope"),
      typo.getMessage)
    intercept[IllegalArgumentException](SparkEntry.only(Some(" , ")))
  }

  test("TopKByScore aggregator == window top-n on the real corpus") {
    val agg = SparkEntry.queries("q8b_topk_agg")(spark, sf0001)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val win = SparkEntry.queries("q8_window_topn")(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(agg == win)
  }

  test("TopKByScore: score desc, key asc tie-break, buffer floor rejects") {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(2),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Scored]())
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 9L), (1L, 7.0, 99L),
      (1L, 1.0, 1L), (2L, 3.0, 3L))
      .toDF("g", "score", "key")
    val got = df.groupBy("g").agg(topk(col("score"), col("key")).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.score"), col("t.key"))
      .as[(Long, Double, Long)].collect().toSeq.sorted
    // g=1: 7.0 first, then the 5.0 tie broken by key asc (9 before 10)
    assert(got == Seq((1L, 5.0, 9L), (1L, 7.0, 99L), (2L, 3.0, 3L)))
  }

  test("corpusMix: exact token shares in basis points") {
    val docs = Seq(
      (1L, "a b c", "web"), (2L, "d e", "web"), (3L, "f g h i j", "books"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextAnalysis.corpusMix(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("books", 1L, 5L, 5000L), ("web", 2L, 5L, 5000L)))
  }

  test("approx profile tracks the exact profile within HLL tolerance") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_orderkey")
    val exact = graft.ops.Profiler.numericProfile(li, cols)
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    val approx = graft.ops.Profiler.numericProfile(li, cols, approx = true)
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    cols.foreach { c =>
      val (e, a) = (exact(c).toDouble, approx(c).toDouble)
      assert(math.abs(a - e) / e < 0.1, s"$c: approx $a vs exact $e")
    }
  }

  test("profile checkApprox gate: passes at the calibrated bound, " +
      "FAILS loudly when the tolerance cannot hold (VERDICT r5 item 7)") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_orderkey")
    // armed at the registered 25% bound: clean
    val ok = graft.ops.Profiler
      .numericProfile(li, cols, approx = true, checkApprox = Some(0.25))
    assert(ok.count() == 2)
    // an impossible tolerance must break the plan, not shrink output:
    // l_orderkey has thousands of distincts, HLL error >> 0.001%
    val ex = intercept[Exception] {
      graft.ops.Profiler
        .numericProfile(li, cols, approx = true, checkApprox = Some(1e-5))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("approx distinct drifted")),
      ex.toString)
  }

  test("copurchase counts ORDERS, not lineitem multiplicity") {
    // order 1 holds part 10 twice + part 20: the (10,20) pair counts once
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L))
      .toDF("l_orderkey", "l_partkey")
    val got = SparkEntry.copurchaseTriEdges(li)
      .groupBy("da", "db").agg(count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 20L, 2L)))
    // two orders meet min-support 2
    assert(SparkEntry.copurchaseEdges(li).as[(Long, Long)].collect().toSeq ==
      Seq((10L, 20L)))
  }

  test("copurchase builders: basket cap keeps the 64 lowest parts, " +
      "min-support 2 drops single-order pairs") {
    // orders 1 and 2 hold parts 1..70 (listed in scrambled order): only
    // pairs among parts 1..64 may appear, each once per order. (100, 101)
    // is in orders 3 and 4 (order 3 lists part 100 twice); (200, 201)
    // only in order 5.
    val big = (1L to 70L).map(p => (p * 37) % 70 + 1)
    val li = (big.map(p => (1L, p)) ++ big.reverse.map(p => (2L, p)) ++
      Seq((3L, 100L), (3L, 101L), (3L, 100L), (4L, 101L), (4L, 100L),
        (5L, 200L), (5L, 201L))).toDF("l_orderkey", "l_partkey")
    val capped = for (a <- 1L to 64L; b <- a + 1 to 64L) yield (a, b)
    val tri = SparkEntry.copurchaseTriEdges(li).as[(Long, Long)].collect()
    assert(tri.length == 2 * capped.length + 3)
    assert(tri.toSet == (capped ++ Seq((100L, 101L), (200L, 201L))).toSet)
    val edges = SparkEntry.copurchaseEdges(li).as[(Long, Long)].collect()
    assert(edges.sorted.toSeq == capped :+ ((100L, 101L)))
  }

  test("winsorize clamps into the exact per-group percentile band") {
    val ev = (1 to 100).map(i => (i.toLong,
      new java.sql.Timestamp(i * 1000L), 1L, "view", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val pct = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    val got = ev.join(broadcast(pct), Seq("event_type"))
      .select(col("event_id"),
        round(least(greatest(col("value"), col("p05")), col("p95")) * 100)
          .cast("long").as("c"))
      .as[(Long, Long)].collect().toMap
    // percentile(1..100, .05) = 5.95, (.95) = 95.05 (interpolated)
    assert(got(1L) == 595L && got(3L) == 595L) // clamped up
    assert(got(100L) == 9505L && got(96L) == 9505L) // clamped down
    assert(got(50L) == 5000L) // interior untouched
  }

  test("snapshotDiff: A/D/U classification, unchanged dropped, null-safe") {
    val a = Seq(
      (1L, Option(10.0), "x"), (2L, Option(20.0), "y"),
      (3L, Option.empty[Double], "z"), (4L, Option(40.0), "w"))
      .toDF("k", "price", "status")
    val b = Seq(
      (1L, Option(10.0), "x"), //  unchanged -> dropped from the feed
      (2L, Option(25.0), "y"), //  U: price moved
      (3L, Option(30.0), "z"), //  U: null -> value must compare null-safe
      (5L, Option(50.0), "v")) //  A: new key (and 4 -> D: gone)
      .toDF("k", "price", "status")
    val got = graft.ops.Cdc.snapshotDiff(a, b, "k", Seq("price", "status"))
      .select("k", "change", "old_price", "new_price")
      .as[(Long, String, Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      (2L, "U", Some(20.0), Some(25.0)),
      (3L, "U", None, Some(30.0)),
      (4L, "D", Some(40.0), None),
      (5L, "A", None, Some(50.0))))
  }

  test("snapshotDiff: inputs named k/change/a_-prefixed don't collide") {
    // 'change' is both a COMPARE column here and the verdict column name;
    // 'a_v' starts with the old internal a_ prefix — __sd_ temp names
    // keep them apart (ADVICE r3)
    val a = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "change", "a_v")
    val b = Seq((1L, "a", 1.5), (3L, "c", 3.0)).toDF("k", "change", "a_v")
    val got = graft.ops.Cdc.snapshotDiff(a, b, "k", Seq("change", "a_v"))
      .select("k", "change", "old_change", "new_change", "old_a_v", "new_a_v")
      .as[(Long, String, Option[String], Option[String],
        Option[Double], Option[Double])].collect().toSeq
    assert(got == Seq(
      (1L, "U", Some("a"), Some("a"), Some(1.0), Some(1.5)),
      (2L, "D", Some("b"), None, Some(2.0), None),
      (3L, "A", None, Some("c"), None, Some(3.0))))
  }

  test("pagerankInt: star graph, hand-computed integer rounds") {
    // star 1-{2,3,4}: deg(1)=3, leaves 1. round 1: center receives
    // 3*10000, leaves 10000 div 3 = 3333 each =>
    //   r1(1) = 1500 + 30000*8500 div 10000 = 27000
    //   r1(leaf) = 1500 + 3333*8500 div 10000 = 4333
    // round 2: center 27000 div 3 = 9000 to each leaf; leaves send 4333
    //   r2(1) = 1500 + (3*4333)*8500 div 10000 = 12549
    //   r2(leaf) = 1500 + 9000*8500 div 10000 = 9150
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("da", "db")
    val got = graft.ops.Graphs.pagerankInt(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 12549L, 2L -> 9150L, 3L -> 9150L, 4L -> 9150L))
  }

  test("triangleCounts: K4 plus pendant, duplicate/reversed edges canonicalized") {
    // K4 on 1-4 has 4 triangles, each node in 3; pendant 5 closes none.
    // Duplicate (1,2) and reversed (2,1) must collapse to one edge.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (5L, 1L)).toDF("da", "db")
    val got = graft.ops.Graphs.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCountsSampled: invP=1 keeps every edge and equals the " +
      "exact counts with est = sampled (scale factor 1)") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L)).toDF("da", "db")
    val got = graft.ops.Graphs.triangleCountsSampled(edges, invP = 1)
      .as[(Long, Long, Long)].collect()
    val exact = graft.ops.Graphs.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got.map(t => t._1 -> t._2).toMap == exact)
    got.foreach { case (_, s, e) => assert(e == s) }
  }

  test("triangleCountsSampled: sampled subgraph counts are per-node " +
      "<= exact, and the stats row's total estimate lands near truth " +
      "(sf0.001 co-purchase graph, VERDICT r11 item 2)") {
    val pairs = SparkEntry.copurchaseTriEdges(Tables(spark, sf0001, "lineitem"))
    val exact = graft.ops.Graphs.triangleCounts(pairs)
      .as[(Long, Long)].collect().toMap
    val samp = graft.ops.Graphs.triangleCountsSampled(pairs)
      .as[(Long, Long, Long)].collect()
    // the sampled graph is a subgraph: per-node sampled count can never
    // exceed the exact count
    samp.foreach { case (n, s, e) =>
      assert(s <= exact.getOrElse(n, 0L), s"node $n sampled=$s")
      assert(e == s * 64)
    }
    val stats = graft.ops.Graphs.triangleSampleStats(pairs)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (nE, nEs, invP, invP3, nTriS, nTriEst) = stats
    assert(invP == 4 && invP3 == 64 && nTriEst == nTriS * 64)
    // exact-p hash sampling: the edge sample sits near |E|/4
    assert(nEs >= nE / 8 && nEs <= nE / 2, s"sampled $nEs of $nE edges")
    // unbiased estimator, measured -3.7% at this corpus; ±25% bound
    // leaves ~6 sigma of sampling noise at this triangle count
    val exactTotal = exact.values.sum / 3
    assert(math.abs(nTriEst - exactTotal) <= exactTotal / 4,
      s"est $nTriEst vs exact $exactTotal")
  }

  test("TopKByScore: NaN scores rank FIRST, like ORDER BY score DESC") {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(2),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Scored]())
    val df = Seq((1L, Double.NaN, 7L), (1L, 9.0, 1L), (1L, 5.0, 2L))
      .toDF("g", "score", "key")
    val agg = df.groupBy("g").agg(topk(col("score"), col("key")).as("top"))
      .select(explode(col("top")).as("t")).select(col("t.key"))
      .as[Long].collect().toSeq
    // Spark's window form sorts NaN greatest in DESC order — assert the
    // aggregator agrees with it, not just with a hardcoded expectation
    val win = df
      .withColumn("rn", expr(
        "row_number() OVER (PARTITION BY g ORDER BY score DESC, key ASC)"))
      .filter(col("rn") <= 2).orderBy("rn")
      .select("key").as[Long].collect().toSeq
    assert(agg == win && agg == Seq(7L, 1L))
  }

  test("TopKByScore: -0.0 ties 0.0 like Spark's normalized ordering") {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(1),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.Scored]())
    // signed-zero scores are EQUAL in Spark's sort; the tie must break
    // on key asc (raw Double.compare would rank 0.0 above -0.0)
    val df = Seq((1L, -0.0, 1L), (1L, 0.0, 2L)).toDF("g", "score", "key")
    val got = df.groupBy("g").agg(topk(col("score"), col("key")).as("top"))
      .select(explode(col("top")).as("t")).select(col("t.key"))
      .as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("snapshotDiff refuses a key named `change` (reserved verdict col)") {
    val df = Seq((1L, 2.0)).toDF("change", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Cdc.snapshotDiff(df, df, "change", Seq("v"))
    }
    assert(e.getMessage.contains("change"))
  }

  test("cohortLtv: cohorts pinned to first purchase, cumulative per-customer value") {
    def ts(y: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"$y-$m%02d-15 00:00:00")
    // cust 1: first 1995-01, orders 100 + 50 (month+1); cust 2 joins
    // the same cohort with 200; cust 3 is a 1995-02 cohort of one
    val df = Seq(
      (1L, 1L, "O", 100.0, ts(1995, 1), "x"),
      (2L, 1L, "O", 50.0, ts(1995, 2), "x"),
      (3L, 2L, "O", 200.0, ts(1995, 1), "x"),
      (4L, 3L, "O", 75.0, ts(1995, 2), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val got = graft.ops.Relational.cohortLtv(df)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val m0 = 1995L * 12 // 1995-01 as year*12 + month - 1
    assert(got == Seq(
      (m0, 0L, 2L, 30000L, 2L, 30000L, 15000L),
      (m0, 1L, 1L, 5000L, 2L, 35000L, 17500L),
      (m0 + 1, 0L, 1L, 7500L, 1L, 7500L, 7500L)))
  }

  test("skyline: strict dominance, same-cost and equal-gain edges, dup counts") {
    val df = Seq(
      (1L, 5L), (1L, 3L), // same cost: only max gain survives
      (2L, 5L),           // equal gain at higher cost: dominated
      (2L, 7L),           // survives
      (3L, 7L),           // equal gain, strictly costlier: dominated
      (3L, 9L), (3L, 9L), // duplicate frontier point: n_rows = 2
      (5L, 1L))           // strictly dominated
      .toDF("cost", "gain")
    val got = Relational.skyline(df, "cost", "gain")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L, 1L), (2L, 7L, 1L), (3L, 9L, 2L)))
  }

  test("q48_lead_time: signed floor-average identity holds on real testdata") {
    val got = SparkEntry.queries("q48_lead_time")(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (_, n, mn, mx, sum, nneg, avg) =>
      assert(n > 0 && mn <= mx && nneg >= 0 && nneg <= n)
      // the pinned convention: FLOOR, not truncation, on negative sums
      assert(avg == Math.floorDiv(sum * 1000, n),
        s"avg_days_milli must floor: $avg vs ${Math.floorDiv(sum * 1000, n)}")
    }
    // the synthetic corpus produces negative lags — the signed path is live
    assert(got.map(_._6).sum > 0, "expected negative lags in testdata")
  }

  test("abcClassification: boundary-inclusive classes, straddler lands by cum end") {
    // values 80/15/5 of total 100: cum 80 -> A (<= 80%), 95 -> B
    // (<= 95%), 100 -> C — boundary equality stays in the lower class
    val df = Seq((1L, 80L), (2L, 15L), (3L, 5L)).toDF("item", "c")
    val got = graft.ops.Relational.abcClassification(df, "item", col("c"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 1L, 80L, 8000L), ("B", 1L, 15L, 1500L),
      ("C", 1L, 5L, 500L)))
    // four equal items: cum 25/50/75 are A, the last (100%) is C —
    // no B at all when the curve jumps over the band
    val eq = (1L to 4L).map(i => (i, 25L)).toDF("item", "c")
    val got2 = graft.ops.Relational.abcClassification(eq, "item", col("c"))
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq(("A", 3L, 75L, 7500L), ("C", 1L, 25L, 2500L)))
  }

  test("skyline: single point and monotone chain") {
    val one = Relational.skyline(Seq((4L, 4L)).toDF("cost", "gain"),
      "cost", "gain").as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((4L, 4L, 1L)))
    // strictly increasing cost AND gain: every point on the frontier
    val chain = Relational.skyline(
      Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("cost", "gain"),
      "cost", "gain").as[(Long, Long, Long)].collect().toSeq
    assert(chain == Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L)))
  }
}
