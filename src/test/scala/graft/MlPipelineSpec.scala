package graft

import org.apache.spark.sql.functions._

import graft.ops.Features

/** SURVEY.md §2g: feature pipeline (FP1-FP5) + classifiers (FP6-FP12).
  * ML fits are covered by seeded-determinism + AUC-tolerance tests, never
  * by the DuckDB oracle (SURVEY §5 strategy (5)). */
class MlPipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("stringIndexDict: frequency desc, tie alphabetical asc (FP1)") {
    val df = Seq("b", "b", "a", "a", "c").toDF("v")
    val dict = Features.stringIndexDict(df, "v")
      .orderBy("idx").as[(String, Long, Long)].collect()
    // a and b tie at 2 -> a first; c (1) last
    assert(dict.map(r => (r._1, r._3)).toSeq == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("stringIndex matches spark.ml StringIndexer on the same column (FP1)") {
    val orders = Tables(spark, sf0001, "orders")
    val ours = Features.stringIndex(orders, Seq("o_orderpriority"))
      .select("o_orderkey", "o_orderpriority_idx")
    val indexer = new org.apache.spark.ml.feature.StringIndexer()
      .setInputCol("o_orderpriority").setOutputCol("ml_idx")
    val theirs = indexer.fit(orders).transform(orders)
      .select(col("o_orderkey"), col("ml_idx").cast("long"))
    assert(ours.join(theirs, "o_orderkey")
      .filter(col("o_orderpriority_idx") =!= col("ml_idx")).count() == 0)
  }

  test("ntileBucket: 1-based, near-equal sizes, ordered by value (FP3 twin)") {
    val df = (1 to 10).map(i => (i, i * 10.0)).toDF("k", "v")
    val b = Features.ntileBucket(df, "v", "k", 4)
      .select("k", "bucket").as[(Int, Long)].collect().toMap
    assert(b(1) == 1 && b(10) == 4)
    val sizes = b.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes == Map(1L -> 3, 2L -> 3, 3L -> 2, 4L -> 2))
  }

  test("rangeNtileBucket ≡ ntileBucket: distributed exact ntile (FP3)") {
    val orders = Tables(spark, sf0001, "orders")
    val twin = Features.ntileBucket(orders, "o_totalprice", "o_orderkey", 20)
      .select("o_orderkey", "bucket")
    val dist = Features.rangeNtileBucket(orders, "o_totalprice", "o_orderkey", 20)
      .select(col("o_orderkey"), col("bucket").as("rbucket"))
    assert(twin.join(dist, "o_orderkey")
      .filter(col("bucket") =!= col("rbucket")).count() == 0)
    // N < n edge: SQL ntile gives every row its own bucket
    val tiny = Seq((1, 1.0), (2, 2.0), (3, 3.0)).toDF("k", "v")
    val tb = Features.rangeNtileBucket(tiny, "v", "k", 10)
      .select("k", "bucket").as[(Int, Long)].collect().toMap
    assert(tb == Map(1 -> 1L, 2 -> 2L, 3 -> 3L))
  }

  test("naFill: numeric -1, string '-1' (FP4)") {
    val df = Seq((Some(1.5), Some("x")), (None, None))
      .toDF("num", "str")
    val filled = Features.naFill(df).as[(Double, String)].collect().toSet
    assert(filled == Set((1.5, "x"), (-1.0, "-1")))
  }

  test("featurePipeline assembles indexed+bucketed+raw features (FP1-FP5)") {
    val orders = Tables(spark, sf0001, "orders")
    val (model, out) = graft.ml.Pipelines.featurePipeline(
      orders, Seq("o_orderpriority"), Seq("o_totalprice"),
      Map("o_totalprice" -> 5))
    val v = out.select(
      org.apache.spark.ml.functions.vector_to_array(col("features")))
      .first().getSeq[Double](0)
    assert(v.length == 3) // idx, bucket, raw
    // model persistence (S6, ref FP: save with overwrite - exp4_work4.ipynb:690)
    val dir = Scratch.fresh("model")
    model.write.overwrite().save(dir)
    val re = org.apache.spark.ml.PipelineModel.load(dir)
    assert(re.stages.length == model.stages.length)
  }

  test("classifiers learn a separable task; seeded determinism (FP6-FP11)") {
    // Synthetic separable 2-class data (seeded): the driver embeddings'
    // held-out signal is near noise (linear AUC ~0.55 at sf0.01), so AUC
    // thresholds are asserted on data where the ref's 0.80+ anchor is
    // achievable; the real-corpus run is the smoke test below.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val label = i % 2
      val mean = if (label == 1) 1.0 else -1.0
      val feats = Array.fill(8)(mean + rnd.nextGaussian() * 1.5)
      (org.apache.spark.ml.linalg.Vectors.dense(feats), label.toDouble)
    }
    val labeled = rows.toDF("features", "label")
    // relaxed uniform floors: this test pins learnability + determinism
    // on synthetic data, not the corpus-calibrated gate (tested below)
    val floors = graft.ml.Classifiers.AucFloorsBp.view.mapValues(_ => 8000).toMap
    // ceilings relaxed too: on THIS synthetic task RF can legitimately
    // approach 1.0 (the corpus-calibrated canary band is tested below)
    val ceils = graft.ml.Classifiers.AucCeilingsBp.view.mapValues(_ => 10000).toMap
    val res = graft.ml.Classifiers
      .trainEval(spark, labeled, featureDim = 8, floorsBp = floors,
        ceilingsBp = ceils)
      .as[(String, Double, Long, Long, Long)].collect()
    assert(res.map(_._1).toSeq ==
      Seq("linear_svc", "logistic_regression", "mlp", "random_forest"))
    res.foreach { case (m, auc, _, _, _) => assert(auc > 0.8, s"$m auc=$auc") }
    assert(res.head._4 + res.head._5 == 400)
    val res2 = graft.ml.Classifiers
      .trainEval(spark, labeled, featureDim = 8, floorsBp = floors,
        ceilingsBp = ceils)
      .as[(String, Double, Long, Long, Long)].collect()
    assert(res.toSeq == res2.toSeq)
  }

  test("trainEval runs on the driver embeddings corpus with the " +
      "calibrated floors armed (smoke)") {
    val labeled = graft.ml.Classifiers.embeddingFeatures(
      Tables(spark, sf0001, "embeddings"))
    val res = graft.ml.Classifiers.trainEval(spark, labeled)
      .as[(String, Double, Long, Long, Long)].collect()
    assert(res.length == 4 && res.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
    // auc_bp column is the floored bp of auc
    res.foreach { case (_, auc, bp, _, _) => assert(bp == math.floor(auc * 10000).toLong) }
  }

  test("a sabotaged feature pipeline FAILS the in-plan AUC floors " +
      "(VERDICT r5 item 3: the gate must be driver-visible)") {
    import org.apache.spark.sql.functions._
    // labels decoupled from features: every model collapses to ~0.5 AUC
    val sabotaged = graft.ml.Classifiers.embeddingFeatures(
        Tables(spark, sf0001, "embeddings"))
      .withColumn("label", (col("vec_id") % 2).cast("double"))
    val ex = intercept[Exception] {
      graft.ml.Classifiers.trainEval(spark, sabotaged).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("AUC collapsed")), ex.toString)
  }

  test("a label-LEAKAGE sabotage trips the in-plan AUC ceiling " +
      "(VERDICT r11 item 3: floors alone pass inflation)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    // plant the label INSIDE the feature vector (the classic leak: a
    // block of target-derived columns survives into the assembled
    // features — 8 copies, so RF's sqrt-feature subsampling sees the
    // leak at ~every split). The oblique-boundary-blind RF jumps to
    // ~1.0 on the leaked split — past its 9500 bp canary ceiling —
    // while its honest band is .681–.800. Floors cannot see this; the
    // ceiling must.
    val leakBlock = array(Seq.fill(8)(col("label") * 2 - 1): _*)
    val leaked = graft.ml.Classifiers.embeddingFeatures(
        Tables(spark, sf0001, "embeddings"))
      .withColumn("features", array_to_vector(concat(
        vector_to_array(col("features")), leakBlock)))
    val ex = intercept[Exception] {
      graft.ml.Classifiers.trainEval(spark, leaked, featureDim = 72)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("AUC above the in-plan ceiling")),
      ex.toString)
  }

  test("hashSplit: key-deterministic, partition-independent, ~testBp ratio") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000).toDF("k")
    val s1 = Features.hashSplit(df, "k", 2000)
      .select("k", "split").as[(Long, String)].collect().toMap
    // same assignment regardless of physical partitioning
    val s2 = Features.hashSplit(df.repartition(7), "k", 2000)
      .select("k", "split").as[(Long, String)].collect().toMap
    assert(s1 == s2)
    val testFrac = s1.values.count(_ == "test").toDouble / s1.size
    assert(testFrac > 0.17 && testFrac < 0.23, s"test fraction $testFrac")
    // degenerate bounds
    assert(Features.hashSplit(df, "k", 0).filter(col("split") === "test").count() == 0)
  }

  test("stratifiedSample: per-stratum fractions roughly honored, seeded-stable") {
    val df = (1 to 2000).map(i => (i, if (i % 4 == 0) "minority" else "majority"))
      .toDF("id", "cls")
    val s = Features.stratifiedSample(df, "cls",
      Map("majority" -> 0.1, "minority" -> 1.0))
    val counts = s.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(counts("minority") == 500) // fraction 1.0 keeps all
    assert(counts("majority") > 75 && counts("majority") < 225) // ~150
    // seeded: same sample every run
    val s2 = Features.stratifiedSample(df, "cls",
      Map("majority" -> 0.1, "minority" -> 1.0))
    assert(s.as[(Int, String)].collect().toSet ==
      s2.as[(Int, String)].collect().toSet)
  }

  test("hashStratifiedSample: exact key-determined membership per stratum") {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val df = Tables(spark, sf0001, "orders")
    val kept = Features.hashStratifiedSample(df, "o_orderpriority",
        "o_orderkey", Map("1-URGENT" -> 2000, "5-LOW" -> 0), defaultBp = 500)
      .select("o_orderkey", "o_orderpriority").collect()
    // membership is a pure function of (key, stratum)
    kept.foreach { r =>
      val h = (r.getLong(0) % P1 * aCoef(11) + bCoef(11)) % P1
      val bp = r.getString(1) match {
        case "1-URGENT" => 2000L; case "5-LOW" => 0L; case _ => 500L
      }
      assert(h < P1 / 10000L * bp)
    }
    // a zero-fraction stratum contributes nothing
    assert(!kept.exists(_.getString(1) == "5-LOW"))
    // the 20% stratum is roughly honored
    val urgent = df.filter(col("o_orderpriority") === "1-URGENT").count()
    val urgentKept = kept.count(_.getString(1) == "1-URGENT")
    assert(urgentKept > urgent * 0.1 && urgentKept < urgent * 0.3,
      s"kept $urgentKept of $urgent urgent rows")
  }

  test("sourceQuota: keeps the cap lowest-order rows per stratum") {
    val df = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("doc_id", "source")
    val got = Features.sourceQuota(df, cap = 2)
      .select("doc_id", "source", "rn").as[(Long, String, Long)]
      .collect().toSeq
    assert(got == Seq((1L, "a", 1L), (2L, "a", 2L), (4L, "b", 1L),
      (5L, "b", 2L), (6L, "c", 1L)))
  }

  test("targetEncodeLoo: hand-computed LOO shrinkage; singleton = prior") {
    // prior = 2/4 = 5000 bp, m = 2.
    // A (y = 1,1,0): y=1 rows -> ((2-1)*10000 + 2*5000) div (3-1+2) = 5000
    //                y=0 row  -> ((2-0)*10000 + 10000) div 4 = 7500
    // B singleton y=0 -> (0 + 10000) div (0+2) = 5000 — exactly the
    // prior: shrinkage fully absorbs a category with no OTHER evidence
    val df = Seq(("A", 1L, 1), ("A", 2L, 1), ("A", 3L, 0), ("B", 4L, 0))
      .toDF("cat", "id", "lbl")
    val got = Features.targetEncodeLoo(df, "cat", col("lbl") === 1, m = 2)
      .select("id", "y", "prior_bp", "enc_bp")
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 5000L, 5000L), (2L, 1L, 5000L, 5000L),
      (3L, 0L, 5000L, 7500L), (4L, 0L, 5000L, 5000L)))
  }

  test("aucExact: perfect, random-tie, inverted, and one-class cases") {
    def auc(rows: Seq[(Long, Long)]): Long =
      Features.aucExact(rows.toDF("s", "y"), col("s"), col("y"))
        .select("auc_bp").as[Long].head()
    // perfect separation -> 10000; all tied -> 5000; inverted -> 0
    assert(auc(Seq((10L, 1L), (5L, 0L), (9L, 1L), (4L, 0L))) == 10000L)
    assert(auc(Seq((7L, 1L), (7L, 0L), (7L, 1L), (7L, 0L))) == 5000L)
    assert(auc(Seq((1L, 1L), (9L, 0L))) == 0L)
    // a known mixed case: pos {3, 1}, neg {2} -> pairs won 1 of 2
    assert(auc(Seq((3L, 1L), (1L, 1L), (2L, 0L))) == 5000L)
    // one-class input fails loudly
    val e = intercept[Exception](auc(Seq((1L, 1L), (2L, 1L))))
    assert(e.getMessage.contains("both classes"))
    // a raw (not basis-point) score fails loudly in-plan, naming aucExact
    val raw = intercept[Exception](auc(Seq((1234567L, 1L), (5L, 0L))))
    assert(raw.getMessage.contains("aucExact: score outside [0, 10000]"),
      raw.getMessage)
  }

  test("calibrationReport: perfectly calibrated bins gap 0; a lying bin drives ECE") {
    // bin 2 (p=2500, 4 rows, 1 positive -> rate 2500): gap 0
    // bin 7 (p=7500, 4 rows, 0 positive -> rate 0): gap 7500
    // ECE = (4*0 + 4*7500) div 8 = 3750
    val df = (Seq.fill(3)((2500L, 0L)) ++ Seq((2500L, 1L)) ++
      Seq.fill(4)((7500L, 0L))).toDF("p", "y")
    val got = Features.calibrationReport(df, col("p"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 4L, 2500L, 2500L, 0L, 3750L),
      (7L, 4L, 7500L, 0L, 7500L, 3750L)))
    // p = 10000 clamps into the top bin, never an 11th
    val edge = Seq((10000L, 1L)).toDF("p", "y")
    val b = Features.calibrationReport(edge, col("p"), col("y"))
      .select("bin").as[Long].head()
    assert(b == 9L)
  }

  test("oversampleMinority: floor replication, <=2x residual, majority untouched") {
    // classes: a x6 (majority), b x3 (rep 2), c x2 (rep 3), d x4 (rep 1)
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(4)("d")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lab")
    val got = Features.oversampleMinority(df, "lab")
      .groupBy("lab").agg(count(lit(1)).as("n_after"),
        max("rep").as("rep"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == ((6L, 1L)))
    assert(got("b") == ((6L, 2L)))
    assert(got("c") == ((6L, 3L)))
    assert(got("d") == ((4L, 1L))) // 6 div 4 = 1: within 2x, untouched
    // copy_idx enumerates each replica exactly once
    val copies = Features.oversampleMinority(df, "lab")
      .filter(col("lab") === "c").select("id", "copy_idx")
      .as[(Long, Long)].collect().toSet
    assert(copies == (for (i <- 9L to 10L; c <- 1L to 3L)
      yield (i, c)).toSet)
  }

  test("curriculumSchedule: ntile stages, seeded shuffle, exact global positions, id-width guard") {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val df = Seq((0L, "a", 10L), (1L, "a", 20L), (2L, "b", 30L),
      (3L, "b", 40L), (4L, "a", 50L), (5L, "b", 60L), (6L, "a", 70L),
      (7L, "b", 80L)).toDF("doc_id", "source", "n_chars")
    val got = Features.curriculumSchedule(df, "n_chars", "doc_id",
        nStages = 4)
      .select("doc_id", "stage", "shuffle_key", "position")
      .as[(Long, Long, Long, Long)].collect().toSeq
    def h(k: Long) = (k % P1 * aCoef(98) + bCoef(98)) % P1 % 100000L
    // ntile(4) over 8 rows in (n_chars, doc_id) order: two per stage
    val expStage = Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 2L,
      4L -> 3L, 5L -> 3L, 6L -> 4L, 7L -> 4L)
    got.foreach { case (id, st, sk, _) =>
      assert(st == expStage(id), s"stage of $id")
      assert(sk == h(id), s"shuffle key of $id")
    }
    // positions are 1..8 and follow (stage, shuffle_key, doc_id) order
    assert(got.map(_._4).sorted == (1L to 8L))
    assert(got.sortBy(_._4).map(_._1) ==
      got.sortBy(r => (r._2, r._3, r._1)).map(_._1))
    // an id past the composite-key width fails loudly, never scrambles
    val bad = Seq((10000000000L, "a", 1L)).toDF("doc_id", "source",
      "n_chars")
    val e = intercept[Exception](
      Features.curriculumSchedule(bad, "n_chars", "doc_id").collect())
    assert(e.getMessage.contains("scramble"))
  }

  test("isotonicBins: PAVA pooling via the max-min identity; monotone output") {
    // rates 1.0 / 0.0 / 1.0 -> PAVA pools bins 1+2 to 0.5, keeps 1.0
    val df = Seq((1L, 1L), (1L, 1L), (2L, 0L), (2L, 0L),
      (3L, 1L), (3L, 1L)).toDF("bucket", "y")
    val got = Features.isotonicBins(df, "bucket", col("y") === 1L)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0, 0.5),
      (2L, 2L, 0L, 0.0, 0.5),
      (3L, 2L, 2L, 1.0, 1.0)))
    assert(got.map(_._5).sliding(2).forall(p => p.head <= p.last))
    // already-monotone input: the fit IS the raw rate
    val mono = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 1L),
      (3L, 1L), (3L, 1L)).toDF("bucket", "y")
    val fit2 = Features.isotonicBins(mono, "bucket", col("y") === 1L)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    fit2.foreach { case (_, _, _, rate, iso) => assert(rate == iso) }
  }

  test("kfoldAssign: pure key function — repartition-stable, in-range, exact formula") {
    val df = (0L until 100L).toDF("k")
    val a1 = Features.kfoldAssign(df, "k", 5)
      .select("k", "fold").as[(Long, Long)].collect().toMap
    val a2 = Features.kfoldAssign(df.repartition(7), "k", 5)
      .select("k", "fold").as[(Long, Long)].collect().toMap
    assert(a1 == a2)
    assert(a1.values.forall(f => f >= 0 && f < 5))
    import graft.functions.Portable.{P1, aCoef, bCoef}
    val exp = (0L until 100L).map(k =>
      k -> (k % P1 * aCoef(17) + bCoef(17)) % P1 % 5).toMap
    assert(a1 == exp)
  }

  test("propensityWeights: weights recover originals; zero-mass stratum fails loudly") {
    val df = (0L until 200L).map(k => (k, if (k < 100) "x" else "y"))
      .toDF("k", "s")
    val got = Features.propensityWeights(df, "s", "k",
      Map("x" -> 5000, "y" -> 2000))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // membership replicated from the affine formula
    import graft.functions.Portable.{P1, aCoef, bCoef}
    def in(k: Long, bp: Long) =
      (k % P1 * aCoef(11) + bCoef(11)) % P1 < P1 / 10000L * bp
    val nx = (0L until 100L).count(in(_, 5000)).toLong
    val ny = (100L until 200L).count(in(_, 2000)).toLong
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("x", 100L, nx), ("y", 100L, ny)))
    got.foreach { case (_, no, ns, w, est, err) =>
      assert(w == no * 10000 / ns)
      assert(est == ns * w / 10000)
      assert(err == math.abs(est - no) * 10000 / no)
    }
    // a stratum whose fraction rounds to zero rows must throw in-plan
    val zero = Features.propensityWeights(df, "s", "k",
      Map("x" -> 5000), defaultBp = 0)
    val e = intercept[Exception](zero.collect())
    assert(e.getMessage.contains("zero") ||
      Option(e.getCause).exists(_.getMessage.contains("zero")))
  }

  test("kfoldReport: conserves rows and positives across folds") {
    val df = (0L until 100L).toDF("k")
    val rep = Features.kfoldReport(df, "k", col("k") % 3 === 0, 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rep.map(_._2).sum == 100L)
    assert(rep.map(_._3).sum == 34L) // multiples of 3 in [0,100)
    rep.foreach { case (_, n, pos, bp) => assert(bp == pos * 10000 / n) }
  }

  test("rfImportances: 64 rows summing to ~1 (FP12)") {
    val labeled = graft.ml.Classifiers.embeddingFeatures(
      Tables(spark, sf001, "embeddings"))
    val imp = graft.ml.Classifiers.rfImportances(spark, labeled)
      .as[(Int, Double)].collect()
    assert(imp.length == 64)
    assert(math.abs(imp.map(_._2).sum - 1.0) < 1e-6)
  }
}
