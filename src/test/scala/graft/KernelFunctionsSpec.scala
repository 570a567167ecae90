package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Unit specs for the round-11 codegen/aggregator kernels:
  * [[graft.functions.PqEncodeLong]] (argmin PQ encode) against a
  * driver-side brute reference, and [[graft.functions.KmvBottomAgg]]
  * (bounded bottom-k distinct hashes) against exact sorted-distinct —
  * both including the invariants the relational forms enforced
  * structurally (tie-breaks, dedup, strict lengths). */
class KernelFunctionsSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  /** Deterministic pseudo-random longs in [-scale, scale] — no RNG, so
    * the spec is bit-reproducible. */
  private def pseudo(i: Long, j: Long, scale: Int): Long =
    ((i * 2654435761L + j * 40503L) % (2L * scale + 1)) - scale

  test("PqEncodeLong equals the brute-force argmin (ties to lower code)") {
    val m = 4; val subDim = 4; val nCodes = 7; val scale = 64
    val cents: Map[(Int, Int), Array[Long]] =
      (for (s <- 0 until m; c <- 0 until nCodes) yield
        ((s, c), Array.tabulate(subDim)(d =>
          pseudo(s * 31 + c, d, scale)))).toMap
    val vecs = (0L until 200L).map(i =>
      (i, Array.tabulate(m * subDim)(d => pseudo(i, d, scale)).toSeq))
    val got = vecs.toDF("vec_id", "qv")
      .select(col("vec_id"),
        graft.functions.PqEncodeLong(col("qv"), cents, m, subDim).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    def brute(qv: Seq[Long]): Seq[Int] =
      (0 until m).map { s =>
        val ql = qv.slice(s * subDim, (s + 1) * subDim)
        (0 until nCodes).minBy { c => // minBy keeps the FIRST minimum
          val cl = cents((s, c))
          val dot = ql.zip(cl).map { case (a, b) => a * b }.sum
          cl.map(x => x * x).sum - 2L * dot
        }
      }
    vecs.foreach { case (id, qv) =>
      assert(got(id) == brute(qv), s"vec $id")
    }
  }

  test("PqEncodeLong: duplicate codewords tie to the LOWER code") {
    val cl = Array(3L, -2L)
    // codes 0 and 1 identical => every vector must encode to 0
    val cents = Map((0, 0) -> cl, (0, 1) -> cl.clone())
    val got = Seq((1L, Seq(5L, 7L)), (2L, Seq(-3L, 0L)))
      .toDF("vec_id", "qv")
      .select(graft.functions.PqEncodeLong(col("qv"), cents, 1, 2).as("c"))
      .as[Seq[Int]].collect()
    assert(got.forall(_ == Seq(0)))
  }

  test("PqEncodeLong and ArrayDot/ArrayDotLong throw on ragged input") {
    val cents = Map((0, 0) -> Array(1L, 2L))
    val ragged = Seq((1L, Seq(1L, 2L, 3L))).toDF("vec_id", "qv")
    val e1 = intercept[Exception] {
      ragged.select(graft.functions.PqEncodeLong(col("qv"), cents, 1, 2))
        .collect()
    }
    assert(e1.getMessage != null)
    val pair = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val e2 = intercept[Exception] {
      pair.select(graft.functions.ArrayDot(col("a"), col("b"))).collect()
    }
    assert(e2.getMessage != null)
    val pairL = Seq((Seq(1L, 2L), Seq(1L))).toDF("a", "b")
    val e3 = intercept[Exception] {
      pairL.select(graft.functions.ArrayDotLong(col("a"), col("b")))
        .collect()
    }
    assert(e3.getMessage != null)
  }

  test("a persist barrier keeps PqEncodeLong below the fit's posexplode") {
    // Similarity's fitOnSample update shape. Without the barrier the
    // encode stays in the outer plan, where the projections over the
    // exploded rows can pull it above the Generate and evaluate it once
    // per (vec, dim) row. Cached first, the outer plan only reads the
    // codes column out of the InMemoryRelation.
    val df = spark.range(10).select(col("id").as("vec_id"),
      array(col("id"), col("id") + 1, col("id") + 2, col("id") + 3)
        .as("qv"))
    val cents = Map((0, 0) -> Array(1L, 2L, 0L, 0L),
      (0, 1) -> Array(3L, 4L, 0L, 0L))
    val enc = graft.functions.PqEncodeLong(col("qv"), cents, 1, 4)
    val cached = df.select(col("qv"), enc.as("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def encodes(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]) =
        p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.PqEncodeLong]))
      val upd = cached.select(col("codes"),
        posexplode(col("qv")).as(Seq("dg", "qk"))).queryExecution.optimizedPlan
      val barrier = upd.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(barrier.exists(_.cacheBuilder.cachedPlan.exists(encodes)),
        s"no cached encode under the posexplode:\n${upd.treeString}")
      val leaked = upd.collect { case p if encodes(p) => p.nodeName }
      assert(leaked.isEmpty, s"encode outside the barrier:\n${upd.treeString}")
    } finally cached.unpersist()
  }

  test("KmvBottomAgg == exact sorted-distinct bottom-k, any partitioning") {
    val k = 16
    val kmv = udaf(new graft.functions.KmvBottomAgg(k),
      org.apache.spark.sql.Encoders.LONG)
    // duplicates + nulls; values chosen so dedup and the cap both bite
    val vals: Seq[Option[Long]] =
      (0 until 500).map(i => Some((i * 7919L) % 97L)) ++ Seq(None, None)
    val expected = vals.flatten.distinct.sorted.take(k)
    for (parts <- Seq(1, 3, 11)) {
      val got = vals.toDF("h").repartition(parts)
        .agg(kmv(col("h")).as("b")).as[Seq[Long]].head()
      assert(got == expected, s"parts=$parts")
    }
  }

  test("KmvBottomAgg under k distinct values returns the whole universe") {
    val kmv = udaf(new graft.functions.KmvBottomAgg(64),
      org.apache.spark.sql.Encoders.LONG)
    val got = (0L until 1000L).map(i => i % 10L).toDF("h")
      .agg(kmv(col("h")).as("b")).as[Seq[Long]].head()
    assert(got == (0L until 10L))
  }

  // ---- IvfAssignTopN (round-13 two-level coarse assignment kernel) ----

  private def ivfCents(nCents: Int, dim: Int,
      scale: Int): Map[(Int, Int), Array[Long]] =
    (0 until nCents).map(c =>
      ((0, c), Array.tabulate(dim)(d => pseudo(c * 131L, d, scale)))).toMap

  /** Brute top-nProbe reference: (dist asc, code asc) over ALL codes. */
  private def bruteTopN(qv: Seq[Long], cents: Map[(Int, Int), Array[Long]],
      nProbe: Int): Seq[Int] =
    cents.toSeq.map { case ((_, c), cl) =>
      val dot = qv.zip(cl).map { case (a, b) => a * b }.sum
      (cl.map(x => x * x).sum - 2L * dot, c)
    }.sortBy(identity).take(nProbe).map(_._2)

  test("IvfAssignTopN.flat equals brute top-nProbe (dist asc, code asc)") {
    val dim = 8; val scale = 64; val nProbe = 3
    val cents = ivfCents(29, dim, scale)
    val vecs = (0L until 200L).map(i =>
      (i, Array.tabulate(dim)(d => pseudo(i, d, scale)).toSeq))
    val got = vecs.toDF("vec_id", "qv")
      .select(col("vec_id"),
        graft.functions.IvfAssignTopN.flat(col("qv"), cents, nProbe).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    vecs.foreach { case (id, qv) =>
      assert(got(id) == bruteTopN(qv, cents, nProbe), s"vec $id")
    }
  }

  test("IvfAssignTopN with gProbe = nGroups scans everything and equals " +
      "flat exactly (the two-level index only changes WHICH lists are " +
      "scanned, never how survivors rank)") {
    val dim = 8; val scale = 64; val nProbe = 2
    val cents = ivfCents(80, dim, scale) // > TwoLevelFlatMax-sized fit
    val (groups, gcents) =
      graft.functions.IvfAssignTopN.groupCentroids(cents)
    val vecs = (0L until 150L).map(i =>
      (i, Array.tabulate(dim)(d => pseudo(i + 7L, d, scale)).toSeq))
    val df = vecs.toDF("vec_id", "qv")
    val full = df.select(col("vec_id"),
        graft.functions.IvfAssignTopN(col("qv"), cents, groups, gcents,
          gProbe = gcents.length, nProbe = nProbe).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    vecs.foreach { case (id, qv) =>
      assert(full(id) == bruteTopN(qv, cents, nProbe), s"vec $id")
    }
  }

  test("IvfAssignTopN duplicate centroids tie to the LOWER code, and " +
      "ragged input throws") {
    val cl = Array(3L, -2L, 1L, 0L)
    val cents = Map((0, 0) -> cl, (0, 1) -> cl.clone(), (0, 2) -> cl.clone())
    val got = Seq((1L, Seq(5L, 7L, -1L, 2L))).toDF("vec_id", "qv")
      .select(graft.functions.IvfAssignTopN.flat(col("qv"), cents, 2).as("c"))
      .as[Seq[Int]].collect()
    assert(got.head == Seq(0, 1))
    val e = intercept[Exception] {
      Seq((1L, Seq(1L, 2L))).toDF("vec_id", "qv")
        .select(graft.functions.IvfAssignTopN.flat(col("qv"), cents, 1))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("groupCentroids is a deterministic dense partition of the codes") {
    val cents = ivfCents(100, 8, 64)
    val (g1, c1) = graft.functions.IvfAssignTopN.groupCentroids(cents)
    val (g2, c2) = graft.functions.IvfAssignTopN.groupCentroids(cents)
    assert(g1.toSeq == g2.toSeq &&
      c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "grouping must be a pure function of the centroid table")
    assert(g1.length == 100 && c1.length == 10) // ceil(sqrt(100))
    assert(g1.forall(g => g >= 0 && g < c1.length))
  }
}
