package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The materialization seam: naming, laziness, scoped release, and the
  * guard that keeps every raw materialization call inside it. */
class MaterializeSpec extends SparkTestBase {

  private def cacheManager = spark.sharedState.cacheManager
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def entry(df: DataFrame) = cacheManager.lookupCachedData(df)
  private def frame(tag: Long): DataFrame =
    spark.range(0, 200).select((col("id") * lit(tag)).as("v"))

  test("barrier plans a LogicalRDD whose RDD carries the given name") {
    Materialize.scope(spark) {
      val b = Materialize.barrier(frame(3), "spec.barrier")
      val rdd = b.queryExecution.logical match {
        case r: LogicalRDD => r.rdd
        case p => fail(s"barrier must plan a LogicalRDD, got:\n$p")
      }
      assert(rdd.name == "spec.barrier")
      assert(rdd.isCheckpointed, "barrier must be eager")
      assert(persisted(rdd.id))
      assert(b.count() == 200)
    }
  }

  test("cache is lazy and names its cache-manager entry") {
    Materialize.scope(spark) {
      val c = Materialize.cache(frame(5), "spec.cache")
      val cached = entry(c).getOrElse(fail("cache made no entry"))
        .cachedRepresentation.cacheBuilder
      assert(cached.tableName.contains("spec.cache"))
      assert(!cached.isCachedColumnBuffersLoaded, "cache must be lazy")
      assert(c.count() == 200)
      assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.name == "In-memory table spec.cache"))
    }
  }

  test("scope releases exactly what its body made, even when it throws; " +
      "values pinned before it survive") {
    val pinnedCache = Materialize.cache(frame(7), "spec.pinned.cache")
    pinnedCache.count()
    val pinnedBarrier = Materialize.barrier(frame(11), "spec.pinned.barrier")
    try {
      val rdds0 = persisted
      var inScope: Seq[DataFrame] = Nil
      def body(): Unit = {
        val c = Materialize.cache(frame(13), "spec.scoped.cache")
        c.count()
        val b = Materialize.barrier(c.filter(col("v") > 0), "spec.scoped.barrier")
        // re-caching a pinned plan must not hand its entry to the scope
        Materialize.cache(frame(7), "spec.scoped.again").count()
        inScope = Seq(c, b)
        assert(persisted.size >= rdds0.size + 2)
      }
      Materialize.scope(spark)(body())
      intercept[IllegalStateException] {
        Materialize.scope(spark) { body(); throw new IllegalStateException("boom") }
      }
      assert(persisted == rdds0, "scope left or dropped blocks")
      // an entry whose RDD alone was unpersisted would still be listed
      assert(inScope.forall(entry(_).isEmpty), "scope left a stale cache entry")
      assert(entry(pinnedCache).isDefined, "pinned cache entry was dropped")
      assert(pinnedCache.count() == 200 && pinnedBarrier.count() == 200)
    } finally {
      pinnedCache.unpersist(blocking = true)
      pinnedBarrier.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = true)
        case _ =>
      }
    }
  }

  test("graph loops name their round and hop barriers") {
    import spark.implicits._
    // 4-cycle: every node keeps degree 2, so one k-core peel converges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("da", "db")
    Materialize.scope(spark) {
      // the results hold their last barrier, so none is cleaned early
      val held = Seq(
        ops.Graphs.pagerankInt(edges, iters = 2),
        ops.Graphs.labelProp(edges, rounds = 1),
        ops.Graphs.kCore(edges, rounds = 1),
        ops.Graphs.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 1))
      val names = spark.sparkContext.getRDDStorageInfo.map(_.name).toSet
      Seq("Graphs.pagerankInt.round2", "Graphs.labelProp.round1",
        "Graphs.kCore.round1", "Graphs.bfsHops.hop1").foreach(n =>
        assert(names(n), s"no barrier named $n in $names"))
      assert(held.map(_.count()) == Seq(4L, 4L, 4L, 3L))
    }
  }

  test("raw materialization and scratch-file calls live only in their seams") {
    val seams = Seq(
      "Materialize.scala" -> Seq("localCheckpoint(", ".persist(", ".cache()",
        "getPersistentRDDs", "StorageLevel"),
      "Scratch.scala" -> Seq("java.io.tmpdir", "createTempDirectory",
        "ProcessHandle.current", "addShutdownHook"))
    val code = SourceScan.codeLines()
    val offenders = for {
      (seam, raw) <- seams
      (f, n, c) <- code if f.getName != seam && raw.exists(c.contains)
    } yield s"${f.getPath}:$n: $c"
    if (offenders.nonEmpty)
      fail("go through graft.Materialize / graft.Scratch:\n" +
        offenders.mkString("\n"))
    // the one exit hook: Scratch deletes its root, nothing else registers
    val hooks = code.filter(_._3.contains("addShutdownHook"))
    assert(hooks.map(_._1.getName) == Seq("Scratch.scala"),
      s"expected exactly one exit hook, in Scratch.scala: $hooks")
  }
}
