package graft

import org.apache.spark.sql.functions._

import graft.sources.ZOrder

class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  private val tmp = Scratch.fresh("zorder-spec")

  test("mortonKey: bit interleave, known values") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L))
      .toDF("x", "y")
      .select(ZOrder.mortonKey(col("x"), col("y"), 10).as("z"))
      .as[Long].collect().toSeq
    // interleave(3=0b011, 5=0b101) = x bits at even, y bits at odd:
    // x:1,1,0 -> 1,4; y:1,0,1 -> 2,32 => 1+4+2+32 = 39
    assert(got == Seq(0L, 1L, 2L, 39L, (1L << 20) - 1))
  }

  test("mortonKey: exhaustive bijection + per-axis monotonicity (bits=6)") {
    val n = 64
    val z = (for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong))
      .toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.mortonKey(col("x"), col("y"), 6).as("z"))
      .as[(Long, Long, Long)].collect()
    // bijective onto [0, n²): no two cells share a key
    assert(z.map(_._3).distinct.length == n * n)
    assert(z.forall(t => t._3 >= 0 && t._3 < n.toLong * n))
    // Scala-side deinterleave reproduces both inputs exactly
    def de(v: Long, off: Int): Long =
      (0 until 6).map(i => ((v >> (2 * i + off)) & 1L) << i).sum
    z.foreach { case (x, y, zz) =>
      assert(de(zz, 0) == x && de(zz, 1) == y, s"roundtrip at ($x,$y)") }
    // monotone along each axis (fixed y: z strictly increases with x) —
    // the property that makes per-file z-ranges imply per-axis ranges
    z.groupBy(_._2).values.foreach { row =>
      val zs = row.sortBy(_._1).map(_._3)
      assert(zs.sliding(2).forall(s => s(0) < s(1)))
    }
  }

  test("z-order layout: content is untouched, files prune on BOTH dims") {
    val orders = Tables(spark, sf0001, "orders")
    val zdir = s"$tmp/z"
    val ldir = s"$tmp/linear"
    ZOrder.write(orders, zdir, "o_custkey", "o_totalprice",
      bits = 10, numFiles = 16)
    // the single-column baseline: perfectly sorted by x, blind on y
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(ldir)

    // layout never changes content
    val a = spark.read.parquet(zdir).orderBy("o_orderkey")
      .select("o_orderkey").as[Long].collect().toSeq
    val b = orders.orderBy("o_orderkey")
      .select("o_orderkey").as[Long].collect().toSeq
    assert(a == b)

    // file-level min/max pruning, measured from the files themselves:
    // count files whose [min,max] interval on a column intersects a
    // narrow band around that column's median (what a min/max-stats
    // reader must touch for `col BETWEEN lo AND hi`)
    def filesTouching(dir: String, c: String, lo: Double, hi: Double): Long =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c).cast("double")).as("clo"),
          max(col(c).cast("double")).as("chi"))
        .filter(col("clo") <= hi && col("chi") >= lo)
        .count()
    val Array(yLo, yHi) =
      orders.stat.approxQuantile("o_totalprice", Array(0.49, 0.51), 0.0)
    val zTouch = filesTouching(zdir, "o_totalprice", yLo, yHi)
    val lTouch = filesTouching(ldir, "o_totalprice", yLo, yHi)
    // x-sorted layout is blind on y: essentially every file intersects;
    // the z-layout's per-file y-ranges are compact, so most files skip
    assert(lTouch >= 14, s"x-sorted baseline should touch ~all 16, got $lTouch")
    assert(zTouch * 2 <= lTouch,
      s"z-order should at least halve touched files: $zTouch vs $lTouch")
    // the trade: on the sorted dim itself z-order stays useful (bounded
    // loss vs the perfect single-dim sort)
    val Array(xLo, xHi) =
      orders.stat.approxQuantile("o_custkey", Array(0.49, 0.51), 0.0)
    val zx = filesTouching(zdir, "o_custkey", xLo, xHi)
    assert(zx <= 8, s"z-order x-band should touch at most half the files, got $zx")
  }
}
