package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{EntityResolution, Features}

/** The one distributed prefix construction (`Features.sliceScan`) against
  * its single-partition references, on the inputs that stress its cut
  * points, and the guard that keeps its quantile cuts the only ones. */
class SliceScanSpec extends SparkTestBase {

  // (k, v, w): k a unique tie key, scrambled against row order so a lost
  // tie-break shows; v the nullable ntile key; w a signed running value
  private def rows(n: Long, v: Column, kOffset: Long = 0L): DataFrame =
    spark.range(0, n).select(
      ((col("id") * 7919L) % 1009L + kOffset).as("k"),
      v.cast("double").as("v"),
      (col("id") % 11L - 3L).as("w"))

  private val id = col("id")
  private val inputs: Seq[(String, DataFrame)] = Seq(
    "zero rows" -> rows(0, id),
    "null ntile keys" -> rows(300, when(id % 5 === 0, lit(null)).otherwise(id % 17)),
    "a single distinct value" -> rows(300, lit(7)),
    // 120-row runs of one value: every cut and every bucket boundary
    // falls inside a run
    "heavy duplicates on both sides of a cut" -> rows(500, floor(id / 120)),
    "negative keys" -> rows(300, -(id % 37) * 1.5 - 0.25, kOffset = -5000L))

  private def byKey(df: DataFrame, out: String): Map[Long, Any] =
    df.select(col("k"), col(out)).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap

  test("withRunningTotal, rangeNtileBucket and globalRank equal their " +
      "single-partition references on edge inputs, at 1 and 32 shuffle " +
      "partitions") {
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(1, 32); (name, df) <- inputs) {
        conf.set("spark.sql.shuffle.partitions", parts.toLong)
        val at = s"$name, $parts shuffle partitions"
        Materialize.scope(spark) {
          val cum = sum("w").over(Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0))
          assert(byKey(Features.withRunningTotal(df, "k", "w", "cum"), "cum") ==
            byKey(df.withColumn("cum", cum), "cum"), s"withRunningTotal: $at")
          assert(byKey(Features.rangeNtileBucket(df, "v", "k", 3), "bucket") ==
            byKey(Features.ntileBucket(df, "v", "k", 3), "bucket"),
            s"rangeNtileBucket: $at")
          val named = df.select(col("v").cast("string").as("name"), col("k"))
          assert(byKey(EntityResolution.globalRank(named, Seq("k")), "rn") ==
            byKey(named.withColumn("rn",
              row_number().over(Window.orderBy("name", "k")).cast("long")), "rn"),
            s"globalRank: $at")
        }
      }
    } finally conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("approxQuantile is called only by the prefix construction") {
    val offenders = SourceScan.codeLines().collect {
      case (f, n, c) if c.contains("approxQuantile(") &&
          !f.getPath.endsWith("ops/Features.scala") =>
        s"${f.getPath}:$n: $c"
    }
    if (offenders.nonEmpty)
      fail("cut quantiles through Features.sliceId / sliceScan:\n" +
        offenders.mkString("\n"))
  }
}
