package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan auditor (dev tool): dumps the formatted physical plan of every
  * registered query and greps it for the scale red flags — missing
  * parquet pushdown/pruning, unexpected sort-merge joins where a
  * broadcast was intended, CartesianProduct, non-codegen stages — then
  * counts the custom kernels in the optimized logical plan.
  *
  * Usage: sbt "runMain graft.tools.Explain [namePrefix]"
  */
object Explain {
  /** The custom codegen kernels. One that appears more times than the
    * query's intent (hoisted above a Generate by CollapseProject, or
    * duplicated into an inferred filter) multiplies its per-row cost by
    * the generator fanout. The counts are a cheap tripwire; the flagged
    * plans get read by hand. */
  private val Kernels = Seq("ivf_assign_topn", "pq_encode_long",
    "simhash60", "word_shingle_hashes", "word_shingle_poly_hashes",
    "sign_lsh_keys", "array_dot", "jaro_winkler", "rolling_hash",
    "word_shingles")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val prefix = args.headOption.getOrElse("")
    val spark = GraftSession.local(8, appName = "graft-explain")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
      .foreach { case (name, fn) =>
        println(s"\n================ $name ================")
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          println(plan)
          // NB: an unexecuted AdaptiveSparkPlan shows no codegen ids, so
          // codegen presence can't be asserted here — audit it on the
          // executed plan in the Spark UI / df.queryExecution instead.
          val flags = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "SortMergeJoin (check broadcast intent)" ->
              plan.contains("SortMergeJoin"))
            .collect { case (f, true) => f }
          if (flags.nonEmpty) println(s"!! FLAGS: ${flags.mkString(", ")}")
          val optimized = df.queryExecution.optimizedPlan.treeString
          val counts = Kernels.map(k =>
              k -> ("\\b" + k + "\\b").r.findAllMatchIn(optimized).size)
            .filter(_._2 > 0)
          if (counts.nonEmpty) println("kernels: " +
            counts.map { case (k, n) => s"$k=$n" }.mkString(", "))
        } catch {
          case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
