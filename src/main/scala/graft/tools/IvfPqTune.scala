package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Calibration for the composed IVFADC path ([[Similarity.ivfPqTopK]])
  * and the bounded codebook-fit sample: recall@k vs bruteTopK across the
  * registered configs, the nProbe sweep, and the documented ×10 retune
  * point — run per-sf before moving the `ann_recall_ivfpq` floor (the
  * PqTune discipline applied to the composition).
  *
  * One invocation regenerates BASELINE.md's config→recall table for BOTH
  * scales:
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.MakeScaled /tmp/sf1x 10"
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_X10_DIR=/tmp/sf1x \
  *   sbt "runMain graft.tools.IvfPqTune"
  * }}}
  * Without `SPARK_GRAFT_X10_DIR` only the primary corpus is swept.
  * `SPARK_GRAFT_FIT_CAP` overrides the sampled codebook-fit cap;
  * positional args override the nProbe sweep (default 2 4 8 16). */
object IvfPqTune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val x10Dir = sys.env.get("SPARK_GRAFT_X10_DIR")
    val cap = sys.env.get("SPARK_GRAFT_FIT_CAP").map(_.toInt).getOrElse(1000)
    val nc = sys.env.get("SPARK_GRAFT_IVF_NC").map(_.toInt).getOrElse(16)
    val sl = sys.env.get("SPARK_GRAFT_IVFPQ_SL").map(_.toInt).getOrElse(64)
    val sweep = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(2, 4, 8, 16)
    // FAST mode (SPARK_GRAFT_TUNE_FAST=1): registered + retune points
    // only — skips the full_fit configs, whose quantizer training
    // samples up to DefaultFitSampleCap vectors (pointlessly expensive
    // at a ×100 corpus where only the cap=1000 paths are registered)
    val fast = sys.env.get("SPARK_GRAFT_TUNE_FAST").contains("1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      appName = "graft-ivfpqtune")

    // the config list IS the table: registered points, the probe sweep,
    // and the ×10 retune point (np=12/sl=128) from BASELINE.md
    case class Cfg(label: String, run: DataFrame => DataFrame)
    val fullCfgs: Seq[Cfg] =
      if (fast) Seq.empty
      else Seq(
        Cfg("pq m=8 cb=256 sl=64 full_fit", e =>
          Similarity.pqTopK(e, 20, 5, m = 8, codebookSize = 256,
            shortlist = 64)),
        Cfg(s"pq m=8 cb=256 sl=128 cap=$cap", e =>
          Similarity.pqTopK(e, 20, 5, m = 8, codebookSize = 256,
            shortlist = 128, fitSampleCap = cap)),
        Cfg("ivf nc=16 np=4 full_fit", e => Similarity.ivfTopK(e, 20, 5)))
    val cfgs: Seq[Cfg] =
      fullCfgs ++
      Seq(
        Cfg(s"pq m=8 cb=256 sl=64 cap=$cap", e =>
          Similarity.pqTopK(e, 20, 5, m = 8, codebookSize = 256,
            shortlist = 64, fitSampleCap = cap)),
        Cfg(s"ivf nc=16 np=4 cap=$cap", e =>
          Similarity.ivfTopK(e, 20, 5, fitSampleCap = cap))) ++
      sweep.map(np => Cfg(s"ivfpq nc=$nc np=$np sl=$sl cap=$cap", e =>
        Similarity.ivfPqTopK(e, 20, 5, nCentroids = nc, nProbe = np,
          shortlist = sl, fitSampleCap = cap))) ++
      Seq(Cfg(s"ivfpq nc=$nc np=6 sl=64 cap=$cap [registered]", e =>
        Similarity.ivfPqTopK(e, 20, 5, nCentroids = nc, nProbe = 6,
          shortlist = 64, fitSampleCap = cap)),
        Cfg(s"ivfpq nc=$nc np=12 sl=128 cap=$cap [x10 retune]", e =>
          Similarity.ivfPqTopK(e, 20, 5, nCentroids = nc, nProbe = 12,
            shortlist = 128, fitSampleCap = cap)))

    def sweepDir(dir: String): Seq[(String, Long)] = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val exact = graft.Materialize.cache(Similarity.bruteTopK(emb, 20, 5)
        .select("q_id", "vec_id").withColumn("in_e", lit(1L)), "IvfPqTune.exact")
      println(s"# corpus=$dir n=$n fit_cap=$cap exact_pairs=${exact.count()}")
      def recall(approx: DataFrame): Long = {
        val row = exact.join(approx.select("q_id", "vec_id")
            .withColumn("in_a", lit(1L)), Seq("q_id", "vec_id"), "full")
          .agg(coalesce(sum("in_e"), lit(0L)).as("n_exact"),
            coalesce(sum(col("in_e") * col("in_a")), lit(0L)).as("n_cap"))
          .head()
        row.getLong(1) * 10000 / math.max(1L, row.getLong(0))
      }
      val rows = cfgs.map { c =>
        val bp = recall(c.run(emb))
        println(s"${c.label} recall_bp=$bp")
        (c.label, bp)
      }
      exact.unpersist()
      rows
    }

    val primary = sweepDir(sfDir)
    val decade = x10Dir.map(sweepDir)
    // the BASELINE.md table, regenerated
    println(decade.fold("\n| config | recall_bp |")(_ =>
      "\n| config | recall_bp @sf | recall_bp @x10 |"))
    println(decade.fold("|---|---|")(_ => "|---|---|---|"))
    primary.zipWithIndex.foreach { case ((label, bp), i) =>
      decade match {
        case Some(d) => println(s"| $label | $bp | ${d(i)._2} |")
        case None    => println(s"| $label | $bp |")
      }
    }
    spark.stop()
  }
}
