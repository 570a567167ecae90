package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Calibration tool for [[Similarity.pqTopK]]'s ADC shortlist: prints
  * recall@k vs bruteTopK for a sweep of shortlist sizes at the env
  * corpus (`SPARK_GRAFT_SF_DIR`). Run per-sf before moving the
  * `ann_recall_pq` floor — the shortlist that holds a floor is a
  * function of corpus size and codebook resolution, not a constant.
  * `SPARK_GRAFT_PQ_M` / `SPARK_GRAFT_PQ_CB` override the codebook shape
  * (default = pqTopK's defaults), so the m·codebookSize-vs-shortlist
  * trade is measurable from the same tool.
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.PqTune [shortlists...]`. */
object PqTune {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val m = sys.env.get("SPARK_GRAFT_PQ_M").map(_.toInt).getOrElse(8)
    val cb = sys.env.get("SPARK_GRAFT_PQ_CB").map(_.toInt).getOrElse(256)
    val sweep = if (args.nonEmpty) args.map(_.toInt).toSeq
                else Seq(25, 50, 100, 200, 400)
    val spark = graft.GraftSession.local(8, appName = "graft-pqtune")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val exact = graft.Materialize.cache(Similarity.bruteTopK(emb, 20, 5)
      .select("q_id", "vec_id").withColumn("in_e", lit(1L)), "PqTune.exact")
    println(s"corpus=$n m=$m codebookSize=$cb exact_pairs=${exact.count()}")
    sweep.foreach { sl =>
      val approx = Similarity
        .pqTopK(emb, 20, 5, m = m, codebookSize = cb, shortlist = sl)
        .select("q_id", "vec_id").withColumn("in_a", lit(1L))
      val row = exact.join(approx, Seq("q_id", "vec_id"), "full")
        .agg(coalesce(sum("in_e"), lit(0L)).as("n_exact"),
          coalesce(sum(col("in_e") * col("in_a")), lit(0L)).as("n_cap"))
        .head()
      val bp = row.getLong(1) * 10000 / math.max(1L, row.getLong(0))
      println(s"shortlist=$sl recall_bp=$bp")
    }
    spark.stop()
  }
}
