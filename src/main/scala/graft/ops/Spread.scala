package graft.ops

import org.apache.spark.sql.DataFrame

/** Fan a few-file scan out to the session's full parallelism before
  * row-multiplying work (shingle/trigram explodes, iterative ML fits).
  *
  * Compact corpora arrive as one or two parquet files, so the scan —
  * and everything narrow-chained onto it, which for an explode can be
  * 1000x the input rows — runs on one core. Gate on the scan's FILE
  * count (plan inspection only — probing rdd.getNumPartitions would
  * force AQE to materialize every upstream stage of a derived input
  * just to read a number): few-or-no files → repartition (the shuffle
  * moves only the raw rows); many files means the scan is already
  * parallel (the real-scale case) → no-op.
  *
  * The multimodal image/GIF kernels spread their doc_id stream: ~1 ms
  * of ImageIO codec work per payload ran on 1-2 cores, 4.9 s for
  * mm_decode_real at sf0.1 (round 14). The javax.sound WAV paths
  * measured 2-3x SLOWER spread across 32 cores (AudioSystem's provider
  * lookup serializes on a global registry lock) and keep the narrow
  * scan. Per-row results are partition-independent and every query
  * ends in a total order, so oracles are unaffected. */
private[graft] object Spread {
  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < target) df.repartition(target) else df
  }
}
