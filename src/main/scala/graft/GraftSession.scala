package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale posture baked in.
  *
  * Local/test entrypoints (Verify, Bench, specs) pass `local[n]`; on a
  * real cluster call `builder()` with no master and submit normally —
  * every setting below is master-agnostic.
  *
  * The 100 TB design choices (SURVEY.md §7 M5), and why:
  *  - AQE on (default in Spark 4) + skew-join handling: runtime
  *    re-planning fixes what static planning can't know at 1000
  *    executors — stats drift, skewed keys, over-partitioned shuffles.
  *  - shuffle partitions sized to cores (locally) — on a cluster, AQE
  *    coalesces from a deliberately high initial number instead; the
  *    engine never mid-plan repartition(1)s (the reference did, before
  *    every sink — SURVEY §2d O5).
  *  - broadcast threshold left at default 10 MB: every dimension join in
  *    SparkEntry broadcasts explicitly where we KNOW the side is small
  *    (`broadcast(dim)`), which survives stats loss at scale.
  *  - UTC session timezone: timestamp semantics must not depend on
  *    cluster locale.
  *  - parquet nanos-as-long: the corpus' TIMESTAMP(NANOS) columns are
  *    unreadable as timestamps by Spark 4; graft.ops.Events normalizes.
  *  - the `file:` scheme, for the FileSystem and the FileContext API, is
  *    graft.sources.LocalFs: Hadoop's local filesystem without the
  *    `chmod`/`readlink`/`ls` subprocess per file it starts when
  *    `libhadoop` is absent. Other schemes keep Hadoop's classes.
  */
object GraftSession {

  def builder(master: Option[String] = None,
      shufflePartitions: Int = 32,
      initialPartitions: Option[Int] = Some(1024)): SparkSession.Builder = {
    val b0 = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // AQE only coalesces DOWN — on a cluster, shuffles must START from a
    // high partition count or parallelism is capped at shufflePartitions.
    // Cluster default 1024; local() passes None (tiny corpora, the start
    // count would be pure scheduling overhead).
    val b = initialPartitions.fold(b0)(n => b0.config(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.hadoop.fs.file.impl",
        classOf[sources.LocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[sources.LocalFs].getName)
    master.fold(b)(b.master)
  }

  /** The local[n] session every repo entrypoint uses. */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = builder(Some(s"local[$cores]"), shufflePartitions = cores,
        initialPartitions = None)
      .appName(appName)
      .config("spark.ui.enabled", "false")
      // bucketed tables must never pollute the repo
      .config("spark.sql.warehouse.dir", Scratch.dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
