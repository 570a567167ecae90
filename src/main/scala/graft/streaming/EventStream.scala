package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.types._

/** Structured Streaming twins of `graft.ops.Events` (EXT surface — the
  * reference has no streaming at all, SURVEY.md §2f; this is the
  * `readStream → transform → writeStream` path mandated by the repo
  * north star).
  *
  * Batch/stream parity: `tumblingCounts` produces the same rows as
  * `Events.tumblingAgg` once all windows close, and `sessionAgg` the same
  * session boundaries as `Events.sessionize` (gap semantics identical —
  * native `session_window` merges events closer than the gap).
  *
  * Scale: all stateful ops are keyed by (window×type) / (user×session) —
  * state is hash-partitioned across executors and bounded by the
  * watermark, which evicts closed windows/sessions; no unbounded state.
  */
object EventStream {

  /** events-table schema for streaming file sources (streams must declare
    * schemas up front — no inference at runtime). `ts` is event time. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The corpus parquet's own schema, probed from the file footer on the
    * driver (one metadata read — streams must declare schemas up front,
    * so the staging-time probe is how a file stream adapts to whatever
    * `ts` encoding the corpus generation chose; `graft.ops.Events.tsUs`
    * is the batch-side twin of this discipline). */
  def probeFileSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** File-based stream source: new parquet files under `path` become
    * micro-batches (`maxFilesPerTrigger` caps per-batch work). `path` may
    * be a single file or glob; partition discovery needs a DIRECTORY
    * basePath, so single-file callers pass the parent dir explicitly. */
  def readParquetStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16,
      sourceSchema: StructType = schema): DataFrame = {
    val df = spark.readStream
      .schema(sourceSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    // normalize `ts` to TimestampType whatever the corpus encoding:
    // nanosecond LONG (legacy TIMESTAMP(NANOS) corpora — floor division
    // like Events.tsUs, pre-1970 values round down) or TIMESTAMP_NTZ
    // (current corpora — exact cast under the session's UTC timezone).
    // Schemas without a ts column (e.g. documents) pass through untouched.
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts",
        timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Streaming twin of Events.tumblingAgg: per (1-hour window, type)
    * count + exact sum, with an event-time watermark bounding state. */
  def tumblingCounts(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Stateful operators instantiate one state store PER shuffle partition
    * PER stateful op (a stream-stream join pays 2 stores/partition), so
    * the parity streams run at 8 partitions — pinned at first run from
    * this conf — under [[withConf]], which restores the batch conf after.
    * Much of the fixed store open/commit cost was `chmod`/`readlink`
    * subprocesses, gone with [[graft.sources.LocalFs]]; since then 8 and
    * 4 partitions measure the same (the six `write_stream` parities at
    * sf0.1 on 4 cores, Bench min of 3: 8.6 / 7.9 s at 8, 7.8 / 8.1 s at
    * 4). Production streams size this to their key space. */
  private val StreamPartitions = "spark.sql.shuffle.partitions" -> "8"

  /** The RocksDB state store, required by the v2 state API. */
  private val RocksDb =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with `confs` set on the session and each previous value
    * (or its absence) restored after — streams pin their confs at start,
    * so the change cannot leak into the run or out of it. */
  private def withConf[T](spark: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Stages one single-file parquet slice of `df` per predicate of
    * `slices`, surfaced directly under `stage` (file sources don't recurse
    * into non-partition subdirs) with STRICTLY INCREASING modification
    * times: FileStreamSource lists files by timestamp, so with
    * maxFilesPerTrigger=1 micro-batch i reads exactly slice i. */
  private def stageSlices(df: DataFrame, stage: java.nio.file.Path,
      slices: Seq[Column]): Unit = {
    import java.nio.file.Files
    slices.zipWithIndex.foreach { case (keep, i) =>
      val dir = stage.resolve(s"slice_$i")
      df.filter(keep).coalesce(1).write.mode("overwrite")
        .parquet(dir.toString)
      val listing = Files.list(dir)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listing.close()
      val staged = stage.resolve(s"slice_$i.parquet")
      Files.move(part, staged)
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
  }

  /** Shared harness of the `*ParityRun` queries: stage the single-file
    * corpus parquet into a fresh scratch directory (a file stream source
    * needs a DIRECTORY — FileStreamSource pins partition-discovery
    * basePath to the source path — and files arriving in a watched dir is
    * the honest shape of a file stream anyway), run `transform` of the
    * stream through a `foreachBatch` PARQUET sink with an AvailableNow
    * trigger, and return the sink files as a read-back DataFrame.
    *
    * The sink never touches the driver: complete-mode batches (each one
    * the full re-computed result) overwrite the output dir so the last
    * batch wins; append/update batches append, tagged with `__batch_id`
    * so downstream parity logic can select each key's FINAL emission
    * without assuming emitted rows are unique. Unlike the earlier
    * memory-sink + collect() formulation, output size is bounded by the
    * executors' write throughput, not driver memory — at 100× key
    * cardinality the parity read-back stays a distributed scan. */
  private def parityRun(spark: SparkSession, path: String, tag: String,
      maxFilesPerTrigger: Int, outputMode: String,
      sourceSchema: StructType = null)(
      transform: DataFrame => DataFrame): DataFrame = {
    val srcSchema =
      if (sourceSchema ne null) sourceSchema else probeFileSchema(spark, path)
    import java.nio.file.{Files, Paths}
    // per-invocation sink dir AND staging dir: repeated runs must not
    // collide, and a reused directory must never replay files staged by
    // an EARLIER invocation (stale files would corrupt parity results)
    val stage = graft.Scratch.fresh(s"stream-stage-$tag")
    val src = Paths.get(path)
    Files.copy(src, Paths.get(stage).resolve(src.getFileName))
    val out = graft.Scratch.fresh(s"stream-result-$tag")
    val ckpt = graft.Scratch.fresh(s"stream-ckpt-$tag")
    val complete = outputMode == "complete"
    val sink: (DataFrame, Long) => Unit = { (batch, batchId) =>
      if (complete) batch.write.mode("overwrite").parquet(out)
      else batch.withColumn("__batch_id", lit(batchId))
        .write.mode("append").parquet(out)
    }
    try withConf(spark, StreamPartitions) {
      val q = transform(
        readParquetStream(spark, stage, maxFilesPerTrigger,
          sourceSchema = srcSchema))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(outputMode)
        .foreachBatch(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out)
    } finally {
      // the staged copy and the checkpoint served this one run; don't
      // accumulate per call
      graft.Scratch.delete(stage)
      graft.Scratch.delete(ckpt)
    }
  }

  /** Execute [[tumblingCounts]] as a REAL streaming query over the events
    * parquet path — file-source micro-batches, `AvailableNow` trigger (a
    * bounded run over everything currently in the source, the standard
    * backfill/parity harness), complete-mode file sink — and return the
    * final result, totally ordered. In complete mode no window is ever
    * evicted, so the result equals the batch `Events.tumblingAgg` exactly:
    * this is the driver-oracle surface for the streaming family. */
  def tumblingCountsParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "tumbling", maxFilesPerTrigger, "complete")(
      tumblingCounts(_))
      .orderBy("win_start_us", "event_type")

  /** Sliding-window streaming aggregate — the OVERLAPPING-window member
    * of the stateful family ([[tumblingCounts]]' twin at windowSec >
    * slideSec): each event lands in windowSec/slideSec windows, so the
    * stateful agg maintains that many live windows per (slot, type) —
    * state is (window span / slide)·|types| rows, bounded by the
    * watermark evicting closed windows in append deployments; the
    * complete-mode parity run keeps them all so the result equals the
    * batch [[graft.ops.Events.slidingAgg]] exactly (same 1 h window /
    * 30 min slide, same decimal-exact sum). */
  def slidingCounts(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "3600 seconds", "1800 seconds"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("cnt"), col("sum_value"))

  def slidingCountsParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "sliding", maxFilesPerTrigger, "complete")(
      slidingCounts(_))
      .orderBy("win_start_us", "event_type")

  /** Streaming HyperLogLog — the sketch's merge law (registers combine
    * by cell-wise max, SketchesSpec) IS Spark's partial/final aggregate
    * algebra, so maintaining the sketch over a stream needs no custom
    * state at all: [[graft.ops.Sketches.hllRegisters]]'s
    * `groupBy(bucket).max(rho)` runs as a stateful streaming aggregate
    * whose state is permanently ≤ m rows. Complete mode emits the final
    * register table through the driver-free parquet sink; the batch
    * summary over the read-back equals the batch-built sketch exactly —
    * which is what makes the STREAMING approx-distinct oracle-checkable
    * end to end (the DuckDB twin recomputes registers and estimate from
    * the same events). */
  def hllParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "hll", maxFilesPerTrigger, "complete")(ev =>
      graft.ops.Sketches.hllRegisters(ev.select("event_id"), "event_id"))

  /** The histogram sketch maintained as a streaming aggregate: bin
    * counts are sum-mergeable (the mergeability that makes the sketch a
    * sketch), so `histCounts` IS a valid streaming groupBy — state
    * permanently ≤ `bins` rows like [[hllParityRun]]'s register table.
    * Value-cents geometry [0, 2¹⁶) in 1024 × 64-cent bins covers the
    * corpus value range at every SF. */
  def histParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "hist", maxFilesPerTrigger, "complete")(ev =>
      graft.ops.Sketches.histCounts(
        ev.select(round(col("value") * 100).cast("long").as("cents")),
        "cents", 0L, 64L, 1024))

  /** The bitmap-distinct word table as stream state: 32-id bitmap words
    * `bit_or`-merge across micro-batches (OR is the bitmap rollup law —
    * [[graft.ops.Sketches.bitmapDistinct]]'s '(all)' construction run
    * incrementally), so the final word table equals the batch one BIT
    * FOR BIT and the popcounts are EXACT distincts, not estimates.
    * State is \|types\|·\|id-universe\|/32 longs forever — the
    * always-on exact distinct-users monitor a stream keeps while ids
    * stay dictionary-encoded; the HLL twin above is the fallback when
    * they don't. */
  def bitmapParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "bitmap", maxFilesPerTrigger, "complete")(ev =>
      ev.select(col("event_type"), expr("user_id div 32").as("widx"),
          call_function("shiftleft", lit(1L),
            (col("user_id") % 32).cast("int")).as("bit"))
        .groupBy("event_type", "widx")
        .agg(expr("bit_or(bit)").as("word")))

  /** The AMS F₂ sketch as stream state: the 128 sign counters
    * maintained as a streaming aggregate — signs ADD across
    * micro-batches (the sketch's merge law is literally `sum`), so the
    * final counter table equals the batch one BIT FOR BIT, not
    * approximately. The always-on self-join-size / key-skew monitor a
    * pipeline keeps beside the stream: R rows of state forever,
    * whatever the volume. Keyed on user_id — F₂ of the user activity
    * distribution, the "is one user dominating the stream" number. */
  def amsParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "ams", maxFilesPerTrigger, "complete")(ev =>
      graft.ops.Sketches.amsCounters(ev.select("user_id"), "user_id"))

  /** The data-quality monitor as stream state: a fused one-row
    * conditional aggregate of Check-rule violation counts (the
    * [[graft.ops.DataQuality]] fused-scan shape) maintained as a
    * streaming aggregate — counts sum-merge, so the monitor's state is
    * ONE row forever and the final row equals the batch report exactly.
    * The always-on ingest guardrail a pipeline runs beside the stream. */
  def dqParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "dq", maxFilesPerTrigger, "complete")(ev =>
      ev.agg(count(lit(1)).as("n_rows"),
        sum(when(col("value") > 400, 1L).otherwise(0L)).as("v_gt400"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("v_neg"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L))
          .as("v_null_type")))

  /** Streaming micro-batches committed into a versioned snapshot table
    * ([[graft.sources.Snapshots.commitAppend]] per batch via
    * foreachBatch) — the "stream into an ACID table" shape: every
    * version is a whole number of micro-batches, a concurrent reader
    * can never see a torn batch, and the table's version history IS the
    * stream's progress log (time travel to any prefix). The source is
    * staged as `nSplits` files read one per trigger, so the run
    * genuinely exercises multiple commits, not one. Returns the final
    * table read (driver-free: the read plans the last manifest's
    * files). */
  def snapshotSinkRun(spark: SparkSession, path: String,
      nSplits: Int = 4): DataFrame =
    snapshotSinkRunWithRoot(spark, path, nSplits)._1

  /** [[snapshotSinkRun]] also returning the table root, so specs can
    * inspect the version history the run produced. */
  def snapshotSinkRunWithRoot(spark: SparkSession, path: String,
      nSplits: Int = 4): (DataFrame, String) = {
    val stage = graft.Scratch.fresh("stream-stage-snap")
    val srcSchema = probeFileSchema(spark, path)
    spark.read.schema(srcSchema).parquet(path)
      .repartitionByRange(nSplits, col("event_id"))
      .write.mode("overwrite").parquet(stage)
    val tableRoot = graft.Scratch.fresh("stream-result-snap")
    val q = readParquetStream(spark, stage, maxFilesPerTrigger = 1,
        sourceSchema = srcSchema)
      .writeStream
      .option("checkpointLocation", graft.Scratch.fresh("stream-ckpt-snap"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Snapshots.commitAppend(batch, tableRoot): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (graft.sources.Snapshots.read(spark, tableRoot), tableRoot)
  }

  /** Stream-static enrichment — the classic fact-stream × dimension
    * shape: every micro-batch of the event stream joins a STATIC
    * dimension (no watermark needed on the static side; Spark re-plans
    * the join per batch with the dim broadcast), then a stateful count
    * per (segment, event_type) accumulates across batches. The dim join
    * is stateless — only the downstream aggregate holds state — which is
    * exactly why this shape scales: a 1000-executor stream enriches at
    * map speed against a broadcast dim and shuffles only group keys. */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim.select(col("c_custkey"),
        col("c_mktsegment").as("segment"))),
      col("user_id") === col("c_custkey"))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  /** [[enrichedCounts]] as a real AvailableNow run (complete-mode memory
    * sink): final counts equal the batch events × customer join exactly —
    * the seventh driver-oracle'd streaming parity family. */
  def enrichmentParityRun(spark: SparkSession, path: String,
      dim: DataFrame, maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "enrich", maxFilesPerTrigger, "complete")(
      enrichedCounts(_, dim))
      .orderBy("segment", "event_type")

  /** Streaming twin of Events.sessionize: native session windows (gap
    * merge) keyed by user. Watermark evicts closed sessions. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  /** Execute [[sessionAgg]] as a REAL streaming query (complete-mode
    * memory sink — no eviction, so the final sessions equal a batch
    * sessionization) and return them totally ordered. `last_us` is the
    * last EVENT's time (session_window.end minus the gap — the native
    * window's end is last+gap by definition). NB the boundary semantics
    * the oracle must mirror: session_window windows are half-open
    * `[start, last+gap)`, so two events exactly `gap` apart do NOT merge
    * — the batch twin's new-session condition is `diff >= gap`, not
    * `>` (Events.sessionize uses `>`; both are correct sessionizers,
    * they just disagree on the measure-zero boundary). */
  def sessionParityRun(spark: SparkSession, path: String,
      gapMinutes: Int = 30, maxFilesPerTrigger: Int = 16): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    parityRun(spark, path, "session", maxFilesPerTrigger, "complete")(
      sessionAgg(_, gap = s"$gapMinutes minutes"))
      .withColumn("last_us", col("end_us") - gapUs)
      .select("user_id", "start_us", "last_us", "n_events", "sum_value")
      .orderBy("user_id", "start_us")
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserState(nEvents: Long, sumValue: Double)
  case class UserStats(user_id: Long, n_events: Long, sum_value: Double)

  /** Stream-stream interval join: each left event pairs with right
    * events of the same user whose time is within [left.ts - within,
    * left.ts]. Both sides carry watermarks so the join state (buffered
    * unmatched rows) is evicted once the interval can no longer be
    * satisfied — bounded state, the canonical watermarked two-stream
    * join shape. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      within: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val l = left.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("l_event_id"), col("ts").as("l_ts"),
        col("user_id"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("r_event_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user_id"), col("value").as("r_value"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts"))
      .select("l_event_id", "r_event_id", "user_id", "l_value", "r_value")
  }

  /** Execute [[intervalJoin]] as a REAL two-stream query (both sides are
    * type-filters of the same staged file source) with AvailableNow +
    * append memory sink. Every match is emitted in the micro-batch where
    * both sides are present, so the bounded run equals the batch interval
    * join exactly — the stream-stream join's driver-oracle surface. */
  def intervalJoinParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    parityRun(spark, path, "ijoin", maxFilesPerTrigger, "append") { events =>
      // every 4th user: the parity check needs the two-stream state
      // machinery exercised end to end, not the full O(pairs) corpus
      // result collected into the memory sink
      val slice = events.filter(col("user_id") % 4 === 0)
      intervalJoin(
        slice.filter(col("event_type") === "click"),
        slice.filter(col("event_type") === "view"))
    }
      .drop("__batch_id") // append mode: each match emitted exactly once
      .orderBy("l_event_id", "r_event_id")

  case class Doc(doc_id: Long, fingerprint: String)

  /** Streaming exact dedup via flatMapGroupsWithState: keyed by content
    * fingerprint, the first document ever seen for a fingerprint is
    * emitted, later arrivals (same or later micro-batch) are dropped —
    * the streaming twin of `graft.ops.Dedup.exact` for continuous
    * ingestion. State per key is one boolean-sized record; bound key
    * cardinality with a timeout when fingerprints are unbounded. */
  def streamingDedup(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Long, Doc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (fp, batch, state) =>
        if (state.exists) Iterator.empty
        else {
          val first = batch.minBy(_.doc_id)
          state.update(first.doc_id)
          Iterator.single(first)
        }
      }
  }

  /** documents-table schema for streaming file sources (the continuous-
    * ingestion side of the dedup family). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Execute [[streamingDedup]] as a REAL streaming query over the
    * documents parquet path (same staging + AvailableNow + memory-sink
    * harness as [[tumblingCountsParityRun]]) and return the kept docs.
    * Fingerprint = md5(text), the same content key as `Dedup.exact` — so
    * with every document visible to the bounded run, the kept set equals
    * the batch rule "lowest doc_id per fingerprint survives", which is
    * the DuckDB oracle. */
  def dedupParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    import spark.implicits._
    parityRun(spark, path, "dedup", maxFilesPerTrigger, "append",
      sourceSchema = docSchema) { docs =>
      streamingDedup(
        docs.select(col("doc_id"), md5(col("text")).as("fingerprint"))
          .as[Doc])
        .toDF()
    }
      .drop("__batch_id") // append mode: each kept doc emitted exactly once
      .orderBy("doc_id")
  }

  case class UserCents(user_id: Long, n_events: Long, cents: Long)

  /** Execute a mapGroupsWithState per-user running total as a REAL
    * streaming query over the events parquet path (same staging +
    * AvailableNow + memory-sink harness as [[tumblingCountsParityRun]])
    * and return the FINAL per-user totals. Update mode emits one row per
    * (user, micro-batch that touched it); the final row per user is the
    * one with the highest n_events (strictly monotone per update), picked
    * with a window — so the result is batch-equal however the file is
    * split into micro-batches. Values accumulate in INTEGER CENTS:
    * state-iterator order inside a group is not guaranteed, and double
    * addition is order-sensitive — exact cents are order-independent and
    * match the DECIMAL-sum oracle exactly. */
  def userStatsParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    import spark.implicits._
    val sunk = parityRun(spark, path, "userstats", maxFilesPerTrigger,
      "update") { events =>
      events
        // null-safety before the non-nullable tuple encoder: a null value
        // contributes 0 cents but still counts (matching the count(*) /
        // null-skipping sum of the batch oracle); a null user_id row is
        // dropped on both sides
        .filter(col("user_id").isNotNull)
        .select(col("user_id"),
          coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("cents"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState[UserCents, UserCents](GroupStateTimeout.NoTimeout) {
          (uid, batch, state) =>
            val prev = if (state.exists) state.get else UserCents(uid, 0L, 0L)
            var n = prev.n_events
            var c = prev.cents
            batch.foreach { e => n += 1; c += e._2 }
            val next = UserCents(uid, n, c)
            state.update(next)
            next
        }
        .toDF()
    }
    // update mode emits one row per (user, touched micro-batch); the final
    // row per user is the one with the highest n_events (strictly monotone
    // per update), so the result is batch-equal however the source was
    // split into micro-batches
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("n_events"))
    sunk
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select("user_id", "n_events", "cents")
      .orderBy("user_id")
  }

  case class LatestRow(user_id: Long, last_us: Long, last_event_id: Long,
      last_cents: Option[Long])

  /** Spark 4 arbitrary-state API v2 showcase ([[org.apache.spark.sql.
    * streaming.StatefulProcessor]] + `transformWithState`, the successor
    * of mapGroupsWithState): per-user ValueState holding the latest event
    * by (event time, event_id). The merge is a max — commutative and
    * associative — so the final state is independent of how the source
    * splits into micro-batches: the parity property. TTLConfig.NONE
    * because the key space is the user dimension (bounded); a TTL is one
    * argument away for unbounded key spaces. */
  private class LatestEventProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, LatestRow, LatestRow] {
    @transient private var latest:
        org.apache.spark.sql.streaming.ValueState[LatestRow] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      latest = getHandle.getValueState[LatestRow]("latest",
        org.apache.spark.sql.Encoders.product[LatestRow],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[LatestRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LatestRow] = {
      var cur = if (latest.exists()) latest.get() else null
      rows.foreach { r =>
        if (cur == null || r.last_us > cur.last_us ||
            (r.last_us == cur.last_us && r.last_event_id > cur.last_event_id))
          cur = r
      }
      latest.update(cur)
      Iterator.single(cur)
    }
  }

  /** The event -> (user, us, event_id, cents) projection shared by the
    * whole latest-event family. Cents stay NULLABLE (Option) for a null
    * `value` — matching the foreachBatch upsert twin and the SQL oracles
    * (CAST(round(NULL*100) AS BIGINT) IS NULL). Rows with a null
    * user_id or ts are dropped — mirrored by the tws oracles' WHERE
    * clause (user_id is the group key; a null ts cannot ride the
    * non-Option last_us encoder). */
  private def latestRows(events: DataFrame): Dataset[LatestRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        unix_micros(col("ts")).as("last_us"),
        col("event_id").as("last_event_id"),
        round(col("value") * 100).cast("long").as("last_cents"))
      .as[LatestRow]
  }

  /** The latest-event-per-user stream through [[LatestEventProcessor]].
    * All arithmetic (epoch micros, cents) happens in SQL expressions
    * BEFORE the typed boundary, so the processor only compares longs —
    * nothing to drift vs the batch/oracle forms. */
  def twsLatest(events: DataFrame): Dataset[LatestRow] =
    latestRows(events)
      .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .transformWithState(new LatestEventProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())(
        org.apache.spark.sql.Encoders.product[LatestRow])

  /** Parity family for [[twsLatest]]: real AvailableNow run over the
    * staged corpus, final state == the batch latest-event-per-user
    * (same oracle as the foreachBatch upsert — two implementations, one
    * contract). */
  def twsLatestParityRun(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 16): DataFrame = withConf(spark, RocksDb) {
    val sunk = parityRun(spark, path, "twslatest", maxFilesPerTrigger,
      "update") { events => twsLatest(events).toDF() }
    // update mode emits the running state per touched micro-batch; the
    // state is max-monotone, so the final row per user is the max
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
    sunk.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select("user_id", "last_us", "last_event_id", "last_cents")
      .orderBy("user_id")
  }

  /** ListState member of the v2-API family: per-user top-`k` events by
    * (event time, event_id), kept as a bounded ListState. The kept set
    * is the k-max of everything seen — commutative/associative, so the
    * final state is micro-batch-slicing-independent like [[twsLatest]].
    * State is hard-bounded at k rows per user (the v2 analogue of the
    * typed TopK Aggregator's ≤k-rows-per-group contract). */
  private class TopKEventsProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, LatestRow, LatestRow] {
    @transient private var kept:
        org.apache.spark.sql.streaming.ListState[LatestRow] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      kept = getHandle.getListState[LatestRow]("topk",
        org.apache.spark.sql.Encoders.product[LatestRow],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[LatestRow],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[LatestRow] = {
      val merged = (kept.get() ++ rows)
        .toArray
        .sortBy(r => (-r.last_us, -r.last_event_id))
        .take(k)
      kept.put(merged)
      merged.iterator
    }
  }

  /** Parity family for [[TopKEventsProcessor]]: each emission is the
    * key's then-current FULL top-k, so the rows of each user's LAST
    * emission (highest `__batch_id` touching that user — the harness tags
    * every update-mode batch) ARE the final top-k. Selecting by final
    * emission makes no uniqueness assumption about event rows: two
    * identical input events both survive into the emission and rank 1
    * and 2, exactly as the batch/DuckDB oracle ranks them (a `distinct()`
    * over all emissions would have collapsed them). */
  def twsTopKParityRun(spark: SparkSession, path: String, k: Int = 3,
      maxFilesPerTrigger: Int = 16): DataFrame = withConf(spark, RocksDb) {
    val sunk = parityRun(spark, path, "twstopk", maxFilesPerTrigger,
      "update") { events =>
      latestRows(events)
        .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
        .transformWithState(new TopKEventsProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())(
          org.apache.spark.sql.Encoders.product[LatestRow])
        .toDF()
    }
    val perUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
    sunk
      .withColumn("__last_emit", max("__batch_id").over(perUser))
      .filter(col("__batch_id") === col("__last_emit"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("user_id", "rnk", "last_us", "last_event_id", "last_cents")
      .orderBy("user_id", "rnk")
  }

  /** Streaming merge-upsert sink via foreachBatch — the sink-side pattern
    * every CDC/ingestion stream ends in: each micro-batch upserts "latest
    * event per user" into a keyed table. Without a transactional table
    * format in this container, the merge is expressed as versioned
    * full-state parquet: batch N reads state version N-1 (a distributed
    * scan, nothing collected), unions the batch's updates, keeps the
    * winner per key, and writes version N — an idempotent rewrite, so a
    * replayed micro-batch (foreachBatch is at-least-once) converges to
    * the same version instead of double-applying. On a real lakehouse
    * the body becomes one MERGE INTO against Delta/Iceberg and versions
    * come from the table format's log; the streaming wiring (foreachBatch
    * + AvailableNow + per-batch merge keyed on user) is identical.
    *
    * The winner rule is max by (event time, event_id) — a total order on
    * events, so the final state is independent of how files split into
    * micro-batches: that is the parity property the oracle checks.
    *
    * The staged corpus file is re-sliced into `nSlices` files with
    * maxFilesPerTrigger=1, so the run genuinely merges across multiple
    * micro-batches rather than trivially once. */
  def upsertParityRun(spark: SparkSession, path: String,
      nSlices: Int = 3): DataFrame = {
    val stage = java.nio.file.Paths.get(
      graft.Scratch.fresh("stream-stage-upsert"))
    // the returned DataFrame scans the final version's files lazily, so
    // the whole version chain lives until JVM exit (graft.Scratch)
    val target = java.nio.file.Paths.get(
      graft.Scratch.fresh("stream-upsert-target"))
    // inferred batch read: the staged slices inherit the corpus's own
    // ts encoding, which readParquetStream normalizes per-type below
    val srcDf = spark.read.parquet(path)
    // one merge round per slice (event_id % n)
    stageSlices(srcDf, stage,
      (0 until nSlices).map(i => col("event_id") % nSlices === i))
    val versionOf: Long => java.nio.file.Path =
      v => target.resolve(s"v$v")
    var lastVersion = -1L
    val mergeBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val updates = batch.select(col("user_id"),
        unix_micros(col("ts")).as("last_us"),
        col("event_id").as("last_event_id"),
        round(col("value") * 100).cast("long").as("last_cents"))
      val prev =
        if (lastVersion < 0) updates.limit(0)
        else spark.read.parquet(versionOf(lastVersion).toString)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
      prev.unionByName(updates)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .write.mode("overwrite").parquet(versionOf(batchId).toString)
      lastVersion = batchId
    }
    withConf(spark, StreamPartitions) {
      val q = readParquetStream(spark, stage.toString,
          maxFilesPerTrigger = 1, sourceSchema = srcDf.schema)
        .writeStream
        .option("checkpointLocation", graft.Scratch.fresh("stream-ckpt-upsert"))
        .foreachBatch(mergeBatch)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(lastVersion >= 0, "upsert stream produced no micro-batch")
      // read the final version directly — a distributed scan, nothing
      // collected; the version chain is pinned on disk until JVM exit,
      // so the lazy read-back stays valid however large the key space
      spark.read.parquet(versionOf(lastVersion).toString)
        .orderBy("user_id")
    }
  }

  /** CONTINUOUS-INGEST admission gate as a stream — the production
    * deployment of the [[graft.ops.Dedup]] index family wired through
    * Structured Streaming: a sig index is built once on the even corpus
    * half, then micro-batches of arriving documents flow through
    * foreachBatch, where each batch is (1) classified by
    * [[graft.ops.Dedup.probeSigIndex]] (exact/batch/near/new + match_id,
    * batch-sized work), (2) its verdicts appended to the sink, and (3)
    * its ADMITTED docs appended to the index via
    * [[graft.ops.Dedup.appendToSigIndex]] — so later micro-batches see
    * earlier admissions as corpus. Exactly the maintenance loop
    * `dedup_sig_index_append` proves in batch land, now across real
    * micro-batch boundaries.
    *
    * Determinism: the odd half is sliced by `doc_id % (2·nSlices)` into
    * one staged file per cycle with STRICTLY INCREASING modification
    * times, and FileStreamSource with maxFilesPerTrigger=1 processes
    * files in timestamp order — so cycle membership is a pure function
    * of doc_id and the oracle can replay the chain in SQL. The emitted
    * `admit_cycle` (= micro-batch id) is itself hash-checked against
    * `(doc_id mod 2n) div 2`: a scrambled batch order fails loudly
    * rather than silently reordering admissions. */
  def ingestGateParityRun(spark: SparkSession, path: String,
      nSlices: Int = 3): DataFrame = {
    val stage = java.nio.file.Paths.get(
      graft.Scratch.fresh("stream-stage-gate"))
    val idx = graft.Scratch.fresh("stream-gate-idx")
    val out = graft.Scratch.fresh("stream-result-gate")
    val srcDf = spark.read.parquet(path)
    graft.ops.Dedup.buildSigIndex(
      srcDf.filter(col("doc_id") % 2 === 0), idx)
    val mod = 2 * nSlices
    stageSlices(srcDf, stage,
      (0 until nSlices).map(j => col("doc_id") % mod === (2 * j + 1)))
    val gateBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val verdicts = graft.Materialize.barrier( // feeds the sink AND the admit join
        graft.ops.Dedup.probeSigIndex(spark, idx, batch),
        s"EventStream.ingestGate.verdicts$batchId")
      verdicts.withColumn("admit_cycle", lit(batchId))
        .write.mode("append").parquet(out)
      val admitted = batch.join(
        verdicts.filter(col("verdict") === "new").select("doc_id"), "doc_id")
      graft.ops.Dedup.appendToSigIndex(spark, idx, admitted)
    }
    withConf(spark, StreamPartitions) {
      val q = readParquetStream(spark, stage.toString,
          maxFilesPerTrigger = 1, sourceSchema = srcDf.schema)
        .writeStream
        .option("checkpointLocation", graft.Scratch.fresh("stream-ckpt-gate"))
        .foreachBatch(gateBatch)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).orderBy("doc_id")
    }
  }

  /** Streaming VECTOR-ingest dedup gate — the [[ingestGateParityRun]]
    * lifecycle applied to embeddings: the even-vec_id half is the
    * indexed corpus (one persisted (fp, exact_id) fingerprint table on
    * the [[graft.ops.Similarity.vecFingerprint]] basis), the odd half
    * streams through in `nSlices` real micro-batches, and each batch
    * probes the index (exact_dup vs corpus > batch_dup within the
    * micro-batch > new) then appends its admissions — so later batches
    * see earlier admissions as corpus. The vector twin of the text
    * gate: a streaming vector store dedups on ingest exactly like a
    * document store, just on quantized-fingerprint identity instead of
    * md5(text).
    *
    * Work per cycle is batch-sized: one fingerprint projection, one
    * fp-width probe join, one batch-sized append — nothing corpus-wide
    * after the index build. Determinism is [[ingestGateParityRun]]'s:
    * one staged file per cycle with strictly increasing mtimes +
    * maxFilesPerTrigger=1, cycle membership = vec_id mod 2n, and the
    * emitted admit_cycle is hash-checked against `(vec_id mod 2n) div 2`
    * by the oracle. The interesting verdicts come from PLANTED
    * duplicates (the registered query unions them in): a corpus-vector
    * copy (exact_dup in cycle 0), a copy of a cycle-0 admission arriving
    * in cycle 2 (proves cross-batch index visibility), and an identical
    * pair inside cycle 1 (batch_dup). Takes the source as a DataFrame —
    * unlike the text gate, the caller composes the corpus (planted
    * duplicates ride the same union the oracle replays in SQL). */
  def embedGateParityRun(spark: SparkSession, src: DataFrame,
      nSlices: Int = 3): DataFrame = {
    val stage = java.nio.file.Paths.get(
      graft.Scratch.fresh("stream-stage-embed"))
    val idx = graft.Scratch.fresh("stream-embed-idx")
    val out = graft.Scratch.fresh("stream-result-embed-gate")
    val srcDf = src.select("vec_id", "embedding")
    srcDf.filter(col("vec_id") % 2 === 0)
      .select(graft.ops.Similarity.vecFingerprint(col("embedding"))
        .as("fp"), col("vec_id"))
      .groupBy("fp").agg(min("vec_id").as("exact_id"))
      .write.mode("overwrite").parquet(idx)
    val mod = 2 * nSlices
    stageSlices(srcDf, stage,
      (0 until nSlices).map(j => col("vec_id") % mod === (2 * j + 1)))
    val gateBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val bfp = graft.Materialize.barrier(batch.select(col("vec_id"), // probe + append
          graft.ops.Similarity.vecFingerprint(col("embedding")).as("fp")),
        s"EventStream.embedGate.fp$batchId")
      val verdicts = graft.Materialize.barrier( // sink + admit join must not re-probe
        graft.ops.Dedup.gateVerdicts(bfp, spark.read.parquet(idx), Nil, "vec_id"),
        s"EventStream.embedGate.verdicts$batchId")
      verdicts.withColumn("admit_cycle", lit(batchId))
        .write.mode("append").parquet(out)
      bfp.join(verdicts.filter(col("verdict") === "new").select("vec_id"),
          "vec_id")
        .groupBy("fp").agg(min("vec_id").as("exact_id"))
        .write.mode("append").parquet(idx)
    }
    withConf(spark, StreamPartitions) {
      val q = readParquetStream(spark, stage.toString,
          maxFilesPerTrigger = 1,
          sourceSchema = srcDf.select("vec_id", "embedding").schema)
        .writeStream
        .option("checkpointLocation", graft.Scratch.fresh("stream-ckpt-embed"))
        .foreachBatch(gateBatch)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).orderBy("vec_id")
    }
  }

  /** Custom keyed state via mapGroupsWithState: running per-user totals
    * across micro-batches (the `KeyValueGroupedDataset` stateful API for
    * semantics session_window can't express). State is one small record
    * per user; use a timeout in production to bound key cardinality. */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserStats](GroupStateTimeout.NoTimeout) {
        (uid, batch, state) =>
          val prev =
            if (state.exists) state.get else UserState(0L, 0.0)
          var n = prev.nEvents
          var s = prev.sumValue
          batch.foreach { e => n += 1; s += e.value }
          state.update(UserState(n, s))
          UserStats(uid, n, s)
      }
  }
}
