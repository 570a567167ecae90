package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming twins (graft.streaming): MemoryStream-driven
  * micro-batch tests, asserting batch/stream parity where applicable. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(mins: Long): Timestamp = new Timestamp(mins * 60000L)

  private def runBatches[T](q: org.apache.spark.sql.streaming.DataStreamWriter[T],
      name: String): org.apache.spark.sql.DataFrame = {
    val sq = q.queryName(name).format("memory").start()
    sq.processAllAvailable()
    sq.stop()
    spark.table(name)
  }

  test("tumblingCounts aggregates per hour window per type") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(10), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 5.0)) // second hour
    val out = runBatches(
      EventStream.tumblingCounts(in.toDF()).writeStream
        .outputMode(OutputMode.Complete), "tumbling")
    val rows = out.as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (0L, "click", 2L, 3.0),
      (3600L * 1000000, "view", 1L, 5.0)))
  }

  test("sessionAgg merges events within the gap, splits across it") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    // user 1: events at 0 and 10min (one session), then 60min (new session)
    in.addData(
      Event(1, ts(0), 1, "a", 1.0),
      Event(2, ts(10), 1, "a", 2.0),
      Event(3, ts(60), 1, "a", 4.0))
    val out = runBatches(
      EventStream.sessionAgg(in.toDF()).writeStream
        .outputMode(OutputMode.Complete), "sessions")
    val rows = out.as[(Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(rows.length == 2)
    assert(rows(0)._4 == 2 && rows(0)._5 == 3.0) // first session: 2 events
    assert(rows(1)._4 == 1 && rows(1)._5 == 4.0)
  }

  test("runningUserStats accumulates state across micro-batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStream.runningUserStats(in.toDS()).writeStream
      .queryName("running").format("memory").outputMode(OutputMode.Update)
      .start()
    in.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(1), 1, "a", 2.0))
    q.processAllAvailable()
    in.addData(Event(3, ts(2), 1, "a", 4.0), Event(4, ts(3), 2, "b", 8.0))
    q.processAllAvailable()
    q.stop()
    // memory sink in update mode appends updated rows; take the LAST row
    // per user as current state
    val last = spark.table("running").as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }.toSet
    assert(last == Set((1L, 3L, 7.0), (2L, 1L, 8.0)))
  }

  test("intervalJoin pairs events of one user within the window only") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    clicks.addData(Event(10, ts(100), 1, "click", 1.0))
    views.addData(
      Event(20, ts(70), 1, "view", 2.0), // 30min before -> joins
      Event(21, ts(30), 1, "view", 3.0), // 70min before -> outside 1h
      Event(22, ts(90), 2, "view", 4.0)) // other user -> no
    val q = EventStream.intervalJoin(clicks.toDF(), views.toDF())
      .writeStream.queryName("ijoin").format("memory")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ijoin")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(rows == Set((10L, 20L, 1L, 1.0, 2.0)))
  }

  test("streamingDedup emits each fingerprint once across micro-batches") {
    implicit val sc = spark.sqlContext
    import EventStream.Doc
    val in = MemoryStream[Doc]
    val q = EventStream.streamingDedup(in.toDS()).writeStream
      .queryName("sdedup").format("memory")
      .outputMode(OutputMode.Append).start()
    in.addData(Doc(3, "aaa"), Doc(1, "aaa"), Doc(2, "bbb"))
    q.processAllAvailable()
    in.addData(Doc(4, "aaa"), Doc(5, "ccc")) // aaa already seen
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sdedup").as[(Long, String)].collect().toSet
    // per fingerprint: smallest id of its FIRST batch wins; aaa's batch-2
    // arrival is dropped by state
    assert(rows == Set((1L, "aaa"), (2L, "bbb"), (5L, "ccc")))
  }

  test("readParquetStream picks up files as micro-batches") {
    val dir = Scratch.fresh("stream-src")
    val batch1 = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 2, "view", 2.0))
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(
        batch1.map(e => org.apache.spark.sql.Row(
          e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}")), 1),
      EventStream.schema)
    out.write.parquet(s"$dir/b1")
    val stream = EventStream
      .readParquetStream(spark, s"$dir/*", maxFilesPerTrigger = 1)
    assert(stream.isStreaming)
    val q = EventStream.tumblingCounts(stream).writeStream
      .queryName("file_stream").format("memory")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    val n1 = spark.table("file_stream")
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    assert(n1 == 2)
    // drop a second file -> new micro-batch extends the same aggregation
    out.write.parquet(s"$dir/b2")
    q.processAllAvailable()
    q.stop()
    val n2 = spark.table("file_stream")
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    assert(n2 == 4)
  }

  test("dedupParityRun kept set equals batch min-id-per-fingerprint") {
    import org.apache.spark.sql.functions.{col, md5, min}
    val kept = EventStream.dedupParityRun(spark, s"$sf0001/documents.parquet")
    val batch = Tables(spark, sf0001, "documents")
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("doc_id"))
    assert(kept.count() == batch.count())
    assert(kept.join(batch, Seq("doc_id", "fingerprint")).count() == kept.count())
  }

  test("ingestGateParityRun: cross-cycle admissions gate later batches") {
    import org.apache.spark.sql.functions.col
    // plant a corpus where every verdict crosses or stays in a known
    // micro-batch: cycle = (doc_id % 6) div 2 for odd docs, even = corpus
    val textA = (1 to 40).map(i => s"atok$i").mkString(" ")
    val textA2 = (1 to 39).map(i => s"atok$i").mkString(" ") + " atokX"
    val textB = (1 to 40).map(i => s"btok$i").mkString(" ")
    val textB2 = (1 to 39).map(i => s"btok$i").mkString(" ") + " btokX"
    val docs = Seq(
      (2L, textA, "en", "S"),               // corpus
      (1L, textB, "en", "S"),               // c0: new (admitted)
      (7L, textB, "en", "S"),               // c0: batch_dup of 1
      (3L, textB, "en", "S"),               // c1: exact_dup of ADMITTED 1
      (9L, textB2, "en", "S"),              // c1: near_dup of ADMITTED 1
      (5L, textA2, "en", "S"),              // c2: near_dup of corpus 2
      (11L, "entirely novel thing here", "en", "S")) // c2: new
      .toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Paths.get(Scratch.fresh("gate-parity-spec"))
    val staged = dir.resolve("stage")
    docs.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val listing = java.nio.file.Files.list(staged)
    val part =
      try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
    val file = dir.resolve("documents.parquet")
    java.nio.file.Files.move(part, file)
    val got = EventStream.ingestGateParityRun(spark, file.toString)
      .as[(Long, String, Option[Long], Long)].collect().toSeq
    assert(got == Seq(
      (1L, "new", None, 0L),
      (3L, "exact_dup", Some(1L), 1L),
      (5L, "near_dup", Some(2L), 2L),
      (7L, "batch_dup", Some(1L), 0L),
      (9L, "near_dup", Some(1L), 1L),
      (11L, "new", None, 2L)))
  }

  test("stream gate cycle 1 equals the batch sig-index append lifecycle at sf0.001") {
    import org.apache.spark.sql.functions.col
    // both build on the even half, admit what cycle 0 (doc_id ≡ 1 mod 4)
    // lets in, then gate doc_id ≡ 3 mod 4: once through parquet appends
    // between batch queries, once across real micro-batches
    val batch = SparkEntry.queries("dedup_sig_index_append")(spark, sf0001)
      .as[(Long, String, Option[Long])].collect().toSeq
    val stream = SparkEntry.queries("stream_ingest_gate_parity")(spark, sf0001)
      .filter(col("admit_cycle") === 1L).drop("admit_cycle")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(batch.nonEmpty)
    assert(stream == batch)
  }

  test("embedGateParityRun: vector gate crosses cycles on fingerprint identity") {
    // same cycle geometry as the text gate (cycle = (vec_id % 6) div 2
    // for odd ids, even = corpus) but exact-only verdicts on the
    // quantized two-fold vecFingerprint — no near-dup tier
    val vecA = Array(0.25f, -0.5f, 1.0f, 0.125f)
    val vecB = Array(-1.0f, 0.75f, 0.0f, 2.5f)
    val vecC = Array(3.0f, 3.0f, -3.0f, 0.5f)
    val src = Seq(
      (2L, vecA),   // corpus
      (1L, vecB),   // c0: new (admitted)
      (7L, vecB),   // c0: batch_dup of 1
      (3L, vecB),   // c1: exact_dup of ADMITTED 1 (cross-cycle)
      (5L, vecA),   // c2: exact_dup of corpus 2
      (11L, vecC))  // c2: new
      .toDF("vec_id", "embedding")
    val got = EventStream.embedGateParityRun(spark, src)
      .as[(Long, String, Option[Long], Long)].collect().toSeq
    assert(got == Seq(
      (1L, "new", None, 0L),
      (3L, "exact_dup", Some(1L), 1L),
      (5L, "exact_dup", Some(2L), 2L),
      (7L, "batch_dup", Some(1L), 0L),
      (11L, "new", None, 2L)))
  }

  test("hllParityRun registers equal the batch-built sketch exactly") {
    import org.apache.spark.sql.functions.col
    val streamed = EventStream.hllParityRun(spark, s"$sf0001/events.parquet")
      .select("bucket", "reg")
    val batch = graft.ops.Sketches.hllRegisters(
      Tables(spark, sf0001, "events").select(col("event_id")), "event_id")
    // the streaming stateful max-agg must land on EXACTLY the batch
    // registers — the sketch merge law as Spark's own aggregate algebra
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("histParityRun bin table equals the batch-built histogram exactly") {
    import org.apache.spark.sql.functions.{col, round}
    val streamed = EventStream.histParityRun(spark, s"$sf0001/events.parquet")
      .select("bucket", "cnt")
    val batch = graft.ops.Sketches.histCounts(
      Tables(spark, sf0001, "events")
        .select(round(col("value") * 100).cast("long").as("cents")),
      "cents", 0L, 64L, 1024)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("bitmapParityRun word table equals the batch words bit for bit") {
    import org.apache.spark.sql.functions.{call_function, col, expr, lit}
    val streamed = EventStream.bitmapParityRun(spark, s"$sf0001/events.parquet")
      .select("event_type", "widx", "word")
    val batch = Tables(spark, sf0001, "events")
      .select(col("event_type"), expr("user_id div 32").as("widx"),
        call_function("shiftleft", lit(1L),
          (col("user_id") % 32).cast("int")).as("bit"))
      .groupBy("event_type", "widx")
      .agg(expr("bit_or(bit)").as("word"))
    // bit_or merges across micro-batches = the bitmap rollup law as
    // Spark's own aggregate algebra; popcounts are then EXACT distincts
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("amsParityRun counter table equals the batch-built sketch exactly") {
    val streamed = EventStream.amsParityRun(spark, s"$sf0001/events.parquet")
      .select("j", "x")
    val batch = graft.ops.Sketches.amsCounters(
      Tables(spark, sf0001, "events").select("user_id"), "user_id")
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("snapshotSinkRun: committed table equals the source; versions are batch-grained") {
    import org.apache.spark.sql.functions.col
    val (fin, root) = EventStream.snapshotSinkRunWithRoot(spark,
      s"$sf0001/events.parquet", nSplits = 3)
    val src = Tables(spark, sf0001, "events")
    assert(fin.count() == src.count())
    assert(fin.select("event_id").exceptAll(src.select("event_id")).isEmpty,
      "streamed-and-committed table must hold exactly the source rows")
    // one version per non-empty micro-batch (1 file per trigger), and a
    // mid-stream version is a strict prefix of the final row set
    val latest = graft.sources.Snapshots.latestVersion(root).get
    assert(latest == 3L, s"3 staged files -> 3 commits, got $latest")
    val v1 = graft.sources.Snapshots.read(spark, root, Some(1L))
    assert(v1.count() > 0 && v1.count() < src.count())
    assert(v1.select("event_id").exceptAll(fin.select("event_id")).isEmpty)
  }

  test("checkpoint resume: a restarted stream processes only new files, exactly once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Paths.get(Scratch.fresh("resume"))
    val src = root.resolve("src"); val ckpt = root.resolve("ckpt")
    java.nio.file.Files.createDirectories(src)
    def writeSlice(name: String, ids: Seq[Long]): Unit = {
      import spark.implicits._
      val dir = root.resolve(s"tmp-$name")
      ids.map(i => (i, new java.sql.Timestamp(i * 60000L), i % 3, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val listing = java.nio.file.Files.list(dir)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listing.close()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val q = spark.readStream.schema(EventStream.schema)
        .parquet(src.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= batch.select(col("event_id"))
              .collect().map(_.getLong(0))
          }: Unit
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeSlice("a", 1L to 5L)
    runOnce()
    assert(seen.sorted == (1L to 5L), s"first run saw $seen")
    // restart with the SAME checkpoint after a new file arrives: the
    // file-source log must skip slice a entirely — no reprocessing
    writeSlice("b", 6L to 8L)
    runOnce()
    assert(seen.sorted == (1L to 8L),
      s"resume reprocessed or dropped rows: $seen")
  }

  test("twsLatestParityRun (transformWithState) equals batch latest-event-per-user") {
    import org.apache.spark.sql.functions.{col, desc, round, row_number}
    val got = EventStream.twsLatestParityRun(spark, s"$sf0001/events.parquet")
    val ev = Tables(spark, sf0001, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
    val batch = ev.select(col("user_id"),
        graft.ops.Events.tsUs(ev).as("last_us"),
        col("event_id").as("last_event_id"),
        round(col("value") * 100).cast("long").as("last_cents"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    assert(got.count() == batch.count())
    assert(got.join(batch,
      Seq("user_id", "last_us", "last_event_id", "last_cents"))
      .count() == got.count())
  }

  test("twsTopKParityRun (ListState) equals batch per-user top-3 window") {
    import org.apache.spark.sql.functions.{col, desc, round, row_number}
    val got = EventStream.twsTopKParityRun(spark, s"$sf0001/events.parquet")
    val ev = Tables(spark, sf0001, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
    val batch = ev.select(col("user_id"),
        graft.ops.Events.tsUs(ev).as("last_us"),
        col("event_id").as("last_event_id"),
        round(col("value") * 100).cast("long").as("last_cents"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
    assert(got.count() == batch.count())
    assert(got.join(batch,
      Seq("user_id", "rnk", "last_us", "last_event_id", "last_cents"))
      .count() == got.count())
  }

  test("upsertParityRun final state equals batch latest-event-per-user") {
    import org.apache.spark.sql.functions.{col, desc, round, row_number, unix_micros}
    val got = EventStream.upsertParityRun(spark, s"$sf0001/events.parquet")
    val ev = Tables(spark, sf0001, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("last_us"), desc("last_event_id"))
    val batch = ev.select(col("user_id"),
        graft.ops.Events.tsUs(ev).as("last_us"),
        col("event_id").as("last_event_id"),
        round(col("value") * 100).cast("long").as("last_cents"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    assert(got.count() == batch.count())
    assert(got.join(batch,
      Seq("user_id", "last_us", "last_event_id", "last_cents"))
      .count() == got.count())
  }

  test("enrichedCounts joins the static dim per batch and accumulates counts") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "AUTO"), (2L, "RETAIL"), (3L, "AUTO"))
      .toDF("c_custkey", "c_mktsegment")
    val in = MemoryStream[Event]
    in.addData(Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "click", 1.0))
    in.addData( // second micro-batch accumulates into the same groups
      Event(3, ts(3), 3, "click", 1.0),
      Event(4, ts(4), 1, "view", 1.0),
      Event(5, ts(5), 9, "click", 1.0)) // no dim row -> dropped (inner)
    val got = runBatches(
      EventStream.enrichedCounts(in.toDF(), dim).writeStream
        .outputMode(OutputMode.Complete), "enrich_stream")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("AUTO", "click", 2L), ("AUTO", "view", 1L), ("RETAIL", "click", 1L)))
  }

  test("streaming tumbling matches batch tumblingAgg on the same data") {
    implicit val sc = spark.sqlContext
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.5),
      Event(2, ts(15), 2, "click", 2.5),
      Event(3, ts(65), 1, "view", 3.0),
      Event(4, ts(125), 3, "view", 4.0))
    val in = MemoryStream[Event]
    in.addData(events: _*)
    val streamRows = runBatches(
      EventStream.tumblingCounts(in.toDF()).writeStream
        .outputMode(OutputMode.Complete), "parity_stream")
      .as[(Long, String, Long, Double)].collect().toSet
    val batchRows = graft.ops.Events.tumblingAgg(events.toDF())
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamRows == batchRows)
  }

  test("streaming sliding matches batch slidingAgg; events fan out to both covering windows") {
    implicit val sc = spark.sqlContext
    // 1h windows on a 30min slide: minute 5 lands in starts {-30m, 0},
    // minute 35 in {0, 30m}, 65 in {30m, 60m}, 95 in {60m, 90m}
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.5),
      Event(2, ts(35), 2, "click", 2.5),
      Event(3, ts(65), 1, "view", 3.0),
      Event(4, ts(95), 3, "view", 4.0))
    val in = MemoryStream[Event]
    in.addData(events: _*)
    val streamRows = runBatches(
      EventStream.slidingCounts(in.toDF()).writeStream
        .outputMode(OutputMode.Complete), "parity_sliding")
      .as[(Long, String, Long, Double)].collect().toSet
    val batchRows = graft.ops.Events.slidingAgg(events.toDF())
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamRows == batchRows)
    // every event contributes to exactly window/slide = 2 windows
    assert(streamRows.toSeq.map(_._3).sum == 2L * events.size)
  }
}
