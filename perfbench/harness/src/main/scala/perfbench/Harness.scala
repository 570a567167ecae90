package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, SparkEntry}

/** The JVM side of one benchmark run: a closed loop of one client that
  * runs a fixed query set back to back on `GraftSession.local(cores)`.
  *
  * Every execution is split into the two public entry points it crosses:
  * the query function `SparkEntry.queries(name)(spark, dir)` (the build
  * phase) and `.count()` on the DataFrame it returns (the action phase).
  *
  * A run is: session start; one check pass that writes every result as
  * parquet for the twin compare; `--warm-passes` untimed passes (the end of
  * the last one is the end of set-up); then timed passes until `--seconds`
  * have elapsed and at least `--min-passes` have run.
  * Each pass runs the queries in an order drawn from `--seed`. Between
  * queries, outside the timed regions, the block store is cleared the way
  * `graft.Bench` does it.
  *
  * With `--trace 1` the timed passes alternate between untraced and
  * traced. In a traced pass the Spark and streaming listeners below are
  * registered, every job carries the phase it ran under as a local
  * property, and the barriers still held at each query's end are sized.
  * All of it stays in memory and is written, with the raw samples, as one
  * JSON file (`--out`); perfbench/run.py turns that into metrics.
  */
object Harness {
  val PhaseKey = "perfbench.phase"

  final case class Args(queries: Seq[String], data: String, seed: Long,
      seconds: Double, trace: Boolean, out: String, checkDir: String,
      cores: Int, minPasses: Int, warmPasses: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("queries").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      need("data"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("out"), need("check-dir"),
      need("cores").toInt, m.getOrElse("min-passes", "2").toInt,
      m.getOrElse("warm-passes", "2").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val heap = new HeapWatch
    val clock = new Clock
    val t0 = System.nanoTime()
    val spark = GraftSession.local(a.cores, appName = "perfbench")
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    val registry = SparkEntry.queries
    val fns = a.queries.map(n =>
      n -> registry.getOrElse(n, sys.error(s"unknown query: $n")))
    val rng = new scala.util.Random(a.seed)
    val out = new Json

    def hygiene(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def firstLine(e: Throwable): String =
      (e.getClass.getName + ": " + Option(e.getMessage).getOrElse(""))
        .linesIterator.next().take(200)

    // Check pass: each result once, as parquet, outside the timed passes.
    val check = mutable.ArrayBuffer[Json]()
    for ((name, fn) <- rng.shuffle(fns)) {
      val c0 = System.nanoTime()
      val err =
        try {
          fn(spark, a.data).coalesce(1).write.mode("overwrite")
            .parquet(s"${a.checkDir}/$name")
          None
        } catch { case e: Throwable => Some(firstLine(e)) }
      check += new Json().str("name", name)
        .num("wall_s", (System.nanoTime() - c0) / 1e9).opt("error", err)
      hygiene()
    }
    // The first count() passes still run while the JIT compiles the hot
    // paths (measured: +35% wall and +60% CPU on the pass after the check
    // pass, still +10% and +30% on the one after that), so warm-up passes
    // run untimed and belong to set-up.
    for (_ <- 0 until a.warmPasses; (_, fn) <- rng.shuffle(fns)) {
      try fn(spark, a.data).count()
      catch { case _: Throwable => () } // the check pass already recorded it
      hygiene()
    }
    val setupEndMs = System.currentTimeMillis()
    heap.reset() // the peak is taken over the timed passes only

    val tracer = new Tracer(sc)
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer[Json]()
    val loopStart = System.nanoTime()
    var p = 0
    while (p < a.minPasses || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val traced = a.trace && p % 2 == 1
      if (traced) tracer.attach(spark)
      val samples = mutable.ArrayBuffer[Json]()
      val cpu0 = cpu.getProcessCpuTime
      var wall = 0L
      for ((name, fn) <- rng.shuffle(fns)) {
        val tag = s"$p/$name"
        val s0 = System.nanoTime()
        sc.setLocalProperty(PhaseKey, s"$tag/build")
        tracer.phase = s"$tag/build"
        var s1 = s0
        val err =
          try {
            val df = fn(spark, a.data)
            s1 = System.nanoTime()
            sc.setLocalProperty(PhaseKey, s"$tag/action")
            tracer.phase = s"$tag/action"
            df.count()
            None
          } catch { case e: Throwable => Some(firstLine(e)) }
        val s2 = System.nanoTime()
        if (s1 == s0) s1 = s2 // threw while building: all of it was build
        sc.setLocalProperty(PhaseKey, null)
        tracer.phase = null
        wall += s2 - s0
        val sample = new Json().str("name", name)
          .num("start_ms", clock.ms(s0)).num("build_end_ms", clock.ms(s1))
          .num("end_ms", clock.ms(s2))
          .num("build_s", (s1 - s0) / 1e9).num("action_s", (s2 - s1) / 1e9)
          .opt("error", err)
        if (traced) tracer.barriers(sample)
        samples += sample
        hygiene()
      }
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      if (traced) tracer.detach(spark)
      passes += new Json().int("pass", p).bool("traced", traced)
        .num("wall_s", wall / 1e9).num("cpu_s", cpuS).arr("samples", samples.toSeq)
      p += 1
    }
    val endMs = System.currentTimeMillis()

    out.num("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
      .num("setup_end_ms", setupEndMs.toDouble).num("end_ms", endMs.toDouble)
      .num("session_s", sessionS).int("cores", a.cores)
      .num("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      .num("heap_peak_mb", heap.peakMb)
      .arr("check", check.toSeq)
      .arr("passes", passes.toSeq)
      .raw("trace", tracer.json)
    Files.write(Paths.get(a.out), out.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Converts `System.nanoTime` readings to epoch milliseconds, so phase
  * edges and listener event times (epoch ms) share one axis. */
final class Clock {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def ms(nano: Long): Double = msBase + (nano - nanoBase) / 1e6
}

/** Peak heap in use right after any collection, from GC notifications. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  for (gc <- ManagementFactory.getGarbageCollectorMXBeans.asScala) gc match {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
      }, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1048576.0
}

/** Listener-side record of a traced pass: one entry per job, stage, task
  * sum and streaming progress, keyed by the phase tag `pass/query/phase`
  * that was open when the job was submitted. */
final class Tracer(sc: SparkContext) {
  @volatile var phase: String = _
  private val jobs = mutable.LinkedHashMap[Int, Json]()
  private val jobPhase = mutable.Map[Int, String]()
  private val stagePhase = mutable.Map[Int, String]()
  private val counters = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
  private val streams = mutable.ArrayBuffer[Json]()

  private def add(tag: String, k: String, v: Double): Unit = if (tag != null) {
    val c = counters.getOrElseUpdate(tag, mutable.LinkedHashMap[String, Double]())
    c(k) = c.getOrElse(k, 0.0) + v
  }

  /** First frame of the engine (`graft.`) in a stage's call-site trace,
    * plus the Spark API frame just above it: what the job was run for. */
  private def site(details: String): (String, String) = {
    val lines = details.linesIterator.map(_.trim).toIndexedSeq
    val i = lines.indexWhere(_.startsWith("graft."))
    if (i < 0) ("", lines.headOption.getOrElse(""))
    else (lines(i), if (i > 0) lines(i - 1) else "")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Harness.PhaseKey))).getOrElse(phase)
      jobPhase(e.jobId) = tag
      e.stageIds.foreach(s => stagePhase(s) = tag)
      val last = e.stageInfos.maxBy(_.stageId)
      val (frame, api) = site(last.details)
      jobs(e.jobId) = new Json().int("job", e.jobId).str("phase", tag)
        .num("start_ms", e.time.toDouble).str("site", frame).str("api", api)
      add(tag, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.num("end_ms", e.time.toDouble)
        add(jobPhase(e.jobId), "job_wall_ms", e.time - j.getNum("start_ms"))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        add(stagePhase.getOrElse(e.stageInfo.stageId, phase), "stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val tag = stagePhase.getOrElse(e.stageId, phase)
      val m = e.taskMetrics
      val i = e.taskInfo
      add(tag, "tasks", 1)
      if (m != null) {
        add(tag, "task_cpu_ns", m.executorCpuTime)
        add(tag, "task_run_ms", m.executorRunTime)
        add(tag, "gc_ms", m.jvmGCTime)
        add(tag, "input_rows", m.inputMetrics.recordsRead)
        add(tag, "input_bytes", m.inputMetrics.bytesRead)
        add(tag, "output_rows", m.outputMetrics.recordsWritten)
        add(tag, "output_bytes", m.outputMetrics.bytesWritten)
        add(tag, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(tag, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(tag, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        add(tag, "sched_delay_ms", math.max(0L, i.duration - busy))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        streams += new Json().str("run_id", p.runId.toString)
          .num("trigger_start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
          .num("input_rows", p.numInputRows.toDouble)
          .num("trigger_ms", Option(p.durationMs.get("triggerExecution"))
            .map(_.doubleValue).getOrElse(0.0))
      }
  }

  def attach(spark: SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener bus so every event of the pass is counted. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Bytes and RDDs held by persisted or checkpointed RDDs at query end,
    * before the hygiene that drops them. */
  def barriers(sample: Json): Unit = {
    val held = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    sample.num("barrier_bytes", held.map(r => (r.memSize + r.diskSize).toDouble).sum)
      .int("barrier_rdds", held.length)
  }

  def json: String = synchronized {
    new Json()
      .arr("jobs", jobs.values.toSeq)
      .raw("counters", counters.map { case (tag, c) =>
        Json.quote(tag) + ":" + c.map { case (k, v) => Json.quote(k) + ":" + Json.number(v) }
          .mkString("{", ",", "}") }.mkString("{", ",", "}"))
      .arr("streams", streams.toSeq)
      .render
  }
}

/** A minimal ordered JSON object writer (the harness needs no JSON library). */
final class Json {
  private val fields = mutable.LinkedHashMap[String, String]()
  private val nums = mutable.Map[String, Double]()
  def raw(k: String, v: String): Json = { fields(k) = v; this }
  def str(k: String, v: String): Json = raw(k, Json.quote(v))
  def num(k: String, v: Double): Json = { nums(k) = v; raw(k, Json.number(v)) }
  def int(k: String, v: Int): Json = raw(k, v.toString)
  def bool(k: String, v: Boolean): Json = raw(k, v.toString)
  def opt(k: String, v: Option[String]): Json = raw(k, v.fold("null")(Json.quote))
  def arr(k: String, vs: Seq[Json]): Json = raw(k, vs.map(_.render).mkString("[", ",", "]"))
  def getNum(k: String): Double = nums(k)
  def render: String = fields.map { case (k, v) => Json.quote(k) + ":" + v }.mkString("{", ",", "}")
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** Writes the DuckDB twin SQL of the named queries (`SparkEntry.oracleSql`)
  * as one JSON object, for perfbench/make_twins.py. */
object DumpOracles {
  def main(argv: Array[String]): Unit = {
    val Array(out, names) = argv
    val sql = SparkEntry.oracleSql
    val json = names.split(',').filter(sql.contains)
      .map(n => Json.quote(n) + ":" + Json.quote(sql(n))).mkString("{", ",", "}")
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
  }
}
