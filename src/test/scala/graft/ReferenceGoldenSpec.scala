package graft

import org.apache.spark.sql.functions._

import graft.sources.Csv

/** The reference's committed golden outputs as parser fixtures (SURVEY.md
  * §5 strategy (3)): our readers must ingest the actual files the
  * reference produced, and their contents must match the semantics our
  * operators re-implement. Read-only access to /root/reference. */
class ReferenceGoldenSpec extends SparkTestBase {
  import spark.implicits._

  val T1Golden = "/root/reference/任务一/output/part-r-00000"
  val T31Golden =
    "/root/reference/任务二+任务三/work3-1/part-00000-c41bb146-dce6-4339-af8f-7ea41587d751-c000.csv"

  test("T3-1 golden: GBK CSV parses via our reader, ratios match bround-4 semantics") {
    assume(new java.io.File(T31Golden).exists())
    // the checkout carries a stale Hadoop .crc sidecar next to the golden
    // (from the original Windows run); copy just the CSV so the local
    // filesystem reader doesn't trip on it
    val dir = java.nio.file.Paths.get(Scratch.fresh("golden-t31"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(T31Golden),
      dir.resolve("golden.csv"))
    val df = Csv.readSchemaless(spark, dir.resolve("golden.csv").toString,
      encoding = "GBK")
    val rows = df.select(col("employer_type"),
        col("employer_type_percent").cast("double"))
      .as[(String, Double)].collect()
    assert(rows.length == 6)
    val m = rows.toMap
    // golden anchors (SURVEY §6): top group 普通企业 = 0.4543
    assert(m("普通企业") == 0.4543)
    assert(m("政府机构") == 0.2582)
    // ratios are shares of the total -> sum to 1 within rounding slack
    assert(math.abs(rows.map(_._2).sum - 1.0) < 0.001)
    // the ref writes ascending by ratio (orderBy(sum asc), §2d O3)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    // 0.1 for 幼教与中小学校 is bround(0.09998333..., 4) — the scale-4
    // HALF_EVEN artifact our groupRatio reproduces (P9)
    assert(m("幼教与中小学校") == 0.1)
  }

  val T33Golden =
    "/root/reference/任务二+任务三/work3-3/part-00000-a6327093-d437-4d89-bef3-b932e48c2d3f-c000.csv"

  test("T3-3 golden: 150,328 rows and every work_year parses > 5 with OUR parser") {
    assume(new java.io.File(T33Golden).exists())
    val dir = java.nio.file.Paths.get(Scratch.fresh("golden-t33"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(T33Golden),
      dir.resolve("golden.csv"))
    val df = Csv.readSchemaless(spark, dir.resolve("golden.csv").toString)
    assert(df.count() == 150328) // SURVEY §6 anchor
    assert(df.columns.toSeq == Seq("user_id", "censor_status", "work_year"))
    // parity: the rows the reference kept are exactly the rows our
    // when-chain parser (P13) also scores > 5
    val parsed = df.withColumn("n",
      graft.ops.Relational.parseWorkYear(col("work_year")))
    assert(parsed.filter(col("n") <= 5 || col("n").isNull).count() == 0)
    // value domain: only 6/7/8/9/10+ years survive the > 5 filter
    val kept = parsed.select("work_year").distinct()
      .as[String].collect().toSet
    assert(kept.forall(w => w == "10+ years" ||
      w.takeWhile(_.isDigit).toInt > 5))
  }

  test("T1 golden: MR output parses; sorted count desc; documents the S1 split bug") {
    assume(new java.io.File(T1Golden).exists())
    val df = spark.read.option("sep", " ").csv(T1Golden)
      .toDF("industry", "cnt")
      .withColumn("cnt", col("cnt").cast("long"))
    val rows = df.as[(String, Long)].collect()
    assert(rows.length == 14) // 14 industry groups (SURVEY §6)
    // O1 semantics: count desc (ties broken asc — none in golden)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq)
    // top group: the MR run dropped one row per input split (per-mapper
    // header skip, SURVEY §2a S1-bug) -> 48215; canonical Spark header
    // handling gives 48216. We assert the golden records the bug.
    assert(rows.head == ("金融业", 48215L))
  }
}
