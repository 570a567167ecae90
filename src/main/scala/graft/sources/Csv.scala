package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** CSV source/sink surface of the reference (SURVEY.md §2a S1–S4).
  *
  * Covers all three reference read modes and its sink:
  *  - S1/S2: header CSV, no schema → every column StringType
  *    (任务二+任务三/exp4_work2+3.ipynb:32; README.md:111,199). Replaces the
  *    MapReduce line-split scan too — Spark's header handling is per-file,
  *    which fixes the ref's one-dropped-row-per-split bug (SURVEY §2a
  *    S1-bug; canonical count 48216, not 48215).
  *  - S3: header CSV with the explicit 42-field loan StructType
  *    (任务四/exp4_work4.ipynb:49-111; README.md:268-314).
  *  - S4: single-file header CSV sink in a configurable charset — the ref
  *    writes GBK because values are Chinese strings
  *    (exp4_work2+3.ipynb:375,463,570; README.md:190).
  *
  * Scale: reads stay splittable multi-file scans (schema given up front —
  * no inferSchema pass). The single-file sink uses coalesce(1) — a narrow
  * repartition at the very sink, replacing the ref's repartition(1) full
  * shuffle — and is only for dictionary-sized results; large outputs go
  * through [[writePartitioned]].
  */
object Csv {

  /** Spark 4 whitelists only a handful of CSV charsets; GBK (the ref's
    * sink charset) needs the legacy-javaCharsets escape hatch. Session-wide
    * and idempotent. */
  private val StandardCharsets =
    Set("iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le",
      "utf-32", "utf-8")

  private def ensureCharset(spark: SparkSession, encoding: String): Unit =
    if (!StandardCharsets.contains(encoding.toLowerCase))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")

  /** The reference's 42-column loan schema, all fields nullable
    * (任务四/exp4_work4.ipynb cells 3–5). Dates (`issue_date`,
    * `earlies_credit_mon`) stay strings — the ref never parses them. */
  val loanSchema: StructType = StructType(Seq(
    "loan_id" -> IntegerType, "user_id" -> IntegerType,
    "total_loan" -> DoubleType, "year_of_loan" -> IntegerType,
    "interest" -> DoubleType, "monthly_payment" -> DoubleType,
    "class" -> StringType, "sub_class" -> StringType,
    "work_type" -> StringType, "employment_type" -> StringType,
    "industry" -> StringType, "work_year" -> StringType,
    "house_exist" -> IntegerType, "house_loan_status" -> IntegerType,
    "censor_status" -> IntegerType, "marriage" -> IntegerType,
    "offsprings" -> IntegerType, "issue_date" -> StringType,
    "use" -> IntegerType, "post_code" -> DoubleType,
    "region" -> IntegerType, "debt_loan_ratio" -> DoubleType,
    "del_in_18month" -> DoubleType, "scoring_low" -> DoubleType,
    "scoring_high" -> DoubleType, "pub_dero_bankrup" -> DoubleType,
    "early_return" -> IntegerType, "early_return_amount" -> IntegerType,
    "early_return_amount_3mon" -> DoubleType, "recircle_b" -> DoubleType,
    "recircle_u" -> DoubleType, "initial_list_status" -> IntegerType,
    "earlies_credit_mon" -> StringType, "title" -> DoubleType,
    "policy_code" -> DoubleType, "f0" -> DoubleType, "f1" -> DoubleType,
    "f2" -> DoubleType, "f3" -> DoubleType, "f4" -> DoubleType,
    "f5" -> DoubleType, "is_default" -> IntegerType)
    .map { case (n, t) => StructField(n, t, nullable = true) })

  /** S2: schema-less header read — every column lands as StringType. */
  def readSchemaless(spark: SparkSession, path: String,
      encoding: String = "UTF-8"): DataFrame = {
    ensureCharset(spark, encoding)
    spark.read
      .option("header", true).option("encoding", encoding)
      .csv(path)
  }

  /** S3: header read with an explicit schema (no inference pass). */
  def readWithSchema(spark: SparkSession, path: String, schema: StructType,
      encoding: String = "UTF-8"): DataFrame = {
    ensureCharset(spark, encoding)
    spark.read
      .option("header", true).option("encoding", encoding)
      .schema(schema)
      .csv(path)
  }

  /** S3 specialised to the loan table. */
  def readLoan(spark: SparkSession, path: String): DataFrame =
    readWithSchema(spark, path, loanSchema)

  /** S4: single-file header CSV in `encoding` (ref default GBK). Only for
    * small (report-sized) results — see class doc. */
  def writeSingle(df: DataFrame, dir: String,
      encoding: String = "GBK"): Unit = {
    ensureCharset(df.sparkSession, encoding)
    df.coalesce(1).write.mode("overwrite")
      .option("header", true).option("encoding", encoding)
      .csv(dir)
  }

  /** Scale path: hash-partitioned multi-file CSV sink (one file per
    * shuffle partition, optional partitionBy columns for pruning). */
  def writePartitioned(df: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil,
      encoding: String = "UTF-8"): Unit = {
    val w = df.write.mode("overwrite")
      .option("header", true).option("encoding", encoding)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .csv(dir)
  }

  /** Malformed-record policy — what a 100 TB ingest decides about the
    * rows that don't parse. PERMISSIVE read with the raw line captured:
    * fields that fail their declared type land as null and the WHOLE
    * original line is preserved in `corruptCol` (schema must include it
    * as a nullable StringType field — enforced here). The preserved raw
    * line is what makes quarantine-and-replay possible; DROPMALFORMED
    * ([[readDropMalformed]]) silently loses it, FAILFAST turns one bad
    * row into a dead job — both are the wrong default at scale. */
  def readPermissiveCorrupt(spark: SparkSession, path: String,
      schema: StructType,
      corruptCol: String = "_corrupt_record"): DataFrame = {
    require(!schema.fieldNames.contains(corruptCol),
      s"pass the DATA schema only; $corruptCol is appended here")
    spark.read
      .option("header", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(schema.add(StructField(corruptCol, StringType, nullable = true)))
      .csv(path)
  }

  /** The drop-don't-quarantine policy: malformed rows vanish from the
    * result (use only when the loss is acceptable AND measured — pair
    * with a count against the permissive read). */
  def readDropMalformed(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .option("header", true)
      .option("mode", "DROPMALFORMED")
      .schema(schema)
      .csv(path)

  /** Quarantine split of a permissive read: (clean rows without the
    * corrupt column, quarantined raw lines). The parsed read is
    * cached ([[graft.Materialize]]): Spark refuses plans that reference
    * ONLY the corrupt column of a raw CSV scan
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN — its documented remedy is
    * caching the parsed result), and the split reads the scan twice. */
  def quarantine(spark: SparkSession, path: String, schema: StructType,
      corruptCol: String = "_corrupt_record")
      : (DataFrame, DataFrame) = {
    val all = graft.Materialize.cache(readPermissiveCorrupt(spark, path, schema,
      corruptCol), "Csv.quarantine.parsed")
    (all.filter(col(corruptCol).isNull).drop(corruptCol),
      all.filter(col(corruptCol).isNotNull).select(col(corruptCol).as("raw")))
  }
}
