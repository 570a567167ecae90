package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

import graft.sources.Csv

/** SURVEY.md §2a S1–S4: CSV read modes + GBK single-file sink, including
  * the Chinese-string round-trip the reference's goldens exercise
  * (任务二+任务三/work3-1 is GBK with values like 普通企业). */
class CsvSourcesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Scratch.fresh(prefix)

  test("schema-less header read: every column StringType (S2)") {
    val dir = tmpDir("csv-s2")
    Files.writeString(Paths.get(dir, "in.csv"),
      "id,amount\n1,10.5\n2,20.0\n")
    val df = Csv.readSchemaless(spark, s"$dir/in.csv")
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 2)
  }

  test("explicit-schema read types columns, header per-file (S1/S3)") {
    val dir = tmpDir("csv-s3")
    Files.writeString(Paths.get(dir, "in.csv"),
      "loan_id,user_id,total_loan\n10,1,5000.0\n11,2,800.5\n")
    val schema = org.apache.spark.sql.types.StructType(
      Csv.loanSchema.fields.take(3))
    val df = Csv.readWithSchema(spark, s"$dir/in.csv", schema)
    assert(df.schema("loan_id").dataType == IntegerType)
    assert(df.schema("total_loan").dataType == DoubleType)
    // header row consumed exactly once (ref MR dropped one row per split —
    // SURVEY §2a S1-bug; canonical behavior keeps all 2 data rows)
    assert(df.count() == 2)
    assert(df.agg(org.apache.spark.sql.functions.sum("total_loan"))
      .first().getDouble(0) == 5800.5)
  }

  test("malformed policies: quarantine preserves raw lines, FAILFAST dies loudly") {
    val dir = tmpDir("csv-malformed")
    Files.writeString(Paths.get(dir, "in.csv"),
      "id,amount\n1,100\n2,xx\n3,300\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.LongType)))
    val (clean, raw) = Csv.quarantine(spark, s"$dir/in.csv", schema)
    assert(clean.as[(Long, Long)].collect().toSet == Set((1L, 100L), (3L, 300L)))
    // the ORIGINAL line survives byte-for-byte — that's what makes
    // replay-after-fix possible
    assert(raw.as[String].collect().toSeq == Seq("2,xx"))
    // permissive keeps the parseable fields of a corrupt row
    val perm = Csv.readPermissiveCorrupt(spark, s"$dir/in.csv", schema)
    val bad = perm.filter($"_corrupt_record".isNotNull)
      .select("id", "amount").as[(Long, Option[Long])].collect().toSeq
    assert(bad == Seq((2L, None)))
    // passing a schema that already contains the corrupt column is a
    // caller error, refused up front
    val e = intercept[IllegalArgumentException](
      Csv.readPermissiveCorrupt(spark, s"$dir/in.csv",
        schema.add(org.apache.spark.sql.types.StructField("_corrupt_record",
          StringType))))
    assert(e.getMessage.contains("DATA schema"))
    // FAILFAST: one bad row kills the job — the wrong default at scale.
    // (collect, not count: count prunes every column, so the malformed
    // field is never even parsed and no error fires — pruning reaches
    // the parser itself)
    intercept[org.apache.spark.SparkException] {
      spark.read.option("header", true).option("mode", "FAILFAST")
        .schema(schema).csv(s"$dir/in.csv").collect()
    }
  }

  test("loan schema has the reference's 42 nullable fields") {
    assert(Csv.loanSchema.fields.length == 42)
    assert(Csv.loanSchema.fields.forall(_.nullable))
    assert(Csv.loanSchema.fieldNames.take(3).toSeq ==
      Seq("loan_id", "user_id", "total_loan"))
    assert(Csv.loanSchema.fieldNames.last == "is_default")
  }

  test("GBK single-file sink round-trips Chinese strings (S4)") {
    val out = tmpDir("csv-s4")
    val df = Seq(("金融业", 48216L), ("普通企业", 136300L))
      .toDF("industry", "cnt")
    Csv.writeSingle(df, out)
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(p => p.endsWith(".csv"))
    assert(parts.length == 1) // single file, like the ref's repartition(1)
    val raw = Files.readAllBytes(Paths.get(parts.head))
    val gbk = new String(raw, Charset.forName("GBK"))
    assert(gbk.startsWith("industry,cnt"))
    assert(gbk.contains("金融业,48216"))
    // and the bytes are NOT utf-8 for the Chinese part
    assert(!new String(raw, "UTF-8").contains("金融业"))
    // read back through the engine's GBK-aware reader
    val back = Csv.readSchemaless(spark, parts.head, encoding = "GBK")
    assert(back.where($"industry" === "金融业").count() == 1)
  }

  // (bucketed-join exchange-freeness is asserted in PlanShapeSpec, with
  // the other plan-shape guards)

  test("compaction: 64 fragment files become few target-size files, rows identical") {
    val base = tmpDir("compact")
    val orders = Tables(spark, sf0001, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
    val fragFiles = Files.list(Paths.get(s"$base/frag")).toArray.map(_.toString)
      .count(_.endsWith(".parquet"))
    assert(fragFiles == 64)
    val n = graft.sources.Compaction.compact(spark, s"$base/frag", s"$base/out",
      targetBytes = 64L * 1024)
    val outFiles = Files.list(Paths.get(s"$base/out")).toArray.map(_.toString)
      .count(_.endsWith(".parquet"))
    assert(outFiles == n && n < 64 && n >= 1)
    // layout-only rewrite: identical multiset of rows
    val a = orders.orderBy("o_orderkey").collect()
    val b = spark.read.parquet(s"$base/out").orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("partitioned CSV sink writes one dir per partition value") {
    val out = tmpDir("csv-part")
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "grp")
    Csv.writePartitioned(df, out, partitionCols = Seq("grp"))
    val dirs = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.contains("grp=")).sorted
    assert(dirs.map(_.split("/").last).toSeq == Seq("grp=a", "grp=b"))
  }
}
