package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.LoanWorkload
import graft.sources.Csv

/** End-to-end reference parity on a synthetic loan-shaped fixture: the
  * four tasks of SURVEY.md §0 run through the public API surface
  * (Csv.readLoan → LoanWorkload.* → Csv.writeSingle), semantics asserted
  * against independently computed expectations. */
class LoanWorkloadSpec extends SparkTestBase {
  import spark.implicits._

  val Industries = Seq("金融业", "电力、热力生产供应业", "公共服务、社会组织",
    "文化和体育业", "信息传输、软件和信息技术服务业")
  val Employments = Seq("普通企业", "政府机构", "世界五百强", "高等教育机构",
    "幼教与中小学校", "家族企业")
  val WorkYears = Seq(null, "10+ years", "< 1 year", "1 year", "3 years",
    "6 years", "8 years")

  /** Deterministic 42-column loan frame (seeded), CSV-round-tripped so the
    * typed read path (S3) is part of every test below. */
  lazy val loan: DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 1500).map { i =>
      Row(
        i, 10000 + i,
        (rnd.nextInt(40) * 250 + 500).toDouble, // total_loan
        1 + rnd.nextInt(5), // year_of_loan
        5.0 + rnd.nextInt(1500) / 100.0, // interest
        100.0 + rnd.nextInt(90000) / 100.0, // monthly_payment
        ('A' + rnd.nextInt(5)).toChar.toString, // class
        s"${('A' + rnd.nextInt(5)).toChar}${1 + rnd.nextInt(4)}", // sub_class
        s"wt${rnd.nextInt(6)}", // work_type
        Employments(rnd.nextInt(Employments.length)), // employment_type
        Industries(rnd.nextInt(Industries.length)), // industry
        WorkYears(rnd.nextInt(WorkYears.length)), // work_year
        rnd.nextInt(2), rnd.nextInt(3), rnd.nextInt(3), // house/status/censor
        rnd.nextInt(4), rnd.nextInt(4), // marriage, offsprings
        f"2015/${1 + rnd.nextInt(12)}%d/1", // issue_date
        rnd.nextInt(14), // use
        (100 + rnd.nextInt(900)).toDouble, // post_code
        rnd.nextInt(50), // region
        rnd.nextInt(4000) / 100.0, // debt_loan_ratio
        rnd.nextInt(10).toDouble, // del_in_18month
        (600 + rnd.nextInt(100)).toDouble, // scoring_low
        (700 + rnd.nextInt(150)).toDouble, // scoring_high
        rnd.nextInt(3).toDouble, // pub_dero_bankrup
        rnd.nextInt(2), rnd.nextInt(5000), // early_return, amount
        rnd.nextInt(300000) / 100.0, // early_return_amount_3mon
        rnd.nextInt(500000) / 100.0, // recircle_b
        rnd.nextInt(10000) / 100.0, // recircle_u
        rnd.nextInt(2), // initial_list_status
        s"${Seq("Jan", "Feb", "Mar", "Apr")(rnd.nextInt(4))}-${80 + rnd.nextInt(30)}", // earlies_credit_mon
        rnd.nextInt(30).toDouble, 1.0, // title, policy_code
        rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), // f0-f2
        rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), // f3-f5
        rnd.nextInt(2)) // is_default
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Csv.loanSchema)
    val dir = Scratch.fresh("loan-fixture")
    Csv.writePartitioned(df, dir) // UTF-8 multi-file CSV
    Csv.readLoan(spark, dir)
  }

  test("T1: industry counts, count desc / industry asc, total preserved") {
    val out = LoanWorkload.t1IndustryCount(loan).as[(String, Long)].collect()
    assert(out.map(_._2).sum == 1500)
    assert(out.length == Industries.length)
    // sorted: count desc, key asc on ties
    assert(out.sortBy(r => (-r._2, r._1)).toSeq == out.toSeq)
    // against an independent computation
    val expect = loan.groupBy("industry").count()
      .as[(String, Long)].collect().toMap
    out.foreach { case (ind, c) => assert(expect(ind) == c) }
  }

  test("T1 output round-trips through the GBK sink like the ref goldens") {
    val dir = Scratch.fresh("t1-gbk")
    Csv.writeSingle(LoanWorkload.t1IndustryCount(loan), dir)
    val back = Csv.readSchemaless(spark, dir, encoding = "GBK")
    assert(back.count() == Industries.length)
    assert(back.where(col("industry") === "金融业").count() == 1)
  }

  test("T2: 1000-wide buckets, ref label format, all rows bucketed") {
    val out = LoanWorkload.t2LoanHistogram(loan)
      .as[(String, Long, Long)].collect()
    assert(out.map(_._3).sum == 1500)
    out.foreach { case (label, lo, _) =>
      assert(label == s"($lo,${lo + 1000})")
      assert(lo % 1000 == 0)
    }
    // total_loan in [500, 10500) => first bucket starts at 0
    assert(out.head._2 == 0)
  }

  test("T3-1: employment ratios are exact count/total, bround 4") {
    val out = LoanWorkload.t3EmployerTypeRatio(loan)
      .as[(String, Long, Double)].collect()
    assert(out.length == Employments.length)
    out.foreach { case (_, cnt, ratio) =>
      val exact = BigDecimal(cnt.toDouble / 1500)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      assert(ratio == exact)
    }
  }

  test("T3-2: total_money arithmetic in double") {
    val row = loan.where(col("loan_id") === 1)
      .select("year_of_loan", "monthly_payment", "total_loan").head()
    val expect = row.getInt(0) * row.getDouble(1) * 12 - row.getDouble(2)
    val got = LoanWorkload.t3TotalMoney(loan)
      .where(col("loan_id") === 1).select("total_money").head().getDouble(0)
    assert(got == expect)
  }

  test("T3-3: work_year parser + filter > 5 keeps exactly 6/8/10+ years") {
    val out = LoanWorkload.t3WorkYearFilter(loan)
    val kept = out.select("work_year").distinct()
      .as[String].collect().toSet
    assert(kept == Set("6 years", "8 years", "10+ years"))
    val expected = loan.where(col("work_year").isin("6 years", "8 years", "10+ years")).count()
    assert(out.count() == expected)
  }

  test("T4: feature pipeline + classifiers run end-to-end on loan schema") {
    val (model, feats) = LoanWorkload.t4Features(loan)
    val dim = feats.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    // 31 numerics (34 minus ids/label) + 6 indexed strings + 2 date buckets
    assert(dim == 39, s"dim=$dim")
    val res = LoanWorkload.t4TrainEval(feats)
      .as[(String, Double, Long, Long, Long)].collect()
    assert(res.length == 4)
    res.foreach { case (m, auc, _, _, _) =>
      info(f"$m auc=$auc%.3f")
      assert(auc >= 0.0 && auc <= 1.0)
    }
  }
}
