package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Materialize, Tables}

/** Scaling-curve harness (dev tool) for the heavy pairwise tail:
  * measures `jaccardPrefix`, `containmentPairs`, `containmentPrefix`
  * and `triangleCounts` at 1×/3×/10× of sf0.1 (10× sf0.1 ≈ sf1) and
  * prints per-op scaling exponents α = log(t_N/t_1)/log(N). Done right,
  * α stays well under 2 — the sub-quadratic evidence BASELINE.md
  * records.
  *
  * Unlike [[Stress]]'s plain replication (exact duplicates across
  * replicas — for PAIRWISE ops the true answer itself is quadratic in
  * the replication factor, so wall-clock measures output size, not the
  * candidate machinery), documents here get DISJOINT TOKEN SPACES per
  * replica: every token of replica r is prefixed `r<r>x`, so each
  * replica keeps the base corpus's internal near-dup structure while
  * sharing no shingle across replicas. That is the honest "corpus grew
  * N×" model: per-shingle df is unchanged, true pairs grow linearly,
  * and what's being measured is whether candidate generation and
  * verification stay near-linear. The graph op replicates edges with
  * shifted node ids — N disjoint copies, linear true triangle count.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Curve"
  */
object Curve {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = args.headOption
      .map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 3, 10))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-curve")

    val baseDocs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text")
    val docShift = baseDocs.agg(max("doc_id")).head.getLong(0) + 1L

    def docsAt(n: Int): DataFrame = Materialize.cache(
      (0 until n).map { r =>
        val text =
          if (r == 0) col("text")
          else array_join(
            transform(split(col("text"), " "),
              t => concat(lit(s"r${r}x"), t)), " ")
        baseDocs.select(
          (col("doc_id") + lit(r * docShift)).as("doc_id"),
          text.as("text"))
      }.reduce(_.union(_)), s"Curve.docs${n}x")

    // the registered graph_triangles edge stream (capped co-purchase)
    val basePairs = Materialize.cache(graft.SparkEntry.copurchaseTriEdges(
      Tables(spark, sfDir, "lineitem")), "Curve.basePairs")
    val nodeShift = basePairs.agg(greatest(max("da"), max("db")))
      .head.getLong(0) + 1L

    // ER corpus: entity names replicated with a replica marker on BOTH
    // ends (prefix "r<r>x", suffix "x<r>r") so neither the prefix-pass
    // nor the suffix-pass block keys collide across replicas — the same
    // disjoint-space discipline as the token prefixes above. True match
    // pairs therefore grow linearly; what's timed is the candidate
    // machinery. Keys shift by a multiple of 37·1000 so the dirty-query
    // selector (key % 37) and name suffix (key % 1000) are replica-
    // invariant.
    val baseEnts = Tables(spark, sfDir, "part")
      .select(col("p_partkey").as("cand_key"),
        concat(col("p_name"), lit("-"),
          (col("p_partkey") % 1000).cast("string")).as("name"))
    val entShift = {
      val m = baseEnts.agg(max("cand_key")).head.getLong(0) + 1L
      ((m / 37000L) + 1L) * 37000L
    }
    def entsAt(n: Int): DataFrame = Materialize.cache(
      (0 until n).map { r =>
        val nm = if (r == 0) col("name")
                 else concat(lit(s"r${r}x"), col("name"), lit(s"x${r}r"))
        baseEnts.select((col("cand_key") + lit(r * entShift)).as("cand_key"),
          nm.as("name"))
      }.reduce(_.union(_)), s"Curve.ents${n}x")
    def dirtyFrom(ents: DataFrame): DataFrame =
      ents.filter(col("cand_key") % 37 === 0)
        .withColumn("pos", (lit(5) +
          col("cand_key") % (length(col("name")) - lit(5))).cast("int"))
        .select(col("cand_key").as("q_key"),
          concat(expr("substring(name, 1, pos)"),
            expr("substring(name, pos + 2, 1000000)")).as("dirty"))

    def edgesAt(n: Int): DataFrame = Materialize.cache(
      (0 until n).map { r =>
        basePairs.select(
          (col("da") + lit(r * nodeShift)).as("da"),
          (col("db") + lit(r * nodeShift)).as("db"))
      }.reduce(_.union(_)), s"Curve.edges${n}x")

    // the op's own blocks are released after each timing; the replicated
    // input, cached before the scope opens, survives it
    def time(f: => Long): (Double, Long) = Materialize.scope(spark) {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val allOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "jaccard_prefix" -> (d => graft.ops.Dedup.jaccardPrefix(d)),
      "containment_capped" -> (d => graft.ops.Dedup.containmentPairs(d)),
      "containment_prefix" -> (d => graft.ops.Dedup.containmentPrefix(d)),
      "triangles" -> (d => graft.ops.Graphs.triangleCounts(d)),
      "er_fuzzy" -> (d => graft.ops.EntityResolution.fuzzyMatch(d, dirtyFrom(d))))
    // optional second arg: comma-separated op subset
    val ops = args.drop(1).headOption
      .map(_.split(",").toSet)
      .fold(allOps)(sel => allOps.filter(o => sel(o._1)))

    // JIT/codegen warmup, uncounted
    ops.foreach { case (name, f) =>
      val in = if (name == "triangles") edgesAt(1)
               else if (name == "er_fuzzy") entsAt(1) else docsAt(1)
      in.count(); time(f(in).count()); in.unpersist(true)
    }

    val results = ops.map { case (name, f) =>
      name -> factors.map { n =>
        val in = if (name == "triangles") edgesAt(n)
                 else if (name == "er_fuzzy") entsAt(n) else docsAt(n)
        val rows = in.count() // materialize the replicated input, uncounted
        val (dt, out) = time(f(in).count())
        in.unpersist(true)
        println(f"$name%-20s ${n}x  in=$rows%9d  out=$out%9d  $dt%8.2f s")
        n -> dt
      }
    }
    println("-- scaling exponents (alpha = log(tN/t1)/log(N); <2 = sub-quadratic)")
    results.foreach { case (name, ts) =>
      val t1 = ts.head._2
      val as = ts.tail.map { case (n, t) =>
        f"a($n)=${math.log(t / t1) / math.log(n.toDouble)}%.2f"
      }
      println(f"$name%-20s ${as.mkString("  ")}")
    }
    spark.stop()
  }
}
