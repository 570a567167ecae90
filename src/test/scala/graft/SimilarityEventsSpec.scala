package graft

import org.apache.spark.sql.functions._

import graft.ops.{Events, Multimodal, Similarity}

class SimilarityEventsSpec extends SparkTestBase {
  import spark.implicits._

  test("SQL surface: array_dot and rolling_hash resolve via extensions") {
    val r = spark.sql(
      """SELECT array_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       rolling_hash('ab') AS h""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 97L * 31 + 98) // (0*31+97)*31+98
    // wrong arity is an analysis-time error, not a silent drop
    val e = intercept[Exception](
      spark.sql("SELECT array_dot(array(CAST(1.0 AS FLOAT)))").head())
    assert(e.getMessage.contains("array_dot requires exactly 2"))
    // the dedup kernels are SQL-reachable too, and agree with their
    // Column-API forms
    val k = spark.sql(
      """SELECT simhash60('a b c') AS sh,
        |       size(word_shingle_poly_hashes('a b c d', 3)) AS nps,
        |       size(word_shingle_hashes('a b c d', 3)) AS nfs""".stripMargin).head()
    val direct = Seq(("a b c"))
      .toDF("t")
      .select(graft.functions.SimHash60(col("t")).as("sh")).head().getLong(0)
    assert(k.getLong(0) == direct && k.getInt(1) == 2 && k.getInt(2) == 2)
    // k must be a literal: analysis-time error otherwise
    val e2 = intercept[Exception](
      spark.sql("SELECT word_shingle_hashes('a b', 1 + 1)").head())
    assert(e2.getMessage.contains("literal int"))
    // string shingles and sign-LSH keys complete the kernel surface
    val s = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS ws,
        |       sign_lsh_keys(array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT)),
        |                     8, 4) AS keys""".stripMargin).head()
    assert(s.getSeq[String](0) == Seq("a b c", "b c d"))
    val directKeys = Seq(Array(0.5f, -1.0f)).toDF("v")
      .select(graft.functions.SignLshKeys(col("v"), 8, 4).as("k"))
      .head().getSeq[Long](0)
    assert(s.getSeq[Long](1) == directKeys && directKeys.length == 4)
    // the fuzzy kernel completes the SQL surface, DuckDB-pinned value
    val jw = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS j").head()
    assert(jw.getDouble(0) == 0.9611111111111111)
  }

  test("cosine: identical vectors score 1.0, orthogonal 0.0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteNearDup(df, -1.0)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0), (1L, 3L, 0.0), (2L, 3L, 0.0)))
  }

  test("bruteNearDup refuses to plan the all-pairs join beyond maxRows") {
    val emb = Tables(spark, sf0001, "embeddings")
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteNearDup(emb, 0.4, maxRows = 10)
    }
    assert(e.getMessage.contains("lshNearDup"))
  }

  test("bruteTopK: nearest neighbor ranked first, ties broken by vec_id") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),          // query
      (1L, Array(0.9f, 0.1f)),          // closest
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f)))          // farthest
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(df, 1, 3)
      .select("rnk", "vec_id").as[(Int, Long)].collect().toSeq
    assert(got == Seq((1, 1L), (2, 2L), (3, 3L)))
  }

  test("ivfTopK with nProbe = nCentroids equals bruteTopK exactly") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5).collect().toSeq
    val ivf = graft.ops.Similarity
      .ivfTopK(emb, 10, 5, nCentroids = 4, nProbe = 4).collect().toSeq
    assert(ivf == brute) // probing every list == exhaustive scan
  }

  test("lshMultiProbeTopK: contiguous exact-cosine ranks, deterministic") {
    val emb = Tables(spark, sf0001, "embeddings")
    val mp = graft.ops.Similarity.lshMultiProbeTopK(emb, 10, 5).collect()
    assert(mp.nonEmpty)
    mp.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // the whole approximate path is deterministic — byte-equal reruns
    // (keys, probe expansion, cap, re-rank: no float fit anywhere)
    val again = graft.ops.Similarity.lshMultiProbeTopK(emb, 10, 5).collect()
    assert(mp.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("probeLshIndex == inline lshMultiProbeTopK") {
    val emb = Tables(spark, sf0001, "embeddings")
    val dir = Scratch.fresh("lsh-index-spec")
    graft.ops.Similarity.buildLshIndex(emb, dir)
    val persisted = graft.ops.Similarity
      .probeLshIndex(spark, dir, emb, 10, 5).collect().toSeq
    val inline = graft.ops.Similarity
      .lshMultiProbeTopK(emb, 10, 5).collect().toSeq
    assert(persisted.map(_.toString) == inline.map(_.toString))
  }

  test("coverageSample: every cluster keeps m reps, rare modes included") {
    // cluster 0 (around seed 0) has 5 members, cluster 1 (around seed
    // 1) has only 2 — a density-proportional sample of 4 would likely
    // miss the sparse mode entirely; the balanced sample cannot
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // seed 0
      (1L, Array(0.0f, 1.0f)),   // seed 1
      (2L, Array(0.9f, 0.0f)), (3L, Array(0.95f, 0.0f)),
      (4L, Array(1.1f, 0.0f)), (5L, Array(0.85f, 0.0f)),
      (6L, Array(0.0f, 0.9f))).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.coverageSample(emb, k = 2, m = 2)
      .select("cluster_id", "rn", "vec_id")
      .as[(Long, Long, Long)].collect().toSeq
    val byCluster = got.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byCluster(0L).size == 2 &&
      byCluster(0L).subsetOf(Set(0L, 2L, 3L, 4L, 5L)))
    assert(byCluster(1L) == Set(1L, 6L)) // the sparse mode is ALL kept
    assert(got.groupBy(_._1).values.forall(
      _.map(_._2).sorted == Seq(1L, 2L)))
  }

  test("mmrRerank: redundancy penalty diversifies what plain top-k repeats") {
    // q=(2,1); A=(1,0) and B=(2,0) are PARALLEL (cos(q,A)=cos(q,B)=2/√5,
    // sim(A,B)=1); C=(1,2) has rel 4/5 and sim(C,A)=1/√5. Plain top-2 =
    // {A,B}. MMR step1 picks A (tie -> lower id); step2: score(B) =
    // 0.7·0.894 − 0.3·1 = 0.326 < score(C) = 0.7·0.8 − 0.3·0.447 =
    // 0.426 -> C. The redundant twin is dropped for the diverse doc.
    val emb = Seq(
      (0L, Array(2.0f, 1.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val brute = graft.ops.Similarity.bruteTopK(emb, 1, 2)
      .select("vec_id").as[Long].collect().toSet
    assert(brute == Set(1L, 2L))
    val mmr = graft.ops.Similarity.mmrRerank(emb, nQueries = 1, k = 2, c = 3)
      .select("q_id", "sel_rank", "vec_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(mmr == Seq((0L, 1L, 1L), (0L, 2L, 3L)))
  }

  test("ivfAppendAudit: hand corpus pins growth, staleness and rebuild verdict") {
    // k=2 -> seeds are even ids 0 and 2. Base (even ids): two tight
    // clusters around (1,0) and (0,1); base radius of each list is the
    // spread of its members. Appends (odd ids): 1 lands inside list 0's
    // envelope, 5 lands FAR from both centroids (beyond radius ->
    // stale); 3 lands inside list 2's envelope.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),    // seed / centroid of list 0
      (4L, Array(0.9f, 0.0f)),    // base member of list 0 (sets radius)
      (2L, Array(0.0f, 1.0f)),    // seed / centroid of list 2
      (6L, Array(0.0f, 0.9f)),    // base member of list 2
      (1L, Array(0.95f, 0.0f)),   // append, inside list 0's envelope
      (3L, Array(0.0f, 0.95f)),   // append, inside list 2's envelope
      (5L, Array(8.0f, 8.0f))     // append, far out -> beyond radius
    ).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.ivfAppendAudit(emb, k = 2)
      .select("cluster_id", "n_base", "n_appended", "n_beyond",
        "stale_bp", "needs_rebuild")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // list 0: base {0,4}; appends {1 (in), 5 (assigned to nearer 0-side?
    //   dist to both large; tie-broken by lower cid if equal)}.
    // q = floor(x*1024): c0=(1024,0), c2=(0,1024), v5=(8192,8192).
    // dist(5,c0) = 7168^2+8192^2; dist(5,c2) = 8192^2+7168^2 — equal,
    // lower cid wins -> list 0. radius0 = dist(4,c0) = (921-1024)^2 =
    // 10609 -> 5 is beyond. stale_bp = 1*10000 div 2 = 5000 > 2000.
    assert(got == Seq(
      (0L, 2L, 2L, 1L, 5000L, 1L),
      (2L, 2L, 1L, 0L, 0L, 0L)))
  }

  test("pqTopK with corpus-wide shortlist equals bruteTopK exactly") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5).collect().toSeq
    // shortlist covers every candidate -> the exact re-rank IS brute force,
    // whatever the codebooks learned
    val pq = graft.ops.Similarity
      .pqTopK(emb, 10, 5, shortlist = 500).collect().toSeq
    assert(pq == brute)
  }

  test("pqTopK at production shortlist keeps sane recall and rank structure") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val pq = graft.ops.Similarity.pqTopK(emb, 10, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // auto shortlist (max(50, 15% of corpus) = 75/500) then exact
    // re-rank: recall@5 must stay high
    assert(pq.size == brute.size)
    val recall = (pq & brute).size * 100 / brute.size
    info(s"PQ recall@5 at auto shortlist: $recall%")
    assert(recall >= 50, s"PQ recall collapsed: $recall%")
  }

  test("hardNegatives: different-label top-k with triplet-margin flags") {
    val emb = Seq(
      (0L, Seq(1f, 0f), 0),  // anchor
      (1L, Seq(1f, 1f), 0),  // positive, cos = 1/sqrt2
      (2L, Seq(4f, 1f), 1),  // hard negative, cos = 4/sqrt17 > pos
      (3L, Seq(1f, 4f), 1),  // easy negative, cos = 1/sqrt17 < pos
      (4L, Seq(-1f, 0f), 9)  // anti-aligned negative, ranks last
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(emb, nQueries = 1, k = 2)
      .as[(Long, Int, Long, Double, Option[Double], Option[Boolean])]
      .collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3, r._6)) == Seq(
      (0L, 1, 2L, Some(true)),   // negative beats hardest positive
      (0L, 2, 3L, Some(false))))
    assert(math.abs(got.head._4 - 4.0 / math.sqrt(17)) < 1e-6)
    assert(math.abs(got.head._5.get - 1.0 / math.sqrt(2)) < 1e-6)
    // an anchor with NO positive surfaces NULL pos_cos + NULL flag
    val solo = graft.ops.Similarity.hardNegatives(
        emb.filter(col("vec_id") =!= 1L), nQueries = 1, k = 2)
      .as[(Long, Int, Long, Double, Option[Double], Option[Boolean])]
      .collect().toSeq
    assert(solo.forall(r => r._5.isEmpty && r._6.isEmpty) && solo.size == 2)
  }

  test("pqTopK hi-res codebook holds recall with a fixed 64-row shortlist") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // the registered sublinear configuration: 8x256 codebooks, exact
    // re-rank bounded at 64 rows/query (12.8% here, 3.2% at sf0.1 and
    // falling with N — the scale path)
    val pq = graft.ops.Similarity.pqTopK(emb, 10, 5,
        m = 8, codebookSize = 256, shortlist = 64)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(pq.size == brute.size)
    val recall = (pq & brute).size * 100 / brute.size
    info(s"PQ hi-res recall@5 at fixed shortlist 64: $recall%")
    assert(recall >= 60, s"hi-res PQ recall collapsed: $recall%")
  }

  test("ivfTopK with partial probing returns k ranked rows per query") {
    val emb = Tables(spark, sf0001, "embeddings")
    val ivf = graft.ops.Similarity
      .ivfTopK(emb, 5, 3, nCentroids = 8, nProbe = 2)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("probeIvfIndex == inline ivfTopK; probe scan prunes partitions") {
    val emb = Tables(spark, sf0001, "embeddings")
    val idx = Scratch.fresh("ivf-spec")
    graft.ops.Similarity.buildIvfIndex(emb, idx)
    val probed = graft.ops.Similarity
      .probeIvfIndex(spark, idx, emb.filter($"vec_id" < 10), 5)
    val inline = graft.ops.Similarity.ivfTopK(emb, 10, 5)
    assert(probed.collect().toSeq == inline.collect().toSeq)
    // the probed lists scan must be dynamically pruned to the probed
    // clusters — reading all partitions would defeat the index layout
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probe scan not partition-pruned:\n$plan")
  }

  test("vector hygiene: exact-dup groups, norm bands, centroid drift") {
    // quantization: floor(0.5·1024)=512, floor(-0.25·1024)=-256,
    // floor(0.1·1024)=102, floor(0.9·1024)=921 — all exact by hand
    val emb = Seq(
      (0L, Array(0.5f, -0.25f)),
      (7L, Array(0.5f, -0.25f)), // bit-identical re-ingest of vec 0
      (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val dups = Similarity.exactDupVectors(emb)
      .as[(Long, Long, Long)].collect().toSeq
    assert(dups == Seq((0L, 7L, 2L)))
    // qn2: 512²+256² = 327680 (band 1 at width 262144); 102²+921² =
    // 858645 (band 3)
    val hist = Similarity.normHistogram(emb)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(hist == Seq((1L, 2L, 327680L, 327680L),
      (3L, 1L, 858645L, 858645L)))
    // halves by parity: even = {0}, odd = {3, 7}. dim0 odd floor-mean
    // (102+512) div 2 = 307; dim1 odd (921-256)=665 → floor 332 (the
    // pmod identity: 665 is odd and positive)
    val drift = Similarity.centroidDrift(emb)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(drift == Seq((0, 512L, 307L, 205L), (1, -256L, 332L, 588L)))
  }

  test("ivfPqTopK full-probe + corpus-wide shortlist equals bruteTopK") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5).collect().toSeq
    // probing every list with a shortlist covering every candidate makes
    // the exact re-rank exhaustive regardless of either quantizer — the
    // IVF and PQ parity disciplines must COMPOSE (also exercises the
    // window shortlist branch and the packed cluster/vec_id key)
    val full = graft.ops.Similarity.ivfPqTopK(emb, 10, 5,
      nCentroids = 4, nProbe = 4, m = 4, codebookSize = 16,
      shortlist = 500).collect().toSeq
    assert(full == brute)
  }

  test("ivfPqTopK sampled-fit production settings keep sane recall; " +
      "persisted probe matches inline") {
    val emb = Tables(spark, sf0001, "embeddings")
    val brute = graft.ops.Similarity.bruteTopK(emb, 10, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // registered shape: 6/16 lists probed, 8x256 codebooks fit on a
    // BITING sample (250 of 500), 64-row exact re-rank via the bounded
    // TopKAgg shortlist (IvfPqTune: 7000 bp here, 6900 bp at sf0.1)
    val prod = graft.ops.Similarity.ivfPqTopK(emb, 10, 5, nProbe = 6,
      fitSampleCap = 250)
    val prodSet = prod.select("q_id", "vec_id")
      .as[(Long, Long)].collect().toSet
    assert(prodSet.size == brute.size)
    val recall = (prodSet & brute).size * 100 / brute.size
    info(s"IVFADC recall@5 at nProbe 6/16, sampled fits: $recall%")
    assert(recall >= 40, s"IVFADC recall collapsed: $recall%")
    // build-once/probe-many form answers identically to the inline form
    // (same seeds, same bounded fit sample) and the codes scan carries
    // dynamic partition pruning to the probed lists
    val idx = Scratch.fresh("ivfpq-spec")
    graft.ops.Similarity.buildIvfPqIndex(emb, idx, fitSampleCap = 250)
    val probed = graft.ops.Similarity.probeIvfPqIndex(spark, idx,
      emb.filter($"vec_id" < 10), 5, nProbe = 6)
    assert(probed.collect().toSeq == prod.collect().toSeq)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"IVFADC codes scan not partition-pruned:\n$plan")
  }

  test("lshAutoGeometry: reproduces the registered tuning at bench " +
      "scales, grows r with N, refuses tau=0.4 at 100k+ (collision law)") {
    // the derivation lands EXACTLY on the historical 8-bit x 32-band
    // tuning everywhere the driver verifies (N <= 4096), so the baked
    // SQL twins stay valid
    assert(Similarity.lshAutoGeometry(500, 0.4) == ((8, 32)))
    assert(Similarity.lshAutoGeometry(2000, 0.4) == ((8, 32)))
    assert(Similarity.lshAutoGeometry(4096, 0.4) == ((8, 32)))
    // x10: wider bands (load ~16/bucket held), more of them (recall held)
    val (r10, b10) = Similarity.lshAutoGeometry(20000, 0.4)
    assert(r10 == 12 && b10 > 32 && b10 <= 256, s"got ($r10, $b10)")
    // the near-dup radius stays viable across decades (gentle band growth)
    val (r9a, b9a) = Similarity.lshAutoGeometry(200000, 0.9)
    assert(b9a <= 16, s"tau=0.9 bands should stay small, got ($r9a, $b9a)")
    // tau=0.4 at 200k: the collision law says NO - loudly, routing to IVF
    val e = intercept[IllegalArgumentException] {
      Similarity.lshAutoGeometry(200000, 0.4)
    }
    assert(e.getMessage.contains("IVF"), e.getMessage)
    // the non-throwing form agrees: None where the throwing form refuses
    assert(Similarity.lshAutoGeometryOpt(200000, 0.4).isEmpty)
    assert(Similarity.lshAutoGeometryOpt(2000, 0.4).contains((8, 32)))
  }

  test("ORACLE-PAIRING TRIPWIRE (ADVICE r11): the auto geometry lands " +
      "on the baked (8, 32) across the WHOLE driver-verified corpus " +
      "range at tau=0.4 — adding a verify scale past 4096 vectors " +
      "must update the sign-LSH SQL twins together with this spec") {
    for (n <- Seq(1L, 100L, 500L, 2000L, 4096L))
      assert(Similarity.lshAutoGeometryOpt(n, 0.4).contains((8, 32)),
        s"auto geometry moved off (8,32) at n=$n")
    // first scale where the derivation leaves the baked constants:
    // n/16 > 256 buckets-per-band ⇒ r grows past 8 at n = 4112
    assert(!Similarity.lshAutoGeometryOpt(4112L, 0.4).contains((8, 32)))
  }

  test("ANN-KNOB-LADDER TRIPWIRE: the scale-aware defaults equal the " +
      "oracle-baked base rung for every driver-verified corpus size, " +
      "and the upper rungs are the measured retune points") {
    for (n <- Seq(1L, 500L, 2000L, 4096L)) {
      assert(SparkEntry.ivfPqNProbe(n) == 6 &&
        SparkEntry.ivfPqShortlist(n) == 64 && SparkEntry.pqShortlist(n) == 64,
        s"base rung moved at n=$n")
    }
    assert(SparkEntry.ivfPqNProbe(20000L) == 12 &&
      SparkEntry.ivfPqShortlist(20000L) == 128 &&
      SparkEntry.pqShortlist(20000L) == 64)
    assert(SparkEntry.ivfPqNProbe(200000L) == 12 &&
      SparkEntry.ivfPqShortlist(200000L) == 256 &&
      SparkEntry.pqShortlist(200000L) == 512)
  }

  test("lshNearDup ROUTES the collision-law refusal to IVF candidates " +
      "instead of throwing (VERDICT r11 item 1), and the routed path " +
      "only prunes — never invents pairs") {
    val emb = Tables(spark, sf0001, "embeddings")
    val exact = Similarity.bruteNearDup(emb, 0.4)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    // corpusN pinned to a refusing scale: auto banding would throw here
    // pre-routing; now the call must complete via the IVF path
    val routed = Similarity.lshNearDup(emb, 0.4,
        corpusN = Similarity.RoutedOracleCorpusN)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(routed.subsetOf(exact), "routed path must never invent pairs")
    // ADVICE r13: the TWO-LEVEL approximate config (nCodes > 64, gProbe
    // 4 of √C groups — the exact branch sim_ivf_neardup oracles) must
    // hold a recall floor, not just subset-of-exact: a grouping or
    // gProbe regression that collapsed candidate recall to near zero
    // previously passed every test.
    assert(routed.size * 10 >= exact.size * 3,
      s"two-level routed near-dup recall too low: ${routed.size}/${exact.size}")
    // the natural-config IVF route (auto nCentroids for the actual
    // corpus) holds a usable share of the exact pair set
    val ivf = Similarity.ivfNearDup(emb, 0.4)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(exact))
    assert(ivf.size * 10 >= exact.size * 3,
      s"IVF near-dup recall too low: ${ivf.size}/${exact.size}")
  }

  test("lshNearDup finds most exact pairs at sf0.001 (candidate pruning only)") {
    val emb = Tables(spark, sf0001, "embeddings")
    val exact = Similarity.bruteNearDup(emb, 0.4)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshNearDup(emb, 0.4)
      .select("va", "vb").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exact), "LSH must never invent pairs")
    assert(approx.size >= exact.size / 2,
      s"LSH recall too low: ${approx.size}/${exact.size}")
  }

  test("ann_recall: captured == LSH pairs (subset), recall in sane band") {
    val (nExact, nLsh, nCaptured, recallBp) =
      SparkEntry.queries("ann_recall")(spark, sf0001)
        .as[(Long, Long, Long, Long)].collect().head
    info(s"LSH pair recall: $nCaptured/$nExact = $recallBp bp (n_lsh=$nLsh)")
    // re-scored candidates always pass the exact filter, so captured==lsh
    assert(nCaptured == nLsh)
    assert(nExact > 0 && recallBp >= 4000 && recallBp <= 10000,
      s"recall_bp $recallBp outside the hard-regime band (doc: ~60%)")
  }

  test("ann_recall_ivf: partial-probe recall@k does not collapse") {
    val (nExact, nCaptured, recallBp) =
      SparkEntry.queries("ann_recall_ivf")(spark, sf0001)
        .as[(Long, Long, Long)].collect().head
    info(s"IVF recall@5 at nProbe=4/16: $nCaptured/$nExact = $recallBp bp")
    assert(nExact == 100L) // 20 queries × k=5
    assert(recallBp >= 5000, s"IVF recall collapsed: $recallBp bp")
  }

  test("ann_recall_pq: ADC-shortlist recall@k does not collapse") {
    val (nExact, nCaptured, recallBp) =
      SparkEntry.queries("ann_recall_pq")(spark, sf0001)
        .as[(Long, Long, Long)].collect().head
    info(s"PQ recall@5 at m=4/16 codewords: $nCaptured/$nExact = $recallBp bp")
    assert(nExact == 100L) // 20 queries × k=5
    assert(recallBp >= 4000, s"PQ recall collapsed: $recallBp bp")
  }

  test("covPowerStep: hand-computed second moments and row sums") {
    // q(v0)=(1024,0), q(v1)=(1024,1024): G = [[2m, m],[m, m]], m = 2^20
    // v1 = G·1 -> (3m, 2m); diag -> (2m, m)
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val m = 1L << 20
    val got = Similarity.covPowerStep(df)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0, 3 * m, 2 * m, 2L), (1, 2 * m, m, 2L)))
  }

  test("kmeansStep: hand-computed Lloyd round on a separable corpus") {
    // seeds = vec 0 (near x-axis) and vec 1 (near y-axis); members 2..5
    // split cleanly. Quantized at 1024: floor is exact on these values.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.5f, 0.0f)),   // -> cluster 0
      (3L, Array(0.25f, 0.0f)),  // -> cluster 0
      (4L, Array(0.0f, 0.5f)),   // -> cluster 1
      (5L, Array(0.0f, 0.25f))   // -> cluster 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansStep(df, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // cluster 0: q-vectors (1024,0),(512,0),(256,0) -> mean (597,0)
    //   (1792 div 3 = 597 floor); shift (1024-597)^2 = 182329
    // cluster 1: symmetric in y
    assert(out.toSeq == Seq(
      (0L, 3L, 3L, 597L, 182329L),
      (1L, 3L, 3L, 597L, 182329L)))
  }

  test("kmeansAssignStats: hand-computed shares, inertia and radius") {
    // seeds v0=(0,0), v1=(10,10); v2=(0.5,0)->c0 at 512²; v3=(9.5,10)
    // ->c1 at 512² — two clusters of 2, share 5000 bp each
    val df = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.5f, 0.0f)),
      (3L, Array(9.5f, 10.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssignStats(df, k = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 5000L, 262144L, 262144L),
      (1L, 2L, 5000L, 262144L, 262144L)))
  }

  test("kmeansAssignStats: shares partition the corpus at sf0.001") {
    val emb = Tables(spark, sf0001, "embeddings")
    val n = emb.count()
    val out = Similarity.kmeansAssignStats(emb).collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).sum == n, "members partition the corpus")
    // floor shares can undershoot by < k bp in total, never overshoot
    val shareSum = out.map(_.getLong(2)).sum
    assert(shareSum <= 10000L && shareSum > 10000L - 8L)
    assert(out.forall(r => r.getLong(4) >= 0L &&
      r.getLong(3) >= r.getLong(4)), "inertia >= radius >= 0")
  }

  test("kmeansStep: clusters partition the corpus at sf0.001") {
    val emb = Tables(spark, sf0001, "embeddings")
    val n = emb.count()
    val out = Similarity.kmeansStep(emb).collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(1)).sum == n, "round-1 assignment partitions")
    assert(out.map(_.getLong(2)).sum == n, "round-2 assignment partitions")
    assert(out.forall(_.getLong(4) >= 0L))
  }

  test("events_winsorize_approx: sketch bounds within rank-ε of exact") {
    val ev = Tables(spark, sf001, "events")
    // the approx bound must land between the exact percentiles at
    // q ∓ 0.005 — generous vs the GK guarantee (rank error ≤ N/accuracy
    // = 0.01% + the element-vs-interpolation step)
    val exact = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.045)").as("lo05"),
      expr("percentile(value, 0.055)").as("hi05"),
      expr("percentile(value, 0.945)").as("lo95"),
      expr("percentile(value, 0.955)").as("hi95"))
      .as[(String, Double, Double, Double, Double)].collect()
    val approx = ev.groupBy("event_type")
      .agg(expr("approx_percentile(value, array(0.05, 0.95), 10000)").as("p"))
      .select(col("event_type"), col("p")(0), col("p")(1))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (t, lo05, hi05, lo95, hi95) =>
      val (a05, a95) = approx(t)
      assert(a05 >= lo05 && a05 <= hi05, s"$t p05 $a05 outside [$lo05,$hi05]")
      assert(a95 >= lo95 && a95 <= hi95, s"$t p95 $a95 outside [$lo95,$hi95]")
    }
  }

  test("events_winsorize_approx (portable hist form): each bound is the " +
      "MINIMAL covering bin upper edge — rank error bounded by one " +
      "64-cent bin by construction (VERDICT r11 item 6)") {
    val ev = Tables(spark, sf001, "events")
    val cents = ev.select(col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val hist = graft.ops.Sketches.histCountsBy(cents, "cents",
      Seq("event_type"), 0L, 64L, 1024)
    val bounds = graft.ops.Sketches.histQuantilesBy(hist, Seq("event_type"),
        Seq(500, 9500), 0L, 64L, 1024)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(bounds.nonEmpty && bounds.length % 2 == 0)
    val byType = cents.as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    bounds.foreach { case (t, qBp, _, est, nTotal) =>
      val vs = byType(t)
      assert(nTotal == vs.length.toLong)
      val covered = vs.count(_ <= est).toLong
      val prev = vs.count(_ <= est - 64L).toLong
      assert(covered * 10000L >= qBp * nTotal,
        s"$t q=$qBp: est $est does not cover its rank")
      assert(prev * 10000L < qBp * nTotal,
        s"$t q=$qBp: est $est is not the minimal covering bin")
    }
  }

  test("PNG synth→decode round trip matches the closed-form arithmetic") {
    // REAL javax.imageio encode + decode: the decoded dims and pixel sum
    // must reproduce the synthesis parameters exactly (grayscale PNG is
    // lossless), including ids past the 256 pixel-value cycle
    val ids = Seq(0L, 1L, 17L, 255L, 256L, 1234L)
    val got = Multimodal.decodeReal(spark, ids.toDF("doc_id"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    val want = ids.map { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + ((id % 9) * 7 % 9).toInt
      val a = (id % 256) * 31 % 256
      (id, w, h, (0L until (w * h).toLong).map(i => (a + i) % 256).sum)
    }
    assert(got == want)
  }

  test("animated-GIF synth→frame-sample round trip is exact") {
    // REAL multi-frame container: every 2nd frame decoded back must
    // reproduce the solid-gray synthesis arithmetic exactly (solid
    // frames force a lossless palette round trip)
    val ids = Seq(0L, 1L, 7L, 255L, 256L, 999L)
    val got = Multimodal.framesReal(spark, ids.toDF("doc_id"))
      .as[(Long, Int, Int, Int, Long)].collect().toSeq
    val want = ids.sorted.flatMap { id =>
      val w = 6 + (id % 5).toInt
      val h = 6 + (id % 7).toInt
      val nf = 3 + (id % 3).toInt
      (0 until nf by 2).map { f =>
        (id, f, w, h, ((id % 256) * 31 + 37L * f) % 256 * w * h)
      }
    }
    assert(got == want)
  }

  test("PNG resize kernel: decode→resample→re-encode→decode, exact sums") {
    val ids = Seq(0L, 5L, 300L)
    val got = Multimodal.resizeReal(spark, ids.toDF("doc_id"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    val want = ids.map { id =>
      val w = 8 + (id % 9).toInt
      val h = 8 + ((id % 9) * 7 % 9).toInt
      val a = (id % 256) * 31 % 256
      val sum = (for (y <- 0 until 16; x <- 0 until 16)
        yield (a + (y * h / 16).toLong * w + (x * w / 16)) % 256).sum
      (id, 16, 16, sum)
    }
    assert(got == want)
  }

  test("sessionize: gap > 30min starts a new session") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq(
      (1L, ts(0), 10L, "click", 1.0, "{}"),
      (2L, ts(10), 10L, "view", 2.0, "{}"),
      (3L, ts(50), 10L, "click", 3.0, "{}"), // 40min gap -> new session
      (4L, ts(5), 20L, "view", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.sessionize(df)
      .select("user_id", "session_idx", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L, 2L), (10L, 2L, 1L), (20L, 1L, 1L)))
  }

  test("asOfJoin: latest prior (or simultaneous) right value, else null") {
    def ev(id: Long, tMin: Long, u: Long, tpe: String, v: Double) =
      (id, new java.sql.Timestamp(tMin * 60000L), u, tpe, v, "{}")
    val df = Seq(
      ev(1, 0, 1, "view", 10.0),
      ev(2, 5, 1, "click", 1.0), // sees view@0 -> 10
      ev(3, 9, 1, "view", 20.0),
      ev(4, 9, 1, "click", 2.0), // simultaneous view counts (>=) -> 20
      ev(5, 1, 2, "click", 3.0)) // user 2 has no view -> null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Events.asOfJoin(df, "click", "view")
      .select("event_id", "asof_value")
      .as[(Long, Option[Double])].collect().toMap
    assert(out == Map(2L -> Some(10.0), 4L -> Some(20.0), 5L -> None))
  }

  test("asOfJoinForward: earliest following view, simultaneous counts, gap exact") {
    def ev(id: Long, tMin: Long, u: Long, tpe: String, v: Double) =
      (id, new java.sql.Timestamp(tMin * 60000L), u, tpe, v, "{}")
    val df = Seq(
      ev(1, 5, 1, "click", 1.0), // next view at 9 -> 20.0, gap 4min
      ev(2, 9, 1, "view", 20.0),
      ev(3, 9, 1, "click", 2.0), // simultaneous view at 9 counts -> 20.0
      ev(4, 12, 1, "view", 30.0),
      ev(5, 13, 1, "click", 3.0), // no view after -> null
      ev(6, 1, 2, "click", 4.0)) // user 2 has no view -> null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Events.asOfJoinForward(df, "click", "view")
      .select("event_id", "next_value", "gap_us")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> ((Some(20.0), Some(4L * 60000000L))),
      3L -> ((Some(20.0), Some(0L))),
      5L -> ((None, None)),
      6L -> ((None, None))))
  }

  test("asOfJoin: a null-VALUED right match is returned, not skipped (ASOF semantics)") {
    val df = Seq(
      (1L, new java.sql.Timestamp(0L), 1L, "view", Some(5.0), "{}"),
      (2L, new java.sql.Timestamp(60000L), 1L, "view", None: Option[Double], "{}"),
      (3L, new java.sql.Timestamp(120000L), 1L, "click", Some(1.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.ops.Events.asOfJoin(df, "click", "view")
      .select("event_id", "asof_value")
      .as[(Long, Option[Double])].collect().toMap
    // the LATEST prior view (value null) must win over the older 5.0
    assert(out == Map(3L -> None))
  }

  test("propsFieldAgg parses JSON with explicit schema, null-safe") {
    val df = Seq(
      (1L, "click", """{"k": 5}"""),
      (2L, "click", """{"k": 7}"""),
      (3L, "view", """not json"""),
      (4L, "view", null: String))
      .toDF("event_id", "event_type", "props")
    val out = graft.ops.Events.propsFieldAgg(df)
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(out == Seq(
      ("click", 2L, Some(12L), Some(5L), Some(7L)),
      ("view", 0L, None, None, None)))
  }

  test("slidingAgg: every event lands in exactly window/slide windows") {
    val events = Tables(spark, sf0001, "events")
    val n = events.count()
    val slid = graft.ops.Events.slidingAgg(events)
    // 1h windows sliding 30min => each event counted exactly twice
    assert(slid.agg(org.apache.spark.sql.functions.sum("cnt"))
      .head().getLong(0) == 2 * n)
    // window starts on the 30-min grid
    assert(slid.filter(
      org.apache.spark.sql.functions.col("win_start_us") % (1800L * 1000000) =!= 0)
      .count() == 0)
  }

  test("tumblingAgg: hour windows align to epoch hours") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:59:59"), 1L, "click", 1.5, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "click", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.tumblingAgg(df)
      .select("win_start_us", "cnt", "sum_value")
      .as[(Long, Long, Double)].collect().toSeq
    val h0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in us
    assert(got == Seq((h0, 1L, 1.5), (h0 + 3600000000L, 1L, 2.5)))
  }

  test("quantizeInt8: scale is max|x|, floor semantics, zero vector stays zero") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.quantizeInt8(df)
      .as[(Long, Double, String)].collect().toSeq
    // scale 1.0: floor(0.5*127)=63, floor(-127)=-127, floor(0.25*127)=31
    assert(got == Seq((1L, 1.0, "63,-127,31"), (2L, 0.0, "0,0")))
    // corpus-wide: every quantized component within [-127, 127]
    val emb = Tables(spark, sf0001, "embeddings")
    val outOfRange = graft.ops.Similarity.quantizeInt8(emb)
      .select(explode(split(col("q_csv"), ",")).as("qs"))
      .select(col("qs").cast("long").as("q"))
      .filter(col("q") < -127 || col("q") > 127)
    assert(outOfRange.count() == 0)
  }

  test("multimodal decode stub: distributed batched decode, exact byte counts") {
    val docs = Tables(spark, sf0001, "documents")
    val meta = Multimodal.decodeMeta(spark, docs)
    val viaSql = Multimodal.binaryMeta(docs).select("doc_id", "n_bytes")
      .as[(Long, Long)].collect().toMap
    val got = meta.select("doc_id", "n_bytes").as[(Long, Long)].collect().toMap
    assert(got == viaSql)
    val r = meta.head()
    assert(r.getAs[Int]("width") >= 64 && r.getAs[Int]("n_frames") >= 1)
  }

  test("weeklyRetention: retained = active in week AND week+7d") {
    def ev(id: Long, day: Int, u: Long, tpe: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
        u, tpe, 1.0, "{}")
    // week1 = Jan 1-7, week2 = Jan 8-14
    val df = Seq(
      ev(1, 1, 10, "purchase"), ev(2, 9, 10, "purchase"), // retained
      ev(3, 2, 20, "purchase"), // not retained
      ev(4, 3, 30, "click"), // wrong type: not active at all
      ev(5, 10, 40, "purchase")) // week2 only
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.weeklyRetention(df)
      .select("week_start_us", "n_active", "n_retained")
      .as[(Long, Long, Long)].collect().toSeq
    val w1 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val w2 = w1 + 7L * 86400 * 1000000L
    assert(got == Seq((w1, 2L, 1L), (w2, 2L, 0L)))
  }

  test("forwardFill: LOCF per user; leading gap stays null") {
    def ev(id: Long, min: Long, u: Long, v: Double) =
      (id, new java.sql.Timestamp(min * 60000L), u, "view", v, "{}")
    val df = Seq(
      ev(5, 0, 1, 1.25), // id%5==0 -> blanked; leading null stays null
      ev(6, 1, 1, 2.0),
      ev(10, 2, 1, 9.99), // blanked -> carries 2.0
      ev(11, 3, 2, 3.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.forwardFill(df)
      .select("event_id", "filled_cents")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(5L -> None, 6L -> Some(200L),
      10L -> Some(200L), 11L -> Some(350L)))
  }

  test("hofStats: positive count and integer quadrature are exact") {
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 0.0f), 0),
      (2L, Array.empty[Float], 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hofStats(df)
      .select("vec_id", "n_pos", "qnorm2")
      .as[(Long, Long, Long)].collect().toSeq
    // round(500)^2 + round(-250)^2 + 0 = 250000 + 62500
    assert(got == Seq((1L, 1L, 312500L), (2L, 0L, 0L)))
  }

  test("resampleHourly: dense grid per user, LOCF through empty hours") {
    def ev(id: Long, hour: Int, u: Long, v: Double) =
      (id, new java.sql.Timestamp(hour * 3600000L), u, "view", v, "{}")
    val df = Seq(
      ev(1, 0, 1, 1.0), ev(2, 0, 1, 2.5), // hour 0: 2 events, 350 cents
      ev(3, 3, 1, 4.0), //                   hours 1-2 empty -> carry 350
      ev(4, 5, 2, 0.5)) //                   user 2: single-hour grid
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.resampleHourly(df)
      .select("user_id", "hour_us", "n_events", "filled_cents")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val h = 3600000000L
    assert(got == Seq(
      (1L, 0L, 2L, 350L), (1L, h, 0L, 350L), (1L, 2 * h, 0L, 350L),
      (1L, 3 * h, 1L, 400L), (2L, 5 * h, 1L, 50L)))
  }

  test("rollingAnomaly: abstains below minN, flags a spike, never self-masks") {
    def ev(id: Long, v: Double) =
      (id, new java.sql.Timestamp(id * 60000L), 1L, "view", v, "{}")
    // 10 identical values (variance 0), then a spike
    val df = ((1 to 10).map(i => ev(i.toLong, 1.00)) :+ ev(11L, 9.99))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.ops.Events.rollingAnomaly(df)
      .select("event_id", "n_prev", "is_anomaly")
      .as[(Long, Long, Long)].collect().toSeq
    // ids 1-8: n_prev < 8 -> abstain; 9-10: zero deviation -> 0; 11: flag
    assert(got.filter(_._3 == 1L).map(_._1) == Seq(11L))
    assert(got.find(_._1 == 11L).get._2 == 10L)
    assert(got.take(8).forall(r => r._2 < 8L && r._3 == 0L))
  }

  test("matryoshkaRecall: full-width prefix is a perfect 10000 bp; prefix degrades within bounds") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val full = graft.ops.Similarity.matryoshkaRecall(emb, dims = 64,
        nQueries = 10, k = 5)
      .select("recall_bp").as[Long].collect()
    assert(full.length == 10 && full.forall(_ == 10000L),
      "prefix = full vector must reproduce the exact ranking")
    val pre = graft.ops.Similarity.matryoshkaRecall(emb, dims = 16,
        nQueries = 10, k = 5)
      .select("recall_bp").as[Long].collect()
    assert(pre.length == 10 && pre.forall(r => r >= 0L && r <= 10000L))
  }

  test("forecastBacktest: pure weekly pattern — seasonal MAE 0, naive pays the wrap") {
    // x(d) = (d % 7) * 2 + 5 over days 0..13: seasonal naive is exact,
    // plain naive pays +2 per day and 12 at each week wrap
    var id = 0L
    val rows = for {
      day <- 0L to 13L
      k <- 1 to ((day % 7) * 2 + 5).toInt
    } yield {
      id += 1
      (id, new java.sql.Timestamp(day * 86400000L + k * 1000L), 1L,
        "click", 1.0, "{}")
    }
    val df = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.forecastBacktest(df)
      .as[(String, Long, Long, Long, String)].collect().toSeq
    // days 7..13 scored: mae_seasonal = 0; naive sum 12+2*6 = 24 -> 3
    assert(got == Seq(("click", 7L, 0L, 3L, "seasonal")))
  }

  test("rollingActiveUsers: exact trailing-window distinct, partial head, trimmed tail") {
    def ev(id: Long, day: Long, u: Long) =
      (id, new java.sql.Timestamp(day * 86400000L + id), u, "view", 1.0,
        "{}")
    // users: 1 active days 0,1; 2 active day 0 (twice); 3 active day 9
    val df = Seq(ev(1, 0, 1), ev(2, 1, 1), ev(3, 0, 2), ev(4, 0, 2),
      ev(5, 9, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.rollingActiveUsers(df, windowDays = 3)
      .select("day", "n_active").as[(Long, Long)].collect().toSeq
    // day 0: {1,2}=2; day 1: {1,2}=2; day 2: {1,2}=2; day 3: {1}=1;
    // days 4..8 absent (no activity in window); day 9: {3}=1;
    // days 10,11 trimmed (past the last active day)
    assert(got == Seq((0L, 2L), (1L, 2L), (2L, 2L), (3L, 1L), (9L, 1L)))
  }

  test("concurrencyTimeline: sweep line counts overlapping sessions exactly") {
    def ev(id: Long, min: Long, u: Long) =
      (id, new java.sql.Timestamp(min * 60000L), u, "view", 1.0, "{}")
    // sessions (gap 10): u1 [0,10], u2 [5,6], u3 [8,9] — u2 closes
    // before u3 opens, so concurrency walks 1,2,1,2,1,0 and peaks at 2
    val df = Seq(ev(1, 0, 1), ev(2, 10, 1), ev(3, 5, 2), ev(4, 6, 2),
      ev(5, 8, 3), ev(6, 9, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.concurrencyTimeline(df, gapMinutes = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.head._3 == 2L && got.head._4 == 2L,
      "peak concurrency is 2 (u2 closed before u3 opened)")
    assert(got.map(_._3).max == got.head._4)
    // net-zero instants are collapsed away; deltas are +-1 here
    assert(got.forall(r => r._2 == 1L || r._2 == -1L))
  }

  test("growthAccounting: ledger balances, churn on the day after the gap") {
    def ev(id: Long, day: Long, u: Long) =
      (id, new java.sql.Timestamp(day * 86400000L + id), u, "view", 1.0,
        "{}")
    // u1: days 0,1,3 (gap at 2); u2: day 1 only; u3: days 0..3
    val df = Seq(ev(1, 0, 1), ev(2, 1, 1), ev(3, 3, 1), ev(4, 1, 2),
      ev(5, 0, 3), ev(6, 1, 3), ev(7, 2, 3), ev(8, 3, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.growthAccounting(df)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 0L, 0L, 0L),
      (1L, 3L, 1L, 2L, 0L, 0L),
      (2L, 1L, 0L, 1L, 0L, 2L), // u1 and u2 churned into day 2
      (3L, 2L, 0L, 1L, 1L, 0L))) // u1 resurrects; last day churn = 0
  }

  test("paretoReport: hand-computed decile shares and cumulative mass") {
    // 4 users, 2 buckets: u1=1, u2=1 | u3=2, u4=6 events (tot 10)
    def ev(id: Long, u: Long) =
      (id, new java.sql.Timestamp(id * 1000L), u, "view", 1.0, "{}")
    var id = 0L
    val rows = Seq(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 6).flatMap {
      case (u, n) => Seq.fill(n) { id += 1; ev(id, u) }
    }
    val df = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.paretoReport(df, nBuckets = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // bucket 2 = {u3, u4}: 8 events = 8000 bp; cum from top 8000 then 10000
    assert(got == Seq(
      (2L, 2L, 8L, 8000L, 8000L),
      (1L, 2L, 2L, 2000L, 10000L)))
  }

  test("cusumAlarm: prefix-scan form equals the clamped recursion; sustained shift alarms") {
    // one type, 6 days: counts 10,10,10 then 16,16,16; mu = 78/6 = 13
    // residuals -3,-3,-3,+3,+3,+3 -> recursion S = 0,0,0,3,6,9
    var id = 0L
    val rows = for {
      (day, n) <- Seq((0L, 10), (1L, 10), (2L, 10), (3L, 16), (4L, 16),
        (5L, 16))
      k <- 1 to n
    } yield {
      id += 1
      (id, new java.sql.Timestamp(day * 86400000L + k * 1000L), 1L,
        "click", 1.0, "{}")
    }
    val df = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.cusumAlarm(df, h = 5L)
      .select("day", "x", "mu", "s", "is_alarm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._4) == Seq(0L, 0L, 0L, 3L, 6L, 9L),
      "S trajectory must equal the clamped recursion")
    // each +3 day is individually under h=5; the RUN of them alarms
    assert(got.map(_._5) == Seq(0L, 0L, 0L, 0L, 1L, 1L))
  }

  test("audioVad: planted bursts recovered from true decoded PCM") {
    val ids = (0L to 9L).toDF("doc_id")
    val got = Multimodal.audioVad(spark, ids)
      .as[(Long, Long, Long, Long, Int)].collect().toSeq
    val want = (0L to 9L).map { id =>
      val two = id % 5 != 0
      (id, 12 + id % 5,
        2 + id % 3 + (if (two) 1 + id % 2 else 0L),
        if (two) 2L else 1L, 2)
    }
    assert(got == want)
    // a sky-high threshold silences everything: 0 segments, -1 marker
    val mute = Multimodal.audioVad(spark, ids,
        energyThreshold = Long.MaxValue / 2)
      .select("n_segments", "first_voiced_frame")
      .as[(Long, Int)].collect().toSeq
    assert(mute.forall(_ == ((0L, -1))))
  }

  test("shotDetect: planted cuts recovered from true decoded frames") {
    val ids = (0L to 7L).toDF("doc_id")
    val got = Multimodal.shotDetect(spark, ids)
      .as[(Long, Long, Long, Int)].collect().toSeq
    val want = (0L to 7L).map { id =>
      val hasCut = id % 4 != 0
      (id, 6 + id % 3, if (hasCut) 1L else 0L,
        if (hasCut) (2 + id % 3).toInt else -1)
    }
    assert(got == want)
    // a gentler threshold still must not fire on the 2/frame drift
    val strict = Multimodal.shotDetect(spark, ids, threshold = 5)
      .select("n_cuts").as[Long].collect().toSeq
    assert(strict == got.map(_._3), "drift of 2 never trips threshold 5")
  }

  test("sessionOverlaps: hand-traced concurrency pairs, touching counts, band guard fires") {
    def ev(id: Long, min: Long, u: Long) =
      (id, new java.sql.Timestamp(min * 60000L), u, "view", 1.0, "{}")
    // gap 10min: u1 [0,10]; u2 [5,6] + [22,23]; u3 [10,25]
    val df = Seq(ev(1, 0, 1), ev(2, 10, 1), ev(3, 5, 2), ev(4, 6, 2),
      ev(5, 22, 2), ev(6, 23, 2), ev(7, 10, 3), ev(8, 20, 3),
      ev(9, 25, 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.sessionOverlaps(df, gapMinutes = 10)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // (1,2): [0,10]∩[5,6] = 1min; (2,3): [22,23]∩[10,25] = 1min;
    // (1,3): closed intervals TOUCH at minute 10 -> counted, overlap 0
    assert(got == Seq((1L, 2L, 1L, 60000000L), (2L, 3L, 1L, 60000000L),
      (1L, 3L, 1L, 0L)))
    // a session fanning past maxBands bands fails loudly
    val e = intercept[Exception](
      Events.sessionOverlaps(df, gapMinutes = 10, bandUs = 60000000L,
        maxBands = 2).collect())
    assert(e.getMessage.contains("pathological session"))
  }

  test("rangeSearch: threshold tail only, radius not k, self excluded") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // query
      (1L, Array(2.0f, 0.0f)),   // cos 1.0 (scale-invariant)
      (2L, Array(0.0f, 1.0f)),   // cos 0.0 — below tau
      (3L, Array(0.8f, 0.6f)),   // cos 0.8
      (4L, Array(-1.0f, 0.0f)))  // cos -1.0
      .toDF("vec_id", "embedding")
    val got = Similarity.rangeSearch(emb, nQueries = 1, minCosine = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L), (0L, 3L)),
      "exactly the >= tau tail, ordered by (q_id, vec_id)")
    assert(math.abs(got(0)._3 - 1.0) < 1e-6)
    assert(math.abs(got(1)._3 - 0.8) < 1e-6)
  }

  test("anchoredNearDup: proper subset of brute, no duplicate pairs, every pair touches an anchor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.bruteNearDup(emb, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val anch = Similarity.anchoredNearDup(emb, 0.4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(anch.nonEmpty, "the sampled gold set must not be empty")
    assert(anch.toSet.subsetOf(brute),
      "anchored pairs are brute pairs with bit-identical cosines")
    assert(anch.size == anch.toSet.size,
      "normalize+distinct leaves no duplicate anchor-anchor pairs")
    val keepBp = Similarity.anchorKeepBp(emb.count(), 100)
    val anchors = emb.filter(Similarity.isAnchor(col("vec_id"), keepBp))
      .select("vec_id").as[Long].collect().toSet
    assert(anchors.size < 150, s"~100 anchors of 500, got ${anchors.size}")
    assert(anch.forall(p => anchors(p._1) || anchors(p._2)),
      "every gold pair has >= 1 anchor endpoint")
  }

  test("semanticContamination: paraphrase above tau flagged, orthogonal corpus passes, self excluded") {
    val bench = Seq((0L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.9f, 0.1f, 0.0f)),  // paraphrase: cos ~0.994
      (11L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal: cos 0
      (0L, Array(1.0f, 0.0f, 0.0f)))   // same id as bench -> excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(corpus, bench, 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((10L, 0L)),
      "exactly the paraphrase; orthogonal and self-id rows pass")
    assert(got.head._3 > 0.99)
  }

  test("semanticContamination byte-aware guard: an over-budget bench " +
      "degrades to the partitioned plan with IDENTICAL results " +
      "(VERDICT r11 item 4)") {
    val emb = Tables(spark, sf0001, "embeddings")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val broadcastPlan = Similarity.semanticContamination(emb, bench, 0.4)
    val fallbackPlan = Similarity.semanticContamination(emb, bench, 0.4,
      maxBroadcastBytes = 1L) // every non-empty bench exceeds 1 byte
    // the guard withholds the unconditional broadcast HINT, never the
    // answer. (Catalyst may still pick BNLJ on its own here — its
    // autoBroadcastJoinThreshold is byte-based and this test bench is
    // tiny; what the guard removes is the hint that would FORCE a
    // broadcast past every byte threshold at real bench sizes.)
    assert(broadcastPlan.collect().toSeq == fallbackPlan.collect().toSeq)
    // non-vacuous pair: the in-budget plan carries the hint, the
    // over-budget one must not
    assert(broadcastPlan.queryExecution.analyzed.toString
      .toLowerCase.contains("hint"), "in-budget plan should carry the hint")
    assert(!fallbackPlan.queryExecution.analyzed.toString
      .toLowerCase.contains("hint"),
      "fallback must not carry the broadcast hint")
  }

  test("decontaminate_semantic: planted paraphrase caught semantically, missed by the shingle gate") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("decontaminate_semantic")(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSeq
    val plant = rows.filter(_._1 == 10000000L)
    assert(plant.nonEmpty, "the planted paraphrase must be flagged")
    val p = plant.find(_._2 == 0L).get
    assert(p._3 > 0.95, s"plant cosine vs bench source, got ${p._3}")
    assert(p._4 < 3L,
      s"the lexical gate (minShared=3) must MISS the plant, n_shared=${p._4}")
    // every emitted row is a real semantic hit
    assert(rows.forall(_._3 >= 0.4))
  }

  test("laggedCrossCorrelation: matches brute force, zero-fills empty lags, peaks at the planted lead") {
    def ev(id: Long, hour: Long, tpe: String) =
      (id, new java.sql.Timestamp(hour * 3600000L), 1L, tpe, 1.0, "{}")
    // clicks at hours 0,0,1,3; purchases shifted +2: hours 2,2,2,5
    val rows = Seq(ev(1, 0, "click"), ev(2, 0, "click"), ev(3, 1, "click"),
      ev(4, 3, "click"), ev(5, 2, "purchase"), ev(6, 2, "purchase"),
      ev(7, 2, "purchase"), ev(8, 5, "purchase"))
    val df = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Events.laggedCrossCorrelation(df, "click", "purchase",
        maxLag = 6)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == (-6L to 6L), "one row per lag, ordered")
    // brute-force reference over the zero-filled series
    val a = rows.filter(_._4 == "click").groupBy(r => r._2.getTime / 3600000)
      .map { case (h, g) => h -> g.size.toLong }
    val b = rows.filter(_._4 == "purchase")
      .groupBy(r => r._2.getTime / 3600000)
      .map { case (h, g) => h -> g.size.toLong }
    val hh = 6L // hours 0..5
    val sa = a.values.sum; val sb = b.values.sum
    got.foreach { case (lag, dot, cov) =>
      val want = a.map { case (h, ca) => ca * b.getOrElse(h + lag, 0L) }.sum
      assert(dot == want, s"dot at lag $lag")
      assert(cov == hh * want - sa * sb, s"cov_scaled at lag $lag")
    }
    // the planted +2 lead is the argmax, and far lags zero-fill to 0
    assert(got.maxBy(_._3)._1 == 2L)
    assert(got.find(_._1 == -6L).get._2 == 0L)
  }
}
