package graft

import org.apache.spark.sql.functions._

/** Empty-input and degenerate-input behavior of every operator family —
  * a library must not throw on the boundary cases a 100 TB pipeline WILL
  * hit (empty partitions after filters, single-doc corpora, all-null
  * columns). */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private def emptyDocs = Tables(spark, sf0001, "documents").limit(0)
  private def emptyEmb = Tables(spark, sf0001, "embeddings").limit(0)

  test("dedup family returns empty results on an empty corpus") {
    assert(graft.ops.Dedup.exact(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.ngramJaccard(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.simhashPairs(emptyDocs).count() == 0)
  }

  test("resolveClusters handles an empty edge list") {
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(graft.ops.Dedup.resolveClusters(empty).count() == 0)
  }

  test("text analysis returns empty on empty corpus, safe on empty text") {
    assert(graft.ops.TextAnalysis.textStats(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.langId(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.fingerprints(emptyDocs).count() == 0)
    // empty string: one row, no crash, rolling hash 0
    val one = Seq((1L, "")).toDF("doc_id", "text")
    val fp = graft.ops.TextAnalysis.fingerprints(one).head()
    assert(fp.getLong(2) == 0L)
  }

  test("round-2 ops: empty corpus, null text, zero/null vectors") {
    assert(graft.ops.TextAnalysis.chunkTokens(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.redactPii(emptyDocs).count() == 0)
    assert(graft.ops.Similarity.quantizeInt8(emptyEmb).count() == 0)
    assert(graft.ops.Dedup.incrementalExact(emptyDocs, emptyDocs).count() == 0)
    // null text: chunker emits no chunks (explode of null), redactor is
    // null-safe (regexp of null -> null row kept)
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, "a b"))
      .toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.chunkTokens(nulls).count() == 1)
    val red = graft.ops.TextAnalysis.redactPii(nulls)
      .as[(Long, java.lang.Long, java.lang.Long, String)].collect().toSeq
    assert(red.map(_._1) == Seq(1L, 2L) && red.head._4 == null)
    // null embedding row survives quantization as nulls
    val nv = Seq((1L, null.asInstanceOf[Array[Float]]), (2L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val q = graft.ops.Similarity.quantizeInt8(nv).collect()
    assert(q.length == 2 && q.head.isNullAt(2))
  }

  test("round-3 ops: empty corpora, empty change feeds, null text") {
    // top terms: empty corpus and null/empty text produce no rows
    assert(graft.ops.TextAnalysis.topTerms(emptyDocs).count() == 0)
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.topTerms(nulls).count() == 0)
    // banded range join: no events -> no rows; clicks with no views at
    // all -> zero-count rows survive
    val emptyEvents = Tables(spark, sf0001, "events").limit(0)
    assert(graft.ops.Events.bandedRangeJoin(emptyEvents).count() == 0)
    val clicksOnly = Tables(spark, sf0001, "events")
      .filter(col("event_type") === "click").limit(10)
    val cj = graft.ops.Events.bandedRangeJoin(clicksOnly).collect()
    assert(cj.length == 10 && cj.forall(r => r.getLong(3) == 0L))
    // CDC: empty feed leaves the base unchanged; empty base applies
    // the feed (insert-only bootstrap)
    val base = Seq((1L, "a")).toDF("k", "v")
    val noChanges = Seq.empty[(Long, String, Long, String)]
      .toDF("k", "v", "version", "op")
    assert(graft.ops.Cdc.apply(base, noChanges, "k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    val boot = graft.ops.Cdc.apply(base.limit(0),
      Seq((9L, "z", 1L, "I")).toDF("k", "v", "version", "op"), "k")
    assert(boot.as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // LSH near-dup on empty embeddings
    assert(graft.ops.Similarity.lshNearDup(emptyEmb, 0.4).count() == 0)
  }

  test("late round-3 ops: empty/null inputs are safe and typed") {
    // TF-IDF / bigrams: empty corpus and null/empty text produce no rows
    assert(graft.ops.TextAnalysis.tfidfTopTerms(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.bigramDf(emptyDocs).count() == 0)
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    assert(graft.ops.TextAnalysis.tfidfTopTerms(nulls).count() == 0)
    assert(graft.ops.TextAnalysis.bigramDf(nulls).count() == 0)
    // quality filter: null text yields a row with null metrics (NULL
    // propagates identically in the DuckDB oracle); empty text is rejected
    // by r_len, never crashes
    val qf = graft.ops.TextAnalysis.qualityFilter(nulls).collect()
    assert(qf.length == 2)
    assert(qf(0).isNullAt(qf(0).fieldIndex("keep")))
    assert(qf(1).getLong(qf(1).fieldIndex("r_len")) == 0L)
    // funnel: empty input reports 0 completions per stage, not NULL rows
    val emptyEvents = Tables(spark, sf0001, "events").limit(0)
    val fn = graft.ops.Events.funnel(emptyEvents)
      .as[(Long, String, Long)].collect().toSeq
    assert(fn == Seq((1L, "view", 0L), (2L, "view>click", 0L),
      (3L, "view>click>purchase", 0L)))
    // SCD2: empty feed -> empty dimension; one change -> one current row
    val oneEv = Seq((7L, 100L, "view", 1L))
      .toDF("user_id", "us", "event_type", "event_id")
    assert(graft.ops.Cdc.scd2(oneEv.limit(0), "user_id", "event_type",
      "us", "event_id").count() == 0)
    val d = graft.ops.Cdc.scd2(oneEv, "user_id", "event_type", "us",
      "event_id").collect()
    assert(d.length == 1 &&
      d(0).getLong(d(0).fieldIndex("is_current")) == 1L)
  }

  test("this session's ops: empty/null inputs are safe and typed") {
    // dedup additions: empty corpus -> no rows; null text groups with
    // null fingerprint (md5(NULL) = NULL on both engines), edit distance
    // drops null prefixes (levenshtein(NULL) = NULL fails the band)
    assert(graft.ops.Dedup.tokenSetDedup(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.normalizedDedup(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.editDistancePairs(emptyDocs).count() == 0)
    val nulls = Seq(
      (1L, null.asInstanceOf[String], "en", 0L),
      (2L, null.asInstanceOf[String], "en", 0L),
      (3L, "real text", "en", 9L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val ts = graft.ops.Dedup.tokenSetDedup(nulls)
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSeq
    assert(ts == Seq((1L, 2L), (3L, 1L)))
    assert(graft.ops.Dedup.editDistancePairs(nulls).count() == 0)
    // contamination: empty corpus and empty bench are both safe
    assert(graft.ops.TextAnalysis.contamination(emptyDocs, nulls).count() == 0)
    assert(graft.ops.TextAnalysis.contamination(nulls, emptyDocs).count() == 0)
    // retention / forward-fill / quota on empty frames
    val emptyEvents = Tables(spark, sf0001, "events").limit(0)
    assert(graft.ops.Events.weeklyRetention(emptyEvents).count() == 0)
    assert(graft.ops.Events.forwardFill(emptyEvents).count() == 0)
    assert(graft.ops.Features.sourceQuota(emptyDocs).count() == 0)
    // hof stats: empty set safe (null embeddings don't occur in the
    // corpus contract; empty arrays covered in SimilarityEventsSpec)
    assert(graft.ops.Similarity.hofStats(emptyEmb).count() == 0)
  }

  test("similarity ops return empty on empty embeddings") {
    assert(graft.ops.Similarity.bruteTopK(emptyEmb, 10, 5).count() == 0)
    assert(graft.ops.Similarity.bruteNearDup(emptyEmb, 0.5).count() == 0)
  }

  test("relational ops on empty frames") {
    val emptyOrders = Tables(spark, sf0001, "orders").limit(0)
    assert(graft.ops.Relational
      .groupCountSortDesc(emptyOrders, "o_orderpriority").count() == 0)
    assert(graft.ops.Relational
      .bucketHistogram(emptyOrders, "o_totalprice", 1000L).count() == 0)
    assert(graft.ops.Relational.groupRatio(emptyOrders, "o_orderstatus")
      .count() == 0)
  }

  test("multimodal kernels: empty corpus and empty payload") {
    assert(graft.ops.Multimodal.decodeMeta(spark, emptyDocs).count() == 0)
    assert(graft.ops.Multimodal.featureHistogram(spark, emptyDocs).count() == 0)
    assert(graft.ops.Multimodal.frameSample(spark, emptyDocs).count() == 0)
    val one = Seq((1L, "")).toDF("doc_id", "text")
    assert(graft.ops.Multimodal.frameSample(spark, one).count() == 0)
    val hist = graft.ops.Multimodal.featureHistogram(spark, one).head()
    assert(hist.getString(1).split(",").forall(_ == "0"))
  }

  test("multimodal resize: fixed output size incl. empty/null payloads") {
    val docs = Tables(spark, sf0001, "documents").limit(5)
      .union(Seq((99999L, null: String, "x", "x", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = graft.ops.Multimodal.resize(spark, docs, 16, 8)
    assert(r.count() == 6)
    assert(r.filter(length(col("payload")) =!= 16 * 8).count() == 0)
    assert(r.filter(col("width") =!= 16 || col("height") =!= 8).count() == 0)
  }

  test("multimodal featureHistogram/frameSample shapes on real docs") {
    val docs = Tables(spark, sf0001, "documents").limit(5)
    val f = graft.ops.Multimodal.featureHistogram(spark, docs, dim = 8)
    assert(f.count() == 5)
    assert(f.head().getString(1).split(",").length == 8)
    val frames = graft.ops.Multimodal.frameSample(spark, docs,
      frameBytes = 16, stride = 2)
    assert(frames.count() > 0)
    // every frame is exactly frameBytes long
    assert(frames.filter(length(col("frame_bytes")) =!= 16).count() == 0)
  }

  test("multimodal scalar surfaces compute known-input values exactly") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text")
    // resize to 2x2 = 4 bytes from a 4-byte payload: identity mapping,
    // checksum = sum of byte values
    val rm = graft.ops.Multimodal.resizeMeta(spark, docs, 2, 2).head()
    assert(rm.getInt(1) == 2 && rm.getInt(2) == 2)
    assert(rm.getLong(3) == 4L)
    assert(rm.getLong(4) == ('a' + 'b' + 'c' + 'd').toLong)
    // dim-2 histogram: slot 0 = a+c, slot 1 = b+d
    val h = graft.ops.Multimodal.featureHistogram(spark, docs, dim = 2).head()
    assert(h.getString(1) == s"${'a' + 'c'},${'b' + 'd'}")
    // 2-byte frames, stride 1 → offsets 0 and 2
    val fr = graft.ops.Multimodal
      .frameSampleText(spark, docs, frameBytes = 2, stride = 1)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSeq
    assert(fr == Seq((0, "ab"), (1, "cd")))
  }

  test("profiler on an all-null synthesized column") {
    val df = Seq((1, None: Option[Double]), (2, None)).toDF("k", "v")
    val p = graft.ops.Profiler.numericProfile(df, Seq("v")).head()
    assert(p.getLong(1) == 2 && p.getLong(2) == 0 && p.getLong(3) == 0)
    assert(p.isNullAt(4) && p.isNullAt(5) && p.isNullAt(6))
  }

  test("round-4 ops: degenerate inputs are safe") {
    // capStats on an empty corpus: all four stages report zero drops
    val cs = graft.ops.Dedup.capStats(
      Tables(spark, sf0001, "documents").limit(0))
      .as[(String, Long, Long)].collect().toSeq
    assert(cs.map(_._1) ==
      Seq("edit_block", "minhash_band", "shingle_df", "simhash_chunk"))
    assert(cs.forall { case (_, hot, dropped) => hot == 0L && dropped == 0L })
    // minhashRecall on an empty corpus: zero counts, null recall (0/0)
    val mr = graft.ops.Dedup.minhashRecall(emptyDocs).head()
    assert(mr.getLong(0) == 0L && mr.getLong(1) == 0L && mr.getLong(2) == 0L)
    assert(mr.isNullAt(3), "recall over zero exact pairs must be null")
    // z-order write on a CONSTANT column: bucket degenerates to 0, the
    // layout still writes and round-trips
    val const = Seq((1L, 5.0, 9.0), (2L, 5.0, 3.0)).toDF("k", "x", "y")
    val out = Scratch.fresh("zorder-const")
    graft.sources.ZOrder.write(const, out, "x", "y", bits = 4, numFiles = 2)
    assert(spark.read.parquet(out).count() == 2)
    // mortonKey rejects out-of-contract bit widths
    intercept[IllegalArgumentException] {
      graft.sources.ZOrder.mortonKey(col("k"), col("k"), 0)
    }
  }

  test("wav kernel: decoded meta matches the closed-form synthesis") {
    // doc_id=5: rate 16000, N 800 (5 mod 5 = 0), a 185;
    // sum = 800*185 + 800*799/2 - 32768*800
    val docs = Seq(5L, 0L).toDF("doc_id")
    val got = graft.ops.Multimodal.audioReal(spark, docs)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 8000, 800L, 800L * 0 + 800L * 799 / 2 - 32768L * 800),
      (5L, 16000, 800L, 800L * 185 + 800L * 799 / 2 - 32768L * 800)))
  }

  test("wav loudness kernel: energy/peak/duration match closed forms") {
    // doc_id=1: rate 12000, N 960, a 37 -> ramp b..b+959 with
    // b = 37 - 32768 = -32731; energy by direct summation here,
    // peak = |b| (the ramp never crosses back above |b|),
    // duration = 960 * 1e6 / 12000 = 80000 us
    val b = -32731L
    val energy = (0L until 960L).map(i => (b + i) * (b + i)).sum
    val got = graft.ops.Multimodal.audioStats(spark, Seq(1L).toDF("doc_id"))
      .as[(Long, Int, Long, Long, Long, Long)].collect().head
    assert(got == ((1L, 12000, 960L, energy, 32731L, 80000L)))
  }

  test("round-4b ops: degenerate inputs are safe") {
    // heavy hitters on an empty corpus: no candidates, no rows, no throw
    assert(graft.ops.TextAnalysis.heavyHitters(emptyDocs).count() == 0)
    // chunk dedup: empty corpus → empty; a single doc keeps everything
    assert(graft.ops.Dedup.chunkDedup(emptyDocs).count() == 0)
    val one = Seq((7L, "a b c")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.chunkDedup(one, w = 2)
      .as[(Long, Long, Long, String)].head() == ((7L, 2L, 2L, "a b c")))
    // temperature sampling: empty corpus → empty report
    assert(graft.ops.Features.temperatureSample(emptyDocs).count() == 0)
    // triangle counts: triangle-free graph → empty, not a crash
    val path = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    assert(graft.ops.Graphs.triangleCounts(path).count() == 0)
  }

  test("round-4c ops: degenerate inputs are safe") {
    // BM25: empty corpus and absent query terms both yield empty, no throw
    assert(graft.ops.TextAnalysis.bm25TopK(emptyDocs, Seq("x")).count() == 0)
    assert(graft.ops.TextAnalysis.bm25TopK(
      Seq((1L, "a b")).toDF("doc_id", "text"), Seq("zzz")).count() == 0)
    // BPE training: empty corpus trains no merges; single-char tokens
    // have no pairs and never crash the sequence bound
    assert(graft.ops.TextAnalysis.bpeTrain(emptyDocs).count() == 0)
    assert(graft.ops.TextAnalysis.bpeTrain(
      Seq((1L, "a b c")).toDF("doc_id", "text")).count() == 0)
    // chunk dedup at width 1 degenerates to token-level dedup, no crash
    assert(graft.ops.Dedup.chunkDedup(
      Seq((1L, "x y x")).toDF("doc_id", "text"), w = 1)
      .as[(Long, Long, Long, String)].head() == ((1L, 3L, 2L, "x y")))
    // pair stats on an empty corpus
    assert(graft.ops.TextAnalysis.bpePairStats(emptyDocs).count() == 0)
  }

  test("round-4d ops: degenerate inputs are safe") {
    // boilerplate strip: empty corpus; below-threshold corpus unchanged
    assert(graft.ops.Dedup.boilerplateStrip(emptyDocs).count() == 0)
    assert(graft.ops.Dedup.boilerplateStrip(
      Seq((1L, "x y")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, String)].head() == ((1L, 1L, 1L, "x y")))
    // bpe encode: empty corpus (no merges trainable) yields empty output
    assert(graft.ops.TextAnalysis.bpeEncode(emptyDocs).count() == 0)
    // single-char tokens: zero merges, token count = word count
    assert(graft.ops.TextAnalysis.bpeEncode(
      Seq((1L, "a b c")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long)].head() == ((1L, 3L, 3L, 3L, 10000L)))
    // hybrid search: absent query terms -> lexical list empty, fusion
    // still returns the vector list with lex_rank 0
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val hybrid = graft.ops.TextAnalysis.searchHybrid(
      Seq((1L, "a b")).toDF("doc_id", "text"), emb, Seq("zzz"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(hybrid == Seq((1L, 0L, 1L, 163L)))
    // corpus_prep: corpus that is ENTIRELY the bench split (doc_id % 50
    // == 0) -> empty output, no throw
    assert(graft.ops.TextAnalysis.corpusPrep(
      Seq((0L, "a b"), (50L, "c d")).toDF("doc_id", "text")
        .withColumn("source", lit("s"))).count() == 0)
  }

  test("heavyHitters: unprovable top-k fails loudly, never approximates") {
    // 40 uniform tokens, capacity 21: every count is N/40, and
    // count*21 < N. With growth pinned (maxCapacity = capacity) the
    // in-plan losslessness assertion must fire ...
    val docs = (0 until 50).map(i =>
      (i.toLong, (0 until 40).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.ops.TextAnalysis
        .heavyHitters(docs, k = 20, capacity = 21, maxCapacity = 21)
        .collect()
    }
    assert(ex.getMessage != null)
    // ... and with adaptive growth allowed (the default), the same
    // corpus resizes to a provable capacity (2000/50 + 2 = 42) and
    // returns the exact tie-broken top-20
    val got = graft.ops.TextAnalysis
      .heavyHitters(docs, k = 20, capacity = 21)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = (0 until 40).map(j => s"t$j").sorted.take(20).map((_, 50L))
    assert(got == want)
  }

  test("sketch family degenerates cleanly on empty and single-row input") {
    import graft.ops.Sketches
    val empty = Seq.empty[Long].toDF("k")
    assert(Sketches.hllRegisters(empty, "k").count() == 0)
    // empty registers -> every bucket empty -> the raw estimator's
    // documented small-range floor of ~0.72·m, not null and not 0
    val s = Sketches.hllSummary(Sketches.hllRegisters(empty, "k"))
      .select("est_distinct").as[Long].collect().head
    val floor = math.round(Sketches.HllC
      / (Sketches.HllM.toDouble * math.pow(2.0, Sketches.HllVBits + 1)))
    assert(s == floor, s"empty-set estimate $s != raw-HLL floor $floor")
    // empty KMV: k_used 0, estimate exact 0, kth_hash null
    val kmv = Sketches.kmvSummary(Sketches.kmvBottom(empty, "k"))
      .select("k_used", "est_distinct").as[(Long, Long)].collect().head
    assert(kmv == ((0L, 0L)))
    // empty histogram -> no bins, and quantiles over it -> no rows
    val h = Sketches.histCounts(empty, "k", 0L, 64L, 16)
    assert(h.count() == 0)
    assert(Sketches.histQuantiles(h, Seq(5000), 0L, 64L, 16).count() == 0)
    // single row: p0..p100 all land in its bin
    val one = Sketches.histQuantiles(
      Sketches.histCounts(Seq(100L).toDF("k"), "k", 0L, 64L, 16),
      Seq(1, 5000, 10000), 0L, 64L, 16)
      .select("bucket").as[Long].collect().toSeq
    assert(one == Seq(1L, 1L, 1L))
  }

  test("madOutliers: single event and constant series flag nothing") {
    val single = Seq((1L, 5.0)).toDF("user_id", "value")
    val s = graft.ops.Events.madOutliers(single)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(s == ((1L, 1L, 1000L, 0L, 0L))) // d2=0: 0 > 5·0 is false
    val const = Seq((1L, 2.0), (1L, 2.0), (1L, 2.0)).toDF("user_id", "value")
    val c = graft.ops.Events.madOutliers(const)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(c._5 == 0L)
  }

  test("transitions/orderAudit: single-event users produce no pairs, no lateness") {
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1))
    val ev = Seq((1L, ts, "A", 1L), (2L, ts, "B", 2L))
      .toDF("event_id", "ts", "event_type", "user_id")
    assert(graft.ops.Events.transitions(ev).count() == 0)
    val audit = graft.ops.Events.orderAudit(ev)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(audit == Seq(("A", 1L, 0L, 0L), ("B", 1L, 0L, 0L)))
  }

  test("NOT IN with a NULL in the subquery filters everything (3VL pinned)") {
    // keys {1,2}; subquery {1, NULL}: NOT IN -> 0 rows (2 <> NULL is
    // UNKNOWN); purged NOT IN and NOT EXISTS both keep key 2
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("ec_probe")
    Seq(Some(1L), None).toDF("nk").createOrReplaceTempView("ec_sub")
    val got = spark.sql("""
      SELECT
        (SELECT count(*) FROM ec_probe
         WHERE k NOT IN (SELECT nk FROM ec_sub)) AS with_null,
        (SELECT count(*) FROM ec_probe
         WHERE k NOT IN (SELECT nk FROM ec_sub
                         WHERE nk IS NOT NULL)) AS purged,
        (SELECT count(*) FROM ec_probe p
         WHERE NOT EXISTS (SELECT 1 FROM ec_sub s
                           WHERE s.nk = p.k)) AS not_ex""")
      .as[(Long, Long, Long)].collect().head
    assert(got == ((0L, 1L, 1L)))
  }

  test("dq report: FK over an empty child counts zero checked, zero orphans") {
    val parent = Seq((1L, "x")).toDF("id", "s")
    val child = Seq.empty[(Long, Long)].toDF("cid", "pid")
    val got = graft.ops.DataQuality.report(
      Map("p" -> parent, "c" -> child),
      Seq(graft.ops.DataQuality.ForeignKey("c", "pid", "p", "id")))
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("fk:c.pid->p.id", 0L, 0L)))
  }
}
