package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Materialize, Tables}

/** Scale-up stress harness (dev tool): replicates the documents /
  * embeddings / events tables N× in memory (ids shifted per replica so
  * cardinalities scale realistically) and times the shuffle-heavy
  * operators on the enlarged corpus. This is the "would it survive a
  * 10×/100× scale-up" check the 100 TB mandate asks for — candidate-
  * bounding caps (shingle df, LSH buckets, probe lists) must keep join
  * inputs near-linear in corpus size, and wall-clock should grow
  * roughly linearly, not quadratically.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Stress [N]"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-stress")

    // shift derived from the base corpus' max id, not a fixed constant:
    // a base table with ids >= a hardcoded shift would collide replicas
    // and silently deflate dedup/similarity cardinalities
    def replicate(df: DataFrame, idCol: String): DataFrame = {
      val maxId = df.agg(max(col(idCol))).head
      val shift = (if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1L
      (0 until factor).map { r =>
        df.withColumn(idCol, col(idCol) + lit(r * shift))
      }.reduce(_.union(_))
    }

    // each op's barriers and caches are released before the next one
    // (left to accumulate, they inflated later timings 2-3x); the
    // replicated corpus/events caches are made outside every scope and
    // survive
    def time(name: String)(f: => Long): Unit = Materialize.scope(spark) {
      val t0 = System.nanoTime()
      // a DESIGNED refusal (collision-law require, recall floor) must
      // not kill the rest of the ladder: record it and keep measuring
      // (ADVICE r11 — lshNearDup now auto-routes instead of refusing,
      // but any gate in any op stays free to throw loudly)
      try {
        val n = f
        println(
          f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$n")
      } catch {
        case e: Exception =>
          // getMessage can be null (NPE) or empty — the handler itself
          // must not throw and kill the ladder it protects (ADVICE r12)
          val msg = Option(e.getMessage).filter(_.nonEmpty)
            .getOrElse(e.getClass.getName).linesIterator.next()
          println(f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
            s"   REFUSED: $msg")
      }
    }

    val docs = Materialize.cache(
      replicate(Tables(spark, sfDir, "documents"), "doc_id"), "Stress.docs")
    val emb = Materialize.cache(
      replicate(Tables(spark, sfDir, "embeddings"), "vec_id"), "Stress.emb")
    println(s"stress corpus: ${docs.count()} docs, ${emb.count()} vectors " +
      s"(${factor}x $sfDir)")

    // NB: replicated docs are exact duplicates across replicas — the
    // df-cap drops every shingle (df = factor x original). That is the
    // cap doing its job on a pathological corpus; report both capped
    // and effective-candidate numbers.
    time("dedup_exact") { graft.ops.Dedup.exact(docs).count() }
    time("shingleHashes (df-capped)") {
      graft.ops.Dedup.shingleHashes(docs, 3, 100).count()
    }
    time("minhash_lsh") { graft.ops.Dedup.minhashLsh(docs).count() }
    time("simhash_pairs") { graft.ops.Dedup.simhashPairs(docs).count() }
    time("text_stats") { graft.ops.TextAnalysis.textStats(docs).count() }
    time("fingerprints") { graft.ops.TextAnalysis.fingerprints(docs).count() }
    time("ivf_topk") {
      graft.ops.Similarity.ivfTopK(emb, 20, 5, nCentroids = 32).count()
    }
    time("lsh_neardup") {
      graft.ops.Similarity.lshNearDup(emb, 0.4).count()
    }
    time("doc_chunk") { graft.ops.TextAnalysis.chunkTokens(docs).count() }
    time("embed_quantize") { graft.ops.Similarity.quantizeInt8(emb).count() }
    time("dedup_incremental") {
      graft.ops.Dedup.incrementalExact(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)).count()
    }
    time("top_terms") { graft.ops.TextAnalysis.topTerms(docs).count() }
    time("tfidf_topk") { graft.ops.TextAnalysis.tfidfTopTerms(docs).count() }
    time("quality_filter") { graft.ops.TextAnalysis.qualityFilter(docs).count() }
    time("bigram_df") { graft.ops.TextAnalysis.bigramDf(docs).count() }
    time("embedding_clusters") {
      graft.ops.Dedup.resolveClusters(
        graft.ops.Similarity.lshNearDup(emb, 0.4)
          .select(col("va").as("da"), col("vb").as("db"))).count()
    }
    time("token_set_dedup") { graft.ops.Dedup.tokenSetDedup(docs).count() }
    // replicated docs multiply every (lang, length-bucket) block by N and
    // pair work by N² — maxBucket must shed the quadratic blocks loudly
    // (at cap 100 most 10x blocks drop; the linear path is the rescore)
    time("edit_distance (capped)") {
      graft.ops.Dedup.editDistancePairs(docs).count()
    }
    // the scale path: content-blocked candidates + linear re-score
    time("edit_rescore(simhash)") {
      graft.ops.Dedup.levenshteinRescore(
        graft.ops.Dedup.simhashPairs(docs), docs).count()
    }
    time("hof_stats") { graft.ops.Similarity.hofStats(emb).count() }
    time("normalized_dedup") { graft.ops.Dedup.normalizedDedup(docs).count() }
    // bench side stays corpus-size-independent (broadcast distinct set)
    time("decontaminate") {
      graft.ops.TextAnalysis.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0)).count()
    }
    time("source_quota") { graft.ops.Features.sourceQuota(docs, 10).count() }
    // round-4b additions: heavy hitters is map-only MG + candidate
    // rescore (skew-immune by construction); lm_familiarity's trigram
    // vocabulary is charset³-bounded so only the probe stream scales;
    // chunk dedup shuffles fingerprints, never chunk text; bm25 shuffles
    // only query-term postings; jaccard_prefix's prefixes are df-ranked
    // on the N×-duplicated corpus (every shingle df multiplies by N —
    // prefix sets stay put, candidate pairs grow with true duplication)
    time("heavy_hitters") { graft.ops.TextAnalysis.heavyHitters(docs).count() }
    time("lm_familiarity") { graft.ops.TextAnalysis.lmFamiliarity(docs).count() }
    time("chunk_dedup") { graft.ops.Dedup.chunkDedup(docs).count() }
    time("bm25_topk") {
      graft.ops.TextAnalysis.bm25TopK(docs,
        graft.SparkEntry.Bm25QueryTerms).count()
    }
    time("bpe_train(3)") {
      graft.ops.TextAnalysis.bpeTrain(docs, merges = 3).count()
    }
    time("temperature_sample") {
      graft.ops.Features.temperatureSample(docs).count()
    }
    time("jaccard_prefix") { graft.ops.Dedup.jaccardPrefix(docs).count() }
    // round-4c additions: boilerplate's hot-fp set grows with duplicated
    // chunks (every chunk's df multiplies by N — the ENTIRE replicated
    // corpus strips to empty, the df-threshold doing its job loudly);
    // bpe_encode's merge applications are corpus-size-linear map work;
    // corpus_prep composes strip+quality+dedup+decontaminate off ONE
    // cached clean build; search_hybrid's candidate lists stay k-row.
    time("boilerplate_strip") {
      graft.ops.Dedup.boilerplateStrip(docs).count()
    }
    time("bpe_encode(3)") {
      graft.ops.TextAnalysis.bpeEncode(docs, merges = 3).count()
    }
    time("corpus_prep") { graft.ops.TextAnalysis.corpusPrep(docs).count() }
    time("search_hybrid") {
      graft.ops.TextAnalysis.searchHybrid(docs, emb,
        graft.SparkEntry.Bm25QueryTerms).count()
    }

    // events replicate on event_id; user_id left as-is (same users, N×
    // denser timelines — the worst case for the banded range join's
    // per-band bucket sizes)
    val events = Materialize.cache(
      replicate(Tables(spark, sfDir, "events"), "event_id"), "Stress.events")
    println(s"stress events: ${events.count()} rows")
    time("banded_range_join") {
      graft.ops.Events.bandedRangeJoin(events).count()
    }
    time("cdc_apply") {
      val base = events.select(col("event_id"), col("value"))
      val changes = events.filter(col("event_id") % 10 === 0)
        .select(col("event_id"), col("value"))
        .withColumn("version", lit(1L)).withColumn("op", lit("U"))
      graft.ops.Cdc.apply(base, changes, "event_id").count()
    }
    // N× denser per-user timelines: the funnel/SCD2 windows see N× rows
    // per key — per-key state must stay linear, never quadratic
    time("events_funnel") { graft.ops.Events.funnel(events).count() }
    time("scd2_build") {
      val ev = events.withColumn("us", graft.ops.Events.tsUs(events))
      graft.ops.Cdc.scd2(ev, "user_id", "event_type", "us", "event_id").count()
    }
    time("weekly_retention") { graft.ops.Events.weeklyRetention(events).count() }
    time("forward_fill") { graft.ops.Events.forwardFill(events).count() }
    // round-5 session-2 additions. Sketch state is size-FIXED, so the
    // only scaling term is the scan: registers/bins/bottom-k must stay
    // byte-identical in row count while wall-clock tracks corpus size.
    // temporalJoin sees N× denser per-user version chains AND N× facts —
    // per-key work is versions×facts within a user, the windows keep it
    // a key-partitioned merge, never a cross.
    time("hll_registers(events)") {
      graft.ops.Sketches.hllRegisters(
        events.select("event_id"), "event_id").count()
    }
    time("kmv_bottomk") {
      graft.ops.Sketches.kmvBottom(
        events.select("event_id"), "event_id").count()
    }
    time("hist_counts") {
      graft.ops.Sketches.histCounts(
        events.select(round(col("value") * 100).cast("long").as("cents")),
        "cents", 0L, 64L, 1024).count()
    }
    time("mad_outliers") { graft.ops.Events.madOutliers(events).count() }
    time("transitions") { graft.ops.Events.transitions(events).count() }
    time("order_audit") { graft.ops.Events.orderAudit(events).count() }
    time("scd2_temporal_join") {
      val evU = events.select(col("user_id"), col("event_id"),
        col("event_type"), graft.ops.Events.tsUs(events).as("us"))
      val dim = graft.ops.Cdc.scd2(evU, "user_id", "event_type", "us",
          "event_id")
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from_us"), col("valid_to_us"))
      graft.ops.Cdc.temporalJoin(
        evU.select("user_id", "event_id", "event_type", "us"),
        dim, "user_id", "us").count()
    }
    time("funnel_timed") {
      graft.ops.Events.funnelTimed(events).count()
    }
    time("quartiles_by_type") {
      graft.ops.Events.quartilesByType(events).count()
    }
    // sliding HLL at N× rows: day count is FIXED, so the merge join
    // stays sketch-sized — only the register-build scan scales
    time("hll_sliding(7d)") {
      val us = graft.ops.Events.tsUs(events)
      val withDay = events.select(col("event_id"),
        ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
          .cast("long").as("day"))
      graft.ops.Sketches.hllSlidingSummary(
        graft.ops.Sketches.hllRegistersBy(withDay, "event_id", Seq("day")),
        7).count()
    }
    time("dq_expectations(events)") {
      graft.ops.DataQuality.report(Map("events" -> events), Seq(
        graft.ops.DataQuality.Check("events", "value_le_400",
          col("value") > 400),
        graft.ops.DataQuality.Check("events", "value_nonneg",
          col("value") < 0),
        graft.ops.DataQuality.Unique("events", "event_id"))).count()
    }
    spark.stop()
  }
}
