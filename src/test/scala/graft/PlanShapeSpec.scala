package graft

/** Plan-shape regression guards: the scale properties the engine relies
  * on must hold in the PLAN, not just in benchmark numbers — column
  * pruning and filter pushdown reaching the parquet scan, dimension
  * joins broadcasting, and no Cartesian products anywhere in the
  * registry. Complements the manual tools/Explain audit with CI-level
  * enforcement on the pinned Spark version. */
class PlanShapeSpec extends SparkTestBase {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

  /** Single-partition windows that may see data-sized input: every one
    * except the prefix construction's offsets window, whose child is the
    * ≤ MaxSlices-row per-slice table (output [[ops.Features.SliceAgg]]).
    * With `limitOk`, a window over a GlobalLimit-capped child (≤ k rows)
    * is allowed too. */
  private def dataSizedGlobalWindows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      limitOk: Boolean = false) = {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        !w.child.output.exists(_.name == ops.Features.SliceAgg) &&
        !(limitOk && w.child.collectFirst { case l: GlobalLimit => l }.nonEmpty) => w
    }
  }

  test("q1 scan is pruned to the single grouped column") {
    val plan = planOf("q1_group_count_sort")
    assert(plan.contains("ReadSchema: struct<c_mktsegment:string>"),
      s"scan not pruned:\n$plan")
  }

  test("q7's dimension filter is pushed into the parquet scan") {
    val plan = planOf("q7_join_anti")
    assert(plan.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"filter not pushed:\n$plan")
  }

  test("q5/q6 dimension joins broadcast (no sort-merge on dims)") {
    Seq("q5_join_broadcast", "q6_join_star").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q lacks broadcast")
      assert(!plan.contains("SortMergeJoin"), s"$q fell back to SMJ")
    }
  }

  test("new map-only queries prune their scans; q19 plans one window") {
    // doc_chunk / embed_quantize must not read unused columns
    val chunkPlan = planOf("doc_chunk")
    assert(chunkPlan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"doc_chunk scan not pruned:\n$chunkPlan")
    val qPlan = planOf("embed_quantize")
    assert(qPlan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"embed_quantize scan not pruned:\n$qPlan")
    // the three window functions of q19 share one (partition, order) — so
    // however Catalyst splits them into Window operators by frame, every
    // operator must carry the SAME spec, which is what guarantees a single
    // sort + single hash exchange physically. A second distinct spec means
    // a frame drifted and the plan pays an extra exchange. Inspecting plan
    // NODES (not explain-output strings) is robust to formatting changes.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val specs = SparkEntry.queries("q19_window_frames")(spark, sf0001)
      .queryExecution.optimizedPlan
      .collect { case w: LWindow =>
        (w.partitionSpec.map(_.sql), w.orderSpec.map(_.sql)) }
    assert(specs.nonEmpty && specs.distinct.size == 1,
      s"q19 window specs diverged (=> extra sort/exchange): $specs")
  }

  test("quality_filter is map-only over a pruned scan; scd2 pays one shuffle") {
    val qf = planOf("quality_filter")
    assert(qf.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"quality_filter scan not pruned:\n$qf")
    // scd2's lag/row_number and lead windows share (key, orderUs, seq):
    // distinct specs would mean a second sort+exchange per version row
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val specs = SparkEntry.queries("scd2_build")(spark, sf0001)
      .queryExecution.optimizedPlan
      .collect { case w: LWindow =>
        (w.partitionSpec.map(_.sql), w.orderSpec.map(_.sql)) }
    assert(specs.nonEmpty && specs.distinct.size == 1,
      s"scd2 window specs diverged (=> extra sort/exchange): $specs")
  }

  test("q27's banded range join plans equi joins, never a nested loop") {
    // the time-banding exists precisely so the interval predicate rides
    // an equi join; a BroadcastNestedLoopJoin here means the band keys
    // fell out of the join condition and the plan went quadratic
    val plan = planOf("q27_range_join_banded")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q27 fell back to a nested-loop join:\n$plan")
  }

  test("q28's global top-k plans TakeOrderedAndProject, not a full sort") {
    // ORDER BY + LIMIT k must run per-partition heaps merged on the
    // driver; a range-exchange + global Sort here means the plan ships
    // the whole table to sort 20 rows out of it
    val plan = planOf("q28_topk_global")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q28 lost the top-k plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"q28 plans a global sort exchange:\n$plan")
  }

  test("kmv bottom-k plans TakeOrderedAndProject over a pruned scan") {
    // the KMV sketch's whole scale story is that the bottom-k never
    // shuffles: per-partition heaps merged on the driver, scan pruned
    // to the key column
    val plan = planOf("sketch_kmv_distinct")
    assert(plan.contains("TakeOrderedAndProject"),
      s"kmv lost the top-k plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"kmv plans a global sort exchange:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"kmv scan not pruned to the key:\n$plan")
  }

  test("partitioned sink read-back prunes on PartitionFilters") {
    val out = Scratch.fresh("part-prune")
    graft.sources.Partitioned.write(
      Tables(spark, sf0001, "orders").limit(1000), out, "o_orderpriority")
    val plan = graft.sources.Partitioned
      .readPruned(spark, out, "o_orderpriority", "1-URGENT")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      .replaceAll("#\\d+", "")
    assert(plan.contains("PartitionFilters") &&
      plan.contains("(o_orderpriority = 1-URGENT)"),
      s"partition filter not pruned at the scan:\n$plan")
  }

  test("round-7 queries: broadcast anchors, single aggregates, pruned scans") {
    // hard negatives: anchors broadcast against the corpus — never a
    // sort-merge self-join; positives/negatives both off broadcasts
    val hn = planOf("sim_hard_negatives")
    assert(hn.contains("BroadcastHashJoin") && !hn.contains("SortMergeJoin"),
      s"hard negatives should broadcast anchors:\n$hn")
    // dp counts: one hash aggregate over the key + map-only noise — no
    // window, no join
    val dp = planOf("privacy_dp_counts")
    assert(!dp.contains("Window") && !dp.contains("Join"),
      s"dpCounts should be one aggregate + projection:\n$dp")
    assert(dp.contains("ReadSchema: struct<c_nationkey:int>"),
      s"dpCounts scan not pruned:\n$dp")
    // diversity reports: pruned to (text, source); collocations prunes
    // to text only and plans TakeOrderedAndProject for its top-k
    Seq("text_ngram_diversity", "text_ngram_diversity_hll").foreach { q =>
      val p = planOf(q)
      assert(p.contains("ReadSchema: struct<text:string,source:string>")
        || p.contains("ReadSchema: struct<source:string,text:string>"),
        s"$q scan not pruned:\n$p")
    }
    val coll = planOf("text_collocations")
    assert(coll.contains("ReadSchema: struct<text:string>"),
      s"collocations scan not pruned:\n$coll")
    assert(coll.contains("TakeOrderedAndProject"),
      s"collocations top-k should plan TakeOrdered:\n$coll")
  }

  test("round-8 queries: broadcast baselines, TakeOrdered top-ks, " +
      "no single-partition windows") {
    // seasonal screen: the (types·24)-row baseline broadcasts back onto
    // the fact scan (never SMJ), top-k plans TakeOrdered
    val seas = planOf("events_seasonal")
    assert(seas.contains("BroadcastHashJoin") &&
      !seas.contains("SortMergeJoin"),
      s"seasonal baseline should broadcast:\n$seas")
    assert(seas.contains("TakeOrderedAndProject"),
      s"seasonal top-k should plan TakeOrdered:\n$seas")
    // attribution: ONE user-keyed sort window, never a join of events
    // against events
    val attr = planOf("events_attribution")
    assert(!attr.contains("SortMergeJoin") &&
      !attr.contains("CartesianProduct"),
      s"attribution must not self-join the stream:\n$attr")
    // RFM: no DATA-sized single-partition window (the rangeNtileBucket
    // contract — a global ntile would funnel all users through one
    // partition)
    val rfmPlan = SparkEntry.queries("events_rfm")(spark, sf0001)
      .queryExecution.optimizedPlan
    assert(dataSizedGlobalWindows(rfmPlan).isEmpty,
      s"events_rfm plans a data-sized single-partition window:\n$rfmPlan")
    // link prediction: top-k via TakeOrdered; degree joins broadcast
    val links = planOf("graph_jaccard_links")
    assert(links.contains("TakeOrderedAndProject"),
      s"jaccard links should plan TakeOrdered:\n$links")
    assert(links.contains("BroadcastHashJoin"),
      s"jaccard degree joins should broadcast:\n$links")
    // target encoding: category stats broadcast back, no SMJ
    val te = planOf("fp_target_encode")
    assert(te.contains("BroadcastHashJoin") && !te.contains("SortMergeJoin"),
      s"target encoding should broadcast its stats:\n$te")
    // AMS: pruned to the key column; the R-fold expansion must partial-
    // aggregate before the shuffle (one HashAggregate below the
    // exchange)
    val ams = planOf("sketch_ams_f2")
    assert(ams.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"amsF2 scan not pruned:\n$ams")
  }

  test("round-9 queries: pushed slice predicates, broadcast sweeps, " +
      "no data-sized global windows") {
    // dq_drift: BOTH slice scans must carry the raw-column date
    // predicate as a pushed filter (a derived-epoch filter would read
    // the whole table per slice at 100 TB)
    val drift = planOf("dq_drift")
    assert(drift.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "LessThan(o_orderdate,"),
      s"dq_drift ref-slice predicate not pushed:\n$drift")
    assert(drift.contains("GreaterThanOrEqual(o_orderdate,"),
      s"dq_drift cur-slice predicate not pushed:\n$drift")
    assert(!drift.contains("SortMergeJoin"),
      s"dq_drift totals must broadcast:\n$drift")
    // events_xcorr: the lag sweep is a broadcast nested-loop over the
    // hours-sized series — never a sort-merge of anything
    val xc = planOf("events_xcorr")
    assert(!xc.contains("SortMergeJoin"),
      s"xcorr lag sweep must broadcast:\n$xc")
    assert(xc.contains("ReadSchema: struct<ts:"),
      s"xcorr should scan only ts + event_type:\n$xc")
    // rolling distinct: maxDay broadcasts; scan pruned to 3 columns
    val rd = planOf("events_rolling_distinct")
    assert(!rd.contains("SortMergeJoin"),
      s"rolling distinct max-day must broadcast:\n$rd")
    // sim_range_search: NO window, NO rank shuffle — the radius
    // contract is a filter in the scan stage
    val rs = planOf("sim_range_search")
    assert(!rs.contains("Window") && !rs.contains("SortMergeJoin"),
      s"range search must be window-free:\n$rs")
    // dq_key_skew: ranks come from withRunningTotal — no global window
    // over raw keys
    val skewPlan = SparkEntry.queries("dq_key_skew")(spark, sf0001)
      .queryExecution.optimizedPlan
    assert(dataSizedGlobalWindows(skewPlan).isEmpty,
      s"dq_key_skew plans a data-sized global window:\n$skewPlan")
    // oversample: class table broadcasts, fact side never shuffles
    val ov = planOf("fp_oversample")
    assert(ov.contains("BroadcastHashJoin") && !ov.contains("SortMergeJoin"),
      s"oversample reps must broadcast:\n$ov")
    // interval overlap: top-k via TakeOrdered; the band join may
    // shuffle (that's the point) but never goes cartesian
    val io = planOf("q42_interval_overlap")
    assert(io.contains("TakeOrderedAndProject"),
      s"interval overlap should plan TakeOrdered:\n$io")
    assert(!io.contains("CartesianProduct"),
      s"interval overlap must stay banded:\n$io")
    // modularity: label joins broadcast onto the edge list
    val mo = planOf("graph_modularity")
    assert(mo.contains("BroadcastHashJoin"),
      s"modularity label joins should broadcast:\n$mo")
    // PRF: the mined term table joins the corpus as a broadcast
    val prf = planOf("search_prf_expand")
    assert(prf.contains("BroadcastHashJoin") &&
      !prf.contains("CartesianProduct"),
      s"PRF term tables must broadcast:\n$prf")
  }

  test("round-10 queries: distributed scans stay distributed, " +
      "marginals broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // concurrency timeline: the sweep-line prefix sum must NOT exist as
    // a data-sized single-partition window. Besides withRunningTotal's
    // offsets window, a window whose child is capped by a GlobalLimit
    // is allowed (the ≤ topK peak-off-the-top-k window added in round 13).
    val ct = SparkEntry.queries("events_concurrency")(spark, sf0001)
      .queryExecution.optimizedPlan
    assert(dataSizedGlobalWindows(ct, limitOk = true).isEmpty,
      s"events_concurrency plans a data-sized global window:\n$ct")
    // planted regression: the pin must still fire on the pre-round-13
    // crossJoin(max-over-everything) shape — a global window directly
    // over the unbounded timeline (no per-slice child, no limit).
    val planted = {
      import spark.implicits._
      import org.apache.spark.sql.functions.max
      import org.apache.spark.sql.expressions.{Window => WSpec}
      val tl = Seq((1L, 1L, 1L), (2L, -1L, 0L)).toDF("t", "delta",
        "concurrency")
      tl.withColumn("peak", max("concurrency").over(WSpec.partitionBy()))
        .queryExecution.optimizedPlan
    }
    assert(dataSizedGlobalWindows(planted, limitOk = true).nonEmpty,
      "the data-sized-global-window pin no longer detects the regression " +
        "shape it was written for")
    // growth accounting: ONE user-keyed window spec, no self-join of
    // the activity table
    val lc = SparkEntry.queries("events_lifecycle")(spark, sf0001)
      .queryExecution.optimizedPlan
    val lcSpecs = lc.collect { case w: LWindow =>
      (w.partitionSpec.map(_.sql), w.orderSpec.map(_.sql)) }
    assert(lcSpecs.distinct.size == 1,
      s"events_lifecycle should reuse one window spec: $lcSpecs")
    // assortativity: degree table broadcasts onto the stub list
    val as = planOf("graph_assortativity")
    assert(as.contains("BroadcastHashJoin") &&
      !as.contains("SortMergeJoin"),
      s"assortativity degree joins should broadcast:\n$as")
    // join IVM: the view merge must not plan a cartesian anywhere and
    // the delta legs join hash-style
    val mv = planOf("mv_join_incremental")
    assert(!mv.contains("CartesianProduct"),
      s"mv_join_incremental must stay keyed:\n$mv")
    // lang-id eval marginals broadcast back onto the cell table
    val le = planOf("lang_id_eval")
    assert(le.contains("BroadcastHashJoin") &&
      !le.contains("SortMergeJoin"),
      s"lang_id_eval marginals should broadcast:\n$le")
    // readability is map-only over a pruned scan: no join, no window
    val rd = planOf("text_readability")
    assert(!rd.contains("Join") && !rd.contains("Window"),
      s"readability must stay map-only:\n$rd")
    assert(rd.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"readability scan not pruned:\n$rd")
  }

  test("no registered query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan =
        try fn(spark, sf0001).queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        catch { case _: Throwable => "" } // ML fits run jobs; skip errors
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
    }
  }

  test("single-partition windows only ever run over aggregated inputs") {
    // A global (empty-partition) window funnels every row through one
    // task — allowed only above a BOUNDED input: an Aggregate (cardinality
    // = group count) or a GlobalLimit (≤ k rows, the rank-a-top-k shape
    // bm25TopK/searchHybrid use). Guards fp_quantile_bucket's
    // distributed-ntile regression and any future accidental global window.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    SparkEntry.queries.foreach { case (name, fn) =>
      val planOpt =
        try Some(fn(spark, sf0001).queryExecution.optimizedPlan)
        catch { case _: Throwable => None } // ML fits run jobs; skip errors
      planOpt.foreach { plan =>
        plan.foreach {
          case w: LWindow if w.partitionSpec.isEmpty =>
            assert(w.collectFirst {
              case a: Aggregate => a
              case l: GlobalLimit => l
            }.nonEmpty,
              s"$name plans a single-partition window over raw rows")
          case _ => ()
        }
      }
    }
  }

  // formatted explain lists each node twice (tree + details); count the
  // details-section "(N) Scan parquet" form, once per scan node
  private def scanCount(plan: String): Int =
    """\(\d+\) Scan parquet""".r.findAllIn(plan).length

  test("q13_intersect scans orders once (conditional-agg INTERSECT)") {
    val plan = planOf("q13_intersect")
    assert(scanCount(plan) == 2,
      s"expected orders+customer = 2 scans, got ${scanCount(plan)}:\n$plan")
  }

  test("profile_lineitem is a single-scan profile") {
    val plan = planOf("profile_lineitem")
    assert(scanCount(plan) == 1,
      s"expected exactly 1 lineitem scan, got ${scanCount(plan)}:\n$plan")
  }

  test("dpp_partitioned_join prunes partitions at RUNTIME (DPP)") {
    // the fact side is partitioned by priority and the dim filter is on a
    // non-partition attribute — only dynamic partition pruning can skip
    // the 3/5 non-matching directories. The scan's PartitionFilters must
    // carry a dynamicpruning expression; a plain scan here means every
    // partition of a 100 TB fact table gets listed and read.
    val plan = planOf("dpp_partitioned_join")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$plan")
  }

  test("sink_orc_roundtrip pushes its predicate into the ORC scan") {
    val plan = planOf("sink_orc_roundtrip")
    assert(plan.contains("Scan orc"), s"not an ORC scan:\n$plan")
    assert(plan.contains("LessThanOrEqual(l_quantity,10.0)"),
      s"quantity filter not pushed into the ORC scan:\n$plan")
  }

  test("q33's four navigation windows share one spec; hof stats stay map-only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val specs = SparkEntry.queries("q33_window_nav")(spark, sf0001)
      .queryExecution.optimizedPlan
      .collect { case w: LWindow =>
        (w.partitionSpec.map(_.sql), w.orderSpec.map(_.sql)) }
    assert(specs.nonEmpty && specs.distinct.size == 1,
      s"q33 window specs diverged (=> extra sort/exchange): $specs")
    // higher-order array funcs must not explode: row count is invariant,
    // so any Generate node means the plan went through a flatMap shape
    val hof = planOf("embed_hof_stats")
    assert(!hof.contains("Generate"), s"hof stats explode rows:\n$hof")
    assert(hof.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"embed_hof_stats scan not pruned:\n$hof")
  }

  test("runtime bloom-filter injection reduces the big side of a shuffle join") {
    // On a big⋈big shuffle join where one side carries a selective
    // filter, Spark injects a runtime bloom filter on the other side —
    // rows that cannot join are dropped BEFORE the shuffle, the single
    // biggest I/O lever on a 100 TB fact-fact join. Local testdata is
    // far below the production size thresholds, so the test lowers them
    // to prove the engine's posture keeps the rewrite reachable (it is
    // on by default in GraftSession — nothing disables it).
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.get(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = Tables(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_quantity")
      val ord = Tables(spark, sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val plan = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
    } finally keep.foreach { case (k, v) => conf.set(k, v) }
  }

  test("bucketed tables join without any shuffle exchange") {
    import org.apache.spark.sql.functions.col
    val orders = Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables(spark, sf0001, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.sources.Bucketed.writeTable(orders, "b_orders_ps", "o_custkey", 8)
    graft.sources.Bucketed.writeTable(cust, "b_customer_ps", "o_custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.sources.Bucketed.join(
        spark, "b_orders_ps", "b_customer_ps", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // co-located buckets: no shuffle on either side
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(joined.count() == orders.count()) // every order has a customer
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("q8b's aggregator top-k plans partial ObjectHashAggregate, no window") {
    val plan = planOf("q8b_topk_agg")
    assert(plan.contains("ObjectHashAggregate"),
      s"typed aggregator should plan ObjectHashAggregate:\n$plan")
    // the whole point vs q8_window_topn: map-side partial top-k, so the
    // exchange moves <= k rows per (group, map partition), and no Window
    // operator sorts whole groups after the shuffle
    assert(!plan.contains("Window"), s"unexpected Window:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"expected partial+final aggregate pair:\n$plan")
  }

  test("round-4 queries: pruned scans, codegen'd Morton key") {
    // the PNG synth kernel needs ONLY doc_id — text must never reach
    // the scan (a media pipeline reading payload-adjacent columns it
    // doesn't use is exactly the waste column pruning exists to stop)
    val mm = planOf("mm_decode_real")
    assert(mm.contains("ReadSchema: struct<doc_id:bigint>"),
      s"synth/decode scan must prune to doc_id:\n$mm")
    // the Morton key is flat shift/mask arithmetic: ONE projection
    // directly over the pruned scan, and the only exchange is the final
    // presentation sort's range partitioning — no hash shuffle anywhere
    val z = planOf("zorder_key")
    assert(z.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"),
      s"zorder_key scan must prune to its three columns:\n$z")
    assert(!z.contains("Exchange hashpartitioning"),
      s"morton key must not introduce a hash shuffle:\n$z")
    assert(z.contains("+- Project (2)") && z.contains("+- Scan parquet"),
      s"expected one projection straight over the scan:\n$z")
    // the training-order shuffle is scan → project → sort, nothing else
    val fs = planOf("fp_shuffle_order")
    assert(fs.contains("ReadSchema: struct<doc_id:bigint>"),
      s"fp_shuffle_order must scan doc_id only:\n$fs")
  }

  test("retrieval/tokenizer queries: global top-k, pruned scans, broadcasts") {
    // BM25's top-k must be TakeOrderedAndProject (never a full sort) and
    // the corpus scan must prune to (doc_id, text); df + corpus stats
    // ride broadcasts, so no sort-merge join anywhere
    val bm = planOf("search_bm25")
    assert(bm.contains("TakeOrderedAndProject"),
      s"bm25 top-k should plan TakeOrderedAndProject:\n$bm")
    assert(bm.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"bm25 scan not pruned:\n$bm")
    assert(!bm.contains("SortMergeJoin"),
      s"bm25 stats/df joins must broadcast:\n$bm")
    // pair stats: text-only scan, top-k via TakeOrderedAndProject
    val bp = planOf("bpe_merge_pairs")
    assert(bp.contains("TakeOrderedAndProject"),
      s"bpe pair top-k should plan TakeOrderedAndProject:\n$bp")
    assert(bp.contains("ReadSchema: struct<text:string>"),
      s"bpe pair scan must prune to text:\n$bp")
    // temperature sampling: the rate table joins by broadcast only
    val ts = planOf("corpus_temperature_sample")
    assert(ts.contains("BroadcastHashJoin") && !ts.contains("SortMergeJoin"),
      s"temperature rates must broadcast:\n$ts")
    // array-verify prefix Jaccard: the rank window is gone (rarest-first
    // order comes from one struct-array sort inside the aggregate)
    val jp = planOf("dedup_jaccard_prefix")
    assert(!jp.contains("Window"),
      s"jaccardPrefix should not plan a Window after the array rewrite:\n$jp")
  }

  test("corpus_prep reuses its cached clean-corpus build; hybrid search tops out") {
    // the strip -> quality -> fp intermediate is cached and feeds three
    // consumers: the plan must read it via its named in-memory scan, and the
    // boilerplate hot-set removal stays an anti join (never a filter over
    // a collected list)
    val cp = planOf("corpus_prep")
    assert(cp.contains("Scan In-memory table TextAnalysis.corpusPrep.withQ"),
      s"corpus_prep should reuse the persisted clean-corpus build:\n$cp")
    assert(cp.contains("LeftAnti"),
      s"boilerplate hot-set removal should plan an anti join:\n$cp")
    spark.catalog.clearCache()
    // boilerplate strip standalone: anti join + fp-keyed aggregation
    val tb = planOf("text_boilerplate")
    assert(tb.contains("LeftAnti"),
      s"text_boilerplate hot-set removal should plan an anti join:\n$tb")
    // hybrid: both candidate lists are global top-k heaps, fusion has no
    // sort-merge join (two <= k-row lists)
    val sh = planOf("search_hybrid")
    assert(sh.contains("TakeOrderedAndProject"),
      s"search_hybrid candidate lists should plan TakeOrderedAndProject:\n$sh")
    // bpe_encode: the merge applications fold into projections — the
    // encode side is one map pass + one doc-keyed agg, never a window
    val be = planOf("bpe_encode")
    assert(!be.contains("Window"),
      s"bpe_encode should be window-free:\n$be")
  }

  test("graph copartition strategy: per-round join is a merge join with " +
      "NO broadcast, edge side cached pre-partitioned; results identical " +
      "to broadcast mode (VERDICT r5 item 4)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Tables(spark, sf001, "lineitem")
      .select(col("l_orderkey").as("da"), col("l_partkey").as("db"))
      .limit(2000).distinct()
    // plan shape of the round join under copartition — the loop bodies
    // localCheckpoint their plans away, so assert on the seam the loop
    // uses (prepEdges + stateJoin)
    val sym = graft.ops.Graphs.prepEdges(
      edges.select(col("da").as("src"), col("db").as("dst")),
      "src", "copartition")
    try {
      val state = edges.select(col("da").as("src")).distinct()
        .withColumn("c", lit(1L))
      val round = graft.ops.Graphs.stateJoin(sym, state, "src", "copartition")
        .groupBy("dst").agg(sum("c").as("s"))
      round.collect()
      val plan = round.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"no merge join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"copartition must never broadcast (it exists for the |V| that " +
          s"cannot):\n$plan")
      // the cached edge side supplies partitioning: the only exchange
      // below the join feeds the small state side
      val joinIdx = plan.indexOf("SortMergeJoin")
      val scanIdx = plan.indexOf("Scan In-memory table Graphs.prepEdges")
      assert(scanIdx > joinIdx, s"edge side not read from cache:\n$plan")
    } finally sym.unpersist()
    // results bit-identical across strategies for all three ops
    val seeds = edges.select(col("da").as("node")).distinct().limit(3)
    def runAll(strategy: String): Seq[Set[(Long, Long)]] = Seq(
      graft.ops.Graphs.pagerankInt(edges, iters = 3, strategy = strategy)
        .as[(Long, Long)].collect().toSet,
      graft.ops.Graphs.pprInt(edges, seeds, iters = 3, strategy = strategy)
        .as[(Long, Long)].collect().toSet,
      graft.ops.Graphs.bfsHops(edges, seeds, maxHops = 3, strategy = strategy)
        .as[(Long, Long)].collect().toSet)
    val Seq(prB, pprB, bfsB) = runAll("broadcast")
    val Seq(prC, pprC, bfsC) = runAll("copartition")
    assert(prB == prC, "pagerank diverged across strategies")
    assert(pprB == pprC, "ppr diverged across strategies")
    assert(bfsB == bfsC, "bfs diverged across strategies")
    assert(prB.nonEmpty && pprB.nonEmpty && bfsB.nonEmpty)
  }

  test("round-14: iterative rounds plan ZERO shuffle exchanges when the " +
      "edge cache is clustered by the aggregate key; resolveClusters is " +
      "strategy-parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Tables(spark, sf001, "lineitem")
      .select(col("l_orderkey").as("da"), col("l_partkey").as("db"))
      .limit(2000).distinct()
    // the pagerank/labelProp round seam: prepEdges(clusterBy = dst) +
    // broadcast stateJoin + groupBy(dst) must execute with NO exchange
    // at all — the broadcast hash join preserves the cached clustering
    // (guide §2.4; this is what turns iters× per-round shuffles into
    // one up-front one)
    val sym = graft.ops.Graphs.prepEdges(
      edges.select(col("da").as("src"), col("db").as("dst")),
      "src", "broadcast", clusterBy = Some("dst"))
    try {
      val state = edges.select(col("da").as("src")).distinct()
        .withColumn("c", lit(1L))
      val round = graft.ops.Graphs.stateJoin(sym, state, "src", "broadcast")
        .groupBy("dst").agg(sum("c").as("s"))
      round.collect()
      val plan = round.queryExecution.executedPlan.toString
      val nEx = "ShuffleExchange".r.findAllIn(plan).length
      assert(nEx == 0,
        s"clustered round should plan zero shuffle exchanges, got $nEx:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"state not broadcast:\n$plan")
    } finally sym.unpersist()
    // resolveClusters (round-14 decomposed round): results identical
    // across strategies, and identical to the known component structure
    val pairs = edges.limit(300)
    val ccB = graft.ops.Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toSet
    val ccC = graft.ops.Dedup.resolveClusters(pairs, strategy = "copartition")
      .as[(Long, Long)].collect().toSet
    assert(ccB == ccC && ccB.nonEmpty,
      "resolveClusters diverged across strategies")
  }

  test("round-14: the frontier anti-join broadcasts the visited set " +
      "under broadcast strategy (no per-round sort-merge anti); " +
      "harmonic is strategy-parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Tables(spark, sf001, "lineitem")
      .select(col("l_orderkey").as("da"), col("l_partkey").as("db"))
      .limit(2000).distinct()
    // the bfs round seam: candidate frontier ∖ visited, where visited is
    // a stats-less union of checkpointed pieces — exactly what made
    // stats-less planning pick a sort-merge anti that re-exchanged and
    // re-sorted both sides every round (plans/r14/graph_bfs_round_*)
    val cand = edges.select(col("da").as("node")).distinct()
    val visited = edges.select(col("da").as("node")).limit(50)
      .localCheckpoint()
      .unionByName(edges.select(col("db").as("node")).limit(50)
        .localCheckpoint())
    val nextB = graft.ops.Graphs.antiJoin(
      cand, visited, Seq("node"), "broadcast")
    nextB.collect()
    val planB = nextB.queryExecution.executedPlan.toString
    assert(planB.contains("LeftAnti") && planB.contains("BroadcastHashJoin"),
      s"broadcast-mode anti-join must be a broadcast hash anti:\n$planB")
    assert(!planB.contains("SortMergeJoin"),
      s"broadcast-mode anti-join must not sort-merge:\n$planB")
    // copartition mode keeps the merge escape — never a broadcast build
    val nextC = graft.ops.Graphs.antiJoin(
      cand, visited, Seq("node"), "copartition")
    nextC.collect()
    val planC = nextC.queryExecution.executedPlan.toString
    assert(planC.contains("SortMergeJoin") && planC.contains("LeftAnti"),
      s"copartition anti-join must merge:\n$planC")
    assert(!planC.contains("BroadcastHashJoin"),
      s"copartition must never broadcast:\n$planC")
    // harmonic results identical across strategies (bfs parity is pinned
    // in the copartition test above)
    val hB = graft.ops.Graphs.harmonicCentrality(edges, nSeeds = 3,
      maxHops = 3).as[(Long, Long, Long)].collect().toSet
    val hC = graft.ops.Graphs.harmonicCentrality(edges, nSeeds = 3,
      maxHops = 3, strategy = "copartition")
      .as[(Long, Long, Long)].collect().toSet
    assert(hB == hC && hB.nonEmpty,
      "harmonicCentrality diverged across strategies")
  }

  test("round-14: the materialization helpers read ONE checkpointed " +
      "block set across all their passes (VERDICT r13 item 6)") {
    // withRunningTotal / rangeNtileBucket / globalRank each read their
    // input 2-3 times by construction; round 13 pinned the input behind
    // one localCheckpoint. This guards the win: every LogicalRDD scan
    // in the optimized plan must reference the SAME materialized RDD —
    // a second distinct id means a pass regressed to re-running the
    // upstream lineage.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def rddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    val in = spark.range(0, 1000)
      .select(col("id").as("t"), pmod(col("id"), lit(7L)).as("v"))
    val rt = rddIds(graft.ops.Features.withRunningTotal(in, "t", "v", "cum"))
    assert(rt.size >= 2 && rt.distinct.size == 1,
      s"withRunningTotal: ${rt.size} scans over ${rt.distinct.size} " +
        "distinct block sets (expected all passes on one checkpoint)")
    val nt = rddIds(graft.ops.Features.rangeNtileBucket(in, "v", "t", 4))
    assert(nt.size >= 2 && nt.distinct.size == 1,
      s"rangeNtileBucket: ${nt.size} scans over ${nt.distinct.size} " +
        "distinct block sets")
    val gr = rddIds(graft.ops.EntityResolution.globalRank(
      Seq(("alpha", "e", 1L), ("beta", "q", 2L), ("gamma", "e", 3L))
        .toDF("name", "side", "key"), Seq("side", "key")))
    assert(gr.size >= 2 && gr.distinct.size == 1,
      s"globalRank: ${gr.size} scans over ${gr.distinct.size} " +
        "distinct block sets")
  }

  test("round-8: PQ shortlist is a bounded aggregate, IVFADC codes scan " +
      "DPP-prunes, modularity/assortativity run broadcast-free under " +
      "copartition (VERDICT r7 items 1-4)") {
    import org.apache.spark.sql.functions._
    // sim_pq_topk's ADC shortlist must be the typed TopKAgg
    // (ObjectHashAggregate: <= 64 rows per (query, map partition) cross
    // the exchange) — the q-keyed full-candidate row_number sort it
    // replaces would shuffle-sort 20·N rows to keep 64
    val pq = planOf("sim_pq_topk")
    assert(pq.contains("ObjectHashAggregate"),
      s"PQ shortlist must plan as the bounded TopKAgg:\n$pq")
    // the composed IVFADC probe: candidate generation is list-bounded —
    // the persisted codes scan carries dynamic partition pruning from
    // the broadcast probe table (without it every partition of a 100 TB
    // code table gets read for a 6-list probe)
    val ivfpq = planOf("sim_ivfpq_topk")
    // BOTH partitioned scans must carry a dynamicpruning partition
    // filter: the codes scan (candidate generation) and the lists scan
    // (the exact re-rank — prunable because the shortlist packs the
    // cluster into the TopKAgg key and rejoins on (cluster, vec_id))
    val prunedScans = "PartitionFilters: \\[[^\\]]*dynamicpruning".r
      .findAllIn(ivfpq).size
    assert(prunedScans >= 2,
      s"IVFADC must DPP-prune codes AND lists scans, got $prunedScans:\n" +
        ivfpq)
    // modularity/assortativity under the copartition knob: the |V|-sized
    // label/degree attaches become merge-hinted shuffle joins — NO hash
    // build anywhere in the plan (the 1-row scalar crossJoins stay
    // BroadcastNestedLoop, which is not a |V|-sized build) — and results
    // are bit-identical to broadcast mode (integer arithmetic)
    import spark.implicits._
    val edges = Tables(spark, sf001, "lineitem")
      .select(col("l_orderkey").as("da"), col("l_partkey").as("db"))
      .limit(2000).distinct()
    val labels = edges.select(col("da").as("node"))
      .union(edges.select(col("db").as("node"))).distinct()
      .withColumn("label", pmod(col("node"), lit(7L)))
    val modC = graft.ops.Graphs.modularityReport(edges, labels,
      strategy = "copartition")
    val modPlan = modC.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!modPlan.contains("BroadcastHashJoin"),
      s"copartition modularity must not broadcast-build:\n$modPlan")
    val asoC = graft.ops.Graphs.assortativity(edges,
      strategy = "copartition")
    val asoPlan = asoC.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!asoPlan.contains("BroadcastHashJoin"),
      s"copartition assortativity must not broadcast-build:\n$asoPlan")
    val modB = graft.ops.Graphs.modularityReport(edges, labels)
      .collect().toSeq
    assert(modC.collect().toSeq == modB && modB.nonEmpty,
      "modularity diverged across strategies")
    val asoB = graft.ops.Graphs.assortativity(edges).collect().toSeq
    assert(asoC.collect().toSeq == asoB && asoB.nonEmpty,
      "assortativity diverged across strategies")
  }

  test("round-5 queries: bloom fused on the scan, ER broadcasts, HLL prunes") {
    // the bloom membership predicate must evaluate IN the fact scan's
    // stage (Filter directly over Scan, before any exchange) and the
    // exact verify must be a broadcast SEMI join — the runtime-filter
    // shape; a sort-merge join here would mean the reduction shuffled
    // the very rows it exists to drop
    val bl = planOf("join_bloom_prune")
    assert(bl.contains("BroadcastHashJoin LeftSemi"),
      s"bloom verify join must broadcast:\n$bl")
    assert(!bl.contains("SortMergeJoin"),
      s"bloom-pruned join must not sort-merge:\n$bl")
    val factScan = bl.indexOf("Scan parquet")
    val factFilter = bl.indexOf("Filter (2)")
    assert(factScan >= 0 && factFilter >= 0,
      s"expected Filter fused over the fact scan:\n$bl")
    // er_fuzzy_match: block join broadcasts the tiny query side and the
    // jaro_winkler scorer runs inside the join condition (codegen), no
    // cartesian anywhere
    val er = planOf("er_fuzzy_match")
    assert(er.contains("BroadcastHashJoin") && !er.contains("CartesianProduct"),
      s"ER block join must broadcast:\n$er")
    assert(er.contains("jaro_winkler"),
      s"scorer must appear in the plan (codegen expr, not a UDF):\n$er")
    // sketch_hll_distinct: both aggregation legs prune lineitem to the
    // single key column
    val hll = planOf("sketch_hll_distinct")
    assert(hll.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"HLL must scan only the key column:\n$hll")
    // mv_incremental merges VIEW-SIZED partials: the merge aggregate
    // must consume the two partial aggregates, not re-read raw events
    // (2 scans: one per partial; a third would mean a recompute)
    val mv = planOf("mv_incremental")
    assert(scanCount(mv) == 2,
      s"mv merge must plan exactly the two partial-agg scans:\n$mv")
  }

  test("round-11 queries: prefix scans stay sliced, rollups broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // skyline + ABC: the only global windows allowed are the offsets
    // windows over the per-slice tables, never a data-sized sort
    Seq("q45_skyline", "q46_abc_class").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan
      assert(dataSizedGlobalWindows(plan).isEmpty,
        s"$q plans a data-sized global window:\n$plan")
    }
    // position attribution: every window is user-keyed; one sort
    // shuffle family, no self-join of raw events (journey join is
    // (user, jid)-keyed on already-windowed rows)
    val pa = SparkEntry.queries("events_attribution_position")(spark, sf0001)
      .queryExecution.optimizedPlan
    val paGlobal = pa.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(paGlobal.isEmpty,
      s"attribution windows must be user-keyed:\n$pa")
    // bitmap distinct: the exact-check join runs on group-sized
    // aggregates — broadcast, never a fact-sized sort-merge
    val bm = planOf("sketch_bitmap_distinct")
    assert(!bm.contains("SortMergeJoin"),
      s"bitmapDistinct joins group-sized tables — broadcast them:\n$bm")
    assert(bm.contains("bit_or"),
      s"bitmapDistinct must fold words with bit_or partials:\n$bm")
    // source overlap: size tables broadcast onto the pair aggregate
    val so = planOf("text_source_overlap")
    assert(!so.contains("CartesianProduct"),
      s"source overlap must stay term-keyed:\n$so")
    // stickiness: the (month, day, user) collapse happens BEFORE any
    // wider aggregate — no window at all in this plan
    val st = planOf("events_stickiness")
    assert(!st.contains("Window"),
      s"stickiness is aggregates-only:\n$st")
  }

  test("round-9 queries: one shuffle curation, broadcast audits, cogrouped MMR") {
    // budget select: ONE source-keyed hash exchange feeds both windows
    // (prefix sum + per-source budget share the partitioning); the only
    // other exchange is the presentation sort. No join anywhere.
    val bs = planOf("text_budget_select")
    assert(!bs.contains("Join"), s"budgetSelect must not join:\n$bs")
    assert("hashpartitioning\\(source".r.findAllIn(bs).size <= 1,
      s"budgetSelect must reuse one source partitioning:\n$bs")
    assert(bs.contains("text:string,source:string") ||
      bs.contains("source:string,text:string"),
      s"budgetSelect scan must prune to (text, source):\n$bs")
    // mix allocation: windows/ranks run over the |sources|-row
    // aggregate, never the corpus — the corpus-side plan is one partial
    // aggregate; totals ride broadcast nested-loop of 1-row frames
    val mx = planOf("text_mix_allocation")
    assert(!mx.contains("CartesianProduct"),
      s"mixAllocation 1-row joins must broadcast:\n$mx")
    assert(!mx.contains("SortMergeJoin"),
      s"mixAllocation joins aggregate-sized tables — broadcast:\n$mx")
    // the two k-means-assignment audits: centroid joins broadcast
    Seq("embed_coverage_sample", "ann_ivf_append_audit").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q centroid/stat joins are k-row — broadcast them:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    // the composed pretraining pipeline: its five 1-row report joins
    // ride BroadcastNestedLoopJoin, never a cartesian; the multiprobe
    // retrieval joins stay keyed
    Seq("pipeline_pretrain_report", "sim_lsh_multiprobe_topk").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    // MMR: selection is ONE CoGroup (not k chained aggregate stages) and
    // candidate generation is the only corpus-sized work in the plan
    val mmr = planOf("sim_mmr_rerank")
    assert(mmr.contains("CoGroup"),
      s"MMR selection must be a single cogroup:\n$mmr")
    assert(!mmr.contains("CartesianProduct"),
      s"MMR pairwise sims are q_id-keyed, never cartesian:\n$mmr")
  }
}
