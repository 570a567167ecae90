package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Portable, PortableKernels}
import graft.ops.{Dedup, Events, Features, Multimodal, Profiler, Relational, Similarity, Sketches, TextAnalysis}

/** Registered queries (part 3 of 3) — mechanical split of the
  * SparkEntry registry (round 12; no behavior change). */
trait SparkEntryQueries3 extends SparkEntryQueries2 {
  private[graft] def queriesChunk3: Map[String, (SparkSession, String) => DataFrame] = Map(

    // EXT typed-Aggregator top-k: same rows as q8_window_topn (shared
    // oracle) but via partial aggregation — the shuffle carries <= k rows
    // per (group, map partition) instead of every order. PlanShapeSpec
    // asserts the ObjectHashAggregate partial/final shape.
    "q8b_topk_agg" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKByScore(3),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.functions.Scored]())
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), col("t.key").as("o_orderkey"),
          col("t.score").as("o_totalprice"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // EXT corpus mixture report: per-source doc/token counts and exact
    // bp share of total tokens (the data-mixing dashboard).
    "corpus_mix" -> ((s, dir) =>
      TextAnalysis.corpusMix(t(s, dir, "documents"))),

    // EXT sketch profile, HASH-ORACLED since round 11: the distinct
    // estimates are a portable per-column KMV bottom-k (bounded-buffer
    // aggregate over the quad-hash of the 10⁶-scaled value — exact
    // below k=256 distincts, ~6.3% rsd above, every step replayable in
    // DuckDB), replacing approx_count_distinct (engine-private HLL++,
    // which kept this rows-only). Same single-scan shape: stats and
    // sketch fold into ONE aggregate; the map side ships ≤ k hashes
    // per (column, partition). The ±25% exactness gate is SCALE-
    // SWITCHED (VERDICT r11 item 5): armed at test scales (≤ 2M rows —
    // every driver-verified sf, where the oracle hashes it anyway),
    // dropped above, because the gate re-runs the exact dedup pass the
    // sketch exists to avoid (15.4 s at ×10 for a ~1 s sketch). Above
    // the switch the estimator runs on its published error, the
    // production contract — and the sketch path is IDENTICAL code at
    // every scale, so the driver-scale hash checks what the decades run.
    "profile_approx" -> ((s, dir) =>
      Profiler.numericProfile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey"),
        approx = true,
        checkApprox = if (tableRows(s, dir, "lineitem") <= 2000000L)
          Some(0.25) else None)),

    // EXT market-basket co-occurrence: top-20 part pairs ordered together.
    // Basket shape, not a self-join: one shuffle collapses lineitem to
    // per-order DISTINCT part sets (collect_set — so n_orders counts
    // ORDERS even when a part repeats across an order's lineitems), pairs
    // are generated INLINE from each set (the same in-bucket trick as
    // lshNearDup), and one more partial-aggregated shuffle counts pairs.
    // The in-array pair expansion is O(basket²), so baskets are CAPPED at
    // MaxBasket lowest part ids — the dedup family's drop-loudly
    // contract: one hot basket (a customer ordering every part) degrades
    // to dropped candidates, never a quadratic blowup. This corpus's
    // baskets are <= 7 parts, so the cap (64) drops nothing here; the
    // oracle implements the SAME capped semantics. The global top-k is
    // TakeOrderedAndProject, never a full sort. A self-join formulation
    // pays a third exchange for the distinct and moves every (order,
    // part) row twice — measured 1.9 s vs 1.2 s warm at sf0.1.
    "copurchase_pairs" -> ((s, dir) =>
      copurchaseTriEdges(t(s, dir, "lineitem"))
        .groupBy(col("da").as("pa"), col("db").as("pb"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(desc("n_orders"), asc("pa"), asc("pb"))
        .limit(20)),

    // EXT iterative graph centrality: INTEGER PageRank
    // (PagerankQueryIters = 5 fixed rounds here; floor arithmetic —
    // bit-portable, so even the iteration is oracle'd) over the capped
    // co-purchase part graph at min-support 2 (copurchaseEdges). The
    // curation use: authority/quality weighting from a co-occurrence
    // graph.
    "graph_pagerank" -> ((s, dir) =>
      graft.ops.Graphs.pagerankInt(copurchaseEdges(t(s, dir, "lineitem")),
        iters = PagerankQueryIters)),

    // EXT graph: per-node triangle participation over the (capped)
    // co-purchase graph — degree-ordered orientation bounds the wedge
    // join at O(|E|^1.5); counts are orientation-independent so the
    // id-ordered DuckDB self-join oracle checks them exactly. Uses ALL
    // co-purchase pairs (no n_orders floor): triangle density IS the
    // signal, pre-thresholding would erase it.
    "graph_triangles" -> ((s, dir) =>
      graft.ops.Graphs.triangleCounts(
        copurchaseTriEdges(t(s, dir, "lineitem")))),
    // EXT the BOUNDED scale path of graph_triangles (VERDICT r11 item
    // 2 — the registry's one measured superlinear wall-time at ×100):
    // DOULION edge sampling at exact p=1/4 via the portable pair hash,
    // the same degree-ordered edge-iterator on the sampled graph,
    // per-node estimate = sampled count × 64. Sampling cuts the
    // intersection work ~p² (this graph's degrees are NARROW — a
    // hot-node cap would shed nothing or everything); deterministic
    // integers end to end ⇒ hash-oracled, unlike any RNG sampler.
    "graph_triangles_sampled" -> ((s, dir) =>
      graft.ops.Graphs.triangleCountsSampled(
        copurchaseTriEdges(t(s, dir, "lineitem")))),
    // the estimator's accounting row (the dedup_cap_stats discipline):
    // edge totals vs sampled, the exact scale factor, sampled and
    // scaled triangle totals — what was dropped, said out loud
    "graph_tri_sample_stats" -> ((s, dir) =>
      graft.ops.Graphs.triangleSampleStats(
        copurchaseTriEdges(t(s, dir, "lineitem")))),

    // EXT graph: 2-core of the thresholded co-purchase graph — iterative
    // peeling with the in-plan fixpoint certificate (any peel fixpoint
    // IS the k-core, so the certificate makes the fixed round count
    // safe). The dense-cohesion screen over the same graph pagerank
    // ranks; 8 rounds covers the measured peel depth (6 at sf0.1) with
    // headroom.
    "graph_kcore" -> ((s, dir) =>
      graft.ops.Graphs.kCore(copurchaseEdges(t(s, dir, "lineitem")),
        k = KcoreK, rounds = KcoreRounds)),

    // EXT graph: synchronous label-propagation communities over the
    // thresholded co-purchase graph — the topical-cluster / ring screen
    // (per-community quotas, coordinated-spam excision). Deterministic
    // min-label tie-break means even the sweep trajectory is oracle'd;
    // LabelPropRounds fixed sweeps, labels snapshot not fixpoint.
    "graph_labelprop" -> ((s, dir) =>
      graft.ops.Graphs.labelProp(copurchaseEdges(t(s, dir, "lineitem")),
        rounds = LabelPropRounds)),

    // EXT graph link prediction: common-neighbor Jaccard over the
    // thresholded co-purchase graph — candidates from wedges only
    // (never the n² pair space), hub-capped per the bounded-candidate
    // contract (inert at this corpus's degrees, so exact), existing
    // edges anti-joined away, top-50 suggested links.
    "graph_jaccard_links" -> ((s, dir) =>
      graft.ops.Graphs.jaccardNeighbors(copurchaseEdges(t(s, dir, "lineitem")))),

    // EXT graph: modularity scoring of the labelProp partition — the
    // detector's quality number (Newman-Girvan Q in exact integers:
    // per-community 4·m·e_c − d_c² contributions, global q_bp riding
    // along), so "did the communities improve" is a driver-checked
    // fact, not a judgment call. Overflow-guarded in-plan at 1.5e9
    // edges.
    "graph_modularity" -> ((s, dir) => {
      val pairs = copurchaseEdges(t(s, dir, "lineitem"))
      graft.ops.Graphs.modularityReport(pairs,
        graft.ops.Graphs.labelProp(pairs, rounds = LabelPropRounds)
          .select("node", "label"))
    }),

    // EXT graph: degree assortativity of the thresholded co-purchase
    // graph — Newman's r as pure integer moments over edge stubs (the
    // only rounding is the final floor div, twin-matched), deciding
    // whether hub-capped algorithms bite on this topology; regular
    // graphs surface r NULL (undefined), never a fake 0.
    "graph_assortativity" -> ((s, dir) =>
      graft.ops.Graphs.assortativity(copurchaseEdges(t(s, dir, "lineitem")))),

    // EXT truncated harmonic centrality: sum of 1/d in floor milli over
    // a 6-hop radius from the 8 lowest nodes — |seeds| simultaneous BFS
    // layers, integer-exact end to end; the all-pairs-free closeness.
    "graph_harmonic" -> ((s, dir) =>
      graft.ops.Graphs.harmonicCentrality(copurchaseEdges(t(s, dir, "lineitem")))),

    // EXT connected components: the min-label fixpoint over the
    // copurchase graph (Dedup.resolveClusters — shortcutting min
    // propagation, O(log d) effective rounds, convergence asserted) +
    // component sizes. The explicit CC surface the dedup/ER families
    // use internally, exposed as a graph query.
    "graph_components" -> ((s, dir) => {
      val pairs = copurchaseEdges(t(s, dir, "lineitem"))
      val cc = graft.ops.Dedup.resolveClusters(pairs, "da", "db")
        .select(col("doc_id").as("node"), col("cluster_id").as("component"))
      val sizes = cc.groupBy("component")
        .agg(count(lit(1)).as("comp_size"))
      cc.join(broadcast(sizes), Seq("component"))
        .select("node", "component", "comp_size")
        .orderBy("node")
    }),

    // EXT degree distribution: log2-binned degree histogram + CCDF tail
    // over the same co-purchase graph — the skew diagnostic that sizes
    // every broadcast/copartition/cap decision; one edge scan, one
    // node-keyed count, a <=64-row binned aggregate.
    "graph_degree_dist" -> ((s, dir) =>
      graft.ops.Graphs.degreeDistribution(copurchaseEdges(t(s, dir, "lineitem")))),

    // EXT percentile winsorization: clamp each event's value into its
    // type's exact [p05, p95] band — the outlier-taming feature-eng pass.
    // The percentile table is #types rows, broadcast back; values stay
    // raw doubles until the final exact-cents surface.
    // SCALE NOTE: exact `percentile` is a TypedImperativeAggregate whose
    // per-group buffer holds every distinct value — on a CONTINUOUS
    // column like events.value the buffer grows linearly with corpus
    // size per event_type, an executor-memory blowup at 100×. This exact
    // form is the small-sf oracle twin; events_winsorize_approx below is
    // the bounded-memory scale path (same discipline as
    // ml/Pipelines.quantileDiscretizer's GK sketch vs the exact ntile).
    "events_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pct = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(pct), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(least(greatest(col("value"), col("p05")), col("p95")) * 100)
            .cast("long").as("clamped_cents"))
        .orderBy("event_id")
    }),

    // EXT sketch winsorization — the 100 TB path of events_winsorize,
    // HASH-ORACLED since round 12 (VERDICT r11 item 6): the bounded
    // quantile summary is the repo's own PORTABLE mergeable histogram
    // (Sketches.histCountsBy — ≤ bins rows per (type, map partition)
    // cross the shuffle, bin counts ADD across shards, unlike GK/KLL
    // whose state depends on merge order), so the whole clamp — cents
    // quantization, bucket counts, covering-count quantile pick at
    // 500/9500 bp, clamp to the bucket's inclusive upper edge — is
    // exact integer arithmetic with a DuckDB twin. Bound error ≤ one
    // 64-cent bin by construction (a theorem of the geometry, not a
    // runtime property — no ε gate needed where the hash oracle runs).
    // approx_percentile's GK sketch remains the engine-native
    // alternative, kept exercised + rank-ε-gated by
    // events_winsorize_gate below.
    "events_winsorize_approx" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cents = ev.select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val hist = Sketches.histCountsBy(cents, "cents", Seq("event_type"),
        0L, 64L, 1024)
      val bounds = Sketches.histQuantilesBy(hist, Seq("event_type"),
          Seq(500, 9500), 0L, 64L, 1024)
        .groupBy("event_type").agg(
          max(when(col("q_bp") === 500, col("est_upper"))).as("p05c"),
          max(when(col("q_bp") === 9500, col("est_upper"))).as("p95c"))
      cents.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          least(greatest(col("cents"), col("p05c")), col("p95c"))
            .as("clamped_cents"))
        .orderBy("event_id")
    }),
    // the GK-sketch rank-ε gate, hash-oracled: the per-type verdict row
    // only exists if the in-plan assert held (a drifted approx_percentile
    // sketch throws, an empty/missing type hash-mismatches), so the
    // DuckDB twin is the trivially-true shape — this keeps the
    // engine-native GK path exercised now that events_winsorize_approx
    // runs the portable histogram instead
    "events_winsorize_gate" -> ((s, dir) =>
      winsorizeApproxGate(t(s, dir, "events"))._2.orderBy("event_type")),

    // EXT recursive CTE (Spark 4 WITH RECURSIVE -> UnionLoop): walk the
    // synthetic digit-truncation forest over customers (parent(k) =
    // k div 10, roots k < 10) to (node, root, depth) — the transitive-
    // closure surface SQL users expect from a warehouse engine. Each
    // loop iteration is one hash join of the frontier against customer;
    // depth is bounded by key digits (~6 at any corpus scale).
    "q37_recursive_cte" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      s.sql("""
        WITH RECURSIVE anc(node, root, depth) AS (
          SELECT c_custkey, c_custkey, CAST(0 AS BIGINT)
          FROM g_customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, a.root, a.depth + 1
          FROM g_customer c JOIN anc a
            ON c.c_custkey div 10 = a.node AND c.c_custkey >= 10)
        SELECT node, root, depth FROM anc ORDER BY node""")
    }),

    // EXT Spark 4 VARIANT: semi-structured JSON parsed ONCE into the
    // binary variant encoding, then typed-path extraction
    // (variant_get with a cast in the extraction itself — the
    // shred-on-read shape that replaces per-field get_json_object
    // re-parses at 100 TB). The JSON is constructed from typed columns
    // so both engines parse identical strings.
    "q38_variant_json" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val j = concat(lit("{\"u\":{\"id\":"), col("user_id"),
        lit(",\"m\":["), col("event_id") % 7, lit(","),
        col("event_id") % 11, lit("]},\"t\":\""), col("event_type"),
        lit("\"}"))
      ev.select(parse_json(j).as("v"))
        .select(
          variant_get(col("v"), "$.t", "string").as("t"),
          variant_get(col("v"), "$.u.id", "bigint").as("uid"),
          variant_get(col("v"), "$.u.m[1]", "bigint").as("m1"))
        .groupBy("t").agg(count(lit(1)).as("n"),
          sum("uid").as("sum_uid"), sum("m1").as("sum_m1"))
        .orderBy("t")
    }),

    // EXT LATERAL correlated subquery: top-2 orders PER sampled
    // customer — the per-row dependent subquery SQL users reach for
    // before learning window functions; Catalyst decorrelates it into
    // a join, no per-row execution.
    "q39_lateral_topk" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.cents
        FROM g_customer c
        JOIN LATERAL (
          SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM g_orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey % 50 = 0
        ORDER BY c.c_custkey, o.o_orderkey""")
    }),

    // EXT UNPIVOT (melt): wide measure columns to (name, value) rows —
    // the relational reshape feeding any per-measure profiling;
    // integer-cents basis so the folded sums hash cross-engine.
    "q40_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT name, count(*) AS n, sum(cents) AS total_cents
        FROM (
          SELECT * FROM (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS extendedprice,
                   CAST(round(l_quantity * 100) AS BIGINT) AS quantity,
                   CAST(round(l_tax * 100) AS BIGINT) AS tax
            FROM g_lineitem)
          UNPIVOT (cents FOR name IN (extendedprice, quantity, tax)))
        GROUP BY name ORDER BY name""")
    }),

    // EXT modern aggregate surface: ordered LISTAGG (Spark 4), exact
    // integer median (×2-scaled: even-count interpolation lands on
    // halves in both engines), count_if — the post-SQL:2016 aggregates
    // an analyst expects; all deterministic by construction.
    "q41_modern_aggs" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT o_orderstatus,
               listagg(DISTINCT o_orderpriority, ',')
                 WITHIN GROUP (ORDER BY o_orderpriority) AS prios,
               CAST(2 * median(cents) AS BIGINT) AS med2_cents,
               count_if(cents > 10000000) AS n_big
        FROM (SELECT o_orderstatus, o_orderpriority,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM g_orders)
        GROUP BY 1 ORDER BY 1""")
    }),

    // EXT deterministic training-order shuffle: a corpus materialized in
    // seeded pseudo-random order — reproducible across runs, engines and
    // partitionings because the order key is the portable affine hash of
    // doc_id, never rand(). The "shuffle the training data" step of a
    // data pipeline as a checkable query (order IS the semantics here,
    // so the oracle orders by the same hash); ties impossible (hash is
    // injective mod P1 on doc_id < P1, and doc_id breaks any residue
    // collision).
    "fp_shuffle_order" -> ((s, dir) => {
      import graft.functions.Portable.{P1, aCoef, bCoef}
      val key =
        (((col("doc_id") % lit(P1)) * lit(aCoef(11)) + lit(bCoef(11))) % lit(P1))
          .as("shuffle_key")
      t(s, dir, "documents")
        .select(col("doc_id"), key)
        .orderBy("shuffle_key", "doc_id")
    }),

    // EXT portable feature hashing (HashingTF twin): token -> bucket via
    // the shared rolling-hash basis mod 64, exact per-bucket counts.
    // Unlike spark.ml's HashingTF (Murmur3, engine-private) every bucket
    // assignment is SQL-reproducible, so the feature matrix itself is
    // oracle-checkable. One explode + one partial-aggregated shuffle.
    "fp_feature_hash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Texty.tokens(col("text"))).as("tk"))
        .filter(col("tk") =!= "")
        .select(col("doc_id"),
          pmod(graft.functions.Texty.rollingHash(col("tk")), lit(64L))
            .as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "bucket")),

    // EXT in-memory schema-drift union: unionByName(allowMissingColumns)
    // null-pads each side's missing columns — the DataFrame twin of
    // sink_schema_evolution's mergeSchema read.
    "q36_union_by_name" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val oldBatch = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
      val newBatch = o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      oldBatch.unionByName(newBatch, allowMissingColumns = true)
        .groupBy(coalesce(col("o_orderpriority"), lit("<none>")).as("priority"))
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("priority")
    }),

    // EXT Count-Min frequency sketch: point-frequency estimates from
    // depth×width (3×1024) counters — the KB-sized per-shard frequency
    // summary a 100 TB pipeline keeps when the key universe can't be
    // materialized. Probes = the exact global top-20 tokens, so the
    // output exposes estimate vs truth (est ≥ true always; both sides
    // compute the identical portable-hash cells, so even the collision
    // overcounts are hash-checked).
    "sketch_cms" -> ((s, dir) => {
      // one corpus scan: the vocabulary-sized count table feeds the
      // sketch (weighted build), the top-20 probe set AND the truth
      // column; a barrier stops the three consumers from each
      // replaying the scan+shuffle
      val counts = Materialize.barrier(t(s, dir, "documents")
        .select(explode(graft.functions.Texty.tokens(col("text"))).as("tk"))
        .filter(col("tk") =!= "")
        .groupBy("tk").agg(count(lit(1)).as("true_cnt")), "sketch_cms.counts")
      val counters = graft.ops.Sketches.cmsBuildWeighted(counts, "tk", "true_cnt")
      val top = counts.orderBy(desc("true_cnt"), asc("tk")).limit(20)
      graft.ops.Sketches.cmsEstimate(counters, top.select("tk"), "tk")
        .join(top, "tk")
        .select(col("tk").as("token"), col("true_cnt"), col("cms_est"))
        .orderBy(desc("true_cnt"), asc("token"))
    }),

    // EXT Bloom-filter semi-join reduction: the runtime-filter shape —
    // build an 8 KB filter over the filtered dim's keys, prune the fact
    // SCAN with a codegen'd membership predicate (no join, no shuffle),
    // then let the exact semi join kill the false positives. Result is
    // EXACT (oracle = plain IN-subquery); what the Bloom pass changes is
    // that at 100 TB the shuffle carries ~selectivity of the fact table
    // instead of all of it. SketchesSpec asserts the pruning actually
    // prunes (candidates ≪ fact, ⊇ true matches).
    "join_bloom_prune" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      graft.ops.Sketches.bloomPrunedSemiJoin(
          t(s, dir, "orders"), dim, "o_custkey", "c_custkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // EXT incremental materialized-view maintenance: the standing
    // per-user stats view (built from 90% of events) is refreshed with a
    // delta batch (the other 10%) by merging PARTIAL AGGREGATES —
    // Cdc.mergeAggState re-sums/re-mins the state tables without
    // rescanning base. Oracle = the full recompute over all events: the
    // merge must be indistinguishable from it, which is the MV
    // correctness contract. O(|delta| + |view|) per refresh at 100 TB.
    // EXT incremental JOIN view: Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB over
    // PRE-delta states (post-delta on either side double-counts the
    // corner — the classic IVM bug, here a driver hash-FAIL because the
    // oracle is the full recompute); view refresh costs |Δ|-sized joins,
    // never a base×base re-join.
    "mv_join_incremental" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
        col("o_orderkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_mktsegment"))
      val a = o.filter(col("o_orderkey") % 10 =!= 0)
      val da = o.filter(col("o_orderkey") % 10 === 0)
      val b = c.filter(col("custkey") % 7 =!= 0)
      val db = c.filter(col("custkey") % 7 === 0)
      graft.ops.Cdc.mergeJoinView(a.join(b, Seq("custkey")),
          a, b, da, db, Seq("custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "mv_incremental" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val withCols = ev.select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        graft.ops.Events.tsUs(ev).as("us"))
      def pagg(df: DataFrame) = df.groupBy("user_id").agg(
        count(lit(1)).as("cnt"), sum("cents").as("sum_cents"),
        min("us").as("min_us"), max("us").as("max_us"))
      graft.ops.Cdc.mergeAggState(Seq("user_id"),
          pagg(withCols.filter(col("event_id") % 10 =!= 0)),
          pagg(withCols.filter(col("event_id") % 10 === 0)))
        .orderBy("user_id")
    }),

    // EXT multi-source BFS hop distances over the min-support-2
    // co-purchase graph (same graph as graph_pagerank): distance from
    // the seed set {node % 101 = 0} capped at 4 hops — link-distance-
    // from-trusted-set as a curation signal. Frontier rounds broadcast
    // only the frontier; the oracle is a recursive CTE taking min(d).
    "graph_bfs" -> ((s, dir) => {
      val pairs = copurchaseEdges(t(s, dir, "lineitem"))
      graft.ops.Graphs.bfsHops(pairs, copurchaseSeeds(pairs), maxHops = 4)
    }),

    // EXT gaps-and-islands: per-user consecutive-active-day streaks via
    // the day − row_number() constant-difference trick — no self-join,
    // no iteration, one user-keyed window pass over the (user, day)
    // dedup. The engagement-streak surface of an analytics store.
    "events_streaks" -> ((s, dir) =>
      graft.ops.Events.streaks(t(s, dir, "events"))),

    // EXT portable HyperLogLog: approx-distinct of l_orderkey over the
    // lineitem occurrence stream from 1024 integer registers — unlike
    // approx_count_distinct (engine-private HLL++, rows-only in
    // profile_approx) every register, the scaled harmonic sum AND the
    // rounded estimate are reproduced by the DuckDB twin, so the sketch
    // itself is hash-checked. Output includes the exact distinct count
    // and err_bp — the estimator's accuracy is part of the result.
    "sketch_hll_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.hllSummary(
          graft.ops.Sketches.hllRegisters(li.select("l_orderkey"), "l_orderkey"))
        .crossJoin(li.agg(countDistinct("l_orderkey").as("true_distinct")))
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
    }),

    // EXT streaming HLL: the register table maintained as a real
    // AvailableNow streaming aggregate (max-merge IS the sketch's merge
    // law — no custom state), summary + exactness check in batch over
    // the driver-free read-back. Same oracle machinery as
    // sketch_hll_distinct, over the events stream's event_id.
    // EXT bitmap words as streaming state: bit_or merges across
    // micro-batches (the rollup law run incrementally) — the final
    // popcounts are EXACT distincts equal to the batch count(distinct),
    // driver-checked; the HLL parity above is the sketch fallback.
    "stream_bitmap_parity" -> ((s, dir) => {
      val words = graft.streaming.EventStream
        .bitmapParityRun(s, s"$dir/events.parquet")
      words.groupBy("event_type")
        .agg(count(lit(1)).as("n_words"),
          sum(bit_count(col("word")).cast("long")).as("n_distinct"))
        .join(t(s, dir, "events").groupBy("event_type")
          .agg(countDistinct("user_id").as("true_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }),

    "stream_hll_parity" -> ((s, dir) => {
      val regs = graft.streaming.EventStream
        .hllParityRun(s, s"$dir/events.parquet")
      graft.ops.Sketches.hllSummary(regs)
        .crossJoin(t(s, dir, "events")
          .agg(countDistinct("event_id").as("true_distinct")))
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
    }),

    // EXT systematic PPS sampling: exactly-k size-weighted picks from a
    // distributed prefix sum over the portable-hash order — the integer,
    // engine-reproducible alternative to exponential-race weighted
    // reservoirs (whose -ln(u)/w keys are ULP roulette). Heavy docs can
    // be picked multiple times (PPS-with-replacement convention).
    "fp_pps_sample" -> ((s, dir) =>
      Features.ppsSample(
        t(s, dir, "documents").select(col("doc_id"), length(col("text")).as("w")),
        "doc_id", "w", k = PpsSampleK)),

    // EXT file-level min/max data skipping without a table format: stage
    // orders range-clustered on o_orderdate, derive the per-file stats
    // manifest, answer a 6-month band query by scanning ONLY the files
    // whose [min,max] intersects. Result is exact (residual filter on
    // top), oracle = the plain band filter; SketchesSpec asserts the
    // scan actually skips files. The Delta/Iceberg skipping mechanism
    // as a library op.
    "manifest_prune" -> ((s, dir) => {
      val staged = Scratch.dir("manifest")
      graft.sources.Manifest.stageClustered(
        t(s, dir, "orders"), staged, "o_orderdate", 8)
      val mani = graft.sources.Manifest.buildManifest(s, staged, "o_orderdate")
      graft.sources.Manifest.prunedBandRead(s, mani, staged, "o_orderdate",
          to_timestamp(lit("1997-01-01 00:00:00")),
          to_timestamp(lit("1997-07-01 00:00:00")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // EXT fuzzy entity resolution: two-pass (prefix-5, suffix-5)
    // blocked candidates under ops/EntityResolution's bounded-candidate
    // contract — single-edit recall is a pigeonhole theorem (one edit
    // cannot corrupt both a 5-char prefix and a 5-char suffix of a
    // >=10-char name), block caps are deterministic, drops are reported
    // by er_block_stats. Scoring is the codegen'd Jaro-Winkler
    // expression — Spark ships levenshtein but no JW, so this is
    // functions/JaroWinkler.scala, pinned bit-compatible with DuckDB's
    // jaro_winkler_similarity. Two INDEPENDENT implementations agreeing
    // on every rounded basis-point score is the oracle (the
    // NFC-normalizer discipline). Queries are entity names with one
    // deterministically-deleted character past position 5; threshold is
    // applied to the rounded integer score so both engines cut
    // identically.
    "er_fuzzy_match" -> ((s, dir) => {
      val (ents, dirty) = erCorpus(t(s, dir, "part"))
      graft.ops.EntityResolution.fuzzyMatch(ents, dirty, 9000,
        ErPrefixLen, ErSuffixLen, ErMaxBlock)
    }),
    // blocking health for the ER surface: per-pass key cardinality,
    // largest block, cap-dropped volume — the dedup_cap_stats
    // discipline applied to entity resolution, so a corpus whose keys
    // collapse (fixed-vocabulary prefixes at 100×) is VISIBLE in a
    // report instead of silently quadratic.
    "er_block_stats" -> ((s, dir) => {
      val (ents, _) = erCorpus(t(s, dir, "part"))
      graft.ops.EntityResolution.blockStats(ents,
        ErPrefixLen, ErSuffixLen, ErMaxBlock)
    }),
    // EXT sorted-neighborhood ER (Hernández-Stolfo): queries + entities
    // in ONE globally sorted list, each query scored only against
    // entities within ±10 positions — candidate volume a HARD
    // O(queries × 2w) no corpus can break (the other classic blocking;
    // production multi-pass ER unions this with the key passes). The
    // global rank comes from Features.sliceScan (README "Global order")
    // and equals the oracle's plain row_number exactly.
    "er_sorted_neighborhood" -> ((s, dir) => {
      val (ents, dirty) = erCorpus(t(s, dir, "part"))
      graft.ops.EntityResolution.sortedNeighborhood(ents, dirty)
    }),
    // EXT ER composition: fuzzy-match pairs resolved to connected
    // components — the "same real-world entity" cluster table a linkage
    // pipeline actually ships (match pairs are evidence; the CLUSTER is
    // the deliverable). Pointer-doubling rounds (Dedup.resolveClusters)
    // over the two-pass blocked JW matches; recursive-CTE oracle like
    // dedup_clusters.
    // EXT survivorship (the step AFTER er_clusters): merge each
    // duplicate cluster into one golden record by field-level rules —
    // longest name, max non-null amount (null count surfaced), modal
    // category — on synthesized customer duplicates (a truncated twin
    // with a missing amount, a re-categorized twin); two cluster-keyed
    // hash aggs, deterministic min-struct argmaxes, fully oracle'd.
    "er_golden_record" -> ((s, dir) => {
      val orig = t(s, dir, "customer").select(
        col("c_custkey").as("cluster_key"), col("c_name").as("name"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("amount"),
        col("c_mktsegment").as("category"))
      val truncated = orig.filter(col("cluster_key") % 7 === 0)
        .select(col("cluster_key"),
          expr("substring(name, 1, length(name) - 2)").as("name"),
          lit(null).cast("long").as("amount"), col("category"))
      val recat = orig.filter(col("cluster_key") % 14 === 0)
        .select(col("cluster_key"), col("name"),
          (col("amount") - 100L).as("amount"),
          lit("DUP").as("category"))
      graft.ops.EntityResolution.goldenRecords(
        orig.unionByName(truncated).unionByName(recat),
        "cluster_key", "name", "amount", "category")
    }),

    "er_clusters" -> ((s, dir) => {
      val (ents, dirty) = erCorpus(t(s, dir, "part"))
      val pairs = graft.ops.EntityResolution.fuzzyMatch(ents, dirty, 9000,
          ErPrefixLen, ErSuffixLen, ErMaxBlock)
        .filter(col("q_key") =!= col("cand_key"))
        .select(col("q_key").as("da"), col("cand_key").as("db"))
      Dedup.resolveClusters(pairs)
        .withColumnRenamed("doc_id", "entity_key")
    }),

    // EXT per-group HLL: one scan → one register table PER return-flag
    // (shuffle key space |groups|·m cells, max still decomposable) —
    // approx-distinct-by-dimension from a single pass, where exact
    // countDistinct-per-group re-shuffles every raw key. Output keeps
    // the exact count and err_bp per group: the estimator's per-slice
    // accuracy is part of the result, as in sketch_hll_distinct.
    "sketch_hll_groups" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.hllSummaryBy(
          graft.ops.Sketches.hllRegistersBy(
            li.select(col("l_returnflag"), col("l_orderkey")),
            "l_orderkey", Seq("l_returnflag")),
          Seq("l_returnflag"))
        .join(li.groupBy("l_returnflag")
          .agg(countDistinct("l_orderkey").as("true_distinct")), "l_returnflag")
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
        .orderBy("l_returnflag")
    }),

    // EXT HLL merge law: register-wise max of two independently-built
    // sketches IS the sketch of the union — exactly, not approximately,
    // which is why per-shard sketches compose across any ad-hoc slice at
    // 100 TB without re-scanning. Two overlapping l_partkey slices;
    // truth = exact distinct of the union filter.
    "sketch_hll_union" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def regs(f: org.apache.spark.sql.Column) = graft.ops.Sketches.hllRegisters(
        li.filter(f).select("l_partkey"), "l_partkey")
      graft.ops.Sketches.hllSummary(graft.ops.Sketches.hllMergeRegisters(
          regs(col("l_returnflag") === "R"), regs(col("l_linenumber") === 1)))
        .crossJoin(li
          .filter(col("l_returnflag") === "R" || col("l_linenumber") === 1)
          .agg(countDistinct("l_partkey").as("true_distinct")))
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
    }),

    // EXT histogram merge law — the HLL-union discipline for the
    // quantile sketch: bucket-wise SUM of two independently-built
    // histCounts tables IS the histogram of the union stream, EXACTLY
    // (counts are additive) — why per-shard histograms compose across
    // ad-hoc slices at 100 TB without re-scanning. Two DISJOINT
    // lineitem slices (union-all stream = concatenation, so the law is
    // count addition); output = the p50/p90 quantile rows derived from
    // the MERGED sketch, plus per-quantile identity vs the union-built
    // sketch (diff_upper, must be 0).
    "sketch_hist_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def cents(f: org.apache.spark.sql.Column) = li.filter(f)
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val sliceA = col("l_linenumber") === 1
      val sliceB = col("l_linenumber") === 2
      def hist(df: DataFrame) =
        graft.ops.Sketches.histCounts(df, "cents", 0L, 4096L, 4096)
      val merged = hist(cents(sliceA)).unionByName(hist(cents(sliceB)))
        .groupBy("bucket").agg(sum("cnt").as("cnt"))
      val ofUnion = hist(cents(sliceA || sliceB))
      def q(h: DataFrame) = graft.ops.Sketches.histQuantiles(
        h, Seq(5000, 9000), 0L, 4096L, 4096)
      q(merged).alias("m")
        .join(q(ofUnion).select(col("q_bp"),
          col("est_upper").as("union_upper")), "q_bp")
        .withColumn("diff_upper", col("est_upper") - col("union_upper"))
        .orderBy("q_bp")
    }),

    // EXT KMV bottom-k distinct sketch: k smallest portable quad-hashes
    // of the distinct keys — TakeOrdered, nothing shuffles, and the
    // bottom-k doubles as a uniform distinct-key sample. Estimator
    // (k−1)·R/h_k runs as three correctly-rounded double ops in both
    // engines (numerator inlined as the same double literal).
    "sketch_kmv_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.kmvSummary(
          graft.ops.Sketches.kmvBottom(li.select("l_orderkey"), "l_orderkey"))
        .crossJoin(li.agg(countDistinct("l_orderkey").as("true_distinct")))
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
    }),

    // EXT sketch: AMS second moment — the self-join size / repetition
    // statistic from 128 mergeable sign counters; truth + err ride
    // along, every column integer (median via the dyadic ×2 trick).
    "sketch_ams_f2" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = graft.ops.Sketches.amsF2(li.select("l_orderkey"),
        "l_orderkey")
      val truth = li.groupBy("l_orderkey").agg(count(lit(1)).as("f"))
        .agg(sum(expr("f * f")).as("f2_true"), sum("f").as("n_rows"))
      est.crossJoin(truth)
        .withColumn("err_bp",
          expr("abs(f2_est2 - 2 * f2_true) * 10000 div (2 * f2_true)"))
        .select("n_rows", "f2_true", "f2_est2", "err_bp")
    }),

    // EXT sketch: KMV Jaccard resemblance between the returned-parts
    // and accepted-parts vocabularies — overlap answered from two
    // bottom-k sketches (TakeOrdered, never a co-shuffle of the full
    // distinct sets); the exact truth + err_bp ride along as the eval
    // columns, kmv_distinct-style. Both the estimate and the truth are
    // integer arithmetic, so the whole report is hash-oracle'd.
    "sketch_kmv_jaccard" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = graft.ops.Sketches.kmvJaccard(
        li.filter(col("l_returnflag") === "R").select("l_partkey"),
        li.filter(col("l_returnflag") === "A").select("l_partkey"),
        "l_partkey")
      val truth = li.filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_partkey").as("k"),
          (col("l_returnflag") === "R").cast("long").as("ia"),
          (col("l_returnflag") === "A").cast("long").as("ib"))
        .groupBy("k").agg(max("ia").as("ia"), max("ib").as("ib"))
        .agg(sum(expr("ia * ib")).as("n_inter"),
          count(lit(1)).as("n_union"))
        .withColumn("true_jacc_bp", expr("n_inter * 10000 DIV n_union"))
      est.crossJoin(truth)
        .withColumn("err_bp", abs(col("jacc_bp") - col("true_jacc_bp")))
        .select("k_used", "kth_hash", "n_both", "jacc_bp",
          "n_inter", "n_union", "true_jacc_bp", "err_bp")
    }),

    // EXT sketch set algebra: union/intersection/both directed
    // differences of the small-lot (qty ≤ 5) vs bulk (qty ≥ 45) part
    // vocabularies, all from the SAME two coordinated bottom-k sketches
    // kmv_jaccard reads (fractions exact on the sample by rank closure;
    // union via (k−1)·R/h_k) — "what did the feed drop" from 2k sketch
    // rows; exact truths + err ride along, kmv-style, all hash-oracle'd.
    // EXT bitmap-index distinct: exact per-type distinct users as
    // 32-id bitmap words folded with bit_or (full map-side combine);
    // the '(all)' row merges the per-type WORD TABLES (the rollup
    // law), never re-scans events, and an in-plan assert pins every
    // count to an independent count(distinct).
    "sketch_bitmap_distinct" -> ((s, dir) =>
      graft.ops.Sketches.bitmapDistinct(
        t(s, dir, "events"), "event_type", "user_id")),

    "sketch_kmv_setops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = graft.ops.Sketches.kmvSetOps(
        li.filter(col("l_quantity") <= 5).select("l_partkey"),
        li.filter(col("l_quantity") >= 45).select("l_partkey"),
        "l_partkey")
      val truth = li.filter(col("l_quantity") <= 5 || col("l_quantity") >= 45)
        .select(col("l_partkey").as("k"),
          (col("l_quantity") <= 5).cast("long").as("ia"),
          (col("l_quantity") >= 45).cast("long").as("ib"))
        .groupBy("k").agg(max("ia").as("ia"), max("ib").as("ib"))
        .agg(count(lit(1)).as("true_union"),
          sum(expr("ia * ib")).as("true_inter"),
          sum(expr("ia * (1 - ib)")).as("true_a_only"),
          sum(expr("(1 - ia) * ib")).as("true_b_only"))
      est.crossJoin(truth)
        .withColumn("err_union_bp",
          expr("abs(est_union - true_union) * 10000 div true_union"))
        .withColumn("err_diff_ab_bp",
          expr("abs(est_diff_ab - true_a_only) * 10000 div true_a_only"))
        .select("k_used", "kth_hash", "n_both", "n_a_only", "n_b_only",
          "est_union", "est_inter", "est_diff_ab", "est_diff_ba",
          "true_union", "true_inter", "true_a_only", "true_b_only",
          "err_union_bp", "err_diff_ab_bp")
    }),

    // EXT mergeable histogram quantiles: fixed 4096×4096-cent bins over
    // extendedprice cents (range [0, 2²⁴) covers every SF; the TPC-H
    // price cap is SF-independent) — bin counts ADD across shards,
    // unlike any exact rank, and the estimate (covering bin's upper
    // edge) is integer-exact: the oracle-able alternative to GK/KLL
    // whose state depends on merge order. Error ≤ bin width ($40.96) by
    // construction.
    "sketch_hist_quantiles" -> ((s, dir) => {
      val cents = t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.ops.Sketches.histQuantiles(
        graft.ops.Sketches.histCounts(cents, "cents", 0L, 4096L, 4096),
        Seq(5000, 9000, 9900, 9990), 0L, 4096L, 4096)
    }),

    // EXT CMS join-size estimation: |events ⋈ orders ON user=cust|
    // bounded from two KB-sized Count-Min tables (same geometry/seed) by
    // the inner-product estimate min_r Σ_b cA(r,b)·cB(r,b) — the
    // pre-flight "can this join's output even be materialized" check a
    // planner runs at 100 TB without scanning either side. est ≥ true
    // always; truth (the exact join count) ships in the output with
    // err_bp, like every sketch in the family.
    "sketch_join_size" -> ((s, dir) => {
      def counts(df: DataFrame, kc: String) =
        df.groupBy(col(kc).cast("string").as("k")).agg(count(lit(1)).as("cnt"))
      val cA = graft.ops.Sketches.cmsBuildWeighted(
        counts(t(s, dir, "events"), "user_id"), "k", "cnt")
      val cB = graft.ops.Sketches.cmsBuildWeighted(
        counts(t(s, dir, "orders"), "o_custkey"), "k", "cnt")
      graft.ops.Sketches.cmsJoinSize(cA, cB)
        .crossJoin(t(s, dir, "events").join(t(s, dir, "orders"),
            col("user_id") === col("o_custkey"))
          .agg(count(lit(1)).as("true_size")))
        .withColumn("err_bp",
          expr("abs(join_size_est - true_size) * 10000 div true_size"))
    }),

    // EXT robust outliers: per-user Median-Absolute-Deviation screen
    // (|c − med| > 5·MAD), kept fully integer via the ×2/×4 scaled
    // medians (see Events.madOutliers scaladoc) so two engines with
    // independent exact-percentile implementations agree bit-for-bit.
    "events_mad_outliers" -> ((s, dir) =>
      graft.ops.Events.madOutliers(t(s, dir, "events"))),

    // EXT time-decayed recency score: Σ cents·2^(30 − age_days) per user
    // in exact integers (power-of-two half-life decay IS a left shift;
    // see Events.decayAgg) — the recency feature a training pipeline
    // derives, with zero float roulette.
    "events_decay_agg" -> ((s, dir) =>
      graft.ops.Events.decayAgg(t(s, dir, "events"))),

    // EXT retrieval-quality eval: per single-term query, the reciprocal
    // rank of the first term-DENSE (tf ≥ 3) hit in the BM25 top-10 —
    // MRR as 2520/rank exact integers (2520 = lcm(1..10), the RRF
    // discipline). The eval surface a RAG pipeline runs per index build.
    "search_mrr_eval" -> ((s, dir) =>
      TextAnalysis.retrievalMrr(t(s, dir, "documents"), MrrQueryTerms)),

    // EXT stratified distinct-key sample: bottom-20 portable hashes per
    // documents source — k deterministic representatives per stratum
    // from one pass (each doubles as the stratum's KMV basis); the
    // semantics-oblivious hash order is what makes it uniform.
    "fp_bottomk_stratified" -> ((s, dir) =>
      graft.ops.Sketches.kmvBottomBy(
          t(s, dir, "documents").select("source", "doc_id"),
          "doc_id", Seq("source"), k = 20)
        .orderBy("source", "rn")),

    // EXT snapshot isolation + time travel: two committed versions of an
    // orders table (v1 = a subset, v2 = full — "late data arrived"),
    // published via the atomic-manifest-move protocol; the query reads
    // BOTH versions after the second commit and aggregates each — the
    // as-of read an auditable pipeline replays. Commits are idempotent
    // per staging root (re-runs read the original versions); uncommitted
    // staging files are structurally invisible (SnapshotsSpec proves
    // both isolation and the optimistic-concurrency retry).
    "snapshot_time_travel" -> ((s, dir) => {
      val root = Scratch.dir("snap", dir)
      val o = t(s, dir, "orders")
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        graft.sources.Snapshots.commit(
          o.filter(col("o_orderkey") % 3 =!= 0), root)
        graft.sources.Snapshots.commit(o, root)
      }
      def agg(v: Long) = graft.sources.Snapshots.read(s, root, Some(v))
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .select(lit(v).as("version"), col("cnt"), col("revenue"))
      agg(1L).unionByName(agg(2L)).orderBy("version")
    }),

    // EXT token-mass quantiles: doc-length percentiles WEIGHTED by
    // token count — "below what length does half the token mass live",
    // the batch-filling statistic (doc-count medians mislead when short
    // docs dominate counts but not mass). Same mergeable geometry;
    // histQuantiles consumes the weighted bins unchanged.
    "sketch_hist_weighted" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.ops.Sketches.histQuantiles(
        graft.ops.Sketches.histCountsWeighted(d, "n_chars", "n_tok",
          0L, 4L, 1024),
        Seq(2500, 5000, 9000), 0L, 4L, 1024)
    }),

    // EXT streaming DQ monitor: the fused Check-rule aggregate as ONE
    // row of sum-merged stream state — the always-on ingest guardrail,
    // final row ≡ the batch report exactly.
    "stream_dq_parity" -> ((s, dir) =>
      graft.streaming.EventStream.dqParityRun(s, s"$dir/events.parquet")),

    // EXT personalized PageRank: restart mass returns only to the seed
    // set ({node % 101 = 0}, the graph_bfs seeds) — random-walk
    // proximity to trusted nodes, the ranking cousin of graph_bfs' hop
    // distances, in the same bit-portable integer arithmetic as
    // graph_pagerank.
    "graph_ppr" -> ((s, dir) => {
      // localCheckpoint: the co-purchase derivation feeds BOTH the edge
      // set and the seed extraction — materialize it once (the
      // sketch_cms shared-scan discipline)
      val pairs = Materialize.barrier(
        copurchaseEdges(t(s, dir, "lineitem")), "graph_ppr.pairs")
      graft.ops.Graphs.pprInt(pairs, copurchaseSeeds(pairs))
    }),

    // EXT inter-arrival profile: per-user min/max/×2-scaled-median gap —
    // the burstiness statistic behind bot screens and session-gap /
    // watermark sizing. One lag window + grouped exact percentile.
    "events_interarrival" -> ((s, dir) =>
      graft.ops.Events.interArrival(t(s, dir, "events"))),

    // EXT windowed funnel: conversions must land within 24h of a VALID
    // prior-stage hit (latest-valid-prior carry = an EXISTS as a window
    // max, no self-join) — the product-analytics semantics where a
    // purchase a month after the click is not a conversion.
    "events_funnel_timed" -> ((s, dir) =>
      graft.ops.Events.funnelTimed(t(s, dir, "events"))),

    // EXT incremental MV over the versioned table: the standing
    // per-user view (built at v1) refreshed with the v1→v2 FILE-LEVEL
    // delta (two manifest reads recover exactly the appended rows — no
    // change journal) merged as partial aggregates. The composition a
    // lakehouse MV actually runs: version history supplies the delta,
    // mergeAggState supplies the algebra, and the result must be
    // indistinguishable from a full recompute (the oracle).
    "snapshot_incremental_mv" -> ((s, dir) => {
      val root = Scratch.dir("snapmv", dir)
      val ev = t(s, dir, "events")
      val rows = ev.select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        graft.ops.Events.tsUs(ev).as("us"))
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        graft.sources.Snapshots.commit(
          rows.filter(col("event_id") % 10 =!= 0), root)
        graft.sources.Snapshots.commitAppend(
          rows.filter(col("event_id") % 10 === 0), root)
      }
      def pagg(df: DataFrame) = df.groupBy("user_id").agg(
        count(lit(1)).as("cnt"), sum("cents").as("sum_cents"),
        min("us").as("min_us"), max("us").as("max_us"))
      val view1 = pagg(graft.sources.Snapshots.read(s, root, Some(1L)))
      val delta = graft.sources.Snapshots.readVersionDelta(s, root, 1L, 2L)
      graft.ops.Cdc.mergeAggState(Seq("user_id"), view1, pagg(delta))
        .orderBy("user_id")
    }),

    // EXT vocabulary drift: top-20 token-share movers (integer bp)
    // between the even- and odd-id corpus halves — the
    // distribution-shift monitor run between ingest batches. Shares of
    // token MASS, so unequal slice sizes compare.
    "text_vocab_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.vocabDrift(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 =!= 0))
    }),

    // EXT grouped exact quartiles: ×4-scaled interpolated quartiles of
    // cents per type — dyadic ranks make 4·percentile an exact BIGINT
    // in both engines (the madOutliers ×2 discipline at quarter ranks).
    "events_quartiles" -> ((s, dir) =>
      graft.ops.Events.quartilesByType(t(s, dir, "events"))),

    // EXT sliding-window distinct via the merge law: per-day HLL
    // register tables (one scan), then each day's trailing-7-day
    // distinct-event estimate from a day×window range join over SKETCH
    // rows — the classic sliding-distinct that exact methods rescan the
    // window for. Truth + err_bp per day ship in the output.
    "sketch_hll_sliding" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val us = graft.ops.Events.tsUs(ev)
      val withDay = ev.select(col("event_id"),
        ((us - pmod(us, lit(86400000000L))) / lit(86400000000L))
          .cast("long").as("day"))
      val regs = graft.ops.Sketches.hllRegistersBy(
        withDay, "event_id", Seq("day"))
      val truth = withDay.select(col("day").as("d")).distinct().as("dd")
        .join(withDay.as("e"),
          col("e.day") <= col("dd.d") && col("e.day") > col("dd.d") - 7)
        .groupBy(col("dd.d").as("day"))
        .agg(countDistinct(col("e.event_id")).as("true_distinct"))
      graft.ops.Sketches.hllSlidingSummary(regs, 7)
        .join(truth, "day")
        .withColumn("err_bp",
          expr("abs(est_distinct - true_distinct) * 10000 div true_distinct"))
        .orderBy("day")
    }),

    // EXT transactional stats-pruned reads: two CLUSTERED commits (the
    // second an append) each carrying a per-file [min,max] sidecar; the
    // band read plans only intersecting files ACROSS BOTH stages, with
    // snapshot isolation — Manifest-style skipping made versioned and
    // incremental, i.e. the miniature table format completed. Result is
    // exact (residual filter); SnapshotsSpec asserts the skipping.
    "snapshot_pruned_read" -> ((s, dir) => {
      val root = Scratch.dir("snapband", dir)
      // NTZ read as UTC (GraftSession pins the session zone): the epoch
      // band constants below are the same instants
      val o = t(s, dir, "orders")
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        graft.sources.Snapshots.commitClustered(s,
          o.filter(col("o_orderkey") % 2 === 0), root, "od_us", 8)
        graft.sources.Snapshots.commitClustered(s,
          o.filter(col("o_orderkey") % 2 =!= 0), root, "od_us", 8,
          append = true)
      }
      val lo = java.time.Instant.parse("1997-01-01T00:00:00Z")
        .getEpochSecond * 1000000L
      val hi = java.time.Instant.parse("1997-07-01T00:00:00Z")
        .getEpochSecond * 1000000L
      graft.sources.Snapshots.readBand(s, root, "od_us", lo, hi)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // EXT copy-on-write erasure: delete every row of a keyed slice from
    // the committed snapshot table — untouched files carry by
    // reference, only match-bearing files rewrite, and the delete is a
    // new VERSION (physical erasure completes at vacuum; the two-phase
    // contract). Output = the post-delete table aggregate; oracle =
    // the base table minus the predicate.
    "snapshot_delete" -> ((s, dir) => {
      val root = Scratch.dir("snapdel", dir)
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        graft.sources.Snapshots.commit(t(s, dir, "orders")
          .repartitionByRange(4, col("o_orderkey")), root)
        graft.sources.Snapshots.commitDelete(s, root,
          col("o_custkey") % 97 === 0)
      }
      graft.sources.Snapshots.read(s, root)
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
    }),

    // EXT MERGE INTO (upsert): one change batch carrying updates
    // (priority rewritten on orderkey%7, tombstone-disjoint), deletes
    // (custkey%101 tombstones), and inserts (offset keys) applied by
    // Snapshots.commitMerge — file-granular rewrite, untouched files
    // carried by reference. The read-back aggregate + class counts are
    // fully derivable from orders, so the table-format semantics are
    // driver-oracle'd end to end.
    "snapshot_merge" -> ((s, dir) => {
      val root = Scratch.dir("snapmerge", dir)
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority")
        graft.sources.Snapshots.commit(
          orders.repartitionByRange(4, col("o_orderkey")), root)
        val updates = orders
          .filter(col("o_orderkey") % 7 === 0 && col("o_custkey") % 101 =!= 0)
          .withColumn("o_orderpriority", lit("X-MERGED"))
          .withColumn("_delete", lit(false))
        val deletes = orders.filter(col("o_custkey") % 101 === 0)
          .withColumn("_delete", lit(true))
        val inserts = orders.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
          .withColumn("o_orderpriority", lit("X-NEW"))
          .withColumn("_delete", lit(false))
        graft.sources.Snapshots.commitMerge(s, root,
          updates.unionByName(deletes).unionByName(inserts), "o_orderkey")
      }
      graft.sources.Snapshots.read(s, root)
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"),
          sum((col("o_orderpriority") === "X-MERGED").cast("long"))
            .as("n_merged"),
          sum((col("o_orderpriority") === "X-NEW").cast("long"))
            .as("n_new"))
    }),

    // EXT write-audit-publish (WAP): the ingest batch lands on a BRANCH
    // (same data pool, separate manifest line — main readers never see
    // it), is audited there, then fast-forwards into main as ONE
    // conditional manifest link; the branch is dropped after publish.
    // Isolation/conflict/vacuum-pinning semantics are spec'd; the
    // driver checks the published end state relationally.
    "snapshot_wap" -> ((s, dir) => {
      val root = Scratch.dir("snapwap", dir)
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        graft.sources.Snapshots.commit(orders, root)
        graft.sources.Snapshots.createBranch(root, "audit")
        graft.sources.Snapshots.commitAppendToBranch(
          t(s, dir, "orders").filter(col("o_orderkey") % 11 === 0)
            .select("o_orderkey", "o_totalprice"), root, "audit")
        // the A of WAP: gate the branch before anything reaches main
        graft.sources.Snapshots.readBranch(s, root, "audit")
          .agg(count(lit(1)).as("n"))
          .select(assert_true(col("n") > 0,
            lit("WAP audit: branch is empty")).as("g"))
          .collect()
        graft.sources.Snapshots.fastForward(root, "audit")
        graft.sources.Snapshots.dropBranch(root, "audit")
      }
      graft.sources.Snapshots.read(s, root)
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
    }),

    // EXT additive schema evolution on the snapshot store: an appended
    // batch carries a NEW column; readEvolved (mergeSchema) surfaces it
    // as NULL on old files while time-traveling readers of v1 keep the
    // original schema — the table-format evolution contract,
    // driver-oracle'd via the evolved read's aggregate.
    "snapshot_add_column" -> ((s, dir) => {
      val root = Scratch.dir("snapaddcol", dir)
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        val orders = t(s, dir, "orders")
        graft.sources.Snapshots.commit(
          orders.select("o_orderkey", "o_totalprice"), root)
        graft.sources.Snapshots.commitAppend(
          orders.filter(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_totalprice"),
              (col("o_orderkey") % 7).as("o_band")), root)
      }
      graft.sources.Snapshots.readEvolved(s, root)
        .agg(count(lit(1)).as("cnt"),
          count(col("o_band")).as("n_band"),
          sum(col("o_band")).as("band_sum"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
    }),

    // EXT compaction (OPTIMIZE): five small append commits bin-packed
    // into 2 files by Snapshots.compact — contents identical by
    // construction (the report row proves it: post-compaction count +
    // exact money sum over the read-back, plus the file counts), old
    // versions still time-travel until vacuum. The small-files answer
    // for streaming-append tables.
    "snapshot_compaction" -> ((s, dir) => {
      val root = Scratch.dir("snapcompact", dir)
      if (graft.sources.Snapshots.latestVersion(root).isEmpty) {
        val orders = t(s, dir, "orders")
        (0 until 5).foreach { i =>
          graft.sources.Snapshots.commitAppend(
            orders.filter(col("o_orderkey") % 5 === i).coalesce(1), root)
        }
        graft.sources.Snapshots.compact(s, root, targetFiles = 2)
      }
      val before = graft.sources.Snapshots
        .read(s, root, Some(5L)).inputFiles.length.toLong
      val after = graft.sources.Snapshots
        .read(s, root).inputFiles.length.toLong
      graft.sources.Snapshots.read(s, root)
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(after))
    }),

    // EXT snapshot retention GC as a first-class query: build a fresh
    // 4-version chain, vacuum to the last 2, and report the whole GC
    // outcome — versions before/after, orphaned data files reclaimed,
    // the surviving latest read AND the retained older version still
    // time-travelling. A fresh per-invocation root keeps the report
    // deterministic under bench reruns (a shared root would vacuum 0 on
    // the second pass).
    "snapshot_vacuum" -> ((s, dir) => {
      val root = Scratch.fresh("snapvacuum")
      val orders = t(s, dir, "orders")
      (0 until 4).foreach { i =>
        graft.sources.Snapshots.commit(
          orders.filter(col("o_orderkey") % 4 <= i).coalesce(1), root)
      }
      // count DATA files (committer sidecars like _SUCCESS/.crc vary by
      // environment — the report pins only what the protocol owns)
      def dataFiles(): Long = {
        val w = java.nio.file.Files
          .walk(java.nio.file.Paths.get(root, "data"))
        try w.filter(p => p.toString.endsWith(".parquet")).count()
        finally w.close()
      }
      val before = graft.sources.Snapshots.versions(root).size.toLong
      val dataBefore = dataFiles()
      graft.sources.Snapshots.vacuum(root, keepLast = 2)
      val after = graft.sources.Snapshots.versions(root).size.toLong
      val dataAfter = dataFiles()
      val prev = graft.sources.Snapshots.read(s, root, Some(3L))
        .agg(count(lit(1)).as("cnt_prev"))
      graft.sources.Snapshots.read(s, root)
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .withColumn("versions_before", lit(before))
        .withColumn("versions_after", lit(after))
        .withColumn("data_files_before", lit(dataBefore))
        .withColumn("data_files_after", lit(dataAfter))
        .crossJoin(prev)
    }),

    // EXT Matryoshka truncation eval: recall@10 of the first-16-dim
    // prefix ranking vs the full 64-dim ranking, per query — the
    // dimension-adaptive-retrieval measurement run before shipping a
    // truncated index. Output is ids + integer bp, so floats only need
    // to ORDER identically (sim_brute_topk's pinned determinism).
    "ann_recall_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaRecall(t(s, dir, "embeddings"), dims = 16)),

    // EXT quality-aware canonical selection: each near-dup cluster
    // keeps its BEST member (max uniq ratio → max length → min id), not
    // the min-id — canonical choice IS a quality decision when
    // near-dups differ in boilerplate/truncation. Integer ranking keys
    // make the argmax deterministic cross-engine.
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(t(s, dir, "documents"))),

    // EXT top-k three-step paths: most frequent (t1 → t2 → t3)
    // sequences over user timelines — the path-mining companion to
    // events_transitions. Two lags, |types|³-bounded agg, TakeOrdered.
    "events_paths_top" -> ((s, dir) =>
      graft.ops.Events.topPaths(t(s, dir, "events"))),

    // EXT integer covariance diagnostic: n²·cov(value_cents,
    // minute_of_day) per type as one exact BIGINT — the value-vs-time
    // dependence screen with divisions left to the consumer. Bounds:
    // Σx ≤ n·49e3, Σy ≤ n·1439, so Σx·Σy ≤ n²·7.05e7 < 2^63 through
    // n ≈ 3.6×10⁵ rows per type (≈ sf35 on this corpus's ~10 types —
    // NOT sf100; the round-5 doc overstated it 1000×). Beyond that,
    // pre-aggregate per day first or widen to DECIMAL — Spark wraps
    // long overflow silently where DuckDB throws.
    "events_covariance" -> ((s, dir) =>
      graft.ops.Events.covarianceDiag(t(s, dir, "events"))),

    // EXT behavioral transition matrix: consecutive (prev → next)
    // event-type counts per user timeline with integer row shares — the
    // Markov statistic behind next-action features. One lag window, one
    // |types|²-cell aggregate.
    "events_transitions" -> ((s, dir) =>
      graft.ops.Events.transitions(t(s, dir, "events"))),

    // EXT per-group histogram quantiles: p50/p95 of value cents PER
    // EVENT TYPE from one scan — groups·bins shuffle key space, the
    // group-keyed cumulative window runs over each group's ≤1024 sketch
    // rows. The by-dimension latency/value-distribution dashboard query.
    "sketch_hist_groups" -> ((s, dir) => {
      val cents = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      graft.ops.Sketches.histQuantilesBy(
        graft.ops.Sketches.histCountsBy(cents, "cents", Seq("event_type"),
          0L, 64L, 1024),
        Seq("event_type"), Seq(5000, 9500), 0L, 64L, 1024)
    }),

    // EXT temporal as-of-validity join: facts (the events themselves)
    // joined to the SCD2 state dimension version valid AT EVENT TIME —
    // "what state was the user in when this event happened", the
    // history-faithful alternative to joining the current snapshot.
    // Aggregated to (state, event_type) counts; the diagonal dominates
    // (an event's own type IS the state it sets) while off-diagonal
    // cells arise from equal-timestamp change ties (the LAST change at
    // a us owns the half-open window starting there) — exactly the tie
    // semantics the [from, to) windows pin.
    "scd2_temporal_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val evU = ev.select(col("user_id"), col("event_id"),
        col("event_type"), Events.tsUs(ev).as("us"))
      val dim = graft.ops.Cdc.scd2(evU,
          key = "user_id", attr = "event_type", orderUs = "us",
          seq = "event_id")
        .select(col("user_id"), col("event_type").as("state"),
          col("valid_from_us"), col("valid_to_us"))
      graft.ops.Cdc.temporalJoin(
          evU.select("user_id", "event_id", "event_type", "us"),
          dim, "user_id", "us")
        .groupBy("state", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("state", "event_type")
    }),

    // EXT declarative data-quality expectations: check/unique/FK rules
    // over five corpus tables in one report — same-table rules fuse into
    // ONE scan of conditional aggregates, each FK is one aggregated
    // anti-join. The contract gate an ingest runs before data reaches
    // training; violations are counts (gate via assert_true downstream,
    // quarantine via the rule predicate). Two rules genuinely fire on
    // this corpus (negative acctbals, a >400 event value) — the report
    // is exercised, not vacuous.
    "dq_expectations" -> ((s, dir) => {
      import graft.ops.DataQuality._
      report(
        Map("orders" -> t(s, dir, "orders"),
          "customer" -> t(s, dir, "customer"),
          "lineitem" -> t(s, dir, "lineitem"),
          "events" -> t(s, dir, "events"),
          "documents" -> t(s, dir, "documents")),
        Seq(
          Check("orders", "o_custkey_not_null", col("o_custkey").isNull),
          Check("orders", "o_totalprice_positive",
            !(col("o_totalprice") > 0)),
          Unique("orders", "o_orderkey"),
          Check("customer", "c_acctbal_non_negative", col("c_acctbal") < 0),
          Unique("customer", "c_custkey"),
          Check("lineitem", "l_quantity_1_50",
            col("l_quantity") < 1 || col("l_quantity") > 50),
          Check("events", "value_le_400", col("value") > 400),
          Check("documents", "n_chars_consistent",
            col("n_chars") =!= length(col("text"))),
          ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
          ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey")))
    }),

    // EXT DQ rule INFERENCE — the draft-contract generator: profile
    // orders once (fused scan + bounded per-column domain probes) and
    // emit the not-null / unique / enum / range rules the data already
    // satisfies, with evidence. o_orderkey proves unique+range,
    // o_orderstatus/o_orderpriority land as small enums; every gate is
    // evaluated in-plan, so the inference itself is oracle'd.
    "dq_suggest" -> ((s, dir) =>
      graft.ops.DataQuality.suggestRules(t(s, dir, "orders"),
        numCols = Seq("o_orderkey", "o_custkey"),
        strCols = Seq("o_orderstatus", "o_orderpriority"))),

    // EXT distribution-drift monitor: 1995–97 orders as the reference
    // slice vs 1998+ as current, histogrammed on price cents into 25
    // shared $20k buckets — per-bucket floor-bp shares + deltas, with
    // TVD and L∞ riding along; one tagged-union scan, one bucket-width
    // hash agg, integer end to end (TVD over bp instead of PSI's ln so
    // the gate number itself hash-oracles).
    "dq_drift" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      // predicate on the RAW column (not a derived epoch), so both
      // slice scans carry PushedFilters — at 100 TB the row-group stats
      // prune most of the table per slice (PlanShapeSpec asserts it)
      val cut = expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
      graft.ops.DataQuality.distributionDrift(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        "cents", lo = 0L, width = 2000000L, nBuckets = 25)
    }),

    // EXT Benford first-digit audit: fabricated-data screen on order
    // totals — exact cents, leading digit as a string op on BIGINT,
    // pre-floored log constants; one scan to a 9-row aggregate.
    "dq_benford" -> ((s, dir) =>
      graft.ops.DataQuality.benfordAudit(
        t(s, dir, "orders"), "o_totalprice")),

    // EXT key-skew diagnosis: the exact Gini of the per-user event load
    // + heaviest keys with shares — the report that decides whether a
    // join needs salting BEFORE anyone pays for the straggler; ranks
    // assigned distributed, overflow asserted in-plan.
    "dq_key_skew" -> ((s, dir) =>
      graft.ops.Skew.keySkewReport(
        t(s, dir, "events").select("user_id"), "user_id")),

    // EXT out-of-orderness audit: per event type, how many events
    // arrived (event_id order) after a later-timestamped sibling, and
    // the max lateness — the number that SIZES a watermark before
    // anyone picks one (delay ≥ max_lateness_us drops nothing).
    "events_order_audit" -> ((s, dir) =>
      graft.ops.Events.orderAudit(t(s, dir, "events"))),

    // EXT seasonal-baseline anomaly screen: which (type, day) broke the
    // hour-of-day rhythm — baseline is a (types·24)-row broadcast, the
    // fact side never shuffles for the join, top-k via TakeOrdered.
    "events_seasonal" -> ((s, dir) =>
      graft.ops.Events.seasonalResiduals(t(s, dir, "events"))),

    // EXT autoregression diagnostics: exact OLS slope of daily counts
    // on lags 1..7 in floor milli + raw moments — self-persistence per
    // type; Pearson's irrational denominator deliberately avoided.
    "events_ar_coeffs" -> ((s, dir) =>
      graft.ops.Events.arCoefficients(t(s, dir, "events"))),

    // EXT DAU/MAU stickiness per calendar month: ΣDAU·10000 div
    // (days·MAU), one floor at the end — the engagement headline; the
    // corpus collapses to (month, day, user) before any aggregate.
    "events_stickiness" -> ((s, dir) =>
      graft.ops.Events.stickiness(t(s, dir, "events"))),

    // EXT position-based (U-shaped) multi-touch attribution: each
    // purchase's revenue split 2/1/…/1/2 across its journey's touches
    // via the telescoping floor-division allocation — exact
    // conservation, one user-keyed sort shuffle, no self-join.
    "events_attribution_position" -> ((s, dir) =>
      graft.ops.Events.positionAttribution(t(s, dir, "events"))),

    // EXT last-touch attribution: purchase revenue credited to the most
    // recent prior non-purchase event type — the asOfJoin union-window
    // formulation (one user-keyed sort, no self/range join), with
    // unattributed conversions surfaced as an explicit '(none)' row.
    "events_attribution" -> ((s, dir) =>
      graft.ops.Events.lastTouchAttribution(t(s, dir, "events"))),

    // EXT RFM segmentation: per-user recency/frequency/monetary exact
    // quintiles (rangeNtileBucket, README "Global order") composed
    // into the 3-digit segment; ntile passes run over
    // the |users|-sized profile, the event scan happens once.
    "events_rfm" -> ((s, dir) =>
      graft.ops.Events.rfmSegments(t(s, dir, "events"))),

    // EXT lagged cross-correlation: does `click` lead `purchase`? The
    // correlogram over zero-filled hourly count series in exact
    // integers (dot + H·dot − Σa·Σb centered numerator) — one hash agg
    // collapses the scan to a #hours-sized series, the lag sweep is a
    // broadcast nested-loop over series×13 lags; the fact table never
    // shuffles twice.
    "events_xcorr" -> ((s, dir) =>
      graft.ops.Events.laggedCrossCorrelation(
        t(s, dir, "events"), "click", "purchase")),

    // EXT forecast-baseline backtest: seasonal-naive (d−7) vs naive
    // (d−1) MAE per type on days where both references exist — the
    // bar any shipped forecaster must beat; day-arithmetic joins, no
    // gap-blind row frames.
    "events_forecast_baseline" -> ((s, dir) =>
      graft.ops.Events.forecastBacktest(t(s, dir, "events"))),

    // EXT rolling 7-day distinct actives: the windowed COUNT DISTINCT
    // no frame expresses — exact via the fan-out trick over the
    // (type, user, day) activity table (events collapse first, the
    // explode multiplies only the small table), phantom trailing days
    // trimmed.
    "events_rolling_distinct" -> ((s, dir) =>
      graft.ops.Events.rollingActiveUsers(t(s, dir, "events"))),

    // EXT concurrency timeline: sweep-line (+1/−1 session boundaries,
    // running sum = live sessions) with the global running sum from
    // withRunningTotal (README "Global order"); top-20 peak moments,
    // global peak rides.
    "events_concurrency" -> ((s, dir) =>
      graft.ops.Events.concurrencyTimeline(t(s, dir, "events"))),

    // EXT growth accounting: per-day new/retained/resurrected/churned
    // from ONE user-keyed window over the collapsed activity table —
    // the ledger identity active = new+retained+resurrected asserted
    // in-plan; churn lands on the day after the silent gap.
    "events_lifecycle" -> ((s, dir) =>
      graft.ops.Events.growthAccounting(t(s, dir, "events"))),

    // EXT Pareto concentration: exact activity deciles (distributed
    // ntile), per-decile event share + cumulative-from-the-top — the
    // whale-dependence number beside dq_key_skew's Gini; the cumulative
    // window runs over the 10-row aggregate, never raw users.
    "events_pareto" -> ((s, dir) =>
      graft.ops.Events.paretoReport(t(s, dir, "events"))),

    // EXT CUSUM level-shift alarm: the sequential-looking recursion in
    // its exact prefix-scan form (running residual sum minus clamped
    // running min — two frames over one type-keyed window); sustained
    // small elevations alarm where per-day thresholds stay silent.
    "events_cusum" -> ((s, dir) =>
      graft.ops.Events.cusumAlarm(t(s, dir, "events"))),

    // EXT schema-evolution read: stage two parquet generations (gen=2
    // adds o_orderpriority), read them as one dataset via footer
    // merging + partition-dir provenance, back-fill the evolved column
    // with an explicit default, and aggregate across the generation
    // boundary. Oracle rebuilds the same answer from the base table
    // with the evolution rule inlined.
    "source_schema_evolution" -> ((s, dir) => {
      val staged = Scratch.dir("evo")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$staged/gen=1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$staged/gen=2")
      graft.sources.Evolution.readEvolved(s, staged,
          Map("o_orderpriority" -> lit("UNKNOWN")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          Relational.moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // EXT streaming → versioned table: every micro-batch lands as one
    // append-committed snapshot version (atomic manifest publication —
    // no reader ever sees a torn batch; the version history is the
    // stream's progress log). Final read must equal the batch source
    // exactly; SnapshotsSpec/StreamingSpec pin the per-batch version
    // count and the prefix property.
    "stream_snapshot_parity" -> ((s, dir) => {
      val fin = graft.streaming.EventStream
        .snapshotSinkRun(s, s"$dir/events.parquet")
      fin.select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .orderBy("event_id")
    }),

    // EXT streaming AMS: the 128 sign counters as a real AvailableNow
    // streaming aggregate — counters sum-merge, so the streamed state
    // equals the batch sketch bit for bit; estimate + truth in batch
    // from the read-back. The key-skew monitor beside the stream.
    "stream_ams_parity" -> ((s, dir) => {
      val counters = graft.streaming.EventStream
        .amsParityRun(s, s"$dir/events.parquet")
      val truth = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("f"))
        .agg(sum(expr("f * f")).as("f2_true"), sum("f").as("n_rows"))
      graft.ops.Sketches.amsEstimate(counters).crossJoin(truth)
        .withColumn("err_bp",
          expr("abs(f2_est2 - 2 * f2_true) * 10000 div (2 * f2_true)"))
        .select("n_rows", "f2_true", "f2_est2", "err_bp")
    }),

    // EXT streaming histogram: the fixed-geometry bin table maintained
    // as a real AvailableNow streaming aggregate (bin counts sum-merge —
    // the sketch's merge law IS Spark's partial/final agg algebra),
    // quantiles extracted in batch from the driver-free read-back.
    // Oracle recomputes hist + covering-bin quantiles from the batch
    // table: stream ≡ batch is the parity under test.
    "stream_hist_parity" -> ((s, dir) => {
      val hist = graft.streaming.EventStream
        .histParityRun(s, s"$dir/events.parquet")
      graft.ops.Sketches.histQuantiles(
        hist, Seq(2500, 5000, 7500, 9900), 0L, 64L, 1024)
    }),
  )
}
