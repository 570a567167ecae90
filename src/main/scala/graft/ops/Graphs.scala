package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Iterative graph analytics over derived edge lists (EXT — SURVEY.md
  * §2h). The curation use-case: centrality as a quality/authority
  * signal over an entity co-occurrence graph (the link-graph-weighting
  * idea behind web-corpus quality scores), computed distributed with
  * the same iteration discipline as [[Dedup.resolveClusters]].
  */
object Graphs {

  /** Join strategies for the iterative family's per-round edge ⋈ state
    * join. `broadcast` (default): the |V|-sized state is broadcast and
    * the cached edge table never shuffles — right while |V| (the entity
    * vocabulary) fits an executor. `copartition`: the edge table is
    * hash-partitioned by src ONCE (cached with its partitioning and
    * sort order), the state arrives through a |V|-sized exchange, and
    * every round is a merge join whose EDGE side re-shuffles never and
    * re-sorts never — the shape that keeps working when |V| outgrows
    * broadcast limits (hundreds of millions of entities), at the cost
    * of a |V| exchange per round instead of a broadcast per round. The
    * merge hint pins the strategy so AQE cannot silently flip the plan
    * back to a broadcast that would OOM at the scale this mode exists
    * for. Results are bit-identical across strategies (integer
    * arithmetic; PlanShapeSpec asserts both the equality and the
    * no-broadcast plan shape). */
  val Strategies = Set("broadcast", "copartition")

  private def requireStrategy(s: String): Unit =
    require(Strategies(s), s"strategy must be one of $Strategies, got $s")

  /** Edge table prepared for the chosen strategy: co-partitioning pins
    * the hash distribution + per-partition sort on the join key so the
    * per-round merge join neither exchanges nor sorts the edge side.
    * (private[graft]: PlanShapeSpec asserts the per-round join shape
    * directly — the loop bodies localCheckpoint away their plans.)
    *
    * `clusterBy` (broadcast mode only, round 14 — guide §2.4 "two
    * operations keyed the same way can share one exchange"): the
    * iterative loops' per-round shape is broadcast-join(state) →
    * groupBy(aggregate key), and a broadcast hash join PRESERVES its
    * streamed child's partitioning — so hash-clustering the cached
    * edge table by the AGGREGATE key once makes every round's
    * aggregate plan with NO Exchange at all (one up-front |E| shuffle
    * replaces iters× per-round shuffles; at cluster scale the
    * per-round partial-agg exchange approaches |E| rows whenever
    * maps × |V| ≫ |E|, so the trade improves with scale rather than
    * being a local-mode tune). Results are partition-independent
    * (integer sums/min/max), so oracles are unaffected. */
  private[graft] def prepEdges(sym: DataFrame, key: String,
      strategy: String, clusterBy: Option[String] = None): DataFrame =
    Materialize.cache(
      if (strategy == "broadcast") clusterBy.fold(sym)(k => sym.repartition(col(k)))
      else sym.repartition(col(key)).sortWithinPartitions(key),
      "Graphs.prepEdges")

  /** Per-round edge ⋈ |V|-state join under the chosen strategy. */
  private[graft] def stateJoin(edges: DataFrame, state: DataFrame,
      key: String, strategy: String): DataFrame =
    if (strategy == "broadcast") edges.join(broadcast(state), key)
    else edges.hint("merge").join(state, key)

  /** Per-round frontier ∖ visited anti-join under the chosen strategy
    * (round 14). The visited set is bounded by |V| rows (|seeds|·|V|
    * for the seed-tagged harmonic form) — the SAME broadcast-ability
    * bound as [[stateJoin]]'s state — but it reaches the join as a
    * union of checkpointed frontier pieces, which carries no stats and
    * no partitioning, so stats-less planning picked a sort-merge anti
    * join that re-exchanged AND re-sorted both sides every round
    * (probed: plans/r14/graph_bfs_round_before.txt). Broadcasting the
    * visited side plans a BroadcastHashJoin LeftAnti that the
    * optimizer additionally pushes BELOW the frontier distinct, so the
    * whole round stays on the clustered edge cache with zero
    * exchanges (..._after.txt). `copartition` keeps the merge escape
    * for when |V| outgrows broadcast, like the rest of the family. */
  private[graft] def antiJoin(cand: DataFrame, visited: DataFrame,
      keys: Seq[String], strategy: String): DataFrame =
    if (strategy == "broadcast") cand.join(broadcast(visited), keys, "anti")
    else cand.hint("merge").join(visited, keys, "anti")

  /** Undirected closure of `edges`: both orientations of every (a, b)
    * row as (src, dst), deduplicated. */
  private def symmetric(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(col(a).as("src"), col(b).as("dst"))
      .union(edges.select(col(b).as("src"), col(a).as("dst")))
      .distinct()

  /** The family's fixed-round loop: `init` is barriered as
    * `<name>.round0`, then `step` maps round i−1's state to round i, `n`
    * times, each result barriered as `<name>.round<i>` (named, so
    * `getRDDStorageInfo` lists every round). Lineage is truncated per
    * round exactly like [[Dedup.resolveClusters]]: round i plans against
    * round i−1's blocks and never recomputes its predecessors. A fixed
    * count, never a convergence test — the O(d) scheduling pattern of
    * the whole family. */
  private def rounds(init: DataFrame, n: Int, name: String)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(Materialize.barrier(init, s"$name.round0"))(
      (state, i) => Materialize.barrier(step(state), s"$name.round$i"))

  /** The family's layered-frontier loop ([[bfsHops]], and
    * [[harmonicCentrality]] with one BFS per seed): `hop0` — (`keys`,
    * node, dist) rows, `keys` being Seq() or Seq("seed") — is barriered
    * as `<name>.hop0`; layer h joins ONLY layer h−1 against `sym` under
    * the chosen strategy, anti-joins every earlier layer ([[antiJoin]])
    * and is barriered as `<name>.hop<h>` with dist = h, so each round's
    * work follows the frontier's edge neighborhood, not |V|. Returns the
    * union of the layers. Because BFS layers are disjoint, a node's first
    * discovery IS its shortest distance (no min-combine pass), and the
    * visited set is the lazy union of already-barriered layers — the
    * round-5 shape re-materialized the growing visited table every round
    * (a second O(|V|) rows × rounds for data already on the block
    * store). */
  private def layers(sym: DataFrame, hop0: DataFrame, keys: Seq[String],
      maxHops: Int, strategy: String, name: String): DataFrame = {
    val tags = keys.map(col)
    (1 to maxHops).foldLeft(List(Materialize.barrier(hop0, s"$name.hop0"))) {
      (done, h) =>
        val cand = stateJoin(sym,
            done.head.select(tags :+ col("node").as("src"): _*), "src", strategy)
          .select(tags :+ col("dst").as("node"): _*).distinct()
        val visited = done.reduce(_.unionByName(_)).select(tags :+ col("node"): _*)
        Materialize.barrier(antiJoin(cand, visited, keys :+ "node", strategy)
          .withColumn("dist", lit(h.toLong)), s"$name.hop$h") :: done
    }.reduce(_.unionByName(_))
  }

  /** The integer rank iteration shared by [[pagerankInt]] and
    * [[pprInt]]: `init` is round 0's (node, rank, outdeg, seed_base)
    * state over the `sym` closure, seed_base being the restart mass a
    * node receives every round — pagerank is the case where every node
    * receives the base. dst's (outdeg, seed_base) ride ON the cached
    * edge table (one |E| ⋈ |V| attach paid ONCE): the per-round
    * aggregate carries them through (all-equal within a dst group), so
    * each round is ONE join + one partial-agg'd shuffle — the round-5
    * shape re-joined them per round, an extra |V| join × iters for
    * values that never change. In the symmetric closure every node has
    * >= 1 incoming edge and contrib covers EVERY node each round
    * (zero-rank nodes contribute c = 0 rows, they don't disappear), so
    * the aggregate reaches every node with no nodes-side join. */
  private def rankRounds(sym: DataFrame, init: DataFrame, iters: Int,
      dampBp: Long, strategy: String, name: String): DataFrame = {
    val edges = prepEdges(
      sym.join(broadcast(init.select(col("node").as("dst"),
        col("outdeg").as("dst_outdeg"),
        col("seed_base").as("dst_seed_base"))), "dst"),
      "src", strategy, clusterBy = Some("dst"))
    // state carries outdeg so each round's contribution is a map-side
    // projection of the |V|-sized state, never an edge-sized join
    val ranks = rounds(init, iters, name) { state =>
      val contrib = state.select(col("node").as("src"),
        expr("rank div outdeg").as("c"))
      stateJoin(edges, contrib, "src", strategy)
        .groupBy(col("dst").as("node"))
        .agg(expr(s"max(dst_seed_base) + sum(c) * $dampBp div 10000")
          .as("rank"),
          max("dst_outdeg").as("outdeg"),
          max("dst_seed_base").as("seed_base"))
    }
    // the last round is a barrier, so the edge cache can be released
    // before returning — repeated calls must not leak blocks
    edges.unpersist()
    ranks
  }

  /** INTEGER PageRank over an undirected simple graph, `iters` fixed
    * rounds — every step is integer arithmetic with explicit floor
    * semantics, so ranks are bit-identical on any engine (the float
    * formulation would drift across summation orders; SURVEY §7 "hard
    * parts" discipline):
    *
    *   rank₀(v)   = scale
    *   contrib(u) = rank(u) div outdeg(u)            (floor)
    *   rankᵢ(v)   = base + (Σ_{u→v} contrib(u)) * dampBp div 10000
    *   base       = scale * (10000 - dampBp) div 10000
    *
    * The symmetric closure means every node has outdeg ≥ 1 (no dangling
    * mass) and appears as a destination every round. Fixed iteration
    * count, not convergence: exactness is the contract here; callers
    * wanting a tolerance loop can compare successive rounds themselves.
    *
    * Scale: the contribution table is |V|-sized (the entity vocabulary —
    * parts, domains, hosts) while edges are corpus-derived (|E| ≫ |V|),
    * so each round BROADCASTS contrib and the cached edge table never
    * shuffles for the join — without the hint Spark sort-merge-joined
    * |E| rows per round (measured 11 s for 10 rounds over 1.7 M edges at
    * sf0.1; broadcast cut it to ~3.5 s). The only per-round exchange is
    * the partial-aggregated contribution sum (map-side combine reduces
    * it to ≤ |V| rows per map partition); re-attaching outdeg is a
    * |V| ⋈ |V| join AQE broadcasts on its own. The rounds go through
    * [[rankRounds]]. When |V| exceeds broadcast limits (hundreds of
    * millions of entities), pass `strategy = "copartition"` — see
    * [[Strategies]]. Rank magnitudes
    * are bounded by scale · |V| (conservation up to floors), far from
    * BIGINT range.
    */
  def pagerankInt(edges: DataFrame, a: String = "da", b: String = "db",
      iters: Int = 10, scale: Long = 10000L, dampBp: Long = 8500L,
      strategy: String = "broadcast"): DataFrame = {
    require(iters >= 1 && dampBp >= 0 && dampBp <= 10000,
      s"iters >= 1 and dampBp in [0,10000]; got $iters, $dampBp")
    requireStrategy(strategy)
    val sym = symmetric(edges, a, b)
    val deg = Materialize.cache(sym.groupBy("src")
      .agg(count(lit(1)).as("outdeg")), "Graphs.pagerankInt.deg")
    val base = scale * (10000L - dampBp) / 10000L
    val ranks = rankRounds(sym, deg.select(col("src").as("node"),
        lit(scale).as("rank"), col("outdeg"), lit(base).as("seed_base")),
      iters, dampBp, strategy, "Graphs.pagerankInt")
    deg.unpersist()
    ranks.select("node", "rank").orderBy("node")
  }

  /** Personalized PageRank, integer-exact: like [[pagerankInt]] but the
    * restart mass returns ONLY to the seed set — rank becomes "proximity
    * to the seeds through the graph", the random-walk similarity behind
    * related-item recommendation and trusted-set expansion (the ranking
    * cousin of [[bfsHops]]' hop distances: hops count edges, PPR weighs
    * paths). Same bit-portable floor arithmetic and per-round broadcast
    * of the |V|-sized state; non-seed nodes start at 0 and receive only
    * flowed mass, so mass concentrates near the seeds. The left join
    * keeps zero-inflow nodes in the state (their rank is the seed base
    * or 0), which the unrolled-CTE oracle mirrors exactly. */
  def pprInt(edges: DataFrame, seeds: DataFrame, a: String = "da",
      b: String = "db", iters: Int = 6, scale: Long = 10000L,
      dampBp: Long = 8500L, strategy: String = "broadcast"): DataFrame = {
    require(iters >= 1 && dampBp >= 0 && dampBp <= 10000,
      s"iters >= 1 and dampBp in [0,10000]; got $iters, $dampBp")
    requireStrategy(strategy)
    val sym = symmetric(edges, a, b)
    val deg = Materialize.cache(sym.groupBy("src")
      .agg(count(lit(1)).as("outdeg")), "Graphs.pprInt.deg")
    val base = scale * (10000L - dampBp) / 10000L
    val seedFlag = seeds.select(col("node")).distinct()
      .withColumn("__seed", lit(1L))
    val nodes = deg.select(col("src").as("node"), col("outdeg"))
      .join(broadcast(seedFlag), Seq("node"), "left")
      .withColumn("seed_base",
        when(col("__seed").isNotNull, lit(base)).otherwise(lit(0L)))
      .drop("__seed")
    val ranks = rankRounds(sym, nodes
        .withColumn("rank",
          when(col("seed_base") > 0, lit(scale)).otherwise(lit(0L)))
        .select("node", "rank", "outdeg", "seed_base"),
      iters, dampBp, strategy, "Graphs.pprInt")
    deg.unpersist()
    ranks.select("node", "rank").filter(col("rank") > 0).orderBy("node")
  }

  /** Per-node triangle participation counts over an undirected simple
    * graph — the local-clustering signal (spam/boilerplate hubs have
    * star-shaped neighborhoods, organic entities close triangles).
    *
    * Classic degree-ordered orientation (node order = (degree, id);
    * each edge directed low→high): every triangle is enumerated exactly
    * once at its lowest-order apex, and out-degrees are bounded by
    * O(√|E|), so the wedge self-join is O(|E|^1.5) worst-case instead
    * of the O(Σ deg²) an id-ordered orientation degrades to on skewed
    * (star-heavy) graphs — the difference between finishing and not at
    * 100 TB-derived edge lists. The per-node counts are orientation-
    * independent (a triangle touches each of its three nodes once), so
    * a plain id-ordered three-way self-join oracle checks them exactly.
    *
    * Edge-iterator form, NOT the wedge self-join: a wedge join
    * materializes Σ outdeg² rows THROUGH A SHUFFLE before the closing
    * probe (41 M wedge rows on the sf0.1 co-purchase graph — measured
    * 7.6 s), while intersecting the two endpoints' out-neighbor arrays
    * per edge does the same Σ outdeg² element work inside a codegen'd
    * projection and shuffles only |E| rows carrying ≤ O(√|E|)-element
    * arrays (~2 s same graph). Per edge v→w, each x ∈ N⁺(v) ∩ N⁺(w)
    * closes the triangle {v, w, x} (v→w, v→x, w→x — ranks strictly
    * increase), so every triangle is found exactly once at its
    * two-lowest-rank edge; the edge's corner credits are x once each
    * plus v and w once per intersection element.
    *
    * Shuffle budget: one |E| dedup, one |V| degree agg, two broadcast
    * joins to attach degrees (|V| is the entity vocabulary — same
    * broadcast-ability argument as [[pagerankInt]]), one |E| adjacency
    * agg, two |E| sort-merge joins to attach neighbor arrays, and the
    * partial-agg'd corner count (≤ |V| rows per map partition).
    */
  def triangleCounts(edges: DataFrame, a: String = "da", b: String = "db"): DataFrame = {
    // canon feeds FIVE plan positions (the degree union's two sides plus
    // three transitive references through the degree joins): materialize
    // the fixed-width |E| table once — without this the whole upstream
    // derivation (scan → basket → pair explode → dedup) replays per
    // reference (measured: a 147-node physical plan re-running the
    // lineitem scan 6x, 5.3 s → 2.6 s at sf0.1 with the checkpoints).
    val canon = canonEdges(edges, a, b)
    trianglesOnCanon(canon)
  }

  /** Canonicalized (u < v, deduped, localCheckpointed) edge table —
    * shared by the exact and sampled triangle forms. */
  private def canonEdges(edges: DataFrame, a: String, b: String): DataFrame =
    Materialize.barrier(edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), "Graphs.canonEdges")

  /** The degree-ordered edge-iterator core over a [[canonEdges]] table
    * (see [[triangleCounts]] for the algorithm and shuffle budget). */
  private def trianglesOnCanon(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(lowFirst, col("u")).otherwise(col("v")).as("src"),
      when(lowFirst, col("v")).otherwise(col("u")).as("dst"))
    // the per-edge probe re-derives (src, dst, N⁺(src)) by exploding the
    // adjacency table itself, so oriented is consumed once; adj feeds
    // both sides of the self-join — materialized, the join reads the
    // |V|-sized block store twice instead of re-aggregating.
    // Nodes with no out-edges (global rank maxima) have no adjacency row:
    // the inner join drops edges whose dst has none — correct, those
    // edges close no triangle at this orientation position.
    val adj = Materialize.barrier(oriented.groupBy(col("src").as("node"))
      .agg(collect_list(col("dst")).as("nbrs")), "Graphs.trianglesOnCanon.adj")
    val tris = adj
      .select(col("node").as("src"), col("nbrs").as("nv"),
        explode(col("nbrs")).as("dst"))
      .join(adj.select(col("node").as("dst"), col("nbrs").as("nw")), "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("nv"), col("nw")).as("xs"))
      .filter(size(col("xs")) > 0)
    tris
      .select(explode(concat(col("xs"),
        array_repeat(col("src"), size(col("xs"))),
        array_repeat(col("dst"), size(col("xs"))))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  /** Deterministic DOULION-style edge-sampling predicate: keep a
    * canonical edge (u < v) iff its portable affine pair hash lands in
    * residue 0 mod `invP` — an exact keep probability of 1/invP under
    * the hash, replicable verbatim in oracle SQL (coefficient index 31,
    * disjoint from every other portable draw). Products stay inside
    * signed-64: (u % P1) · a < ~1e18. */
  private def edgeSampled(u: Column, v: Column, invP: Int): Column = {
    import graft.functions.Portable
    pmod(pmod(u, lit(Portable.P1)) * lit(Portable.aCoef(31))
      + pmod(v, lit(Portable.P1)) * lit(Portable.bCoef(31)),
      lit(Portable.P1)) % invP === 0
  }

  /** SAMPLED per-node triangle estimator (Tsourakakis et al. 2009,
    * DOULION) — the bounded scale path for [[triangleCounts]] (VERDICT
    * r11 item 2, the registry's one measured superlinear at ×100):
    * keep each canonical edge with exact probability p = 1/invP via the
    * deterministic portable pair hash, run the SAME degree-ordered
    * edge-iterator on the sampled graph, and scale: a triangle survives
    * iff all three edges do (p³), so `n_tri_est = n_tri_sampled ·
    * invP³` is unbiased per node and in total.
    *
    * Why sampling and not a degree cap here: the co-purchase graph's
    * oriented out-degrees are NARROW (65–90 at every measured sf — no
    * hot-node skew for a cap to shed; a cap either drops nothing or
    * drops everything). Sampling cuts the intersection work by ~p²
    * (edges ×p, neighbor lists ×p) regardless of shape — the knob that
    * actually moves the ×100 point.
    *
    * Estimator contract: per-node estimates are UNBIASED but noisy at
    * small counts (rsd ~ 1/√(p³·n_tri(v))) — read single-node rows as
    * a screen, totals and heavy nodes as measurements (the accounting
    * row [[triangleSampleStats]] carries the sampled totals). Fully
    * integer + hash-deterministic ⇒ oracle'd end to end; the exact
    * form stays the gold surface wherever it is affordable. */
  def triangleCountsSampled(edges: DataFrame, invP: Int = 4,
      a: String = "da", b: String = "db"): DataFrame = {
    require(invP >= 1, s"invP >= 1, got $invP")
    val canon = canonEdges(edges, a, b)
      .filter(edgeSampled(col("u"), col("v"), invP))
    val inv3 = invP.toLong * invP * invP
    trianglesOnCanon(canon)
      .select(col("node"), col("n_tri").as("n_tri_sampled"),
        (col("n_tri") * inv3).as("n_tri_est"))
      .orderBy("node")
  }

  /** The accounting row for [[triangleCountsSampled]] (the
    * dedup_cap_stats discipline: an estimator must SAY what it dropped):
    * total vs sampled canonical edges, the exact inverse keep
    * probability and its cube (the triangle scale factor), the sampled
    * triangle total (Σ per-node / 3 — every triangle credits exactly
    * three corners) and the scaled estimate. One |E| filter + the
    * sampled count run — no extra pass over the full graph. */
  def triangleSampleStats(edges: DataFrame, invP: Int = 4,
      a: String = "da", b: String = "db"): DataFrame = {
    require(invP >= 1, s"invP >= 1, got $invP")
    val canon = canonEdges(edges, a, b)
    val inv3 = invP.toLong * invP * invP
    val edgeStats = canon.agg(
      count(lit(1)).as("n_edges"),
      sum(when(edgeSampled(col("u"), col("v"), invP), 1L).otherwise(0L))
        .as("n_edges_sampled"))
    val triStats = trianglesOnCanon(
        canon.filter(edgeSampled(col("u"), col("v"), invP)))
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("corner_credits"))
      .select((col("corner_credits") / 3).cast("long").as("n_tri_sampled"))
    edgeStats.crossJoin(broadcast(triStats))
      .select(col("n_edges"), col("n_edges_sampled"),
        lit(invP.toLong).as("inv_p"), lit(inv3).as("inv_p3"),
        col("n_tri_sampled"),
        (col("n_tri_sampled") * inv3).as("n_tri_est"))
  }

  /** Multi-source BFS hop distances over an undirected simple graph:
    * (node, dist) for every node within `maxHops` of any seed, dist =
    * the MINIMUM hop count (0 for the seeds themselves). The
    * shortest-path companion to [[pagerankInt]]/[[triangleCounts]] —
    * curation uses it as link-distance-from-trusted-set (domain
    * whitelist expansion, contamination blast-radius).
    *
    * Frontier algorithm, not iterated full-relaxation: round h joins
    * ONLY the previous frontier against the edge list and anti-joins
    * the visited set, so each round's work is proportional to the
    * frontier's edge neighborhood, not |V| — and because BFS layers are
    * definitionally disjoint, a node's first discovery IS its shortest
    * distance (no min-combine pass needed). The frontier is broadcast
    * (bounded by the seed neighborhood's growth; same |V|-vocabulary
    * argument as pagerankInt's contrib) and the cached symmetric edge
    * table never shuffles; the rounds go through [[layers]]. When
    * frontiers outgrow broadcast, `strategy = "copartition"` merge-joins
    * them against the once-partitioned edge table ([[Strategies]]).
    * Rounds = maxHops (graph diameter when uncapped).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, a: String = "da",
      b: String = "db", seedCol: String = "node", maxHops: Int = 4,
      strategy: String = "broadcast"): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    requireStrategy(strategy)
    val sym = prepEdges(symmetric(edges, a, b), "src", strategy,
      clusterBy = Some("dst"))
    val visited = layers(sym, seeds.select(col(seedCol).as("node"))
        .distinct().withColumn("dist", lit(0L)),
      Seq(), maxHops, strategy, "Graphs.bfsHops")
    sym.unpersist()
    visited.orderBy("node")
  }

  /** Synchronous label-propagation community detection (LPA), `rounds`
    * fixed sweeps — the near-linear community screen over the same
    * co-occurrence graphs the centrality family reads (communities =
    * topical clusters / coordinated rings; the curation use is
    * per-community quotas and spam-ring excision, the label twin of
    * [[kCore]]'s density screen).
    *
    *   label₀(v) = v
    *   labelᵢ(v) = the most frequent label among v's neighbors,
    *               ties → the SMALLEST such label
    *
    * Fully deterministic — no float, no randomized visit order: the
    * synchronous sweep + min-label tie-break makes every round a pure
    * integer function of the previous one, so a second engine
    * replicates the fixed-round trajectory exactly (the same
    * bit-portability argument as [[pagerankInt]]'s floor arithmetic;
    * asynchronous LPA's visit-order dependence is exactly what an
    * unrolled SQL twin could NOT check). Convergence is not asserted:
    * synchronous LPA can 2-cycle on bipartite-ish subgraphs, so a
    * fixed-round label snapshot — not a fixpoint — is the contract.
    *
    * Scale shape: per round, one edge ⋈ |V|-state join under the
    * chosen strategy (broadcast state, or `copartition` merge joins
    * with the edge side pinned — never reshuffled) feeding TWO hash
    * aggregates: (dst, label) counts, then an argmax collapsed via
    * `max(struct(cnt, −label))` — a map-side-combinable agg instead of
    * a per-node sort window. State stays |V| rows; the sweeps go
    * through [[rounds]]. Output: (node, label, comm_size).
    */
  def labelProp(edges: DataFrame, rounds: Int = 4, a: String = "da",
      b: String = "db", strategy: String = "broadcast"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    requireStrategy(strategy)
    val sym = prepEdges(symmetric(edges, a, b), "src", strategy,
      clusterBy = Some("dst"))
    // `this.`: the `rounds` parameter shadows the loop helper
    val state = this.rounds(sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), rounds, "Graphs.labelProp") {
      state => stateJoin(sym,
          state.withColumnRenamed("node", "src"), "src", strategy)
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), negate(col("label")).as("nl"))).as("m"))
        .select(col("node"), negate(col("m.nl")).as("label"))
    }
    sym.unpersist()
    val sizes = state.groupBy("label").agg(count(lit(1)).as("comm_size"))
    state.join(broadcast(sizes), "label")
      .select("node", "label", "comm_size")
      .orderBy("node")
  }

  /** Common-neighbor Jaccard LINK PREDICTION: for non-adjacent node
    * pairs, score = |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "customers who bought these also bought" / missing-edge signal,
    * per-PAIR where [[triangleCounts]] is per-node.
    *
    * Candidate pairs come from wedges (two neighbors of a shared
    * center), so only pairs with ≥ 1 common neighbor ever materialize
    * — never the n² pair space. The wedge expansion is the family's
    * bounded-candidate contract: each center contributes pairs from at
    * most `maxNeighbors` lowest-id neighbors (deg² blowup capped at
    * maxNeighbors² per hub, the [[graft.ops.Dedup.minhashLsh]]
    * maxBucket discipline — on this corpus degrees sit far below the
    * cap, so counts are exact and the oracle replicates the cap
    * structurally). Denominator degrees are exact (uncapped).
    * Existing edges are anti-joined away; output is the top `topK`
    * suggested links by (jacc_bp desc, a, b).
    *
    * Scale: one row_number window over the (src-keyed) adjacency, a
    * self-join on the center key (same partitioning both sides), a
    * (a, b)-keyed count, one anti join, two broadcast degree joins,
    * TakeOrdered. */
  def jaccardNeighbors(edges: DataFrame, maxNeighbors: Int = 64,
      topK: Int = 50, a: String = "da", b: String = "db"): DataFrame = {
    val sym = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val adj = sym.select(col("u").as("src"), col("v").as("dst"))
      .union(sym.select(col("v").as("src"), col("u").as("dst")))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    val capped = adj.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxNeighbors).select("src", "dst")
    val wedges = capped.as("x").join(capped.as("y"), Seq("src"))
      .filter(col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("common"))
    wedges
      .join(adj.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "anti")
      .join(broadcast(deg.select(col("src").as("a"), col("deg").as("deg_a"))),
        Seq("a"))
      .join(broadcast(deg.select(col("src").as("b"), col("deg").as("deg_b"))),
        Seq("b"))
      .withColumn("jacc_bp",
        expr("common * 10000 div (deg_a + deg_b - common)"))
      .select("a", "b", "common", "deg_a", "deg_b", "jacc_bp")
      .orderBy(desc("jacc_bp"), asc("a"), asc("b"))
      .limit(topK)
  }

  /** Modularity audit of a community assignment (Newman-Girvan Q): per
    * community c, intra-edge count e_c and degree mass d_c, and the
    * EXACT integer-scaled contribution `4·m·e_c − d_c²` (= the Q term
    * ×4m²), with the global score `q_bp = Σcontrib ×10⁴ div 4m²` riding
    * along on every row — how good the partition [[labelProp]] (or any
    * other detector) produced actually is, scored without floats so
    * the quality number itself hash-oracles. Q ∈ [−5000, 10000] bp;
    * ≥ ~3000 is conventionally "real community structure".
    *
    * Guard: the scale factor 4m² must fit signed-64, so the report
    * asserts m ≤ 1.5e9 IN-PLAN (the covarianceDiag discipline — past
    * the bound it throws rather than silently wrapping; production
    * re-scores in DECIMAL(38,0) past a billion edges).
    *
    * Scale shape: two |V|-sized label joins onto the canonical edge
    * list, then everything is #communities-sized aggregates + 1-row
    * broadcasts. The edge list is scanned twice (intra-count + degrees),
    * never self-joined. The label joins follow the family's
    * [[Strategies]] knob: `broadcast` (default) ships the |V|-sized
    * label table to every executor; `copartition` shuffles it instead
    * (merge-hinted like [[stateJoin]], so AQE cannot flip the plan back
    * to a broadcast that would OOM at the |V| this mode exists for) —
    * in that mode NOTHING |V|-sized is ever broadcast, only the 1-row
    * scalars. Results are bit-identical across strategies (integer
    * arithmetic; PlanShapeSpec asserts equality + the no-broadcast
    * shape). */
  def modularityReport(edges: DataFrame, labels: DataFrame,
      a: String = "da", b: String = "db",
      strategy: String = "broadcast"): DataFrame = {
    requireStrategy(strategy)
    val sym = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val lab = labels.select(col("node"), col("label"))
    val m = sym.agg(count(lit(1)).as("m"))
    val labeled = stateJoin(
      stateJoin(sym,
        lab.select(col("node").as("u"), col("label").as("lu")), "u", strategy),
      lab.select(col("node").as("v"), col("label").as("lv")), "v", strategy)
    val eIntra = labeled.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_intra"))
    val dSum = stateJoin(
      sym.select(col("u").as("node"))
        .union(sym.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")),
      lab, "node", strategy)
      .groupBy("label").agg(sum("deg").as("d_sum"))
    // the per-label rollup joins are #communities-sized and broadcast
    // safely by default; under copartition they take the merge hint too —
    // the mode's contract is NO hash build anywhere (label cardinality is
    // data-dependent, and the mode exists for graphs where "small" lied)
    def labelJoin(l: DataFrame, r: DataFrame, typ: String): DataFrame =
      if (strategy == "broadcast") l.join(r, Seq("label"), typ)
      else l.hint("merge").join(r, Seq("label"), typ)
    val per = labelJoin(labelJoin(
        lab.groupBy("label").agg(count(lit(1)).as("n_nodes")),
        eIntra, "left")
        .withColumn("e_intra", coalesce(col("e_intra"), lit(0L))),
      dSum, "inner")
      .crossJoin(broadcast(m))
      .withColumn("contrib_scaled",
        when(assert_true(col("m") <= 1500000000L,
          lit("modularityReport: 4m^2 would overflow signed-64 past " +
            "1.5e9 edges — re-score in DECIMAL(38,0)")).isNull,
          expr("4 * m * e_intra - d_sum * d_sum")))
    // two spellings of ×10⁴/4m², switched on m so neither overflows:
    // multiply-first is exact while 4m²·10⁴ fits; divide-denominator-
    // first takes over past m = 5·10⁴ (its floor error is ≤ 10⁻⁴ of the
    // denominator — sub-bp — and both engines compute the same formula)
    per.crossJoin(broadcast(
        per.agg(sum("contrib_scaled").as("q_num"), max("m").as("mm"))
          .select(expr("CASE WHEN mm < 50000 " +
            "THEN q_num * 10000 div (4 * mm * mm) " +
            "ELSE q_num div (4 * mm * mm div 10000) END").as("q_bp"))))
      .select("label", "n_nodes", "e_intra", "d_sum", "contrib_scaled",
        "q_bp")
      .orderBy("label")
  }

  /** Degree ASSORTATIVITY — Newman's r: do hubs link to hubs (r > 0,
    * social-graph shape) or to leaves (r < 0, hub-and-spoke)? The
    * Pearson correlation of end-point degrees over edge stubs, computed
    * ENTIRELY in integers: with both orientations of each edge
    * (M = 2m stubs, x the source degree, y the destination degree),
    *   num = M·Σxy − Σx·Σy,  den = M·Σx² − (Σx)²,
    *   r_milli = num·1000 div den
    * — symmetric, so one Σx/Σx² pair serves both marginals, and the
    * only rounding anywhere is the final floor division (matched by the
    * twin), which is what lets a CORRELATION be hash-oracled. The
    * network-shape number that decides whether hub-capped algorithms
    * (the bounded-candidate family) will bite on this graph.
    *
    * den = 0 (a regular graph — every degree equal) surfaces r_milli
    * NULL rather than a crash or fake 0: correlation of a constant is
    * undefined, and the report says so.
    *
    * Scale: one degree agg, two attaches of the \|V\|-sized degree
    * table onto the stub list (broadcast by default; under the
    * [[Strategies]] `copartition` knob they become merge-hinted shuffle
    * joins so no \|V\|-sized build ever ships to the driver-side
    * broadcast path — a 10⁹-node degree table kills broadcast mode),
    * one 1-row rollup. Sums are bounded by M·maxdeg² — past ~10⁹ stubs
    * of ~10³ degrees move to DECIMAL, documented not silent (assert
    * in-plan). Results are strategy-independent bit-for-bit (integer
    * moments; PlanShapeSpec asserts equality + the no-broadcast shape). */
  def assortativity(edges: DataFrame, a: String = "da",
      b: String = "db", strategy: String = "broadcast"): DataFrame = {
    requireStrategy(strategy)
    val sym = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val stubs = sym.select(col("u").as("src"), col("v").as("dst"))
      .union(sym.select(col("v").as("src"), col("u").as("dst")))
    val deg = stubs.groupBy("src").agg(count(lit(1)).as("deg"))
    stateJoin(stateJoin(stubs, deg, "src", strategy),
        deg.select(col("src").as("dst"), col("deg").as("deg_y")),
        "dst", strategy)
      .agg(count(lit(1)).as("m2"), sum("deg").as("sx"),
        sum(expr("deg * deg")).as("sxx"),
        sum(expr("deg * deg_y")).as("sxy"))
      .withColumn("num",
        when(assert_true(col("m2") < 1000000000L,
          lit("assortativity: past ~1e9 stubs the integer moments risk " +
            "overflow — re-score in DECIMAL(38,0)")).isNull,
          expr("m2 * sxy - sx * sx")))
      .withColumn("den", expr("m2 * sxx - sx * sx"))
      .withColumn("r_milli",
        when(col("den") =!= 0L, expr("num * 1000 div den")))
      .select("m2", "sx", "sxx", "sxy", "num", "den", "r_milli")
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * node whose remaining degree is < k; what survives is the maximal
    * subgraph where everyone keeps ≥ k neighbors — the dense-cohesion
    * screen (bot rings and link farms live in high cores, organic
    * long-tail entities peel away; conversely a 100 TB curation run
    * peels to find the spam core to EXCLUDE). Output: (node, core_deg =
    * the node's degree inside the k-core).
    *
    * Peeling is confluent — any fixpoint of the peel step IS the k-core
    * regardless of deletion order — so the result carries its own
    * certificate: after `rounds` fixed peels, every surviving node's
    * degree is re-checked IN-PLAN (`assert_true`, the fail-loud
    * contract). If `rounds` under-shoots the corpus's peel depth the
    * query throws rather than returning a too-large pseudo-core; the
    * fix is raising `rounds`, and the unrolled oracle twin replicates
    * whatever value is chosen.
    *
    * Scale shape: each round is one degree aggregate over the remaining
    * edges plus a semi-join of both endpoints against the surviving
    * node set — the keep-set is |V|-bounded (the entity vocabulary, the
    * same broadcast-ability argument as [[pagerankInt]]'s contrib), the
    * edge table only ever SHRINKS, and the peels go through [[rounds]].
    * `copartition` pins merge joins when |V| outgrows broadcast. Rounds = peel depth
    * ≤ graph degeneracy-diameter, the family's O(d) scheduling bound.
    */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 8,
      a: String = "da", b: String = "db",
      strategy: String = "broadcast"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    requireStrategy(strategy)
    val canon = edges
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .select(col("u").as("src"), col("v").as("dst"))
    // hash-clustered by src ONCE (guide §2.4): every peel round's degree
    // aggregate and the final core-degree count group on src, the two
    // broadcast semi-joins preserve the clustering, and localCheckpoint
    // carries partitioning through LogicalRDD — so no round re-shuffles
    // the (shrinking) edge table at all. (`this.`: the `rounds`
    // parameter shadows the loop helper.)
    val core = this.rounds(canon.union(canon.select(col("dst").as("src"),
        col("src").as("dst"))).repartition(col("src")), rounds, "Graphs.kCore") {
      sym =>
        val keep = sym.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select("src")
        stateJoin(stateJoin(sym, keep, "src", strategy),
            keep.withColumnRenamed("src", "dst"), "dst", strategy)
          .select("src", "dst")
    }
    core.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
      .where(assert_true(col("core_deg") >= k,
        lit(s"k-core peeling did not converge in $rounds rounds — a " +
          "surviving node still has degree < " + k +
          "; raise `rounds` (and the oracle twin's unroll) together"))
        .isNull)
      .orderBy("node")
  }

  /** Truncated harmonic centrality from the `nSeeds` lowest node ids —
    * Σ 1/d(s,v) over nodes within `maxHops`, in floor milli (Σ
    * 1000 div d — integer-exact, so the whole multi-source BFS is
    * hash-oracle-able). Truncation at a hop radius is the standard
    * scale practice: full closeness needs all-pairs distances, while
    * the truncated form is \|seeds\| simultaneous BFS frontiers.
    *
    * Multi-source layering: frontier rows are (seed, node) pairs, each
    * round one edge join + anti-join against the visited union (the
    * [[bfsHops]] disjoint-layer shape through [[layers]], seed-tagged);
    * state is bounded by \|seeds\|·\|V\|. */
  def harmonicCentrality(edges: DataFrame, nSeeds: Int = 8,
      maxHops: Int = 6, a: String = "da", b: String = "db",
      strategy: String = "broadcast"): DataFrame = {
    require(nSeeds >= 1 && maxHops >= 1, s"need seeds/hops, got $nSeeds/$maxHops")
    requireStrategy(strategy)
    // frontier rows are (seed, node) — bounded by |seeds|·|V| — and the
    // per-layer expansion joins them against the STATIC edge table, so
    // the round join follows the family discipline (broadcast frontier
    // by default, merge-join escape when |seeds|·|V| outgrows it)
    // instead of leaving the strategy to stats-less planning, and the
    // edge cache is hash-clustered by dst once so the per-layer
    // distinct on (seed, node = dst alias) plans exchange-free
    // (guide §2.4; the previous shape sort-merge-joined the cached
    // edges against the frontier every layer).
    val sym = prepEdges(symmetric(edges, a, b), "src", strategy,
      clusterBy = Some("dst"))
    val seeds = sym.select(col("src").as("node")).distinct()
      .orderBy("node").limit(nSeeds)
    val visited = layers(sym, seeds.select(col("node").as("seed"))
        .withColumn("node", col("seed"))
        .withColumn("dist", lit(0L)),
      Seq("seed"), maxHops, strategy, "Graphs.harmonicCentrality")
    sym.unpersist()
    visited.filter(col("dist") >= 1)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000 div dist")).as("harmonic_milli"))
      .orderBy("seed")
  }

  /** Log₂-binned degree distribution with tail counts — the first
    * diagnostic run on any derived graph (is it power-law? where does
    * the hub tail start?) and the input to every skew decision the
    * iterative family makes (broadcast vs copartition, cap sizes).
    *
    * All integer: the bin is ⌊log₂ degree⌋ computed as
    * `length(bin(degree)) − 1` (binary digit count — no float log whose
    * boundary ULPs differ across engines), `lo_degree = 2^bin` labels
    * the bin, and `n_nodes_ge_lo` is the reverse-cumulative tail (#nodes
    * with degree ≥ 2^bin) — the CCDF read off a ≤ 64-row table.
    *
    * Scale shape: one edge scan, one node-keyed count, one ≤ 64-row
    * aggregate; the reverse-cumulative window runs over THAT aggregate
    * (the PlanShapeSpec tiny-window allowance), never raw nodes.
    * `edges` rows must be unique undirected pairs (the copurchase
    * builder's contract) so degree = neighbor count. */
  def degreeDistribution(edges: DataFrame, a: String = "da",
      b: String = "db"): DataFrame = {
    val nodes = edges.select(col(a).as("node"))
      .unionAll(edges.select(col(b).as("node")))
    val deg = nodes.groupBy("node").agg(count(lit(1)).as("degree"))
    val binned = deg
      .withColumn("bin", (length(bin(col("degree"))) - 1).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"), sum("degree").as("sum_degree"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    binned
      .withColumn("lo_degree",
        call_function("shiftleft", lit(1L), col("bin").cast("int")))
      .withColumn("n_nodes_ge_lo", sum("n_nodes").over(w))
      .select("bin", "lo_degree", "n_nodes", "sum_degree", "n_nodes_ge_lo")
      .orderBy("bin")
  }
}
