package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Portable, PortableKernels}
import graft.ops.{Dedup, Events, Features, Multimodal, Profiler, Relational, Similarity, Sketches, TextAnalysis}

/** Generated DuckDB-oracle SQL helpers (part 2) — mechanical split of
  * the SparkEntry registry (round 12; no behavior change). */
trait SparkEntryOracleHelpers2 extends SparkEntryOracleHelpers1 {
  private[graft] def kmvOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllSeedBase, KmvK}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val numer = (KmvK - 1).toDouble * (P1 * P2).toDouble
    s"""WITH d AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS k
       |           FROM lineitem),
       | q AS (SELECT k % $P1 AS q1, k % $P2 AS q2 FROM d),
       | h AS (SELECT ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |              + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS h
       |       FROM q),
       | b AS (SELECT h FROM h ORDER BY h LIMIT $KmvK),
       | s AS (SELECT count(*) AS k_used, max(h) AS kth_hash FROM b),
       | t AS (SELECT count(DISTINCT l_orderkey) AS true_distinct
       |       FROM lineitem),
       | f AS (SELECT k_used, kth_hash,
       |              CASE WHEN k_used < $KmvK THEN k_used
       |                   ELSE CAST(round($numer / CAST(kth_hash AS DOUBLE))
       |                             AS BIGINT) END AS est_distinct,
       |              true_distinct
       |       FROM s CROSS JOIN t)
       |SELECT k_used, kth_hash, est_distinct, true_distinct,
       |       abs(est_distinct - true_distinct) * 10000 // true_distinct
       |         AS err_bp
       |FROM f""".stripMargin
  }

  /** Approx-profile oracle: the per-column KMV chain ([[kmvOracle]]'s
    * quadratic mix over the 10⁶-scaled DECIMAL value, dedup on hash,
    * bottom-k per column) joined with the plain per-column stats —
    * the DuckDB twin that promoted profile_approx from rows-only
    * (round 11). The bottom-k distinct-hash set is partition-layout-
    * independent (bottom-k composes under union), so the bounded
    * Spark-side aggregate and this global SQL agree exactly; the one
    * float step is the same two correctly-rounded double ops as
    * [[kmvOracle]]. */
  private[graft] def profileApproxOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllSeedBase, KmvK}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val numer = (KmvK - 1).toDouble * (P1 * P2).toDouble
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_orderkey")
    val unions = cols.zipWithIndex.map { case (c, i) =>
      s"SELECT $i AS cidx, '$c' AS colname, " +
        s"CAST($c AS DECIMAL(38,6)) AS v FROM lineitem"
    }.mkString("\n       |           UNION ALL ".stripMargin)
    s"""WITH p AS ($unions),
       | k0 AS (SELECT cidx, colname, v,
       |               CAST(CAST(v * 1000000 AS DECIMAL(38,0)) AS BIGINT)
       |                 AS kk
       |        FROM p),
       | q0 AS (SELECT cidx, colname, v, kk % $P1 AS q1, kk % $P2 AS q2
       |        FROM k0),
       | hh AS (SELECT cidx, colname, v,
       |               ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |               + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS hv
       |        FROM q0),
       | stats AS (SELECT cidx, min(colname) AS colname,
       |                  count(*) AS n_rows, count(v) AS n_non_null,
       |                  CAST(min(v) AS DOUBLE) AS min_v,
       |                  CAST(max(v) AS DOUBLE) AS max_v,
       |                  CAST(sum(CAST(v AS DECIMAL(28,2))) AS DOUBLE)
       |                    AS sum_v
       |           FROM hh GROUP BY 1),
       | d AS (SELECT DISTINCT cidx, hv FROM hh WHERE hv IS NOT NULL),
       | r AS (SELECT cidx, hv,
       |              row_number() OVER (PARTITION BY cidx ORDER BY hv)
       |                AS rn
       |       FROM d),
       | b AS (SELECT cidx, count(*) AS k_used, max(hv) AS kth
       |       FROM r WHERE rn <= $KmvK GROUP BY 1)
       |SELECT colname AS "column", n_rows, n_non_null,
       |       CASE WHEN COALESCE(k_used, 0) < $KmvK THEN COALESCE(k_used, 0)
       |            ELSE CAST(round($numer / CAST(kth AS DOUBLE)) AS BIGINT)
       |            END AS n_distinct,
       |       min_v, max_v, sum_v
       |FROM stats LEFT JOIN b USING (cidx)
       |ORDER BY "column"""".stripMargin
       // LEFT JOIN + COALESCE (ADVICE r11): an all-NULL column has no
       // distinct hashes (b is empty for that cidx) but the engine still
       // emits its row with n_distinct = 0 — the oracle must keep it too
  }

  /** KMV-Jaccard oracle: both bottom-k sketches re-derived hash by
    * hash (the [[kmvOracle]] quadratic mix), the coordinated union
    * bottom-k with membership flags, and the exact truth — every
    * column, including the estimate's error, is integer arithmetic. */
  private[graft] def kmvJaccardOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllSeedBase, KmvK}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    def bottomCtes(name: String, cond: String): String =
      s"""d$name AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS k
         |           FROM lineitem WHERE $cond),
         | q$name AS (SELECT k, k % $P1 AS q1, k % $P2 AS q2 FROM d$name),
         | h$name AS (SELECT k,
         |        ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
         |        + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS h
         |        FROM q$name),
         | b$name AS (SELECT k, h FROM h$name ORDER BY h, k LIMIT $KmvK)"""
        .stripMargin
    s"""WITH ${bottomCtes("a", "l_returnflag = 'R'")},
       | ${bottomCtes("b", "l_returnflag = 'A'")},
       | u AS (SELECT h, k, max(in_a) AS in_a, max(in_b) AS in_b FROM (
       |     SELECT h, k, 1 AS in_a, 0 AS in_b FROM ba
       |     UNION ALL SELECT h, k, 0 AS in_a, 1 AS in_b FROM bb)
       |   GROUP BY 1, 2),
       | bu AS (SELECT * FROM u ORDER BY h, k LIMIT $KmvK),
       | s AS (SELECT count(*) AS k_used, max(h) AS kth_hash,
       |              CAST(sum(in_a * in_b) AS BIGINT) AS n_both
       |       FROM bu),
       | tr AS (SELECT CAST(sum(ia * ib) AS BIGINT) AS n_inter,
       |               count(*) AS n_union
       |        FROM (SELECT l_partkey,
       |                     max(CASE WHEN l_returnflag = 'R' THEN 1
       |                              ELSE 0 END) AS ia,
       |                     max(CASE WHEN l_returnflag = 'A' THEN 1
       |                              ELSE 0 END) AS ib
       |              FROM lineitem WHERE l_returnflag IN ('R', 'A')
       |              GROUP BY 1))
       |SELECT k_used, kth_hash, n_both,
       |       n_both * 10000 // k_used AS jacc_bp,
       |       n_inter, n_union,
       |       n_inter * 10000 // n_union AS true_jacc_bp,
       |       abs(n_both * 10000 // k_used
       |           - n_inter * 10000 // n_union) AS err_bp
       |FROM s CROSS JOIN tr""".stripMargin
  }

  /** KMV set-algebra oracle: the kmvJaccard machinery (quadratic-mix
    * bottom-k sketches, coordinated union merge) extended with the
    * exact only-in-A/only-in-B sample fractions, the (k−1)·R/h_k union
    * estimate, the derived intersection/difference estimates, and the
    * four exact truths + error columns. */
  private[graft] def kmvSetOpsOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllSeedBase, KmvK}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val numer = (KmvK - 1).toDouble * (P1 * P2).toDouble
    def bottomCtes(name: String, cond: String): String =
      s"""d$name AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS k
         |           FROM lineitem WHERE $cond),
         | q$name AS (SELECT k, k % $P1 AS q1, k % $P2 AS q2 FROM d$name),
         | h$name AS (SELECT k,
         |        ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
         |        + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS h
         |        FROM q$name),
         | b$name AS (SELECT k, h FROM h$name ORDER BY h, k LIMIT $KmvK)"""
        .stripMargin
    s"""WITH ${bottomCtes("a", "l_quantity <= 5")},
       | ${bottomCtes("b", "l_quantity >= 45")},
       | u AS (SELECT h, k, max(in_a) AS in_a, max(in_b) AS in_b FROM (
       |     SELECT h, k, 1 AS in_a, 0 AS in_b FROM ba
       |     UNION ALL SELECT h, k, 0 AS in_a, 1 AS in_b FROM bb)
       |   GROUP BY 1, 2),
       | bu AS (SELECT * FROM u ORDER BY h, k LIMIT $KmvK),
       | s AS (SELECT count(*) AS k_used, max(h) AS kth_hash,
       |              CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
       |              CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_a_only,
       |              CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_b_only
       |       FROM bu),
       | e AS (SELECT *,
       |              CASE WHEN k_used < $KmvK THEN k_used
       |                   ELSE CAST(round($numer / CAST(kth_hash AS DOUBLE))
       |                             AS BIGINT) END AS est_union
       |       FROM s),
       | e2 AS (SELECT *,
       |               est_union * n_both // k_used AS est_inter,
       |               est_union * n_a_only // k_used AS est_diff_ab,
       |               est_union * n_b_only // k_used AS est_diff_ba
       |        FROM e),
       | tr AS (SELECT count(*) AS true_union,
       |               CAST(sum(ia * ib) AS BIGINT) AS true_inter,
       |               CAST(sum(ia * (1 - ib)) AS BIGINT) AS true_a_only,
       |               CAST(sum((1 - ia) * ib) AS BIGINT) AS true_b_only
       |        FROM (SELECT l_partkey,
       |                     max(CASE WHEN l_quantity <= 5 THEN 1
       |                              ELSE 0 END) AS ia,
       |                     max(CASE WHEN l_quantity >= 45 THEN 1
       |                              ELSE 0 END) AS ib
       |              FROM lineitem
       |              WHERE l_quantity <= 5 OR l_quantity >= 45
       |              GROUP BY 1))
       |SELECT k_used, kth_hash, n_both, n_a_only, n_b_only,
       |       est_union, est_inter, est_diff_ab, est_diff_ba,
       |       true_union, true_inter, true_a_only, true_b_only,
       |       abs(est_union - true_union) * 10000 // true_union
       |         AS err_union_bp,
       |       abs(est_diff_ab - true_a_only) * 10000 // true_a_only
       |         AS err_diff_ab_bp
       |FROM e2 CROSS JOIN tr""".stripMargin
  }

  /** AMS F₂ oracle: all 128 sign counters re-derived from the inlined
    * affine coefficient formulas, the grouped floor-means, the dyadic
    * ×2 median, and the exact truth. */
  private[graft] def amsF2Oracle: String = amsOracleFor("lineitem", "l_orderkey")

  /** Parameterized over (table, key) so the streaming parity twin
    * (`stream_ams_parity`, events/user_id) shares the generator —
    * streamed counters ≡ batch counters exactly, so one SQL derivation
    * checks both. */
  private[graft] def amsOracleFor(table: String, keyCol: String): String = {
    import graft.functions.Portable.{P1, P2, AMul, BMul}
    import graft.ops.Sketches.AmsSeedBase
    s"""WITH k AS (SELECT CAST($keyCol AS BIGINT) AS k FROM $table),
       | j AS (SELECT CAST(unnest(generate_series(0, 127)) AS BIGINT) AS j),
       | c AS (SELECT j, j * 2 + $AmsSeedBase AS i FROM j),
       | cf AS (SELECT j,
       |               ((2 * i + 1) * $AMul) % $P1 AS a1,
       |               ((i + 1) * $BMul) % $P1 AS b1,
       |               ((2 * (i + 1) + 1) * $AMul) % $P1 AS a2,
       |               ((i + 2) * $BMul) % $P1 AS b2
       |        FROM c),
       | e AS (SELECT cf.j,
       |              1 - 2 * (((((k.k % $P1) * (k.k % $P1) % $P1) * cf.a1
       |                         + (k.k % $P1) * cf.b1) % $P1 * $P2
       |                        + (((k.k % $P2) * (k.k % $P2) % $P2) * cf.a2
       |                           + (k.k % $P2) * cf.b2) % $P2) % 2) AS s
       |       FROM k CROSS JOIN cf),
       | x AS (SELECT j, CAST(sum(s) AS BIGINT) AS x FROM e GROUP BY 1),
       | m AS (SELECT j % 8 AS g, sum(x * x) // 16 AS m FROM x GROUP BY 1),
       | srt AS (SELECT m, row_number() OVER (ORDER BY m) AS rn FROM m),
       | med AS (SELECT CAST(sum(CASE WHEN rn IN (4, 5) THEN m END)
       |                     AS BIGINT) AS f2_est2 FROM srt),
       | tr AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_true,
       |               CAST(sum(f) AS BIGINT) AS n_rows
       |        FROM (SELECT count(*) AS f FROM $table
       |              GROUP BY $keyCol))
       |SELECT n_rows, f2_true, f2_est2,
       |       abs(f2_est2 - 2 * f2_true) * 10000 // (2 * f2_true)
       |         AS err_bp
       |FROM med CROSS JOIN tr""".stripMargin
  }

  /** Histogram-quantile oracle: identical fixed-geometry binning,
    * cumulative window and covering-bin selection — every number is an
    * integer in both engines. */
  private[graft] def histQuantilesOracle: String =
    s"""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
       |                    AS cents FROM lineitem),
       | hb AS (SELECT least(4095, greatest(0, (cents - 0) // 4096))
       |                 AS bucket,
       |               count(*) AS cnt
       |        FROM c GROUP BY 1),
       | cum AS (SELECT bucket, CAST(sum(cnt) OVER (ORDER BY bucket)
       |                             AS BIGINT) AS cum
       |         FROM hb),
       | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hb),
       | qs AS (SELECT CAST(unnest([5000, 9000, 9900, 9990]) AS BIGINT)
       |                 AS q_bp)
       |SELECT q_bp, CAST(min(bucket) AS BIGINT) AS bucket,
       |       CAST(0 + (min(bucket) + 1) * 4096 - 1 AS BIGINT) AS est_upper,
       |       max(n_total) AS n_total
       |FROM qs CROSS JOIN cum CROSS JOIN tot
       |WHERE cum * 10000 >= q_bp * n_total
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CMS join-size oracle: both counter tables re-derived cell by cell
    * (same rolling hash and affine row hashes as [[cmsOracle]]), then the
    * per-row inner products and their min — and the exact join count as
    * the truth column. */
  private[graft] def joinSizeOracle: String = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    import graft.ops.Sketches.{CmsDepth, CmsSeedBase, CmsWidth}
    val aCase = (0 until CmsDepth)
      .map(r => s"WHEN $r THEN ${aCoef(CmsSeedBase + r)}").mkString(" ")
    val bCase = (0 until CmsDepth)
      .map(r => s"WHEN $r THEN ${bCoef(CmsSeedBase + r)}").mkString(" ")
    val rows = (0 until CmsDepth).mkString(", ")
    def bucket(h: String) =
      s"((CASE rr.r $aCase END * $h + CASE rr.r $bCase END) % $P1) % $CmsWidth"
    def hashOf(k: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split_regex($k, ''),
         |            c -> CAST(ascii(c) AS BIGINT))),
         |          (a, x) -> (a * 31 + x) % $P1)""".stripMargin
    s"""WITH ac AS (SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt
       |            FROM events GROUP BY 1),
       | bc AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS cnt
       |        FROM orders GROUP BY 1),
       | ah AS (SELECT ${hashOf("k")} AS h1, cnt FROM ac),
       | bh AS (SELECT ${hashOf("k")} AS h1, cnt FROM bc),
       | acell AS (SELECT rr.r AS r, ${bucket("ah.h1")} AS bucket, ah.cnt
       |           FROM ah CROSS JOIN (SELECT unnest([$rows]) AS r) rr),
       | acnt AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS ca
       |          FROM acell GROUP BY 1, 2),
       | bcell AS (SELECT rr.r AS r, ${bucket("bh.h1")} AS bucket, bh.cnt
       |           FROM bh CROSS JOIN (SELECT unnest([$rows]) AS r) rr),
       | bcnt AS (SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS cb
       |          FROM bcell GROUP BY 1, 2),
       | dots AS (SELECT a.r, CAST(sum(a.ca * b.cb) AS BIGINT) AS dot
       |          FROM acnt a JOIN bcnt b ON a.r = b.r AND a.bucket = b.bucket
       |          GROUP BY 1),
       | est AS (SELECT min(dot) AS join_size_est FROM dots),
       | tru AS (SELECT count(*) AS true_size
       |         FROM events e JOIN orders o ON e.user_id = o.o_custkey)
       |SELECT join_size_est, true_size,
       |       abs(join_size_est - true_size) * 10000 // true_size AS err_bp
       |FROM est CROSS JOIN tru""".stripMargin
  }

  /** MAD oracle: DuckDB's quantile_cont against Spark's percentile —
    * two independent exact interpolated-median implementations forced to
    * agree exactly by the ×2/×4 integer scaling
    * ([[graft.ops.Events.madOutliers]]). */
  private[graft] def madOracle: String =
    s"""WITH c AS (SELECT user_id,
       |                  CAST(round(value * 100) AS BIGINT) AS c
       |           FROM events),
       | med AS (SELECT user_id,
       |                CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS m2,
       |                count(*) AS n_events
       |         FROM c GROUP BY 1),
       | dev AS (SELECT c.user_id, abs(2 * c.c - m.m2) AS d2, m.m2,
       |                m.n_events
       |         FROM c JOIN med m ON c.user_id = m.user_id),
       | mad AS (SELECT user_id,
       |                CAST(2 * quantile_cont(d2, 0.5) AS BIGINT) AS mad4,
       |                max(m2) AS m2, max(n_events) AS n_events
       |         FROM dev GROUP BY 1)
       |SELECT mad.user_id, max(mad.n_events) AS n_events,
       |       max(mad.m2) AS med_cents2, max(mad.mad4) AS mad_cents4,
       |       CAST(sum(CASE WHEN 2 * d.d2 > 5 * mad.mad4 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_outliers
       |FROM mad JOIN (SELECT user_id, d2 FROM dev) d
       |  ON mad.user_id = d.user_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sliding-HLL oracle: per-day registers (the grouped hll CTEs keyed
    * by epoch day), the day×window range-join max-merge, and per-day
    * summaries + exact trailing-window truth. */
  private[graft] def hllSlidingOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllC, HllM, HllSeedBase, HllVBits}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val top = HllVBits + 1
    s"""WITH e AS (SELECT event_id, epoch_us(ts) // 86400000000 AS day
       |           FROM events),
       | q AS (SELECT day, event_id % $P1 AS q1, event_id % $P2 AS q2
       |       FROM e),
       | h AS (SELECT day,
       |              ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |              + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS hv
       |       FROM q),
       | b AS (SELECT day, hv % $HllM AS bucket,
       |              (hv // $HllM) % ${1L << HllVBits} AS v FROM h),
       | r AS (SELECT day, bucket,
       |              max(CASE WHEN v = 0 THEN $top
       |                       ELSE $top - length(bin(v)) END) AS reg
       |       FROM b GROUP BY 1, 2),
       | days AS (SELECT DISTINCT day FROM r),
       | mg AS (SELECT d.day AS day, r.bucket, max(r.reg) AS reg
       |        FROM days d JOIN r ON r.day <= d.day AND r.day > d.day - 7
       |        GROUP BY 1, 2),
       | s AS (SELECT day, count(*) AS n_used,
       |              sum(1::BIGINT << CAST($top - reg AS INT)) AS used_scaled
       |       FROM mg GROUP BY 1),
       | t AS (SELECT d.day AS day,
       |              count(DISTINCT e2.event_id) AS true_distinct
       |       FROM days d JOIN e e2
       |         ON e2.day <= d.day AND e2.day > d.day - 7
       |       GROUP BY 1),
       | f AS (SELECT s.day, n_used, $HllM - n_used AS zeros,
       |              CAST(used_scaled
       |                   + ($HllM - n_used) * (1::BIGINT << $top) AS BIGINT)
       |                AS sum_scaled,
       |              true_distinct
       |       FROM s JOIN t ON s.day = t.day)
       |SELECT day, n_used, zeros, sum_scaled,
       |       CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |         AS est_distinct,
       |       true_distinct,
       |       abs(CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |           - true_distinct) * 10000 // true_distinct AS err_bp
       |FROM f ORDER BY day""".stripMargin
  }

  /** Systematic PPS oracle: the same portable-affine-hash layout order
    * and integer threshold-counting as [[graft.ops.Features.ppsSample]]
    * (aCoef/bCoef(13) inlined), with the prefix sum as a plain window —
    * floor division on all-positive operands, so `//` ≡ Spark's `div`. */
  private[graft] def ppsOracle: String = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    s"""WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS wt,
       |                  ((doc_id % $P1) * ${aCoef(13)} + ${bCoef(13)}) % $P1 AS ok
       |           FROM documents),
       | tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM w),
       | c AS (SELECT doc_id, wt,
       |              CAST(sum(wt) OVER (ORDER BY ok) AS BIGINT) AS cum
       |       FROM w)
       |SELECT doc_id, wt,
       |       (cum * $PpsSampleK) // total - ((cum - wt) * $PpsSampleK) // total AS picks
       |FROM c CROSS JOIN tot
       |WHERE (cum * $PpsSampleK) // total - ((cum - wt) * $PpsSampleK) // total > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** BFS oracle: the pagerank pair-graph CTEs + a recursive walk carrying
    * (node, depth); UNION (distinct) bounds the walk at |V|·maxHops rows
    * and min(d) recovers the hop distance. */
  private[graft] def bfsOracle: String =
    s"""WITH RECURSIVE ${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 101 = 0),
       | walk(node, d) AS (
       |   SELECT node, CAST(0 AS BIGINT) FROM seeds
       |   UNION
       |   SELECT s.dst, w.d + 1 FROM walk w JOIN sym s ON s.src = w.node
       |   WHERE w.d < 4)
       |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk
       |GROUP BY 1 ORDER BY node""".stripMargin

  /** Morton interleave as generated bit arithmetic — bit i of x at
    * position 2i, bit i of y at 2i+1, matching ZOrder.mortonKey. */
  private[graft] def zorderKeyOracle: String = {
    val terms = (0 until 10).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString("\n                + ")
    s"""WITH b AS (
       |  SELECT o_orderkey,
       |         o_custkey % 1024 AS x,
       |         CAST(floor(o_totalprice) AS BIGINT) % 1024 AS y
       |  FROM orders)
       |SELECT o_orderkey,
       |       CAST($terms AS BIGINT) AS z
       |FROM b ORDER BY o_orderkey""".stripMargin
  }

  /** MinHash candidate recall vs exact n-gram Jaccard ≥ 0.5: the jaccard
    * side reuses the shared `tok`/`shs` string-shingle CTEs (j-prefixed
    * names avoid clashing with the minhash chain's `kept`). */
  private[graft] def dedupRecallOracle: String =
    s"""WITH ${minhashLshCtes()},
       | jsh AS (SELECT DISTINCT doc_id, s FROM shs),
       | jkept AS (SELECT doc_id, s FROM jsh
       |           WHERE s IN (SELECT s FROM jsh GROUP BY s HAVING count(*) <= 100)),
       | jn AS (SELECT doc_id, count(*) AS n_sh FROM jkept GROUP BY 1),
       | jcom AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |          FROM jkept a JOIN jkept b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       | jpairs AS (SELECT da, db FROM jcom
       |            JOIN jn na ON na.doc_id = da JOIN jn nb ON nb.doc_id = db
       |            WHERE CAST(floor(c * 10000.0 / (na.n_sh + nb.n_sh - c)) AS BIGINT) >= 5000),
       | counts AS (
       |   SELECT (SELECT count(*) FROM jpairs) AS n_exact,
       |          (SELECT count(*) FROM mh_pairs) AS n_cand,
       |          (SELECT count(*) FROM jpairs j JOIN mh_pairs m
       |             ON j.da = m.da AND j.db = m.db) AS n_captured)
       |SELECT n_exact, n_cand, n_captured,
       |       CAST(floor(n_captured * 10000.0 / n_exact) AS BIGINT) AS recall_bp
       |FROM counts""".stripMargin

  /** The composed production pipeline: MinHash-LSH candidates → banded
    * Levenshtein re-score (40-char prefixes, distance ≤ 12 — the same
    * parameters as Dedup.levenshteinRescore's defaults) → connected
    * components (recursive CTE) → per-doc keep verdict. */
  private[graft] def dedupPipelineOracle: String =
    s"""WITH RECURSIVE ${minhashLshCtes()},
       | resc AS (
       |   SELECT p.da, p.db
       |   FROM mh_pairs p
       |   JOIN documents ta ON ta.doc_id = p.da
       |   JOIN documents tb ON tb.doc_id = p.db
       |   WHERE levenshtein(substr(ta.text, 1, 40), substr(tb.text, 1, 40)) <= 12),
       | sym AS (SELECT da AS src, db AS dst FROM resc
       |         UNION ALL SELECT db, da FROM resc),
       | reach AS (
       |   SELECT src AS a, src AS b FROM sym
       |   UNION
       |   SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       | clusters AS (SELECT a AS doc_id, min(b) AS cluster_id
       |              FROM reach GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(c.cluster_id, d.doc_id) AS keep_id,
       |       CAST(coalesce(c.cluster_id, d.doc_id) = d.doc_id AS BIGINT) AS keep
       |FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The pretraining curation pipeline composed in SQL: quality rules →
    * md5-canonical exact dedup → the [[minhashLshCtes]] chain over the
    * deduped set (base = `ek`) → Levenshtein rescore → recursive-CTE
    * clusters → survivor token accounting (prefix-sum packing + shard
    * cuts). Every fragment is an already-green oracle, re-based. */
  private[graft] def pretrainPipelineOracle: String =
    s"""WITH RECURSIVE qd AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM (
       |    SELECT doc_id, text, source,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(list_sum(list_transform(string_split(text, ' '),
       |           t -> length(t))) AS BIGINT) AS sum_tok_len,
       |      CAST(len(list_filter(string_split(text, ' '),
       |           t -> t IN ('the','a','of','and','to','in'))) AS BIGINT)
       |        AS n_stopwords,
       |      CAST(floor(len(list_distinct(string_split(text, ' ')))
       |           * 10000.0 / len(string_split(text, ' '))) AS BIGINT)
       |        AS uniq_ratio_bp
       |    FROM documents)
       |  WHERE n_tokens BETWEEN 5 AND 5000
       |    AND sum_tok_len BETWEEN n_tokens * 3 AND n_tokens * 10
       |    AND n_stopwords >= 2 AND uniq_ratio_bp >= 3000),
       | canon AS (SELECT min(doc_id) AS doc_id FROM qd GROUP BY md5(text)),
       | ek AS MATERIALIZED (
       |   SELECT q.doc_id, q.text, q.source FROM qd q JOIN canon USING (doc_id)),
       | ${minhashLshCtes("ek")},
       | resc AS (
       |   SELECT p.da, p.db FROM mh_pairs p
       |   JOIN ek ta ON ta.doc_id = p.da
       |   JOIN ek tb ON tb.doc_id = p.db
       |   WHERE levenshtein(substr(ta.text, 1, 40), substr(tb.text, 1, 40)) <= 12),
       | symp AS (SELECT da AS src, db AS dst FROM resc
       |          UNION ALL SELECT db, da FROM resc),
       | reachp AS (
       |   SELECT src AS a, src AS b FROM symp
       |   UNION
       |   SELECT r.a, s.dst FROM reachp r JOIN symp s ON r.b = s.src),
       | clu AS (SELECT a AS doc_id, min(b) AS cluster_id
       |         FROM reachp GROUP BY 1),
       | fdocs AS MATERIALIZED (
       |   SELECT e.doc_id, e.text FROM ek e
       |   LEFT JOIN clu c ON c.doc_id = e.doc_id
       |   WHERE coalesce(c.cluster_id, e.doc_id) = e.doc_id),
       | pk AS (SELECT doc_id,
       |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM fdocs),
       | cc AS MATERIALIZED (
       |   SELECT *,
       |     CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |       AS cum,
       |     CAST(sum(n_tokens) OVER () AS BIGINT) AS total
       |   FROM pk),
       | packrep AS (
       |   SELECT count(*) AS n_final, max(total) AS total_tokens,
       |          max((cum - 1) // 256) + 1 AS n_sequences
       |   FROM cc),
       | packrep2 AS (
       |   SELECT n_final, total_tokens, n_sequences,
       |          CAST(floor((n_sequences * 256 - total_tokens) * 10000.0
       |               / (n_sequences * 256)) AS BIGINT) AS pack_waste_bp
       |   FROM packrep),
       | shardrep AS (
       |   SELECT max(share_bp) AS max_shard_share_bp FROM (
       |     SELECT CAST(sum(n_tokens) AS BIGINT) * 10000 // max(total)
       |              AS share_bp
       |     FROM (SELECT *, least(7, (cum - n_tokens) * 8 // total) AS shard
       |           FROM cc)
       |     GROUP BY shard)),
       | stats AS (
       |   SELECT (SELECT count(*) FROM documents) AS n_raw,
       |          (SELECT count(*) FROM qd) AS n_quality,
       |          (SELECT count(*) FROM ek) AS n_exact_kept)
       |SELECT n_raw, n_quality, n_exact_kept, n_final, total_tokens,
       |       n_sequences, pack_waste_bp, max_shard_share_bp
       |FROM stats, packrep2, shardrep""".stripMargin

  /** BPE training unrolled: round i's pair counts come from round i−1's
    * representation; the argmax is a 1-row CTE consumed both by the
    * merge table and (as scalar subqueries) by round i's rewrite —
    * exactly TextAnalysis.bpeTrain's loop with `replace` doing the
    * greedy left-to-right non-overlapping merge in both engines. */
  /** CTE chain shared by the bpe_train / bpe_encode oracles: char reps
    * of every token occurrence (r0), then per round i the pair counts
    * (p_i), the argmax merge (m_i), and the rewritten reps (r_i). */
  private[graft] def bpeRoundsCtes(merges: Int): String = {
    val rounds = (1 to merges).map { i =>
      s"""p$i AS (SELECT s[i] || ' ' || s[i+1] AS pair, count(*) AS n
         |        FROM (SELECT string_split(rep, ' ') AS s FROM r${i - 1}),
         |        LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i) g
         |        WHERE len(s) >= 2 GROUP BY 1),
         | m$i AS (SELECT $i AS round, pair, n FROM p$i
         |         ORDER BY n DESC, pair LIMIT 1),
         | r$i AS (SELECT replace(rep, (SELECT pair FROM m$i),
         |                (SELECT replace(pair, ' ', '') FROM m$i)) AS rep
         |         FROM r${i - 1})""".stripMargin
    }.mkString(",\n ")
    s"""tok AS (SELECT unnest(string_split(text, ' ')) AS tok
       |             FROM documents),
       | r0 AS (SELECT array_to_string(string_split_regex(tok, ''), ' ') AS rep
       |        FROM tok WHERE tok <> ''),
       | $rounds""".stripMargin
  }

  private[graft] def bpeTrainOracle(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT * FROM m$i").mkString("\n           UNION ALL ")
    s"""WITH ${bpeRoundsCtes(merges)}
       |SELECT CAST(round AS BIGINT) AS round, pair, CAST(n AS BIGINT) AS n
       |FROM ($union) ORDER BY round""".stripMargin
  }

  /** Merges derived by the training CTEs, then applied to every token
    * occurrence (with doc_id retained) as the same chained greedy
    * replaces the Spark side folds into one projection. */
  private[graft] def bpeEncodeOracle(merges: Int): String = {
    val rep = (1 to merges).foldLeft("rep")((c, i) =>
      s"replace($c, (SELECT pair FROM m$i), (SELECT replace(pair, ' ', '') FROM m$i))")
    s"""WITH ${bpeRoundsCtes(merges)},
       | dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |          FROM documents),
       | drep AS (SELECT doc_id, len(tok) AS n_c,
       |                 array_to_string(string_split_regex(tok, ''), ' ') AS rep
       |          FROM dtok WHERE tok <> ''),
       | enc AS (SELECT doc_id, n_c, len(string_split($rep, ' ')) AS n_s
       |         FROM drep),
       | agg AS (SELECT doc_id, count(*) AS n_words, sum(n_c) AS n_chars,
       |                sum(n_s) AS n_tokens
       |         FROM enc GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(a.n_chars, 0) AS BIGINT) AS n_chars,
       |       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(CASE WHEN coalesce(a.n_chars, 0) = 0 THEN 0
       |                 ELSE (a.n_tokens * 10000) // a.n_chars END AS BIGINT)
       |         AS compression_bp
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Fertility oracle: the [[bpeEncodeOracle]] per-doc encoding CTEs
    * rolled up per source in milli-units. */
  private[graft] def bpeFertilityOracle(merges: Int): String = {
    val rep = (1 to merges).foldLeft("rep")((c, i) =>
      s"replace($c, (SELECT pair FROM m$i), (SELECT replace(pair, ' ', '') FROM m$i))")
    s"""WITH ${bpeRoundsCtes(merges)},
       | dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |          FROM documents),
       | drep AS (SELECT doc_id, len(tok) AS n_c,
       |                 array_to_string(string_split_regex(tok, ''), ' ') AS rep
       |          FROM dtok WHERE tok <> ''),
       | enc AS (SELECT doc_id, n_c, len(string_split($rep, ' ')) AS n_s
       |         FROM drep),
       | agg AS (SELECT doc_id, count(*) AS n_words, sum(n_c) AS n_chars,
       |                sum(n_s) AS n_tokens
       |         FROM enc GROUP BY 1),
       | per AS (SELECT d.doc_id, d.source,
       |                coalesce(a.n_words, 0) AS n_words,
       |                coalesce(a.n_chars, 0) AS n_chars,
       |                coalesce(a.n_tokens, 0) AS n_tokens
       |         FROM documents d LEFT JOIN agg a USING (doc_id))
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_words,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(CASE WHEN sum(n_words) = 0 THEN 0
       |                 ELSE sum(n_tokens) * 1000 // sum(n_words) END
       |            AS BIGINT) AS fertility_milli,
       |       CAST(CASE WHEN sum(n_tokens) = 0 THEN 0
       |                 ELSE sum(n_chars) * 1000 // sum(n_tokens) END
       |            AS BIGINT) AS chars_per_token_milli
       |FROM per GROUP BY 1 ORDER BY source""".stripMargin
  }

  /** The dedup-pipeline cluster ids fed through the portable hash split
    * keyed on cluster_id — same CTE chain as [[dedupPipelineOracle]],
    * same affine-hash arithmetic as the fp_hash_split oracle. */
  private[graft] def leakageSplitOracle: String = {
    import Portable.{P1, aCoef, bCoef}
    s"""WITH RECURSIVE ${minhashLshCtes()},
       | resc AS (
       |   SELECT p.da, p.db
       |   FROM mh_pairs p
       |   JOIN documents ta ON ta.doc_id = p.da
       |   JOIN documents tb ON tb.doc_id = p.db
       |   WHERE levenshtein(substr(ta.text, 1, 40), substr(tb.text, 1, 40)) <= 12),
       | sym AS (SELECT da AS src, db AS dst FROM resc
       |         UNION ALL SELECT db, da FROM resc),
       | reach AS (
       |   SELECT src AS a, src AS b FROM sym
       |   UNION
       |   SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       | clusters AS (SELECT a AS doc_id, min(b) AS cluster_id
       |              FROM reach GROUP BY 1),
       | withc AS (SELECT d.doc_id,
       |                  coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |           FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN ((cluster_id % $P1) * ${aCoef(7)} + ${bCoef(7)}) % $P1
       |                 < ${P1 / 10000L * 2000L}
       |            THEN 'test' ELSE 'train' END AS split
       |FROM withc ORDER BY doc_id""".stripMargin
  }

  /** CTE chain ending in `sblocked(doc_id, simhash, chunk_idx, chunk)` —
    * CTE names are disjoint from [[minhashLshCtes]]'s so the two chains
    * can share one WITH clause (capStatsOracle does). */
  private[graft] def simhashCtes: String = {
    import Portable._
    val voteAggs = (0 until PortableKernels.SimHashBits).map(j =>
      s"sum(CASE WHEN ((${aCoef(j)} * h1 + ${bCoef(j)} * h2 + $j) % $P1) % 2 = 1 THEN 1 ELSE -1 END) AS v$j"
    ).mkString(",\n           ")
    val bits = (0 until PortableKernels.SimHashBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString("\n           + ")
    val chunkSelects = (0 until 4).map(c =>
      s"SELECT doc_id, simhash, $c AS chunk_idx, (simhash >> ${15 * c}) & 32767 AS chunk FROM sh60"
    ).mkString("\n           UNION ALL ")
    s"""stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |             FROM documents WHERE text IS NOT NULL),
       |  th AS (SELECT doc_id,
       |          list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(string_split_regex(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |            (a, x) -> (a * $B1 + x) % $P1) AS h1,
       |          list_reduce(list_prepend(CAST(0 AS BIGINT),
       |            list_transform(string_split_regex(t, ''), c -> CAST(ascii(c) AS BIGINT))),
       |            (a, x) -> (a * $B2 + x) % $P2) AS h2
       |         FROM stok),
       |  votes AS (SELECT doc_id,
       |           $voteAggs
       |          FROM th GROUP BY doc_id),
       |  sh60 AS (SELECT doc_id,
       |           $bits AS simhash
       |         FROM votes),
       |  sblocked AS ($chunkSelects)""".stripMargin
  }

  private[graft] def simhashOracle: String =
    s"""WITH $simhashCtes,
       |  keptc AS (SELECT * FROM sblocked b
       |            WHERE NOT EXISTS (
       |              SELECT 1 FROM sblocked g
       |              WHERE g.chunk_idx = b.chunk_idx AND g.chunk = b.chunk
       |              GROUP BY g.chunk_idx, g.chunk HAVING count(*) > 100))
       |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM keptc a JOIN keptc b
       |  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY da, db""".stripMargin

  /** Cap observability twin of Dedup.capStats: hot-key counts + dropped
    * row volumes per bounded-candidate stage, over the same portable
    * chains as the operator oracles (unreferenced CTEs in the shared
    * WITH clause are pruned by the planner). */
  private[graft] def capStatsOracle: String =
    s"""WITH ${minhashLshCtes()},
       | $simhashCtes,
       | sdf AS (SELECT hh, count(*) AS df FROM h
       |         GROUP BY hh HAVING count(*) > 100),
       | s_shingle AS (
       |   SELECT 'shingle_df' AS stage, count(*) AS n_hot_keys,
       |          coalesce(sum(df), 0) AS n_dropped_rows FROM sdf),
       | bhot AS (SELECT band_idx, band_hash, count(*) AS bs FROM banded
       |          GROUP BY 1, 2 HAVING count(*) > 50),
       | s_band AS (
       |   SELECT 'minhash_band' AS stage, count(*) AS n_hot_keys,
       |          coalesce(sum(bs), 0) AS n_dropped_rows FROM bhot),
       | chot AS (SELECT chunk_idx, chunk, count(*) AS cs FROM sblocked
       |          GROUP BY 1, 2 HAVING count(*) > 100),
       | s_chunk AS (
       |   SELECT 'simhash_chunk' AS stage, count(*) AS n_hot_keys,
       |          coalesce(sum(cs), 0) AS n_dropped_rows FROM chot),
       | ehot AS (SELECT lang, n_chars // 16 AS lb, count(*) AS es
       |          FROM documents GROUP BY 1, 2 HAVING count(*) > 100),
       | s_edit AS (
       |   SELECT 'edit_block' AS stage, count(*) AS n_hot_keys,
       |          coalesce(sum(es), 0) AS n_dropped_rows FROM ehot)
       |SELECT stage, n_hot_keys, CAST(n_dropped_rows AS BIGINT) AS n_dropped_rows
       |FROM (SELECT * FROM s_shingle UNION ALL SELECT * FROM s_band
       |      UNION ALL SELECT * FROM s_chunk UNION ALL SELECT * FROM s_edit)
       |ORDER BY stage""".stripMargin

  /** DuckDB twin of Similarity.lshNearDup's portable sign-LSH (kernel
    * [[graft.functions.SignLshKeys]]): integer quantization + integer
    * hyperplane dots + r-bit band keys (constants shared with the kernel), bucket cap, exact cosine
    * re-score. All bucketing arithmetic is integer-exact; only the final
    * re-score uses floats, with the same sequential-dot parity as
    * sim_neardup_cosine. */
  /** CTE chain ending in `lsh_pairs(va, vb, cosine)` — shared by the
    * sign-LSH pair oracle and the embedding-cluster oracle. */
  /** Shared key-generation chain (q/e/bits/keys/keptk/base) for every
    * sign-LSH oracle: portable hyperplane bits → per-band keys → the
    * corpus-side hot-bucket cap → the double-cosine base table. */
  private[graft] def signLshKeysCtes: String = {
    import Portable.{P1, AMul, BMul}
    import graft.functions.SignLshKernels.Center
    import graft.ops.Similarity.{LshBands, LshBitsPerBand, LshMaxBucket}
    val nBits = LshBitsPerBand * LshBands
    s"""q AS (
       |   SELECT vec_id,
       |          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
       |   FROM embeddings),
       | e AS (SELECT vec_id, k, qv[CAST(k AS INT)] AS qk
       |       FROM q, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS k) r),
       | bits AS (
       |   SELECT vec_id, i,
       |          CASE WHEN sum(qk * ((((2*i+1) * $AMul) % $P1 * k
       |                               + ((i+1) * $BMul) % $P1) % $P1
       |                              - $Center)) > 0
       |               THEN 1 ELSE 0 END AS bit
       |   FROM e, LATERAL (SELECT unnest(range(0, $nBits)) AS i) ii
       |   GROUP BY vec_id, i),
       | keys AS MATERIALIZED (
       |   SELECT vec_id, i // $LshBitsPerBand AS band,
       |          CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(i % $LshBitsPerBand AS INT))) AS BIGINT) AS bkey
       |   FROM bits GROUP BY vec_id, i // $LshBitsPerBand),
       | keptk AS MATERIALIZED (
       |   SELECT * FROM keys k
       |   WHERE NOT EXISTS (
       |     SELECT 1 FROM keys g
       |     WHERE g.band = k.band AND g.bkey = k.bkey
       |     GROUP BY g.band, g.bkey HAVING count(*) > $LshMaxBucket)),
       | base AS MATERIALIZED (
       |   SELECT vec_id, embedding::DOUBLE[] AS v,
       |          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |   FROM embeddings)""".stripMargin
  }

  private[graft] def signLshPairsCtes: String =
    s"""$signLshKeysCtes,
       | cand AS (
       |   SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |   FROM keptk a JOIN keptk b
       |     ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       | lsh_pairs AS (
       |   SELECT va, vb, list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |   FROM cand JOIN base a ON a.vec_id = va JOIN base b ON b.vec_id = vb
       |   WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)""".stripMargin

  /** Multi-probe sign-LSH top-k: each query probes its own key plus the
    * `bitsPerBand` Hamming-1 perturbations per band; candidates re-rank
    * by exact cosine. Same key chain as the pair oracle — the approx
    * path is fully deterministic, so the WHOLE retrieval is hashed. */
  private[graft] def lshMultiProbeOracle(nq: Int, k: Int): String = {
    import graft.ops.Similarity.LshBitsPerBand
    s"""WITH $signLshKeysCtes,
       | pk AS (
       |   SELECT vec_id, band,
       |          list_append(list_transform(range(0, $LshBitsPerBand),
       |            i -> xor(bkey, 1 << i)), bkey) AS pkeys
       |   FROM keys WHERE vec_id < $nq),
       | probes AS (
       |   SELECT vec_id AS q_id, band, pkey
       |   FROM pk, LATERAL (SELECT unnest(pkeys) AS pkey) pp),
       | mcand AS (
       |   SELECT DISTINCT p.q_id, c.vec_id
       |   FROM probes p JOIN keptk c
       |     ON c.band = p.band AND c.bkey = p.pkey
       |   WHERE c.vec_id <> p.q_id),
       | mscored AS (
       |   SELECT m.q_id, m.vec_id,
       |          list_dot_product(b.v, qb.v) / (b.nrm * qb.nrm) AS cosine
       |   FROM mcand m JOIN base b ON b.vec_id = m.vec_id
       |               JOIN base qb ON qb.vec_id = m.q_id)
       |SELECT q_id, rnk, vec_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |           ORDER BY cosine DESC, vec_id) AS rnk
       |  FROM mscored) WHERE rnk <= $k
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Single- vs multi-probe recall@k against the exact top-k, all three
    * sides deterministic — the probe-expansion payoff as an ORACLE'D
    * number, not a floored estimate. */
  private[graft] def lshProbeRecallOracle(nq: Int, k: Int): String = {
    import graft.ops.Similarity.LshBitsPerBand
    def topk(cand: String) =
      s"""SELECT q_id, vec_id FROM (
         |     SELECT s.q_id, s.vec_id, row_number() OVER (
         |              PARTITION BY s.q_id
         |              ORDER BY list_dot_product(b.v, qb.v) / (b.nrm * qb.nrm)
         |                DESC, s.vec_id) AS rnk
         |     FROM $cand s JOIN base b ON b.vec_id = s.vec_id
         |                 JOIN base qb ON qb.vec_id = s.q_id)
         |   WHERE rnk <= $k""".stripMargin
    s"""WITH $signLshKeysCtes,
       | ex AS (
       |   SELECT q_id, vec_id FROM (
       |     SELECT q.vec_id AS q_id, b.vec_id, row_number() OVER (
       |              PARTITION BY q.vec_id
       |              ORDER BY list_dot_product(b.v, q.v) / (b.nrm * q.nrm)
       |                DESC, b.vec_id) AS rnk
       |     FROM base b JOIN base q
       |       ON q.vec_id < $nq AND b.vec_id <> q.vec_id)
       |   WHERE rnk <= $k),
       | scand AS (
       |   SELECT DISTINCT a.vec_id AS q_id, c.vec_id
       |   FROM keptk a JOIN keptk c
       |     ON c.band = a.band AND c.bkey = a.bkey
       |   WHERE a.vec_id < $nq AND c.vec_id <> a.vec_id),
       | stop AS (
       |   ${topk("scand")}),
       | pk AS (
       |   SELECT vec_id, band,
       |          list_append(list_transform(range(0, $LshBitsPerBand),
       |            i -> xor(bkey, 1 << i)), bkey) AS pkeys
       |   FROM keys WHERE vec_id < $nq),
       | probes AS (
       |   SELECT vec_id AS q_id, band, pkey
       |   FROM pk, LATERAL (SELECT unnest(pkeys) AS pkey) pp),
       | mcand AS (
       |   SELECT DISTINCT p.q_id, c.vec_id
       |   FROM probes p JOIN keptk c
       |     ON c.band = p.band AND c.bkey = p.pkey
       |   WHERE c.vec_id <> p.q_id),
       | mtop AS (
       |   ${topk("mcand")}),
       | counts AS (
       |   SELECT (SELECT count(*) FROM ex) AS n_exact,
       |          (SELECT count(*) FROM ex e JOIN stop s
       |             ON s.q_id = e.q_id AND s.vec_id = e.vec_id) AS n_single,
       |          (SELECT count(*) FROM ex e JOIN mtop m
       |             ON m.q_id = e.q_id AND m.vec_id = e.vec_id) AS n_multi)
       |SELECT n_exact, n_single, n_multi,
       |       n_single * 10000 // n_exact AS recall_single_bp,
       |       n_multi * 10000 // n_exact AS recall_multi_bp
       |FROM counts""".stripMargin
  }

  private[graft] def signLshOracle: String =
    s"""WITH $signLshPairsCtes
       |SELECT va, vb, cosine FROM lsh_pairs ORDER BY va, vb""".stripMargin

  /** Recall report of the sign-LSH pairs vs the exact all-pairs answer —
    * both sides deterministic, so the counts (and floor-bp recall) are
    * exact. `base` comes from the shared sign-LSH CTE chain. */
  /** Anchored exact-pair CTEs (over an existing `base(vec_id, v, nrm)`
    * CTE): `keepbp` replicates [[graft.ops.Similarity.anchorKeepBp]]
    * (cap 100), `anc` the coefficient-29 portable-hash anchor draw,
    * `anchored` the normalized (va < vb) exact pairs with ≥ 1 anchor
    * endpoint at cosine ≥ 0.4 — the sampled gold set shared by
    * sim_neardup_cosine and ann_recall. */
  private[graft] def anchoredPairsCtes: String = {
    import Portable.{P1, aCoef, bCoef}
    s"""keepbp AS (
       |   SELECT LEAST(10000, 100 * 10000 // count(*) + 1) AS kb
       |   FROM embeddings),
       | anc AS MATERIALIZED (
       |   SELECT b.* FROM base b, keepbp
       |   WHERE ((b.vec_id % $P1) * ${aCoef(29)} + ${bCoef(29)})
       |         % $P1 % 10000 < kb),
       | anchored AS MATERIALIZED (
       |   SELECT DISTINCT least(c.vec_id, a.vec_id) AS va,
       |          greatest(c.vec_id, a.vec_id) AS vb,
       |          list_dot_product(c.v, a.v) / (c.nrm * a.nrm) AS cosine
       |   FROM base c JOIN anc a ON c.vec_id <> a.vec_id
       |   WHERE list_dot_product(c.v, a.v) / (c.nrm * a.nrm) >= 0.4)"""
      .stripMargin
  }

  private[graft] def annRecallOracle: String = {
    import Portable.{P1, aCoef, bCoef}
    s"""WITH $signLshPairsCtes,
       | $anchoredPairsCtes,
       | lshanc AS (
       |   SELECT l.va, l.vb FROM lsh_pairs l, keepbp
       |   WHERE ((l.va % $P1) * ${aCoef(29)} + ${bCoef(29)})
       |         % $P1 % 10000 < kb
       |      OR ((l.vb % $P1) * ${aCoef(29)} + ${bCoef(29)})
       |         % $P1 % 10000 < kb),
       | counts AS (
       |   SELECT (SELECT count(*) FROM anchored) AS n_exact,
       |          (SELECT count(*) FROM lshanc) AS n_lsh,
       |          (SELECT count(*) FROM anchored t JOIN lshanc l
       |             ON t.va = l.va AND t.vb = l.vb) AS n_captured)
       |SELECT n_exact, n_lsh, n_captured,
       |       CAST(floor(n_captured * 10000.0 / n_exact) AS BIGINT) AS recall_bp
       |FROM counts""".stripMargin
  }

  // ===== integer-Lloyd ANN oracles (round 10) ==========================
  // SQL twins of Similarity.fitOnSample/PqEncodeLong-encode/ivfParts/
  // pqTopK/ivfPqProbe: the PQ codebooks and the IVF coarse quantizer
  // are pinned integer-Lloyd fits, so the FULL approximate retrieval —
  // sample, seed, assign, floor-mean update, encode, ADC, shortlist,
  // exact re-rank — replays in DuckDB and the sim_pq_topk/
  // sim_ivfpq_topk/ann_index_probe/ann_recall_{pq,ivf,ivfpq} family is
  // hash-checked (rows-only through round 9 behind ml.KMeans floats).
  // Distances use the exact identity ‖q−c‖² = ‖q‖² − 2·q·c + ‖c‖² over
  // floor(x·1024) BIGINT quantization; every product stays far inside
  // both signed-64 and DOUBLE's 2^53 exact-integer range, so mixed
  // BIGINT/DOUBLE comparisons order identically in both engines.

  /** The coefficient-19 fit-sample predicate (Similarity.fitSample's
    * SQL twin; `kb` comes from the keepbp CTE). */
  private[graft] def fitKeepSql(idCol: String): String = {
    import Portable.{P1, aCoef, bCoef}
    s"(($idCol % $P1) * ${aCoef(19)} + ${bCoef(19)}) % $P1 % 10000 < kb"
  }

  /** Shared ANN-oracle base: `qn` (quantized corpus + ‖q‖²), `keepbp`
    * (fit-sample keep rate at `cap`), `base` (DOUBLE vectors + norms
    * for exact re-ranks and truth sets). */
  private[graft] def intAnnBaseCtes(cap: Int): String =
    s"""qn AS MATERIALIZED (
       |   SELECT vec_id, qv, list_dot_product(qv, qv) AS qq FROM (
       |     SELECT vec_id,
       |            list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
       |     FROM embeddings)),
       | keepbp AS (SELECT LEAST(10000, $cap * 10000 // count(*) + 1) AS kb
       |   FROM embeddings),
       | base AS MATERIALIZED (
       |   SELECT vec_id, embedding::DOUBLE[] AS v,
       |          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |   FROM embeddings)""".stripMargin

  /** Unrolled integer-Lloyd chain over a sampled subspace CTE `src`
    * (vec_id, s, ql, sqq) and its exploded elements `srcEl` (vec_id, s,
    * d, qk): seeds = the `cb` lowest sampled vec_ids (LIMIT semantics —
    * a smaller sample seeds fewer codewords, as in Scala), then
    * `rounds` assign/floor-mean-update rounds with empty codes keeping
    * their centroid. Final codebook CTE: `${p}c$rounds` (s, code, cl,
    * cc). The round CTEs are MATERIALIZED (multi-referenced aggregates
    * — the DuckDB CTE-inlining trap). */
  private[graft] def lloydCtes(p: String, src: String, srcEl: String, cb: Int,
      rounds: Int): String = {
    val roundsSql = (1 to rounds).map { r =>
      s"""${p}a$r AS MATERIALIZED (
         |   SELECT vec_id, s, code FROM (
         |     SELECT f.vec_id, f.s, c.code,
         |            row_number() OVER (PARTITION BY f.vec_id, f.s
         |              ORDER BY f.sqq - 2*list_dot_product(f.ql, c.cl) + c.cc,
         |                       c.code) AS rn
         |     FROM $src f JOIN ${p}c${r - 1} c ON c.s = f.s) WHERE rn = 1),
         | ${p}u$r AS (
         |   SELECT a.s, a.code, e.d,
         |          CAST((sum(e.qk) - ((sum(e.qk) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS c
         |   FROM ${p}a$r a JOIN $srcEl e
         |     ON e.vec_id = a.vec_id AND e.s = a.s
         |   GROUP BY 1, 2, 3),
         | ${p}ul$r AS (SELECT s, code, list(c ORDER BY d) AS cl
         |   FROM ${p}u$r GROUP BY 1, 2),
         | ${p}c$r AS MATERIALIZED (
         |   SELECT pv.s, pv.code, COALESCE(u.cl, pv.cl) AS cl,
         |          COALESCE(list_dot_product(u.cl, u.cl), pv.cc) AS cc
         |   FROM ${p}c${r - 1} pv LEFT JOIN ${p}ul$r u
         |     ON u.s = pv.s AND u.code = pv.code)""".stripMargin
    }.mkString(",\n ")
    s"""${p}seed AS (
       |   SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |   FROM (SELECT DISTINCT vec_id FROM $src) ORDER BY vec_id LIMIT $cb),
       | ${p}c0 AS MATERIALIZED (SELECT f.s, i.code, f.ql AS cl, f.sqq AS cc
       |   FROM ${p}seed i JOIN $src f ON f.vec_id = i.vec_id),
       | $roundsSql""".stripMargin
  }

  /** PQ chain: subspace split, sampled fit, codebooks, full-corpus
    * encode, and the nq-query integer ADC LUT. */
  private[graft] def pqChainCtes(m: Int, cb: Int, rounds: Int, subDim: Int,
      nq: Int): String =
    s"""sub AS MATERIALIZED (
       |   SELECT vec_id, s, ql, list_dot_product(ql, ql) AS sqq FROM (
       |     SELECT vec_id, s,
       |            qv[CAST(s*$subDim+1 AS INT):CAST(s*$subDim+$subDim AS INT)] AS ql
       |     FROM qn, LATERAL (SELECT unnest(range(0, $m)) AS s) r)),
       | fsub AS MATERIALIZED (SELECT f.* FROM sub f, keepbp
       |   WHERE ${fitKeepSql("f.vec_id")}),
       | fse AS MATERIALIZED (
       |   SELECT vec_id, s, d - 1 AS d, ql[CAST(d AS INT)] AS qk
       |   FROM fsub, LATERAL (SELECT unnest(range(1, $subDim + 1)) AS d) r),
       | ${lloydCtes("pq", "fsub", "fse", cb, rounds)},
       | enc AS MATERIALIZED (
       |   SELECT vec_id, s, code FROM (
       |     SELECT b.vec_id, b.s, c.code,
       |            row_number() OVER (PARTITION BY b.vec_id, b.s
       |              ORDER BY b.sqq - 2*list_dot_product(b.ql, c.cl) + c.cc,
       |                       c.code) AS rn
       |     FROM sub b JOIN pqc$rounds c ON c.s = b.s) WHERE rn = 1),
       | lut AS MATERIALIZED (
       |   SELECT q.vec_id AS q_id, c.s, c.code,
       |          CAST(list_dot_product(q.ql, c.cl) AS BIGINT) AS lv
       |   FROM sub q JOIN pqc$rounds c ON c.s = q.s
       |   WHERE q.vec_id < $nq)""".stripMargin

  /** IVF coarse chain: one-subspace Lloyd fit (the coarse quantizer IS
    * a m=1 codebook), full-corpus list assignment, nProbe probe ranking
    * for the nq queries — exact integer L2, ties cluster asc. */
  private[graft] def ivfChainCtes(nc: Int, rounds: Int, np: Int,
      nq: Int): String =
    s"""fq AS MATERIALIZED (
       |   SELECT vec_id, 0 AS s, qv AS ql, qq AS sqq FROM qn, keepbp
       |   WHERE ${fitKeepSql("vec_id")}),
       | fqe AS MATERIALIZED (
       |   SELECT vec_id, s, d - 1 AS d, ql[CAST(d AS INT)] AS qk
       |   FROM fq, LATERAL (SELECT unnest(range(1, len(ql) + 1)) AS d) r),
       | ${lloydCtes("kk", "fq", "fqe", nc, rounds)},
       | lists AS MATERIALIZED (
       |   SELECT vec_id, cluster FROM (
       |     SELECT b.vec_id, c.code AS cluster,
       |            row_number() OVER (PARTITION BY b.vec_id
       |              ORDER BY b.qq - 2*list_dot_product(b.qv, c.cl) + c.cc,
       |                       c.code) AS rn
       |     FROM qn b JOIN kkc$rounds c ON true) WHERE rn = 1),
       | probes AS MATERIALIZED (
       |   SELECT q_id, cluster FROM (
       |     SELECT q.vec_id AS q_id, c.code AS cluster,
       |            row_number() OVER (PARTITION BY q.vec_id
       |              ORDER BY q.qq - 2*list_dot_product(q.qv, c.cl) + c.cc,
       |                       c.code) AS rn
       |     FROM qn q JOIN kkc$rounds c ON true
       |     WHERE q.vec_id < $nq) WHERE rn <= $np)""".stripMargin

  /** ADC shortlist + exact re-rank tail → `got` (q_id, rnk, vec_id,
    * cosine). `adcSrc` must provide (q_id, vec_id, adc). */
  private[graft] def adcTailCtes(adcSrc: String, sl: Int, k: Int): String =
    s"""short AS (SELECT q_id, vec_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY adc DESC, vec_id) AS rn
       |   FROM $adcSrc) WHERE rn <= $sl),
       | rer AS (SELECT s.q_id, s.vec_id,
       |          list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS cosine
       |   FROM short s JOIN base b ON b.vec_id = s.vec_id
       |   JOIN base q ON q.vec_id = s.q_id),
       | got AS (SELECT q_id, rnk, vec_id, cosine FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cosine DESC, vec_id) AS rnk
       |   FROM rer) WHERE rnk <= $k)""".stripMargin

  /** Exact brute truth + the annRecallReport twin over `got`. */
  private[graft] def recallReportTail(nq: Int, k: Int): String =
    s"""truth AS (SELECT q_id, vec_id FROM (
       |   SELECT q.vec_id AS q_id, b.vec_id,
       |          row_number() OVER (PARTITION BY q.vec_id
       |            ORDER BY list_dot_product(b.v, q.v)/(b.nrm*q.nrm) DESC,
       |                     b.vec_id) AS rnk
       |   FROM base b JOIN base q
       |     ON q.vec_id < $nq AND b.vec_id <> q.vec_id) WHERE rnk <= $k),
       | counts AS (
       |   SELECT (SELECT count(*) FROM truth) AS n_exact,
       |          (SELECT count(*) FROM got g JOIN truth t
       |             ON t.q_id = g.q_id AND t.vec_id = g.vec_id) AS n_captured)
       |SELECT n_exact, n_captured,
       |       CAST(floor(n_captured * 10000.0 / n_exact) AS BIGINT) AS recall_bp
       |FROM counts""".stripMargin

  /** Flat-PQ ADC over the whole code table (sim_pq_topk's shape). */
  private[graft] def pqAdcCte: String =
    s"""adc AS (SELECT l.q_id, n.vec_id, sum(l.lv) AS adc
       |   FROM enc n JOIN lut l ON l.s = n.s AND l.code = n.code
       |   WHERE n.vec_id <> l.q_id GROUP BY 1, 2)""".stripMargin

  /** List-bounded IVFADC ADC (codes of probed lists only). */
  private[graft] def ivfPqAdcCte: String =
    s"""adc AS (SELECT p.q_id, n.vec_id, sum(l.lv) AS adc
       |   FROM lists li JOIN probes p ON p.cluster = li.cluster
       |   JOIN enc n ON n.vec_id = li.vec_id
       |   JOIN lut l ON l.q_id = p.q_id AND l.s = n.s AND l.code = n.code
       |   WHERE n.vec_id <> p.q_id GROUP BY 1, 2)""".stripMargin

  /** sim_pq_topk: flat PQ at m=8/cb=256/sl=64, sampled fit (cap
    * 1000). */
  private[graft] def pqTopKOracle: String =
    s"""WITH ${intAnnBaseCtes(1000)},
       | ${pqChainCtes(8, 256, 2, 8, 20)},
       | $pqAdcCte,
       | ${adcTailCtes("adc", 64, 5)}
       |SELECT q_id, rnk, vec_id, cosine FROM got
       |ORDER BY q_id, rnk""".stripMargin

  private[graft] def pqRecallOracle: String =
    s"""WITH ${intAnnBaseCtes(1000)},
       | ${pqChainCtes(8, 256, 2, 8, 20)},
       | $pqAdcCte,
       | ${adcTailCtes("adc", 64, 5)},
       | ${recallReportTail(20, 5)}""".stripMargin

  /** ann_index_probe: the persisted-IVF probe (default build: cap
    * 100000 — no bite at the oracle corpus — nc=16, np=4). */
  private[graft] def ivfProbeOracle: String =
    s"""WITH ${intAnnBaseCtes(100000)},
       | ${ivfChainCtes(16, 2, 4, 20)},
       | cand AS (SELECT p.q_id, l.vec_id
       |   FROM lists l JOIN probes p ON p.cluster = l.cluster
       |   WHERE l.vec_id <> p.q_id),
       | rer AS (SELECT c.q_id, c.vec_id,
       |          list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS cosine
       |   FROM cand c JOIN base b ON b.vec_id = c.vec_id
       |   JOIN base q ON q.vec_id = c.q_id),
       | got AS (SELECT q_id, rnk, vec_id, cosine FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cosine DESC, vec_id) AS rnk
       |   FROM rer) WHERE rnk <= 5)
       |SELECT q_id, rnk, vec_id, cosine FROM got
       |ORDER BY q_id, rnk""".stripMargin

  /** ann_recall_ivf: inline IVF at the BITING cap 1000, np=4. */
  private[graft] def ivfRecallOracle: String =
    s"""WITH ${intAnnBaseCtes(1000)},
       | ${ivfChainCtes(16, 2, 4, 20)},
       | cand AS (SELECT p.q_id, l.vec_id
       |   FROM lists l JOIN probes p ON p.cluster = l.cluster
       |   WHERE l.vec_id <> p.q_id),
       | rer AS (SELECT c.q_id, c.vec_id,
       |          list_dot_product(b.v, q.v) / (b.nrm * q.nrm) AS cosine
       |   FROM cand c JOIN base b ON b.vec_id = c.vec_id
       |   JOIN base q ON q.vec_id = c.q_id),
       | got AS (SELECT q_id, vec_id FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY cosine DESC, vec_id) AS rnk
       |   FROM rer) WHERE rnk <= 5),
       | ${recallReportTail(20, 5)}""".stripMargin

  /** sim_ivfpq_topk / ann_recall_ivfpq: the composed IVFADC path (both
    * fits at cap 1000; np/sl from the env-overridable knobs so the ×10
    * retune stays a config change). */
  private[graft] def ivfPqTopKOracle(np: Int, sl: Int): String =
    s"""WITH ${intAnnBaseCtes(1000)},
       | ${ivfChainCtes(16, 2, np, 20)},
       | ${pqChainCtes(8, 256, 2, 8, 20)},
       | $ivfPqAdcCte,
       | ${adcTailCtes("adc", sl, 5)}
       |SELECT q_id, rnk, vec_id, cosine FROM got
       |ORDER BY q_id, rnk""".stripMargin

  private[graft] def ivfPqRecallOracle(np: Int, sl: Int): String =
    s"""WITH ${intAnnBaseCtes(1000)},
       | ${ivfChainCtes(16, 2, np, 20)},
       | ${pqChainCtes(8, 256, 2, 8, 20)},
       | $ivfPqAdcCte,
       | ${adcTailCtes("adc", sl, 5)},
       | ${recallReportTail(20, 5)}""".stripMargin

  /** The sign-LSH pair set resolved to connected components — the same
    * recursive-CTE construction as dedup_clusters, over embedding edges. */
  private[graft] def embeddingClustersOracle: String =
    s"""WITH RECURSIVE $signLshPairsCtes,
       | sym AS (SELECT va AS src, vb AS dst FROM lsh_pairs
       |         UNION ALL SELECT vb, va FROM lsh_pairs),
       | reach AS (
       |   SELECT src AS a, src AS b FROM sym
       |   UNION
       |   SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
       |SELECT a AS doc_id, min(b) AS cluster_id
       |FROM reach GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** CTE chain for the FORCED-ROUTE two-level IVF near-dup — the DuckDB
    * twin of [[graft.ops.Similarity.ivfNearDup]] exactly as
    * `sim_ivf_neardup` runs it (lshNearDup with corpusN =
    * [[graft.ops.Similarity.RoutedOracleCorpusN]], which the collision
    * law refuses → IVF route, nCentroids = 781 > TwoLevelFlatMax → the
    * [[graft.functions.IvfAssignTopN]] TWO-LEVEL kernel). Replays, in
    * order: floor(x·1024) quantization (the shared `q` CTE), the
    * coefficient-19 fit sample (no bite below cap), the 2-round integer
    * Lloyd coarse fit ([[lloydCtes]] — LIMIT semantics seed fewer codes
    * than asked on a small corpus, exactly as Scala), the DRIVER-SIDE
    * centroid grouping (groupCentroids' second Lloyd over the centroid
    * table: G = ceil(√C) groups, seeds = the G lowest codes, 2 rounds
    * of strict-(dist, group)-argmin + per-dim floor-mean with empty
    * groups keeping their center, final membership against the final
    * centers), the per-vector two-level probe (top-gProbe groups by
    * (‖g‖² − 2·q·g, gid), then top-nProbe member centroids of the kept
    * groups by (‖c‖² − 2·q·c, code) — the kernel's exact tie-break
    * order), in-list sign-LSH banding over the shared `keys` CTE with
    * the (cluster, band, bkey) hot-bucket cap, pair expansion, and the
    * exact cosine re-score at τ. Ends in `routed_pairs(va, vb,
    * cosine)`. All selection arithmetic is exact-integer-valued, so the
    * branch that actually runs at 10⁵⁺ vectors is hash-checked
    * end-to-end (VERDICT r13 item 2). */
  private[graft] def routedNearDupCtes: String = {
    import graft.ops.Similarity.{DefaultFitSampleCap, LshMaxBucket,
      MaxClusters, RoutedOracleCorpusN}
    val nc = math.min(MaxClusters.toLong,
      math.max(16L, RoutedOracleCorpusN / 256L)).toInt // ivfNearDup's derivation
    val gRounds = 2
    val groupRoundsSql = (1 to gRounds).map { r =>
      s"""rga$r AS MATERIALIZED (
         |   SELECT code, gid FROM (
         |     SELECT c.code, g.gid, row_number() OVER (PARTITION BY c.code
         |       ORDER BY c.cc - 2*list_dot_product(c.cl, g.gl)
         |                + list_dot_product(g.gl, g.gl), g.gid) AS rn
         |     FROM rvc2 c JOIN rgc${r - 1} g ON true) WHERE rn = 1),
         | rgu$r AS (
         |   SELECT a.gid, e.d,
         |          CAST((sum(e.ck) - ((sum(e.ck) % count(*)) + count(*)) % count(*)) // count(*) AS BIGINT) AS c
         |   FROM rga$r a JOIN rce e ON e.code = a.code GROUP BY 1, 2),
         | rgul$r AS (SELECT gid, list(c ORDER BY d) AS gl
         |   FROM rgu$r GROUP BY 1),
         | rgc$r AS MATERIALIZED (
         |   SELECT pv.gid, COALESCE(u.gl, pv.gl) AS gl
         |   FROM rgc${r - 1} pv LEFT JOIN rgul$r u ON u.gid = pv.gid)"""
        .stripMargin
    }.mkString(",\n ")
    s"""$signLshKeysCtes,
       | rfit AS (SELECT LEAST(10000, $DefaultFitSampleCap * 10000 // count(*) + 1) AS kb
       |   FROM embeddings),
       | rfq AS MATERIALIZED (
       |   SELECT vec_id, 0 AS s, qv AS ql, list_dot_product(qv, qv) AS sqq
       |   FROM q, rfit WHERE ${fitKeepSql("vec_id")}),
       | rfe AS MATERIALIZED (
       |   SELECT vec_id, s, d - 1 AS d, ql[CAST(d AS INT)] AS qk
       |   FROM rfq, LATERAL (SELECT unnest(range(1, len(ql) + 1)) AS d) r),
       | ${lloydCtes("rv", "rfq", "rfe", nc, 2)},
       | rce AS MATERIALIZED (
       |   SELECT code, d - 1 AS d, cl[CAST(d AS INT)] AS ck
       |   FROM rvc2, LATERAL (SELECT unnest(range(1, len(cl) + 1)) AS d) r),
       | rgn AS (SELECT GREATEST(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS g
       |   FROM rvc2),
       | rgc0 AS MATERIALIZED (
       |   SELECT code AS gid, cl AS gl FROM rvc2, rgn WHERE code < g),
       | $groupRoundsSql,
       | rgm AS MATERIALIZED (
       |   SELECT code, gid FROM (
       |     SELECT c.code, g.gid, row_number() OVER (PARTITION BY c.code
       |       ORDER BY c.cc - 2*list_dot_product(c.cl, g.gl)
       |                + list_dot_product(g.gl, g.gl), g.gid) AS rn
       |     FROM rvc2 c JOIN rgc$gRounds g ON true) WHERE rn = 1),
       | rgg AS MATERIALIZED (
       |   SELECT gid, gl, list_dot_product(gl, gl) AS gcc FROM rgc$gRounds),
       | rvp AS MATERIALIZED (
       |   SELECT vec_id, gid FROM (
       |     SELECT v.vec_id, g.gid, row_number() OVER (PARTITION BY v.vec_id
       |       ORDER BY g.gcc - 2*list_dot_product(v.qv, g.gl), g.gid) AS rn
       |     FROM q v JOIN rgg g ON true) WHERE rn <= 4),
       | rva AS MATERIALIZED (
       |   SELECT vec_id, cluster FROM (
       |     SELECT p.vec_id, c.code AS cluster,
       |            row_number() OVER (PARTITION BY p.vec_id
       |              ORDER BY c.cc - 2*list_dot_product(v.qv, c.cl), c.code) AS rn
       |     FROM rvp p JOIN q v ON v.vec_id = p.vec_id
       |       JOIN rgm m ON m.gid = p.gid JOIN rvc2 c ON c.code = m.code)
       |   WHERE rn <= 2),
       | rkeys AS MATERIALIZED (
       |   SELECT a.vec_id, a.cluster, k.band, k.bkey
       |   FROM rva a JOIN keys k ON k.vec_id = a.vec_id),
       | rkept AS MATERIALIZED (
       |   SELECT * FROM rkeys k WHERE NOT EXISTS (
       |     SELECT 1 FROM rkeys g
       |     WHERE g.cluster = k.cluster AND g.band = k.band AND g.bkey = k.bkey
       |     GROUP BY g.cluster, g.band, g.bkey
       |     HAVING count(*) > $LshMaxBucket)),
       | rcand AS (
       |   SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |   FROM rkept a JOIN rkept b
       |     ON a.cluster = b.cluster AND a.band = b.band
       |        AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       | routed_pairs AS MATERIALIZED (
       |   SELECT va, vb,
       |          list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |   FROM rcand JOIN base a ON a.vec_id = va JOIN base b ON b.vec_id = vb
       |   WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)"""
      .stripMargin
  }

  private[graft] def routedNearDupOracle: String =
    s"""WITH $routedNearDupCtes
       |SELECT va, vb, cosine FROM routed_pairs ORDER BY va, vb""".stripMargin

  /** Recall of the routed two-level pairs vs the anchored exact gold
    * set — the ann_recall pattern on the ROUTED config (the armed floor
    * lives in the Spark plan; the oracle hashes the exact counts). */
  private[graft] def routedRecallOracle: String = {
    import Portable.{P1, aCoef, bCoef}
    s"""WITH $routedNearDupCtes,
       | $anchoredPairsCtes,
       | ranc AS (
       |   SELECT r.va, r.vb FROM routed_pairs r, keepbp
       |   WHERE ((r.va % $P1) * ${aCoef(29)} + ${bCoef(29)})
       |         % $P1 % 10000 < kb
       |      OR ((r.vb % $P1) * ${aCoef(29)} + ${bCoef(29)})
       |         % $P1 % 10000 < kb),
       | counts AS (
       |   SELECT (SELECT count(*) FROM anchored) AS n_exact,
       |          (SELECT count(*) FROM ranc) AS n_routed,
       |          (SELECT count(*) FROM anchored t JOIN ranc l
       |             ON t.va = l.va AND t.vb = l.vb) AS n_captured)
       |SELECT n_exact, n_routed, n_captured,
       |       CAST(floor(n_captured * 10000.0 / n_exact) AS BIGINT) AS recall_bp
       |FROM counts""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
}
