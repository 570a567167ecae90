package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Portable, PortableKernels}
import graft.ops.{Dedup, Events, Features, Multimodal, Profiler, Relational, Similarity, Sketches, TextAnalysis}

/** Generated DuckDB-oracle SQL helpers (part 1) — mechanical split of
  * the SparkEntry registry (round 12; no behavior change). */
trait SparkEntryOracleHelpers1 extends SparkEntryHelpers {

  // ---- Portable-hash oracle SQL (generated from the SAME constants the
  // codegen kernels use — graft.functions.Portable — so Spark and DuckDB
  // compute bit-identical MinHash signatures and SimHash bits). ----

  /** Two-prime rolling hash of a string SQL expression: the DuckDB twin of
    * [[graft.functions.PortableKernels.wordShinglePolyHashes]]'s per-
    * shingle hash (h1 % P1) * P2 + (h2 % P2). ASCII corpus assumption is
    * documented on Portable. */
  private[graft] def polySql(s: String): String =
    s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split_regex($s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, x) -> (a * ${Portable.B1} + x) % ${Portable.P1}) * ${Portable.P2}
       |  + list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split_regex($s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |    (a, x) -> (a * ${Portable.B2} + x) % ${Portable.P2}))""".stripMargin

  /** Two-fold vector fingerprint of a float-array SQL expression: the
    * DuckDB twin of [[graft.ops.Similarity.vecFingerprint]] — h1 on
    * (B1, P1), h2 on (B2, P2) over the ⌊x·1024⌋ BIGINT quantization,
    * combined h1·P2 + h2. Each quantum is pmod-mapped into [0, p) before
    * the fold (floor of a negative coordinate is negative); the fold
    * accumulator then stays non-negative, so plain `%` matches Spark's
    * pmod step exactly. */
  private[graft] def vecFpSql(vec: String): String = {
    def fold(b: Long, p: Long): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform($vec, x ->
         |      ((CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) % $p) + $p) % $p)),
         |    (a, q) -> (a * $b + q) % $p)""".stripMargin
    s"""(${fold(Portable.B1, Portable.P1)} * ${Portable.P2}
       |  + ${fold(Portable.B2, Portable.P2)})""".stripMargin
  }

  /** `m0..m31` MinHash signature aggregates over shingle hashes `hh`:
    * the DuckDB twin of [[graft.ops.Dedup.minhashSignatures]]. */
  private def sigAggs: String = {
    import Portable._
    (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i").mkString(",\n           ")
  }

  /** (doc_id, band_idx, band_hash) rows of signature table `sig`: the
    * portable band-key fold of Dedup's bandKeysRaw, one SELECT per band. */
  private def bandSelects(sig: String): String = {
    import Portable._
    (0 until graft.ops.Dedup.MinhashBands).map { b =>
      val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
        s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
      }
      s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM $sig"
    }.mkString("\n           UNION ALL ")
  }

  /** Signature components on which aliases `sa` and `sb` agree. */
  private def sigMatches: String = (0 until graft.ops.Dedup.MinhashK)
    .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** The shingle prologue of every MinHash twin: `tok` (the words of
    * `base`), `shs` (their word 3-grams) and `h` (distinct (doc_id, hh)
    * poly hashes, MATERIALIZED when `materialize`). Starts at `tok AS`
    * and ends without a comma. */
  private def shingleCtes(base: String, materialize: Boolean = false): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM $base),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS ${if (materialize) "MATERIALIZED " else ""}(SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs)""".stripMargin

  /** CTE chain ending in `mh_pairs(da, db, sig_matches)`: the all-pairs
    * MinHash-LSH chain with corpus-wide caps, shared by the twins of
    * `dedup_minhash_lsh`, `dedup_pipeline`, `dedup_recall`,
    * `pipeline_pretrain_report`, `split_leakage_safe` and
    * `dedup_cap_stats`. */
  private[graft] def minhashLshCtes(base: String = "documents"): String =
    s"""${shingleCtes(base)},
       |  kept AS (SELECT doc_id, hh FROM h
       |           WHERE hh IN (SELECT hh FROM h GROUP BY hh HAVING count(*) <= 100)),
       |  sig AS (SELECT doc_id,
       |           $sigAggs
       |          FROM kept GROUP BY doc_id),
       |  banded AS (${bandSelects("sig")}),
       |  keptb AS (SELECT * FROM banded b
       |            WHERE NOT EXISTS (
       |              SELECT 1 FROM banded g
       |              WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash
       |              GROUP BY g.band_idx, g.band_hash HAVING count(*) > 50)),
       |  cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |           FROM keptb a JOIN keptb b
       |             ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |            AND a.doc_id < b.doc_id),
       |  mh_pairs AS (
       |    SELECT da, db, CAST($sigMatches AS BIGINT) AS sig_matches
       |    FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db
       |    WHERE $sigMatches >= 16)""".stripMargin

  private[graft] def minhashLshOracle: String =
    s"""WITH ${minhashLshCtes()}
       |SELECT da, db, sig_matches FROM mh_pairs ORDER BY da, db""".stripMargin

  // ---- The ingest-gate twins: one signature chain, one best-match
  // probe and one verdict ladder, from which every gate twin is
  // assembled (written independently of Dedup's Spark gate). Shared
  // CTEs are MATERIALIZED: DuckDB 1.0 inlines a plain CTE at each
  // reference, re-running the whole signature chain per use. ----

  /** A cap-scoped signature chain over `h`, each name suffixed `sfx`:
    * `hot` (shingles of more than 100 `scope` docs), `kept` (h without
    * them), `sig` (signatures), `bandall` (band keys), `hotbk` (buckets
    * of more than 50 `scope` docs) and `kb` (bandall without them).
    * `scope` is the doc set whose statistics set the caps: the docs an
    * index holds, or TRUE for the inline gate. */
  private def sigChainCtes(scope: String, sfx: String = ""): String =
    s"""hot$sfx AS (SELECT hh FROM h WHERE $scope
       |          GROUP BY hh HAVING count(*) > 100),
       |  kept$sfx AS (SELECT doc_id, hh FROM h
       |           WHERE hh NOT IN (SELECT hh FROM hot$sfx)),
       |  sig$sfx AS MATERIALIZED (SELECT doc_id, $sigAggs FROM kept$sfx GROUP BY doc_id),
       |  bandall$sfx AS MATERIALIZED (${bandSelects(s"sig$sfx")}),
       |  hotbk$sfx AS (SELECT band_idx, band_hash FROM bandall$sfx
       |            WHERE $scope
       |            GROUP BY 1, 2 HAVING count(*) > 50),
       |  kb$sfx AS MATERIALIZED (SELECT * FROM bandall$sfx b WHERE NOT EXISTS (
       |           SELECT 1 FROM hotbk$sfx g
       |           WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash))""".stripMargin

  /** One best-match probe, each name suffixed `t`: `nc` (pairs of a
    * batch doc `bid` and a candidate `cid` sharing a bucket of `kb`,
    * restricted by `pair` over their rows `bb` and `cb`), `sc` (those
    * with at least 16 of 32 components agreeing in `sig`) and `best`
    * (each bid's most-agreeing cid, the smallest on ties). */
  private def bestMatchCtes(t: String, kb: String, sig: String,
      pair: String): String =
    s"""nc$t AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM $kb bb JOIN $kb cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE $pair),
       |  sc$t AS (SELECT bid, cid, CAST($sigMatches AS BIGINT) AS sm
       |          FROM nc$t JOIN $sig sa ON sa.doc_id = bid
       |                   JOIN $sig sb ON sb.doc_id = cid
       |          WHERE $sigMatches >= 16),
       |  best$t AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM sc$t) WHERE rn = 1)""".stripMargin

  /** The verdict ladder over the rows `b` of `bat` ($id, fp): the
    * fingerprint is in `dict` (fp, exact_id) > a smaller batch id has
    * the same fingerprint > each near tier (verdict literal, best-match
    * CTE of (bid, cid)) in order > 'new'. match_id is the id that
    * decided, NULL for 'new'. */
  private def verdictSql(id: String, bat: String, dict: String,
      near: Seq[(String, String)]): String = {
    val tiers = Seq(("'exact_dup'", "e.exact_id IS NOT NULL", "e.exact_id"),
        ("'batch_dup'", s"b.$id <> k.batch_keep_id", "k.batch_keep_id")) ++
      near.indices.map(i => (near(i)._1, s"n$i.cid IS NOT NULL", s"n$i.cid"))
    def ladder(out: ((String, String, String)) => String, otherwise: String) =
      tiers.map(t => s"WHEN ${t._2} THEN ${out(t)}")
        .mkString("CASE ", "\n       ", s"\n       ELSE $otherwise END")
    val nearJoins = near.zipWithIndex.map { case ((_, best), i) =>
      s"\n  LEFT JOIN $best n$i ON n$i.bid = b.$id" }
    s"""SELECT b.$id AS $id,
       |  ${ladder(_._1, "'new'")} AS verdict,
       |  ${ladder(_._3, "NULL")} AS match_id
       |  FROM $bat b LEFT JOIN $dict e ON e.fp = b.fp
       |  JOIN (SELECT fp, min($id) AS batch_keep_id FROM $bat GROUP BY 1) k
       |    ON k.fp = b.fp""".stripMargin + nearJoins.mkString
  }

  /** An N-cycle gate over `fps ($id, fp)` whose corpus is the even ids:
    * `cfp0` is the corpus dictionary, and cycle j gates the ids
    * ≡ 2j+1 mod 2N (`bat$j`) against `dict$j` (cfp0 ∪ the admissions of
    * earlier cycles) and the near tiers `probe(j)` returns with their
    * CTEs. `v$j` holds cycle j's verdicts, `adm$j` the ids it admits.
    * Starts at `cfp0 AS` and ends without a comma. */
  private def gateCycleCtes(nCycles: Int, id: String, fps: String,
      probe: Int => (Seq[String], Seq[(String, String)])): String = {
    val cycles = (0 until nCycles).map { j =>
      val (probeCtes, near) = probe(j)
      val admitted = (0 until j).map(k =>
        s""" UNION ALL
           |           SELECT fp, min($id) AS exact_id FROM bat$k
           |           WHERE $id IN (SELECT $id FROM adm$k) GROUP BY fp""".stripMargin)
      (Seq(s"""bat$j AS MATERIALIZED (SELECT $id, fp FROM $fps
              |           WHERE $id % ${2 * nCycles} = ${2 * j + 1})""".stripMargin,
          s"dict$j AS (SELECT fp, exact_id FROM cfp0${admitted.mkString})") ++
        probeCtes ++
        Seq(s"v$j AS MATERIALIZED (${verdictSql(id, s"bat$j", s"dict$j", near)})",
          s"adm$j AS MATERIALIZED (SELECT $id FROM v$j WHERE verdict = 'new')"))
        .mkString(",\n  ")
    }
    (s"""cfp0 AS MATERIALIZED (SELECT fp, min($id) AS exact_id FROM $fps
        |           WHERE $id % 2 = 0 GROUP BY 1)""".stripMargin +: cycles)
      .mkString(",\n  ")
  }

  /** Batch rows of cycle j (doc_id ≡ 2j+1 mod 2N) against the corpus:
    * the even ids and the admissions of earlier cycles. */
  private def corpusPair(j: Int, nCycles: Int): String =
    s"bb.doc_id % ${2 * nCycles} = ${2 * j + 1} AND (cb.doc_id % 2 = 0" +
      (0 until j).map(k => s" OR cb.doc_id IN (SELECT doc_id FROM adm$k)").mkString + ")"

  /** The sig-index lifecycle as an N-cycle gate: caps pinned over the
    * even (indexed) half, as Dedup.buildSigIndex pins them, and each
    * cycle probing the corpus its index holds by then — the build, the
    * probes and the appends of Dedup.{build,probe,appendTo}SigIndex. */
  private def sigIndexGateCtes(nCycles: Int): String =
    s"""${shingleCtes("documents", materialize = true)},
       |  ${sigChainCtes("doc_id % 2 = 0")},
       |  fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |  ${gateCycleCtes(nCycles, "doc_id", "fps", j =>
              (Seq(bestMatchCtes(s"$j", "kb", "sig", corpusPair(j, nCycles))),
                Seq("'near_dup'" -> s"best$j")))}""".stripMargin

  /** The cycles' verdicts stacked, each tagged with its admit_cycle. */
  private def cycleUnion(nCycles: Int, id: String): String =
    (0 until nCycles).map(j =>
      s"SELECT $id, verdict, match_id, CAST($j AS BIGINT) AS admit_cycle FROM v$j")
      .mkString("\n         UNION ALL ")

  /** Ingest-gate verdicts (Dedup.ingestGate): caps scoped over all
    * documents (corpus ∪ batch, planted pair included), batch = odd ids,
    * and a second near tier, `batch_near_dup`, probing earlier batch
    * docs. */
  private[graft] def ingestGateOracle: String = {
    val batchPair = "bb.doc_id % 2 = 1 AND cb.doc_id % 2 = 1 AND cb.doc_id < bb.doc_id"
    s"""WITH docs_p AS (
       |   SELECT doc_id, text FROM documents
       |   UNION ALL SELECT $PlantedNearDupIdA, '$PlantedNearDupTextA'
       |   UNION ALL SELECT $PlantedNearDupIdB, '$PlantedNearDupTextB'),
       |  ${shingleCtes("docs_p", materialize = true)},
       |  ${sigChainCtes("TRUE")},
       |  fps AS (SELECT doc_id, md5(text) AS fp FROM docs_p),
       |  ${gateCycleCtes(1, "doc_id", "fps", _ =>
              (Seq(bestMatchCtes("c", "kb", "sig", corpusPair(0, 1)),
                  bestMatchCtes("b", "kb", "sig", batchPair)),
                Seq("'near_dup'" -> "bestc", "'batch_near_dup'" -> "bestb")))}
       |SELECT doc_id, verdict, match_id FROM v0 ORDER BY doc_id""".stripMargin
  }

  /** `dedup_sig_index_probe`: one cycle, the odd half against the index
    * built on the even half. */
  private[graft] def sigIndexProbeOracle: String =
    s"""WITH ${sigIndexGateCtes(1)}
       |SELECT doc_id, verdict, match_id FROM v0 ORDER BY doc_id""".stripMargin

  /** `dedup_sig_index_append`: cycle 1 of two — batch 2 (doc_id ≡ 3
    * mod 4) against the even half plus batch 1's admissions, caps still
    * pinned at build time. */
  private[graft] def sigIndexAppendOracle: String =
    s"""WITH ${sigIndexGateCtes(2)}
       |SELECT doc_id, verdict, match_id FROM v1 ORDER BY doc_id""".stripMargin

  /** `dedup_sig_index_rebuild`: batch 2's build-pinned verdicts (the
    * append twin's `v1`) beside the verdicts of a second chain whose
    * caps are re-scoped over the grown corpus (even ∪ `adm0`), as
    * Dedup.buildSigIndex computes them when rerun on it. The
    * verdict_parity column is the cap-drift measurement. */
  private[graft] def sigIndexRebuildOracle: String =
    s"""WITH ${sigIndexGateCtes(2)},
       |  ${sigChainCtes("(doc_id % 2 = 0 OR doc_id IN (SELECT doc_id FROM adm0))", "r")},
       |  ${bestMatchCtes("r", "kbr", "sigr", corpusPair(1, 2))},
       |  vr AS (${verdictSql("doc_id", "bat1", "dict1", Seq("'near_dup'" -> "bestr"))})
       |SELECT r.doc_id AS doc_id,
       |  r.verdict AS verdict_rebuilt, r.match_id AS match_rebuilt,
       |  a.verdict AS verdict_appended, a.match_id AS match_appended,
       |  CAST(CASE WHEN r.verdict = a.verdict THEN 1 ELSE 0 END AS BIGINT)
       |    AS verdict_parity
       |FROM vr r JOIN v1 a ON a.doc_id = r.doc_id
       |ORDER BY doc_id""".stripMargin

  /** `stream_ingest_gate_parity`: every cycle of the N-cycle sig-index
    * gate, with admit_cycle = (doc_id % 2N) div 2 pinning the
    * micro-batch order itself under the hash check. */
  private[graft] def streamGateOracle(nCycles: Int): String =
    s"""WITH ${sigIndexGateCtes(nCycles)}
       |SELECT * FROM (${cycleUnion(nCycles, "doc_id")})
       |ORDER BY doc_id""".stripMargin

  /** N-cycle replay of [[graft.streaming.EventStream.embedGateParityRun]]
    * on the [[vecFpSql]] fingerprint basis: the same planted-duplicate
    * union as the registered query (ids 0→10000003, 1→10000007,
    * 3→10000005 — residues mod 2N pin each plant's cycle), corpus = even
    * ids, cycle j probes corpus ∪ admissions of cycles < j. Exact-only
    * verdicts (no near-dup tier — fingerprint identity is the gate). */
  private[graft] def embedGateOracle(nCycles: Int): String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL
       |           SELECT CASE vec_id WHEN 0 THEN 10000003
       |                              WHEN 1 THEN 10000007
       |                              ELSE 10000005 END AS vec_id, embedding
       |           FROM embeddings WHERE vec_id IN (0, 1, 3)),
       |  f AS MATERIALIZED (SELECT vec_id, ${vecFpSql("embedding")} AS fp FROM base),
       |  ${gateCycleCtes(nCycles, "vec_id", "f", _ => (Nil, Nil))}
       |SELECT vec_id, verdict, match_id, admit_cycle
       |FROM (${cycleUnion(nCycles, "vec_id")})
       |ORDER BY vec_id""".stripMargin

  /** The co-purchase twins' CTE prologue, written independently of the
    * Spark builders it checks: `li` (each order's distinct parts),
    * `capped` (its CopurchaseMaxBasket lowest part ids, the row_number
    * form of slice(array_sort(collect_set))) and, with `pairs`, the
    * min-support-2 edge list `pairs (da < db)`. Starts at `li AS` and
    * ends without a comma; `indent` adds that many spaces to every
    * continuation line, for SQL that is not stripMargin'd. */
  private[graft] def copurchaseCtes(pairs: Boolean, indent: Int = 0): String = {
    val ctes =
      s"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         | capped AS (SELECT l_orderkey, l_partkey FROM (
         |     SELECT l_orderkey, l_partkey,
         |            row_number() OVER (PARTITION BY l_orderkey
         |                               ORDER BY l_partkey) AS rn
         |     FROM li) WHERE rn <= $CopurchaseMaxBasket)""".stripMargin
    val edges =
      """,
         | pairs AS (SELECT a.l_partkey AS da, b.l_partkey AS db
         |           FROM capped a JOIN capped b
         |             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |           GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
    (if (pairs) ctes + edges else ctes).replace("\n", "\n" + " " * indent)
  }

  /** Integer PageRank unrolled to PagerankQueryIters chained CTEs
    * (recursive terms cannot aggregate, so fixed iterations unroll
    * instead) — every step is floor arithmetic matching
    * Graphs.pagerankInt exactly. */
  private[graft] def pagerankOracle: String = {
    val iters = PagerankQueryIters
    val steps = (1 to iters).map(i =>
      s"""r$i AS (
         |   SELECT s.dst AS node,
         |          1500 + sum(r.rank // d.outdeg) * 8500 // 10000 AS rank
         |   FROM sym s JOIN r${i - 1} r ON r.node = s.src
         |   JOIN deg d ON d.src = s.src
         |   GROUP BY s.dst)""".stripMargin).mkString(",\n ")
    s"""WITH ${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY 1),
       | r0 AS (SELECT src AS node, CAST(10000 AS BIGINT) AS rank FROM deg),
       | $steps
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters ORDER BY node""".stripMargin
  }

  /** k-core oracle: the [[copurchaseCtes]] edge prologue, then
    * KcoreRounds unrolled peel stages, then the surviving degrees —
    * floor-free integer counts throughout, so the peel replicates
    * Graphs.kCore exactly. Each stage is formulated as ONE window-
    * filtered pass over the previous (an edge survives iff both its
    * endpoints keep degree ≥ k — identical to the keep-set semi-join),
    * because DuckDB inlines CTEs: a stage referencing its predecessor
    * three times would expand 3^rounds scans and exhaust file handles. */
  private[graft] def kcoreOracle: String = {
    val steps = (1 to KcoreRounds).map(i =>
      s"""e$i AS (SELECT src, dst FROM (
         |     SELECT src, dst,
         |            count(*) OVER (PARTITION BY src) AS ds,
         |            count(*) OVER (PARTITION BY dst) AS dd
         |     FROM e${i - 1})
         |   WHERE ds >= $KcoreK AND dd >= $KcoreK)""".stripMargin)
      .mkString(",\n ")
    s"""WITH ${copurchaseCtes(pairs = true)},
       | e0 AS (SELECT da AS src, db AS dst FROM pairs
       |        UNION SELECT db, da FROM pairs),
       | $steps
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$KcoreRounds GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** Shared CTEs of the label-prop family's twins: the
    * [[copurchaseCtes]] edge prologue, its symmetric closure `sym`, then
    * LabelPropRounds unrolled synchronous sweeps r1..r`LabelPropRounds`
    * — per sweep, one (node, label) neighbor count, a per-node max
    * window, and the min-label tie-break; the argmax is formulated as
    * `min(label) WHERE cnt = max(cnt) OVER node`, which is exactly
    * Graphs.labelProp's `max(struct(cnt, −label))` collapse. Each CTE
    * references its predecessor once (the kcoreOracle inlining rule). */
  private[graft] def labelPropCtes: String = {
    val steps = (1 to LabelPropRounds).map(i =>
      s"""r$i AS (
         |   SELECT node, min(label) AS label FROM (
         |     SELECT node, label, cnt, max(cnt) OVER (PARTITION BY node) AS mx
         |     FROM (SELECT s.dst AS node, r.label, count(*) AS cnt
         |           FROM sym s JOIN r${i - 1} r ON r.node = s.src
         |           GROUP BY 1, 2))
         |   WHERE cnt = mx GROUP BY node)""".stripMargin).mkString(",\n ")
    s"""${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | r0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
       | $steps""".stripMargin
  }

  /** Assortativity twin: the same co-purchase prologue, stub moments,
    * and the single final floor division. */
  private[graft] def assortativityOracle: String =
    s"""WITH ${copurchaseCtes(pairs = true)},
       | stubs AS (SELECT da AS src, db AS dst FROM pairs
       |           UNION ALL SELECT db, da FROM pairs),
       | deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |         FROM stubs GROUP BY 1),
       | j AS (SELECT dx.deg AS x, dy.deg AS y
       |       FROM stubs s JOIN deg dx ON dx.src = s.src
       |                    JOIN deg dy ON dy.src = s.dst),
       | t AS (SELECT CAST(count(*) AS BIGINT) AS m2,
       |              CAST(sum(x) AS BIGINT) AS sx,
       |              CAST(sum(x * x) AS BIGINT) AS sxx,
       |              CAST(sum(x * y) AS BIGINT) AS sxy
       |       FROM j)
       |SELECT m2, sx, sxx, sxy,
       |       m2 * sxy - sx * sx AS num,
       |       m2 * sxx - sx * sx AS den,
       |       CASE WHEN m2 * sxx - sx * sx <> 0
       |            THEN (m2 * sxy - sx * sx) * 1000
       |                 // (m2 * sxx - sx * sx) END AS r_milli
       |FROM t""".stripMargin

  /** Shared CTE chain for the sampled-triangle twins: the co-purchase
    * canonical edges, the portable-hash p=1/4 edge sample (coefficient
    * index 31 — the Spark predicate verbatim), and the id-ordered
    * triangle enumeration over the SAMPLE (per-node counts are
    * orientation-independent, so the simple id-ordered join checks the
    * degree-ordered engine exactly). `tail` is the final SELECT. */
  private[graft] def triSampledOracle(tail: String): String = {
    import Portable.{P1, aCoef, bCoef}
    s"""WITH ${copurchaseCtes(pairs = false)},
       | e AS MATERIALIZED (
       |       SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |       FROM capped a JOIN capped b
       |         ON a.l_orderkey = b.l_orderkey
       |        AND a.l_partkey < b.l_partkey),
       | se AS MATERIALIZED (SELECT u, v FROM e
       |       WHERE ((u % $P1) * ${aCoef(31)} + (v % $P1) * ${bCoef(31)})
       |             % $P1 % 4 = 0),
       | tri AS MATERIALIZED (SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
       |         FROM se e1
       |         JOIN se e2 ON e2.u = e1.v
       |         JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v),
       | corners AS (SELECT n1 AS node FROM tri
       |             UNION ALL SELECT n2 FROM tri
       |             UNION ALL SELECT n3 FROM tri)
       |$tail""".stripMargin
  }

  /** Connected-components twin: RECURSIVE label spread — every node
    * accumulates the labels of everything it can reach (set-semantics
    * UNION terminates at the closure), then min per node = the
    * component's min node id, the exact fixpoint the Spark side's
    * shortcutting propagation converges to (and asserts). A fixed-round
    * unroll was tried first and planned pathologically in DuckDB
    * (deeply nested inlined CTE chains); the recursive form is the
    * engine's native iteration and closes in seconds at oracle scale.
    * Closure size is Σ comp², fine at sf0.01 (giant component ~1.9k). */
  private[graft] def componentsOracle: String =
    s"""WITH RECURSIVE
       | ${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | nodes AS (SELECT DISTINCT src AS node FROM sym),
       | lbl(node, l) AS (
       |   SELECT node, node FROM nodes
       |   UNION
       |   SELECT s.src, l.l FROM sym s JOIN lbl l ON l.node = s.dst),
       | fin AS (SELECT node, min(l) AS component FROM lbl GROUP BY 1),
       | sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
       |           FROM fin GROUP BY 1)
       |SELECT f.node, f.component, s.comp_size
       |FROM fin f JOIN sizes s ON s.component = f.component
       |ORDER BY f.node""".stripMargin

  /** Harmonic-centrality twin: recursive multi-source walk with the
    * hop cap inside the recursive term (same truncation as the Spark
    * side's maxHops), min distance per (seed, node), then the floor
    * milli sum. */
  private[graft] def harmonicOracle: String =
    s"""WITH RECURSIVE
       | ${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | seeds AS (SELECT node FROM (
       |     SELECT DISTINCT src AS node FROM sym ORDER BY node LIMIT 8)),
       | walk(seed, node, d) AS (
       |   SELECT node, node, 0 FROM seeds
       |   UNION
       |   SELECT w.seed, s.dst, w.d + 1
       |   FROM walk w JOIN sym s ON s.src = w.node
       |   WHERE w.d < 6),
       | dist AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2)
       |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
       |       CAST(sum(1000 // d) AS BIGINT) AS harmonic_milli
       |FROM dist WHERE d >= 1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Degree-distribution twin: the copurchase edge prologue, degrees
    * over both stub directions, ⌊log₂⌋ via a powers-of-two range join
    * (no float log — the binary-digit-count formulation of the Spark
    * side), CCDF over the ≤ 64-row binned table. */
  private[graft] def degreeDistOracle: String =
    s"""WITH ${copurchaseCtes(pairs = true)},
       | stubs AS (SELECT da AS node FROM pairs
       |           UNION ALL SELECT db FROM pairs),
       | deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree
       |         FROM stubs GROUP BY 1),
       | b AS (SELECT d.node, d.degree, CAST(max(t.i) AS BIGINT) AS bin
       |       FROM deg d JOIN range(0, 40) t(i)
       |         ON (CAST(1 AS BIGINT) << CAST(t.i AS INTEGER)) <= d.degree
       |       GROUP BY 1, 2),
       | g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_nodes,
       |              CAST(sum(degree) AS BIGINT) AS sum_degree
       |       FROM b GROUP BY 1)
       |SELECT bin,
       |       CAST(1 AS BIGINT) << CAST(bin AS INTEGER) AS lo_degree,
       |       n_nodes, sum_degree,
       |       CAST(sum(n_nodes) OVER (ORDER BY bin DESC
       |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_nodes_ge_lo
       |FROM g ORDER BY bin""".stripMargin

  private[graft] def labelPropOracle: String =
    s"""WITH ${labelPropCtes},
       | sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size
       |           FROM r$LabelPropRounds GROUP BY 1)
       |SELECT r.node, r.label, s.comm_size
       |FROM r$LabelPropRounds r JOIN sizes s ON s.label = r.label
       |ORDER BY r.node""".stripMargin

  /** Modularity twin: the label-prop unroll feeds the exact
    * 4·m·e_c − d_c² contribution per community and the two-spelling
    * q_bp (multiply-first under m < 5·10⁴, denominator-first above). */
  private[graft] def modularityOracle: String =
    s"""WITH ${labelPropCtes},
       | lab AS (SELECT node, label FROM r$LabelPropRounds),
       | mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
       | ei AS (SELECT lu.label, CAST(count(*) AS BIGINT) AS e_intra
       |        FROM pairs p JOIN lab lu ON lu.node = p.da
       |                     JOIN lab lv ON lv.node = p.db
       |        WHERE lu.label = lv.label GROUP BY 1),
       | deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |         FROM sym GROUP BY 1),
       | ds AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_sum
       |        FROM deg d JOIN lab l ON l.node = d.node GROUP BY 1),
       | nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
       |        FROM lab GROUP BY 1),
       | per AS (SELECT nn.label, nn.n_nodes,
       |                coalesce(ei.e_intra, 0) AS e_intra, ds.d_sum,
       |                4 * mm.m * coalesce(ei.e_intra, 0)
       |                  - ds.d_sum * ds.d_sum AS contrib_scaled,
       |                mm.m AS m
       |         FROM nn LEFT JOIN ei ON ei.label = nn.label
       |                 JOIN ds ON ds.label = nn.label CROSS JOIN mm),
       | q AS (SELECT CASE WHEN max(m) < 50000
       |              THEN CAST(sum(contrib_scaled) AS BIGINT) * 10000
       |                   // (4 * max(m) * max(m))
       |              ELSE CAST(sum(contrib_scaled) AS BIGINT)
       |                   // (4 * max(m) * max(m) // 10000) END AS q_bp
       |       FROM per)
       |SELECT label, n_nodes, e_intra, d_sum, contrib_scaled, q_bp
       |FROM per CROSS JOIN q ORDER BY label""".stripMargin

  /** Jaccard link-prediction oracle: the shared edge prologue, the
    * row_number neighbor cap replicated structurally, wedge pair
    * counts, the NOT-EXISTS edge exclusion, exact degrees, floor bp. */
  private[graft] def jaccardLinksOracle: String =
    s"""WITH ${copurchaseCtes(pairs = true)},
       | adj AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION ALL SELECT db, da FROM pairs),
       | deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1),
       | cn AS (SELECT src, dst FROM (
       |     SELECT src, dst, row_number() OVER (PARTITION BY src
       |                                         ORDER BY dst) AS rn
       |     FROM adj) WHERE rn <= 64),
       | wedges AS (SELECT x.dst AS a, y.dst AS b, count(*) AS common
       |            FROM cn x JOIN cn y
       |              ON x.src = y.src AND x.dst < y.dst
       |            GROUP BY 1, 2),
       | ne AS (SELECT w.* FROM wedges w
       |        WHERE NOT EXISTS (SELECT 1 FROM adj e
       |                          WHERE e.src = w.a AND e.dst = w.b))
       |SELECT ne.a, ne.b, CAST(ne.common AS BIGINT) AS common,
       |       CAST(dx.deg AS BIGINT) AS deg_a,
       |       CAST(dy.deg AS BIGINT) AS deg_b,
       |       CAST(ne.common * 10000 // (dx.deg + dy.deg - ne.common)
       |            AS BIGINT) AS jacc_bp
       |FROM ne JOIN deg dx ON dx.src = ne.a
       |        JOIN deg dy ON dy.src = ne.b
       |ORDER BY jacc_bp DESC, a, b LIMIT 50""".stripMargin

  /** Personalized-PageRank oracle: the [[copurchaseCtes]] prologue
    * with seed-gated restart mass, unrolled left-join rounds keeping
    * zero-inflow nodes — every floor step mirrored. */
  private[graft] def pprOracle: String = {
    val iters = 6
    val steps = (1 to iters).map(i =>
      s"""r$i AS (
         |   SELECT n.node, n.seed_base + coalesce(f.flow, 0) AS rank,
         |          n.outdeg, n.seed_base
         |   FROM nodes n LEFT JOIN (
         |     SELECT s.dst AS node,
         |            sum(r.rank // d2.outdeg) * 8500 // 10000 AS flow
         |     FROM sym s JOIN r${i - 1} r ON r.node = s.src
         |     JOIN deg d2 ON d2.src = s.src
         |     GROUP BY 1) f ON f.node = n.node)""".stripMargin)
      .mkString(",\n ")
    s"""WITH ${copurchaseCtes(pairs = true)},
       | sym AS (SELECT da AS src, db AS dst FROM pairs
       |         UNION SELECT db, da FROM pairs),
       | deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY 1),
       | seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 101 = 0),
       | nodes AS (SELECT d.src AS node, d.outdeg,
       |                  CASE WHEN s.node IS NOT NULL
       |                       THEN CAST(1500 AS BIGINT)
       |                       ELSE CAST(0 AS BIGINT) END AS seed_base
       |           FROM deg d LEFT JOIN seeds s ON s.node = d.src),
       | r0 AS (SELECT node,
       |               CASE WHEN seed_base > 0 THEN CAST(10000 AS BIGINT)
       |                    ELSE CAST(0 AS BIGINT) END AS rank,
       |               outdeg, seed_base
       |        FROM nodes),
       | $steps
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters
       |WHERE rank > 0 ORDER BY node""".stripMargin
  }

  /** Count-Min cells in SQL: the same rolling hash as fp_feature_hash's
    * oracle and the same affine row hashes as [[graft.ops.Sketches]]
    * (coefficients inlined from the shared Portable constants), so every
    * counter — including collision overcounts — is re-derived
    * independently and hash-compared. */
  private[graft] def cmsOracle: String = {
    import graft.functions.Portable.{P1, aCoef, bCoef}
    import graft.ops.Sketches.{CmsDepth, CmsSeedBase, CmsWidth}
    val aCase = (0 until CmsDepth)
      .map(r => s"WHEN $r THEN ${aCoef(CmsSeedBase + r)}").mkString(" ")
    val bCase = (0 until CmsDepth)
      .map(r => s"WHEN $r THEN ${bCoef(CmsSeedBase + r)}").mkString(" ")
    val rows = (0 until CmsDepth).mkString(", ")
    def bucket(h: String) =
      s"((CASE rr.r $aCase END * $h + CASE rr.r $bCase END) % $P1) % $CmsWidth"
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
       | cnt AS (SELECT tk, count(*) AS true_cnt FROM tok
       |         WHERE tk <> '' GROUP BY 1),
       | h AS (SELECT tk, true_cnt,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split_regex(tk, ''),
       |            c -> CAST(ascii(c) AS BIGINT))),
       |          (a, x) -> (a * 31 + x) % 1000000007) AS h1
       |       FROM cnt),
       | cells AS (SELECT rr.r AS r, ${bucket("h.h1")} AS bucket, h.true_cnt
       |           FROM h CROSS JOIN (SELECT unnest([$rows]) AS r) rr),
       | counters AS (SELECT r, bucket, CAST(sum(true_cnt) AS BIGINT) AS counter
       |              FROM cells GROUP BY 1, 2),
       | top AS (SELECT tk, true_cnt FROM cnt
       |         ORDER BY true_cnt DESC, tk LIMIT 20),
       | probe AS (SELECT h.tk, h.true_cnt, rr.r AS r, ${bucket("h.h1")} AS bucket
       |           FROM h JOIN top USING (tk)
       |           CROSS JOIN (SELECT unnest([$rows]) AS r) rr)
       |SELECT p.tk AS token, p.true_cnt AS true_cnt,
       |       CAST(min(c.counter) AS BIGINT) AS cms_est
       |FROM probe p JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
       |GROUP BY 1, 2 ORDER BY true_cnt DESC, token""".stripMargin
  }

  /** Portable-HLL oracle: re-derives the quadratic two-prime hash, the
    * 40-bit rho source, every register, the scaled harmonic sum and the
    * single double division (C inlined as the same Scala double literal)
    * — see [[graft.ops.Sketches.hllRegisters]] for why each step is
    * shaped for cross-engine exactness. */
  private[graft] def hllOracle: String = hllOracleFor("lineitem", "l_orderkey")

  private[graft] def hllOracleFor(table: String, key: String): String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllC, HllM, HllSeedBase, HllVBits}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val top = HllVBits + 1
    s"""WITH q AS (SELECT $key % $P1 AS q1, $key % $P2 AS q2
       |           FROM $table),
       | h AS (SELECT ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |              + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS hv
       |       FROM q),
       | b AS (SELECT hv % $HllM AS bucket,
       |              (hv // $HllM) % ${1L << HllVBits} AS v FROM h),
       | r AS (SELECT bucket,
       |              max(CASE WHEN v = 0 THEN $top
       |                       ELSE $top - length(bin(v)) END) AS reg
       |       FROM b GROUP BY 1),
       | s AS (SELECT count(*) AS n_used,
       |              sum(1::BIGINT << CAST($top - reg AS INT)) AS used_scaled
       |       FROM r),
       | t AS (SELECT count(DISTINCT $key) AS true_distinct FROM $table),
       | f AS (SELECT n_used, $HllM - n_used AS zeros,
       |              CAST(used_scaled
       |                   + ($HllM - n_used) * (1::BIGINT << $top) AS BIGINT)
       |                AS sum_scaled,
       |              true_distinct
       |       FROM s CROSS JOIN t)
       |SELECT n_used, zeros, sum_scaled,
       |       CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |         AS est_distinct,
       |       true_distinct,
       |       abs(CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |           - true_distinct) * 10000 // true_distinct AS err_bp
       |FROM f""".stripMargin
  }

  /** HLL-diversity oracle: the [[hllOracleFor]] chain run per SOURCE over
    * rolling-hashed unigram/bigram streams (the fp_feature_hash gram-hash
    * twin feeding the sketch pipeline), joined with exact totals. */
  private[graft] def ngramDiversityHllOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllC, HllM, HllSeedBase, HllVBits}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val top = HllVBits + 1
    val gramHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split_regex(g, ''), " +
      "c -> CAST(ascii(c) AS BIGINT))), (a, x) -> (a * 31 + x) % " +
      s"$P1)"
    def chain(p: String, gramCte: String): String =
      s"""${p}k AS (SELECT source, $gramHash AS k FROM $gramCte),
         | ${p}h AS (SELECT source,
         |        ((((k % $P1) * (k % $P1)) % $P1) * $a1 + (k % $P1) * $b1) % $P1 * $P2
         |        + ((((k % $P2) * (k % $P2)) % $P2) * $a2 + (k % $P2) * $b2) % $P2 AS hv
         |      FROM ${p}k),
         | ${p}r AS (SELECT source, hv % $HllM AS bucket,
         |        max(CASE WHEN (hv // $HllM) % ${1L << HllVBits} = 0 THEN $top
         |                 ELSE $top - length(bin((hv // $HllM) % ${1L << HllVBits}))
         |            END) AS reg
         |      FROM ${p}h GROUP BY 1, 2),
         | ${p}e AS (SELECT source,
         |        CAST(round($HllC / CAST(
         |          sum(1::BIGINT << CAST($top - reg AS INT))
         |          + ($HllM - count(*)) * (1::BIGINT << $top) AS DOUBLE))
         |        AS BIGINT) AS est
         |      FROM ${p}r GROUP BY 1)""".stripMargin
    s"""WITH toks AS (
       |   SELECT source, string_split(text, ' ') AS t FROM documents),
       | ug AS (SELECT source, u.g
       |        FROM toks, LATERAL (SELECT unnest(t) AS g) u),
       | bg AS (SELECT source, t[i] || ' ' || t[i + 1] AS g
       |        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
       |        WHERE len(t) >= 2),
       | ${chain("u", "ug")},
       | ${chain("b", "bg")},
       | un AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unigrams
       |        FROM ug GROUP BY 1),
       | bn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams
       |        FROM bg GROUP BY 1)
       |SELECT un.source, un.n_unigrams,
       |       ue.est AS est_d_unigrams,
       |       CAST(ue.est * 10000 // un.n_unigrams AS BIGINT)
       |         AS est_distinct1_bp,
       |       CAST(coalesce(bn.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       be.est AS est_d_bigrams,
       |       CAST(be.est * 10000 // bn.n_bigrams AS BIGINT)
       |         AS est_distinct2_bp
       |FROM un JOIN ue ON ue.source = un.source
       |LEFT JOIN bn ON bn.source = un.source
       |LEFT JOIN be ON be.source = un.source
       |ORDER BY un.source""".stripMargin
  }

  /** Per-group HLL oracle: [[hllOracleFor]] with the group column carried
    * through every CTE — registers, harmonic sums and estimates all
    * GROUP BY the dimension, exactly like
    * [[graft.ops.Sketches.hllRegistersBy]]. */
  private[graft] def hllGroupsOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllC, HllM, HllSeedBase, HllVBits}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val top = HllVBits + 1
    s"""WITH q AS (SELECT l_returnflag AS g, l_orderkey % $P1 AS q1,
       |                  l_orderkey % $P2 AS q2 FROM lineitem),
       | h AS (SELECT g, ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |              + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS hv
       |       FROM q),
       | b AS (SELECT g, hv % $HllM AS bucket,
       |              (hv // $HllM) % ${1L << HllVBits} AS v FROM h),
       | r AS (SELECT g, bucket,
       |              max(CASE WHEN v = 0 THEN $top
       |                       ELSE $top - length(bin(v)) END) AS reg
       |       FROM b GROUP BY 1, 2),
       | s AS (SELECT g, count(*) AS n_used,
       |              sum(1::BIGINT << CAST($top - reg AS INT)) AS used_scaled
       |       FROM r GROUP BY 1),
       | t AS (SELECT l_returnflag AS g,
       |              count(DISTINCT l_orderkey) AS true_distinct
       |       FROM lineitem GROUP BY 1),
       | f AS (SELECT s.g, n_used, $HllM - n_used AS zeros,
       |              CAST(used_scaled
       |                   + ($HllM - n_used) * (1::BIGINT << $top) AS BIGINT)
       |                AS sum_scaled,
       |              true_distinct
       |       FROM s JOIN t ON s.g = t.g)
       |SELECT g AS l_returnflag, n_used, zeros, sum_scaled,
       |       CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |         AS est_distinct,
       |       true_distinct,
       |       abs(CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |           - true_distinct) * 10000 // true_distinct AS err_bp
       |FROM f ORDER BY 1""".stripMargin
  }

  /** HLL-union oracle: registers built over the UNION ALL of the two key
    * slices — mathematically identical to the register-wise max merge the
    * Spark side performs ([[graft.ops.Sketches.hllMergeRegisters]]'s
    * merge law), which is exactly the property under test. */
  private[graft] def hllUnionOracle: String = {
    import graft.functions.Portable.{P1, P2, aCoef, bCoef}
    import graft.ops.Sketches.{HllC, HllM, HllSeedBase, HllVBits}
    val (a1, b1) = (aCoef(HllSeedBase), bCoef(HllSeedBase))
    val (a2, b2) = (aCoef(HllSeedBase + 1), bCoef(HllSeedBase + 1))
    val top = HllVBits + 1
    s"""WITH k AS (SELECT l_partkey AS kk FROM lineitem WHERE l_returnflag = 'R'
       |           UNION ALL
       |           SELECT l_partkey FROM lineitem WHERE l_linenumber = 1),
       | q AS (SELECT kk % $P1 AS q1, kk % $P2 AS q2 FROM k),
       | h AS (SELECT ((((q1 * q1) % $P1) * $a1 + q1 * $b1) % $P1) * $P2
       |              + (((q2 * q2) % $P2) * $a2 + q2 * $b2) % $P2 AS hv
       |       FROM q),
       | b AS (SELECT hv % $HllM AS bucket,
       |              (hv // $HllM) % ${1L << HllVBits} AS v FROM h),
       | r AS (SELECT bucket,
       |              max(CASE WHEN v = 0 THEN $top
       |                       ELSE $top - length(bin(v)) END) AS reg
       |       FROM b GROUP BY 1),
       | s AS (SELECT count(*) AS n_used,
       |              sum(1::BIGINT << CAST($top - reg AS INT)) AS used_scaled
       |       FROM r),
       | t AS (SELECT count(DISTINCT l_partkey) AS true_distinct
       |       FROM lineitem WHERE l_returnflag = 'R' OR l_linenumber = 1),
       | f AS (SELECT n_used, $HllM - n_used AS zeros,
       |              CAST(used_scaled
       |                   + ($HllM - n_used) * (1::BIGINT << $top) AS BIGINT)
       |                AS sum_scaled,
       |              true_distinct
       |       FROM s CROSS JOIN t)
       |SELECT n_used, zeros, sum_scaled,
       |       CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |         AS est_distinct,
       |       true_distinct,
       |       abs(CAST(round($HllC / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
       |           - true_distinct) * 10000 // true_distinct AS err_bp
       |FROM f""".stripMargin
  }

  /** KMV oracle: the same quadratic two-prime hash over the distinct
    * keys, bottom-k via ORDER BY/LIMIT, and the (k−1)·R/h_k estimator
    * with the numerator inlined as the identical double literal — three
    * correctly-rounded IEEE ops in both engines
    * ([[graft.ops.Sketches.kmvSummary]]). */
}
