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

  /** CTE chain ending in `mh_pairs(da, db, sig_matches)` — shared by the
    * MinHash-LSH pair oracle and the composed dedup-pipeline oracle. */
  private[graft] def minhashLshCtes(base: String = "documents"): String = {
    import Portable._
    val sigAggs = (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i").mkString(",\n           ")
    val bandSelects = (0 until graft.ops.Dedup.MinhashBands).map { b =>
      val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
        s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
      }
      s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM sig"
    }.mkString("\n           UNION ALL ")
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM $base),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS (SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs),
       |  kept AS (SELECT doc_id, hh FROM h
       |           WHERE hh IN (SELECT hh FROM h GROUP BY hh HAVING count(*) <= 100)),
       |  sig AS (SELECT doc_id,
       |           $sigAggs
       |          FROM kept GROUP BY doc_id),
       |  banded AS ($bandSelects),
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
       |    SELECT da, db, CAST($matches AS BIGINT) AS sig_matches
       |    FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db
       |    WHERE $matches >= 16)""".stripMargin
  }

  private[graft] def minhashLshOracle: String =
    s"""WITH ${minhashLshCtes()}
       |SELECT da, db, sig_matches FROM mh_pairs ORDER BY da, db""".stripMargin

  /** Ingest-gate verdicts: reuses the minhash chain's `sig`/`keptb` CTEs
    * (built over ALL documents = corpus ∪ batch, exactly what
    * Dedup.ingestGate computes signatures over) and restricts the bucket
    * probe to batch(odd) × corpus(even). Precedence CASE mirrors the
    * operator: exact vs corpus > exact within batch > LSH near > new. */
  private[graft] def ingestGateOracle: String = {
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH docs_p AS (
       |   SELECT doc_id, text FROM documents
       |   UNION ALL SELECT $PlantedNearDupIdA, '$PlantedNearDupTextA'
       |   UNION ALL SELECT $PlantedNearDupIdB, '$PlantedNearDupTextB'),
       | ${minhashLshCtes("docs_p")},
       | corp AS (SELECT doc_id, md5(text) AS fp FROM docs_p WHERE doc_id % 2 = 0),
       | bat  AS (SELECT doc_id, md5(text) AS fp FROM docs_p WHERE doc_id % 2 = 1),
       | cfp AS (SELECT fp, min(doc_id) AS exact_id FROM corp GROUP BY 1),
       | bk  AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat GROUP BY 1),
       | nc AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |        FROM keptb bb JOIN keptb cb
       |          ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |        WHERE bb.doc_id % 2 = 1 AND cb.doc_id % 2 = 0),
       | sc AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |        FROM nc JOIN sig sa ON sa.doc_id = bid
       |                JOIN sig sb ON sb.doc_id = cid
       |        WHERE $matches >= 16),
       | best AS (SELECT bid, cid FROM (
       |            SELECT bid, cid,
       |                   row_number() OVER (PARTITION BY bid
       |                                      ORDER BY sm DESC, cid) AS rn
       |            FROM sc) WHERE rn = 1),
       | nbb AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS bbid
       |         FROM keptb bb JOIN keptb cb
       |           ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |         WHERE bb.doc_id % 2 = 1 AND cb.doc_id % 2 = 1
       |           AND cb.doc_id < bb.doc_id),
       | sbb AS (SELECT bid, bbid, CAST($matches AS BIGINT) AS sm
       |         FROM nbb JOIN sig sa ON sa.doc_id = bid
       |                  JOIN sig sb ON sb.doc_id = bbid
       |         WHERE $matches >= 16),
       | bestb AS (SELECT bid, bbid FROM (
       |             SELECT bid, bbid,
       |                    row_number() OVER (PARTITION BY bid
       |                                       ORDER BY sm DESC, bbid) AS rn
       |             FROM sbb) WHERE rn = 1)
       |SELECT b.doc_id AS doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |       WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |       WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |       WHEN bb2.bbid IS NOT NULL THEN 'batch_near_dup'
       |       ELSE 'new' END AS verdict,
       |  CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
       |       WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
       |       WHEN nb.cid IS NOT NULL THEN nb.cid
       |       WHEN bb2.bbid IS NOT NULL THEN bb2.bbid
       |       ELSE NULL END AS match_id
       |FROM bat b LEFT JOIN cfp e ON e.fp = b.fp
       |JOIN bk k ON k.fp = b.fp
       |LEFT JOIN best nb ON nb.bid = b.doc_id
       |LEFT JOIN bestb bb2 ON bb2.bid = b.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Persisted-sig-index probe: the ingest-gate verdict chain with
    * CORPUS-SCOPED caps — df hot list and hot buckets computed over the
    * even (indexed) half only, batch signatures built by dropping the
    * CORPUS hot shingles (exactly what Dedup.buildSigIndex persists and
    * probeSigIndex reads back). Mirrors the operator's build→probe
    * semantics end to end in one SQL chain. */
  /** Two-cycle sig-index oracle: one shared shingle/signature chain with
    * BUILD-PINNED (even-half-scoped) hot lists, probe of batch 1
    * (doc_id ≡ 1 mod 4), admission of its `new` docs, then probe of
    * batch 2 (doc_id ≡ 3 mod 4) against even ∪ admitted — exactly the
    * parquet-append state the operator maintains. */
  private[graft] def sigIndexAppendOracle: String = {
    import Portable._
    def sigAggs = (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i")
      .mkString(",\n           ")
    def bandSelects(sigTable: String) =
      (0 until graft.ops.Dedup.MinhashBands).map { b =>
        val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
          s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
        }
        s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM $sigTable"
      }.mkString("\n           UNION ALL ")
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS (SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs),
       |  hot AS (SELECT hh FROM h WHERE doc_id % 2 = 0
       |          GROUP BY hh HAVING count(*) > 100),
       |  kept AS (SELECT doc_id, hh FROM h
       |           WHERE hh NOT IN (SELECT hh FROM hot)),
       |  sig AS (SELECT doc_id, $sigAggs FROM kept GROUP BY doc_id),
       |  bandall AS (${bandSelects("sig")}),
       |  hotbk AS (SELECT band_idx, band_hash FROM bandall
       |            WHERE doc_id % 2 = 0
       |            GROUP BY 1, 2 HAVING count(*) > 50),
       |  kb AS (SELECT * FROM bandall b WHERE NOT EXISTS (
       |           SELECT 1 FROM hotbk g
       |           WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  corp1 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
       |  cfp1 AS (SELECT fp, min(doc_id) AS exact_id FROM corp1 GROUP BY 1),
       |  bat1 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 = 1),
       |  bk1 AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat1 GROUP BY 1),
       |  nc1 AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM kb bb JOIN kb cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE bb.doc_id % 4 = 1 AND cb.doc_id % 2 = 0),
       |  sc1 AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |          FROM nc1 JOIN sig sa ON sa.doc_id = bid
       |                   JOIN sig sb ON sb.doc_id = cid
       |          WHERE $matches >= 16),
       |  best1 AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM sc1) WHERE rn = 1),
       |  v1 AS (SELECT b.doc_id,
       |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |                WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |                WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |                ELSE 'new' END AS verdict
       |         FROM bat1 b LEFT JOIN cfp1 e ON e.fp = b.fp
       |         JOIN bk1 k ON k.fp = b.fp
       |         LEFT JOIN best1 nb ON nb.bid = b.doc_id),
       |  adm AS (SELECT doc_id FROM v1 WHERE verdict = 'new'),
       |  cfp2 AS (SELECT fp, exact_id FROM cfp1
       |           UNION ALL
       |           SELECT fp, min(doc_id) AS exact_id FROM bat1
       |           WHERE doc_id IN (SELECT doc_id FROM adm) GROUP BY fp),
       |  bat2 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 = 3),
       |  bk2 AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat2 GROUP BY 1),
       |  nc2 AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM kb bb JOIN kb cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE bb.doc_id % 4 = 3
       |            AND (cb.doc_id % 2 = 0
       |                 OR cb.doc_id IN (SELECT doc_id FROM adm))),
       |  sc2 AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |          FROM nc2 JOIN sig sa ON sa.doc_id = bid
       |                   JOIN sig sb ON sb.doc_id = cid
       |          WHERE $matches >= 16),
       |  best2 AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM sc2) WHERE rn = 1)
       |SELECT b.doc_id AS doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |       WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |       WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
       |       WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
       |       WHEN nb.cid IS NOT NULL THEN nb.cid
       |       ELSE NULL END AS match_id
       |FROM bat2 b LEFT JOIN cfp2 e ON e.fp = b.fp
       |JOIN bk2 k ON k.fp = b.fp
       |LEFT JOIN best2 nb ON nb.bid = b.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Rebuild-phase oracle: the [[sigIndexAppendOracle]] chain (build on
    * the even half, probe batch 1, admit, probe batch 2 against the
    * BUILD-PINNED caps) joined side-by-side with a REBUILT chain whose
    * hot-shingle dfs and hot buckets are re-scoped over the grown corpus
    * (even ∪ cycle-1 admits) — exactly what Dedup.buildSigIndex computes
    * when rerun on the union. The verdict_parity column is the
    * cap-drift measurement. cfpu (the grown md5 dictionary) is shared by
    * both sides: admitted docs' fps are disjoint from the corpus
    * dictionary by the admission rule itself.
    *
    * Multi-referenced CTEs are AS MATERIALIZED: DuckDB 1.0 INLINES every
    * CTE reference, so without it `adm` (5 references) re-evaluates the
    * whole pinned signature chain per use — measured >15 min at sf0.01
    * vs ~20 s materialized (the unrolled-CTE planning lesson's sibling;
    * single-reference CTEs stay plain). */
  private[graft] def sigIndexRebuildOracle: String = {
    import Portable._
    def sigAggs = (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i")
      .mkString(",\n           ")
    def bandSelects(sigTable: String) =
      (0 until graft.ops.Dedup.MinhashBands).map { b =>
        val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
          s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
        }
        s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM $sigTable"
      }.mkString("\n           UNION ALL ")
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val member = "(doc_id % 2 = 0 OR doc_id IN (SELECT doc_id FROM adm))"
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS MATERIALIZED (SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs),
       |  hot AS (SELECT hh FROM h WHERE doc_id % 2 = 0
       |          GROUP BY hh HAVING count(*) > 100),
       |  kept AS (SELECT doc_id, hh FROM h
       |           WHERE hh NOT IN (SELECT hh FROM hot)),
       |  sig AS MATERIALIZED (SELECT doc_id, $sigAggs FROM kept GROUP BY doc_id),
       |  bandall AS MATERIALIZED (${bandSelects("sig")}),
       |  hotbk AS (SELECT band_idx, band_hash FROM bandall
       |            WHERE doc_id % 2 = 0
       |            GROUP BY 1, 2 HAVING count(*) > 50),
       |  kb AS MATERIALIZED (SELECT * FROM bandall b WHERE NOT EXISTS (
       |           SELECT 1 FROM hotbk g
       |           WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  corp1 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
       |  cfp1 AS MATERIALIZED (SELECT fp, min(doc_id) AS exact_id FROM corp1 GROUP BY 1),
       |  bat1 AS MATERIALIZED (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 = 1),
       |  bk1 AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat1 GROUP BY 1),
       |  nc1 AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM kb bb JOIN kb cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE bb.doc_id % 4 = 1 AND cb.doc_id % 2 = 0),
       |  sc1 AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |          FROM nc1 JOIN sig sa ON sa.doc_id = bid
       |                   JOIN sig sb ON sb.doc_id = cid
       |          WHERE $matches >= 16),
       |  best1 AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM sc1) WHERE rn = 1),
       |  v1 AS (SELECT b.doc_id,
       |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |                WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |                WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |                ELSE 'new' END AS verdict
       |         FROM bat1 b LEFT JOIN cfp1 e ON e.fp = b.fp
       |         JOIN bk1 k ON k.fp = b.fp
       |         LEFT JOIN best1 nb ON nb.bid = b.doc_id),
       |  adm AS MATERIALIZED (SELECT doc_id FROM v1 WHERE verdict = 'new'),
       |  cfpu AS MATERIALIZED (SELECT fp, exact_id FROM cfp1
       |           UNION ALL
       |           SELECT fp, min(doc_id) AS exact_id FROM bat1
       |           WHERE doc_id IN (SELECT doc_id FROM adm) GROUP BY fp),
       |  bat2 AS MATERIALIZED (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 = 3),
       |  bk2 AS MATERIALIZED (SELECT fp, min(doc_id) AS batch_keep_id FROM bat2 GROUP BY 1),
       |  nca AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM kb bb JOIN kb cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE bb.doc_id % 4 = 3
       |            AND (cb.doc_id % 2 = 0
       |                 OR cb.doc_id IN (SELECT doc_id FROM adm))),
       |  sca AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |          FROM nca JOIN sig sa ON sa.doc_id = bid
       |                   JOIN sig sb ON sb.doc_id = cid
       |          WHERE $matches >= 16),
       |  besta AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM sca) WHERE rn = 1),
       |  va AS (SELECT b.doc_id,
       |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |                WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |                WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |                ELSE 'new' END AS verdict,
       |           CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
       |                WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
       |                WHEN nb.cid IS NOT NULL THEN nb.cid
       |                ELSE NULL END AS match_id
       |         FROM bat2 b LEFT JOIN cfpu e ON e.fp = b.fp
       |         JOIN bk2 k ON k.fp = b.fp
       |         LEFT JOIN besta nb ON nb.bid = b.doc_id),
       |  hotr AS (SELECT hh FROM h WHERE $member
       |           GROUP BY hh HAVING count(*) > 100),
       |  keptr AS (SELECT doc_id, hh FROM h
       |            WHERE hh NOT IN (SELECT hh FROM hotr)),
       |  sigr AS MATERIALIZED (SELECT doc_id, $sigAggs FROM keptr GROUP BY doc_id),
       |  bandr AS MATERIALIZED (${bandSelects("sigr")}),
       |  hotbkr AS (SELECT band_idx, band_hash FROM bandr
       |             WHERE $member
       |             GROUP BY 1, 2 HAVING count(*) > 50),
       |  kbr AS MATERIALIZED (SELECT * FROM bandr b WHERE NOT EXISTS (
       |            SELECT 1 FROM hotbkr g
       |            WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  ncr AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |          FROM kbr bb JOIN kbr cb
       |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
       |          WHERE bb.doc_id % 4 = 3
       |            AND (cb.doc_id % 2 = 0
       |                 OR cb.doc_id IN (SELECT doc_id FROM adm))),
       |  scr AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |          FROM ncr JOIN sigr sa ON sa.doc_id = bid
       |                   JOIN sigr sb ON sb.doc_id = cid
       |          WHERE $matches >= 16),
       |  bestr AS (SELECT bid, cid FROM (
       |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
       |                       ORDER BY sm DESC, cid) AS rn
       |              FROM scr) WHERE rn = 1),
       |  vr AS (SELECT b.doc_id,
       |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |                WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |                WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |                ELSE 'new' END AS verdict,
       |           CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
       |                WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
       |                WHEN nb.cid IS NOT NULL THEN nb.cid
       |                ELSE NULL END AS match_id
       |         FROM bat2 b LEFT JOIN cfpu e ON e.fp = b.fp
       |         JOIN bk2 k ON k.fp = b.fp
       |         LEFT JOIN bestr nb ON nb.bid = b.doc_id)
       |SELECT r.doc_id AS doc_id,
       |  r.verdict AS verdict_rebuilt, r.match_id AS match_rebuilt,
       |  a.verdict AS verdict_appended, a.match_id AS match_appended,
       |  CAST(CASE WHEN r.verdict = a.verdict THEN 1 ELSE 0 END AS BIGINT)
       |    AS verdict_parity
       |FROM vr r JOIN va a ON a.doc_id = r.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** N-cycle streaming-gate oracle: the [[sigIndexAppendOracle]] chain
    * generalized — cycle j gates docs with `doc_id % 2n = 2j+1` against
    * even ∪ (admissions of all earlier cycles), and the emitted
    * admit_cycle is recomputed as `(doc_id % 2n) div 2`, pinning the
    * micro-batch order itself under the hash check. */
  private[graft] def streamGateOracle(nCycles: Int): String = {
    import Portable._
    def sigAggs = (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i")
      .mkString(",\n           ")
    def bandSelects(sigTable: String) =
      (0 until graft.ops.Dedup.MinhashBands).map { b =>
        val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
          s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
        }
        s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM $sigTable"
      }.mkString("\n           UNION ALL ")
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val mod = 2 * nCycles
    val cycles = (0 until nCycles).map { j =>
      val admUnion = (0 until j).map(k =>
        s"OR cb.doc_id IN (SELECT doc_id FROM adm$k)").mkString(" ")
      val cfpUnion = (0 until j).map(k =>
        s"""UNION ALL
           |           SELECT fp, min(doc_id) AS exact_id FROM bat$k
           |           WHERE doc_id IN (SELECT doc_id FROM adm$k) GROUP BY fp""".stripMargin)
        .mkString("\n           ")
      s"""bat$j AS (SELECT doc_id, md5(text) AS fp FROM documents
         |           WHERE doc_id % $mod = ${2 * j + 1}),
         |  bk$j AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat$j GROUP BY 1),
         |  cfpu$j AS (SELECT fp, exact_id FROM cfp0
         |           $cfpUnion),
         |  nc$j AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
         |          FROM kb bb JOIN kb cb
         |            ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
         |          WHERE bb.doc_id % $mod = ${2 * j + 1}
         |            AND (cb.doc_id % 2 = 0 $admUnion)),
         |  sc$j AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
         |          FROM nc$j JOIN sig sa ON sa.doc_id = bid
         |                   JOIN sig sb ON sb.doc_id = cid
         |          WHERE $matches >= 16),
         |  best$j AS (SELECT bid, cid FROM (
         |              SELECT bid, cid, row_number() OVER (PARTITION BY bid
         |                       ORDER BY sm DESC, cid) AS rn
         |              FROM sc$j) WHERE rn = 1),
         |  v$j AS (SELECT b.doc_id,
         |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |                WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
         |                WHEN nb.cid IS NOT NULL THEN 'near_dup'
         |                ELSE 'new' END AS verdict,
         |           CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
         |                WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
         |                WHEN nb.cid IS NOT NULL THEN nb.cid
         |                ELSE NULL END AS match_id
         |         FROM bat$j b LEFT JOIN cfpu$j e ON e.fp = b.fp
         |         JOIN bk$j k ON k.fp = b.fp
         |         LEFT JOIN best$j nb ON nb.bid = b.doc_id),
         |  adm$j AS (SELECT doc_id FROM v$j WHERE verdict = 'new')""".stripMargin
    }.mkString(",\n  ")
    val finalUnion = (0 until nCycles).map(j =>
      s"SELECT doc_id, verdict, match_id, CAST($j AS BIGINT) AS admit_cycle FROM v$j")
      .mkString("\n         UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS (SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs),
       |  hot AS (SELECT hh FROM h WHERE doc_id % 2 = 0
       |          GROUP BY hh HAVING count(*) > 100),
       |  kept AS (SELECT doc_id, hh FROM h
       |           WHERE hh NOT IN (SELECT hh FROM hot)),
       |  sig AS (SELECT doc_id, $sigAggs FROM kept GROUP BY doc_id),
       |  bandall AS (${bandSelects("sig")}),
       |  hotbk AS (SELECT band_idx, band_hash FROM bandall
       |            WHERE doc_id % 2 = 0
       |            GROUP BY 1, 2 HAVING count(*) > 50),
       |  kb AS (SELECT * FROM bandall b WHERE NOT EXISTS (
       |           SELECT 1 FROM hotbk g
       |           WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  corp0 AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
       |  cfp0 AS (SELECT fp, min(doc_id) AS exact_id FROM corp0 GROUP BY 1),
       |  $cycles
       |SELECT * FROM ($finalUnion)
       |ORDER BY doc_id""".stripMargin
  }

  /** N-cycle replay of [[graft.streaming.EventStream.embedGateParityRun]]
    * on the [[vecFpSql]] fingerprint basis: the same planted-duplicate
    * union as the registered query (ids 0→10000003, 1→10000007,
    * 3→10000005 — residues mod 2N pin each plant's cycle), corpus = even
    * ids, cycle j probes corpus ∪ admissions of cycles < j. Exact-only
    * verdicts (no near-dup tier — fingerprint identity is the gate).
    * Multi-referenced aggregating CTEs are MATERIALIZED (DuckDB inlines
    * plain CTEs per reference — see lint_oracles.py rationale). */
  private[graft] def embedGateOracle(nCycles: Int): String = {
    val mod = 2 * nCycles
    val cycles = (0 until nCycles).map { j =>
      val idxUnion = (0 until j).map(k =>
        s"""UNION ALL
           |           SELECT fp, exact_id FROM adm$k""".stripMargin)
        .mkString("\n           ")
      s"""bat$j AS MATERIALIZED (SELECT vec_id, fp FROM f
         |          WHERE vec_id % $mod = ${2 * j + 1}),
         |  bk$j AS (SELECT fp, min(vec_id) AS batch_keep_id FROM bat$j GROUP BY 1),
         |  idx$j AS (SELECT fp, exact_id FROM corp
         |           $idxUnion),
         |  v$j AS MATERIALIZED (SELECT b.vec_id,
         |           CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |                WHEN b.vec_id <> k.batch_keep_id THEN 'batch_dup'
         |                ELSE 'new' END AS verdict,
         |           CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
         |                WHEN b.vec_id <> k.batch_keep_id THEN k.batch_keep_id
         |                END AS match_id
         |         FROM bat$j b LEFT JOIN idx$j e ON e.fp = b.fp
         |         JOIN bk$j k ON k.fp = b.fp),
         |  adm$j AS MATERIALIZED (SELECT fp, min(vec_id) AS exact_id FROM bat$j
         |          WHERE vec_id IN (SELECT vec_id FROM v$j WHERE verdict = 'new')
         |          GROUP BY 1)""".stripMargin
    }.mkString(",\n  ")
    val finalUnion = (0 until nCycles).map(j =>
      s"SELECT vec_id, verdict, match_id, CAST($j AS BIGINT) AS admit_cycle FROM v$j")
      .mkString("\n         UNION ALL ")
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL
       |           SELECT CASE vec_id WHEN 0 THEN 10000003
       |                              WHEN 1 THEN 10000007
       |                              ELSE 10000005 END AS vec_id, embedding
       |           FROM embeddings WHERE vec_id IN (0, 1, 3)),
       |  f AS MATERIALIZED (SELECT vec_id, ${vecFpSql("embedding")} AS fp FROM base),
       |  corp AS MATERIALIZED (SELECT fp, min(vec_id) AS exact_id FROM f
       |          WHERE vec_id % 2 = 0 GROUP BY 1),
       |  $cycles
       |SELECT vec_id, verdict, match_id, admit_cycle
       |FROM ($finalUnion)
       |ORDER BY vec_id""".stripMargin
  }

  private[graft] def sigIndexProbeOracle: String = {
    import Portable._
    def sigAggs = (0 until graft.ops.Dedup.MinhashK).map(i =>
      s"min((${aCoef(i)} * (hh % $P1) + ${bCoef(i)}) % $P1) AS m$i")
      .mkString(",\n           ")
    def bandSelects(sigTable: String) =
      (0 until graft.ops.Dedup.MinhashBands).map { b =>
        val key = (0 until 4).foldLeft(s"CAST(${b + 1} AS BIGINT)") { (acc, j) =>
          s"(($acc * $BandMix + m${4 * b + j}) % $P1)"
        }
        s"SELECT doc_id, $b AS band_idx, $key AS band_hash FROM $sigTable"
      }.mkString("\n           UNION ALL ")
    val matches = (0 until graft.ops.Dedup.MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |  shs AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
       |          FROM tok, LATERAL (SELECT unnest(range(1, len(arr) - 1)) AS i) r
       |          WHERE len(arr) >= 3),
       |  h AS (SELECT DISTINCT doc_id, ${polySql("s")} AS hh FROM shs),
       |  hot AS (SELECT hh FROM h WHERE doc_id % 2 = 0
       |          GROUP BY hh HAVING count(*) > 100),
       |  keptc AS (SELECT doc_id, hh FROM h WHERE doc_id % 2 = 0
       |            AND hh NOT IN (SELECT hh FROM hot)),
       |  keptbt AS (SELECT doc_id, hh FROM h WHERE doc_id % 2 = 1
       |             AND hh NOT IN (SELECT hh FROM hot)),
       |  sigc AS (SELECT doc_id, $sigAggs FROM keptc GROUP BY doc_id),
       |  sigb AS (SELECT doc_id, $sigAggs FROM keptbt GROUP BY doc_id),
       |  bandc AS (${bandSelects("sigc")}),
       |  hotbk AS (SELECT band_idx, band_hash FROM bandc
       |            GROUP BY 1, 2 HAVING count(*) > 50),
       |  kbc AS (SELECT * FROM bandc b WHERE NOT EXISTS (
       |            SELECT 1 FROM hotbk g
       |            WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  bandb AS (${bandSelects("sigb")}),
       |  kbb AS (SELECT * FROM bandb b WHERE NOT EXISTS (
       |            SELECT 1 FROM hotbk g
       |            WHERE g.band_idx = b.band_idx AND g.band_hash = b.band_hash)),
       |  nc AS (SELECT DISTINCT bb.doc_id AS bid, cb.doc_id AS cid
       |         FROM kbb bb JOIN kbc cb
       |           ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash),
       |  sc AS (SELECT bid, cid, CAST($matches AS BIGINT) AS sm
       |         FROM nc JOIN sigb sa ON sa.doc_id = bid
       |                 JOIN sigc sb ON sb.doc_id = cid
       |         WHERE $matches >= 16),
       |  best AS (SELECT bid, cid FROM (
       |             SELECT bid, cid,
       |                    row_number() OVER (PARTITION BY bid
       |                                       ORDER BY sm DESC, cid) AS rn
       |             FROM sc) WHERE rn = 1),
       |  corp AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
       |  bat  AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1),
       |  cfp AS (SELECT fp, min(doc_id) AS exact_id FROM corp GROUP BY 1),
       |  bk  AS (SELECT fp, min(doc_id) AS batch_keep_id FROM bat GROUP BY 1)
       |SELECT b.doc_id AS doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
       |       WHEN b.doc_id <> k.batch_keep_id THEN 'batch_dup'
       |       WHEN nb.cid IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
       |       WHEN b.doc_id <> k.batch_keep_id THEN k.batch_keep_id
       |       WHEN nb.cid IS NOT NULL THEN nb.cid
       |       ELSE NULL END AS match_id
       |FROM bat b LEFT JOIN cfp e ON e.fp = b.fp
       |JOIN bk k ON k.fp = b.fp
       |LEFT JOIN best nb ON nb.bid = b.doc_id
       |ORDER BY doc_id""".stripMargin
  }

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
