package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Portable, PortableKernels}
import graft.ops.{Dedup, Events, Features, Multimodal, Profiler, Relational, Similarity, Sketches, TextAnalysis}

/** Oracle SQL registrations (part 1 of 3) — mechanical split of the
  * SparkEntry registry (round 12; no behavior change). */
trait SparkEntryOracles1 extends SparkEntryQueries3 {
  private[graft] def oracleChunk1: Map[String, String] = Map(
    "sim_lsh_neardup" -> signLshOracle,
    // the forced-route two-level IVF near-dup and its armed recall
    // report (VERDICT r13 item 2: the routed branch was oracle-dark)
    "sim_ivf_neardup" -> routedNearDupOracle,
    "ann_recall_ivf_routed" -> routedRecallOracle,
    "sim_lsh_multiprobe_topk" -> lshMultiProbeOracle(20, 5),
    "ann_recall_lsh_probes" -> lshProbeRecallOracle(20, 5),
    // persisted ≡ inline by construction: same oracle text
    "ann_lsh_index_probe" -> lshMultiProbeOracle(20, 5),
    "dedup_embedding_clusters" -> embeddingClustersOracle,
    "ann_recall" -> annRecallOracle,
    // the integer-Lloyd ANN family (round-10 promotion from rows-only:
    // the PQ codebooks and IVF coarse quantizer replay in SQL)
    "sim_pq_topk" -> pqTopKOracle,
    "ann_recall_pq" -> pqRecallOracle,
    "ann_index_probe" -> ivfProbeOracle,
    "ann_recall_ivf" -> ivfRecallOracle,
    "sim_ivfpq_topk" -> ivfPqTopKOracle(ivfPqNProbeOracle, ivfPqShortlistOracle),
    "ann_recall_ivfpq" -> ivfPqRecallOracle(ivfPqNProbeOracle, ivfPqShortlistOracle),
    // MinHash signatures, band keys and SimHash bits are computed on the
    // portable two-prime polynomial basis shared between the codegen
    // kernels and this generated SQL — see graft.functions.Portable.
    "dedup_minhash_lsh" -> minhashLshOracle,
    "dedup_ingest_gate" -> ingestGateOracle,
    "dedup_sig_index_probe" -> sigIndexProbeOracle,
    "dedup_sig_index_append" -> sigIndexAppendOracle,
    "dedup_sig_index_rebuild" -> sigIndexRebuildOracle,

    // two independent NFC implementations must agree byte-for-byte:
    // the Spark side normalizes via the JDK, this oracle via DuckDB's
    // utf8proc — NFC is fully specified, so they do
    "dedup_unicode_nfc" ->
      """WITH raw AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'caf' || chr(233)
                    WHEN 1 THEN 'cafe' || chr(769)
                    WHEN 2 THEN 'Z' || chr(252) || 'rich'
                    ELSE 'Zu' || chr(776) || 'rich' END AS raw
           FROM documents)
         SELECT nfc_normalize(raw) AS norm, count(*) AS n_docs,
                count(DISTINCT raw) AS n_raw_forms,
                min(doc_id) AS keep_id
         FROM raw GROUP BY 1 ORDER BY norm""",
    "dedup_pipeline" -> dedupPipelineOracle,
    "pipeline_pretrain_report" -> pretrainPipelineOracle,
    "split_leakage_safe" -> leakageSplitOracle,
    "bpe_train" -> bpeTrainOracle(BpeTrainMerges),
    // the batched trainer must reproduce the SEQUENTIAL merge table —
    // same oracle, so the driver's hash compare is the equivalence gate
    "bpe_train_batched" -> bpeTrainOracle(BpeTrainMerges),
    "bpe_encode" -> bpeEncodeOracle(BpeTrainMerges),
    "bpe_fertility" -> bpeFertilityOracle(BpeTrainMerges),
    "dedup_simhash" -> simhashOracle,
    "dedup_cap_stats" -> capStatsOracle,
    "dedup_recall" -> dedupRecallOracle,
    "zorder_key" -> zorderKeyOracle,
    "graph_pagerank" -> pagerankOracle,
    "graph_kcore" -> kcoreOracle,
    "graph_labelprop" -> labelPropOracle,
    "graph_modularity" -> modularityOracle,
    "graph_assortativity" -> assortativityOracle,
    "graph_degree_dist" -> degreeDistOracle,
    "graph_components" -> componentsOracle,
    "graph_harmonic" -> harmonicOracle,
    "graph_jaccard_links" -> jaccardLinksOracle,
    "graph_ppr" -> pprOracle,

    // graph_triangles: id-ordered (u < v) edges; each triangle appears
    // once as n1 < n2 < n3; per-node counts via unnest of the corners.
    "graph_triangles" ->
      s"""WITH ${copurchaseCtes(pairs = false, indent = 8)},
         e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM capped a JOIN capped b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
                 FROM e e1
                 JOIN e e2 ON e2.u = e1.v
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT n1 AS node FROM tri
                     UNION ALL SELECT n2 FROM tri
                     UNION ALL SELECT n3 FROM tri)
         SELECT node, count(*) AS n_tri FROM corners
         GROUP BY 1 ORDER BY node""",

    // sampled estimator: the same id-ordered triangle join over the
    // portable-hash-sampled (p = 1/4 exact) canonical edge set; counts
    // are orientation-independent, estimate = count × 4³
    "graph_triangles_sampled" -> triSampledOracle(
      "SELECT node, count(*) AS n_tri_sampled, count(*) * 64 AS n_tri_est " +
        "FROM corners GROUP BY 1 ORDER BY node"),
    "graph_tri_sample_stats" -> triSampledOracle(
      """SELECT (SELECT count(*) FROM e) AS n_edges,
                (SELECT count(*) FROM se) AS n_edges_sampled,
                CAST(4 AS BIGINT) AS inv_p, CAST(64 AS BIGINT) AS inv_p3,
                (SELECT count(*) FROM tri) AS n_tri_sampled,
                (SELECT count(*) * 64 FROM tri) AS n_tri_est"""),
    "fp_shuffle_order" -> {
      import Portable.{P1, aCoef, bCoef}
      s"""SELECT doc_id,
            (doc_id % $P1 * ${aCoef(11)} + ${bCoef(11)}) % $P1 AS shuffle_key
          FROM documents ORDER BY shuffle_key, doc_id"""
    },

    // mm_decode_real: the synthesis params are integer functions of
    // doc_id, so the decoded pixel sum has a closed form: with
    // a = start value, N = W*H pixels, sum = f(a+N) - f(a) where
    // f(n) = (n div 256)*32640 + T(n mod 256), T(m) = m(m-1)/2
    // (each full 256-cycle sums to 32640). Dims echo the synthesis.
    // closed-form frame arithmetic: solid gray g(doc,f) × w × h for
    // every sampled (every-2nd) frame index
    "mm_frames_real" ->
      """WITH d AS (SELECT doc_id, 6 + doc_id % 5 AS w, 6 + doc_id % 7 AS h,
                           3 + doc_id % 3 AS nf
                    FROM documents),
          f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi FROM d)
         SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST((((doc_id % 256) * 31 + 37 * fi) % 256) * w * h
                     AS BIGINT) AS px_sum
         FROM f ORDER BY doc_id, frame_idx""",

    // mm_audio_vad: the planted burst structure in closed form —
    // bursts at frame 2 (len 2+id%3) and 8+id%3 (len 1+id%2, absent
    // when id%5=0); silence is true zero energy
    "mm_audio_vad" ->
      """SELECT doc_id,
                CAST(12 + doc_id % 5 AS BIGINT) AS n_frames,
                CAST(2 + doc_id % 3
                     + CASE WHEN doc_id % 5 <> 0 THEN 1 + doc_id % 2
                            ELSE 0 END AS BIGINT) AS n_voiced,
                CAST(CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 1 END
                     AS BIGINT) AS n_segments,
                CAST(2 AS INT) AS first_voiced_frame
         FROM documents ORDER BY doc_id""",

    // mm_shot_detect: the planted scene structure in closed form —
    // 6+id%3 frames, +100 cut at 2+id%3 unless id%4=0 (single scene);
    // within-scene drift is 2/frame, far under the threshold 50
    "mm_shot_detect" ->
      """SELECT doc_id,
                CAST(6 + doc_id % 3 AS BIGINT) AS n_frames,
                CAST(CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END
                     AS BIGINT) AS n_cuts,
                CAST(CASE WHEN doc_id % 4 <> 0 THEN 2 + doc_id % 3
                          ELSE -1 END AS INT) AS first_cut_idx
         FROM documents ORDER BY doc_id""",

    "mm_decode_real" ->
      """WITH s AS (
           SELECT doc_id,
                  8 + doc_id % 9 AS w,
                  8 + (doc_id % 9 * 7) % 9 AS h,
                  (doc_id % 256 * 31) % 256 AS a
           FROM documents),
         t AS (SELECT doc_id, w, h, a, a + w * h AS b FROM s)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST(((b // 256) * 32640 + (b % 256) * ((b % 256) - 1) // 2)
                   - ((a // 256) * 32640 + (a % 256) * ((a % 256) - 1) // 2)
                   AS BIGINT) AS px_sum
         FROM t ORDER BY doc_id""",

    // mm_audio_real: frame i carries signed sample (a + i) − 32768 and
    // a + N < 2¹⁶ (no wrap), so the decoded PCM sum has the closed form
    // N·a + N(N−1)/2 − 32768·N; rate/frames echo the synthesis.
    "mm_audio_real" ->
      """WITH s AS (
           SELECT doc_id,
                  8000 + doc_id % 3 * 4000 AS rate,
                  800 + doc_id % 5 * 160 AS n,
                  doc_id * 37 % 60000 AS a
           FROM documents)
         SELECT doc_id, CAST(rate AS INT) AS sample_rate,
                CAST(n AS BIGINT) AS n_frames,
                CAST(n * a + n * (n - 1) // 2 - 32768 * n AS BIGINT)
                  AS pcm_sum
         FROM s ORDER BY doc_id""",

    // mm_audio_stats: the ramp's per-sample squares summed directly
    // (generate_series per clip — exact, no float), endpoint peak,
    // floor duration
    "mm_audio_stats" ->
      """WITH d AS (
           SELECT doc_id,
                  8000 + doc_id % 3 * 4000 AS rate,
                  800 + doc_id % 5 * 160 AS n,
                  doc_id * 37 % 60000 - 32768 AS b
           FROM documents),
          s AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i, b
                FROM d),
          e AS (SELECT doc_id, CAST(sum((b + i) * (b + i)) AS BIGINT)
                         AS energy
                FROM s GROUP BY 1)
         SELECT d.doc_id, CAST(d.rate AS INT) AS sample_rate,
                CAST(d.n AS BIGINT) AS n_frames, e.energy,
                CAST(greatest(abs(d.b), abs(d.b + d.n - 1)) AS BIGINT)
                  AS peak,
                CAST(d.n * 1000000 // d.rate AS BIGINT) AS duration_us
         FROM d JOIN e USING (doc_id) ORDER BY d.doc_id""",

    // mm_resize_real: nearest-neighbor sample at ((x'·W)//16, (y'·H)//16)
    // of the synthesized gradient — 256 sampled pixels per doc, summed.
    "mm_resize_real" ->
      """WITH s AS (
           SELECT doc_id,
                  8 + doc_id % 9 AS w,
                  8 + (doc_id % 9 * 7) % 9 AS h,
                  (doc_id % 256 * 31) % 256 AS a
           FROM documents),
         px AS (
           SELECT doc_id, (a + (yy * h // 16) * w + (xx * w // 16)) % 256 AS p
           FROM s,
                LATERAL (SELECT unnest(range(0, 16)) AS xx) xs,
                LATERAL (SELECT unnest(range(0, 16)) AS yy) ys)
         SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                CAST(sum(p) AS BIGINT) AS px_sum
         FROM px GROUP BY doc_id ORDER BY doc_id""",

    // sim_kmeans_step: the whole Lloyd round re-derived in SQL over the
    // same floor(x·1024) quantization; the floor-mean uses the portable
    // ((s % n) + n) % n identity (Spark pmod) so negative per-dim sums
    // floor identically on both engines.
    "sim_kmeans_step" ->
      """WITH qv AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024)
                       AS BIGINT) AS q
           FROM embeddings),
         c0 AS (SELECT vec_id AS cid, d, q AS c FROM qv WHERE vec_id < 8),
         d1 AS (SELECT v.vec_id, c.cid,
                       sum((v.q - c.c) * (v.q - c.c)) AS dist2
                FROM qv v JOIN c0 c USING (d) GROUP BY v.vec_id, c.cid),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                  FROM d1) WHERE rn = 1),
         c1 AS (SELECT cid, d, sum(q) AS s, count(*) AS n
                FROM qv JOIN a1 USING (vec_id) GROUP BY cid, d),
         c1f AS (SELECT cid, d,
                        (s - ((s % n) + n) % n) // n AS c FROM c1),
         d2 AS (SELECT v.vec_id, c.cid,
                       sum((v.q - c.c) * (v.q - c.c)) AS dist2
                FROM qv v JOIN c1f c USING (d) GROUP BY v.vec_id, c.cid),
         a2 AS (SELECT vec_id, cid FROM (
                  SELECT vec_id, cid, row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                  FROM d2) WHERE rn = 1),
         nr1 AS (SELECT cid, count(*) AS n_r1 FROM a1 GROUP BY cid),
         nr2 AS (SELECT cid, count(*) AS n_r2 FROM a2 GROUP BY cid),
         cs AS (SELECT n.cid, sum(n.c) AS centroid_sum,
                       sum((n.c - o.c) * (n.c - o.c)) AS shift_sq
                FROM c1f n JOIN c0 o ON n.cid = o.cid AND n.d = o.d
                GROUP BY n.cid)
         SELECT CAST(nr1.cid AS BIGINT) AS cluster_id,
                CAST(nr1.n_r1 AS BIGINT) AS n_r1,
                CAST(COALESCE(nr2.n_r2, 0) AS BIGINT) AS n_r2,
                CAST(cs.centroid_sum AS BIGINT) AS centroid_sum,
                CAST(cs.shift_sq AS BIGINT) AS shift_sq
         FROM nr1 LEFT JOIN nr2 ON nr1.cid = nr2.cid
              JOIN cs ON nr1.cid = cs.cid
         ORDER BY cluster_id""",

    // cluster-balanced coverage sample: the kmeans-assign CTEs + the
    // portable affine hash (coefficient index 23) per cluster
    "embed_coverage_sample" ->
      s"""WITH qv AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024)
         |              AS BIGINT) AS q
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, d, q AS c FROM qv WHERE vec_id < 8),
         |d1 AS (SELECT v.vec_id, c.cid,
         |              sum((v.q - c.c) * (v.q - c.c)) AS dist2
         |       FROM qv v JOIN c0 c USING (d) GROUP BY 1, 2),
         |a1 AS (SELECT vec_id, cid FROM (
         |         SELECT vec_id, cid, row_number() OVER (
         |                  PARTITION BY vec_id ORDER BY dist2, cid) AS rn
         |         FROM d1) WHERE rn = 1),
         |h AS (SELECT vec_id, cid,
         |             (${graft.functions.Portable.aCoef(23)} * (vec_id % ${graft.functions.Portable.P1})
         |              + ${graft.functions.Portable.bCoef(23)}) % ${graft.functions.Portable.P1} AS h
         |      FROM a1)
         |SELECT cluster_id, rn, vec_id, h FROM (
         |  SELECT CAST(cid AS BIGINT) AS cluster_id,
         |         CAST(row_number() OVER (PARTITION BY cid
         |                ORDER BY h, vec_id) AS BIGINT) AS rn,
         |         vec_id, h
         |  FROM h) WHERE rn <= 5
         |ORDER BY cluster_id, rn""".stripMargin,

    // frozen-centroid append audit: base = even half (seeds = even ids
    // < 16), appends = odd half assigned to the SAME centroids; dist2
    // sums are HUGEINT in DuckDB, hence the explicit BIGINT casts
    "ann_ivf_append_audit" ->
      """WITH qv AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024)
                       AS BIGINT) AS q
           FROM embeddings),
         c0 AS (SELECT vec_id AS cid, d, q AS c FROM qv
                WHERE vec_id % 2 = 0 AND vec_id < 16),
         bd AS (SELECT v.vec_id, c.cid,
                       sum((v.q - c.c) * (v.q - c.c)) AS dist2
                FROM qv v JOIN c0 c USING (d)
                WHERE v.vec_id % 2 = 0 GROUP BY 1, 2),
         ba AS (SELECT vec_id, cid, dist2 FROM (
                  SELECT vec_id, cid, dist2, row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                  FROM bd) WHERE rn = 1),
         bs AS (SELECT cid, count(*) AS n_base,
                       CAST(max(dist2) AS BIGINT) AS radius_sq_base
                FROM ba GROUP BY 1),
         ad AS (SELECT v.vec_id, c.cid,
                       sum((v.q - c.c) * (v.q - c.c)) AS dist2
                FROM qv v JOIN c0 c USING (d)
                WHERE v.vec_id % 2 = 1 GROUP BY 1, 2),
         aa AS (SELECT vec_id, cid, dist2 FROM (
                  SELECT vec_id, cid, dist2, row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                  FROM ad) WHERE rn = 1),
         ax AS (SELECT a.cid, count(*) AS n_appended,
                       CAST(sum(CASE WHEN a.dist2 > b.radius_sq_base
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_beyond
                FROM aa a JOIN bs b USING (cid) GROUP BY 1)
         SELECT CAST(b.cid AS BIGINT) AS cluster_id, b.n_base,
                b.radius_sq_base,
                COALESCE(x.n_appended, 0) AS n_appended,
                COALESCE(x.n_beyond, 0) AS n_beyond,
                COALESCE(x.n_appended, 0) * 10000 // b.n_base AS growth_bp,
                CASE WHEN COALESCE(x.n_appended, 0) = 0 THEN 0
                     ELSE COALESCE(x.n_beyond, 0) * 10000 // x.n_appended
                END AS stale_bp,
                CAST((CASE WHEN COALESCE(x.n_appended, 0) = 0 THEN 0
                           ELSE COALESCE(x.n_beyond, 0) * 10000 // x.n_appended
                      END) > 2000 AS BIGINT) AS needs_rebuild
         FROM bs b LEFT JOIN ax x USING (cid)
         ORDER BY cluster_id""",

    // sim_kmeans_balance: the same quantization/assignment CTEs as
    // sim_kmeans_step, keeping dist2 at the argmin for inertia/radius
    "sim_kmeans_balance" ->
      """WITH qv AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS d,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1024)
                       AS BIGINT) AS q
           FROM embeddings),
         c0 AS (SELECT vec_id AS cid, d, q AS c FROM qv WHERE vec_id < 8),
         d1 AS (SELECT v.vec_id, c.cid,
                       sum((v.q - c.c) * (v.q - c.c)) AS dist2
                FROM qv v JOIN c0 c USING (d) GROUP BY v.vec_id, c.cid),
         a1 AS (SELECT vec_id, cid, dist2 FROM (
                  SELECT vec_id, cid, dist2, row_number() OVER (
                           PARTITION BY vec_id ORDER BY dist2, cid) AS rn
                  FROM d1) WHERE rn = 1),
         tot AS (SELECT count(*) AS n_total FROM a1)
         SELECT CAST(cid AS BIGINT) AS cluster_id,
                count(*) AS n_members,
                CAST(count(*) * 10000 // max(n_total) AS BIGINT)
                  AS share_bp,
                CAST(sum(dist2) AS BIGINT) AS inertia,
                CAST(max(dist2) AS BIGINT) AS radius_sq
         FROM a1 CROSS JOIN tot
         GROUP BY cid ORDER BY cluster_id""",

    // mm_dhash_real: the synthesized stride-73 ramp (one perturbed pixel
    // in variant 1) is integer arithmetic on doc_id, so the 9×8 grid,
    // the adjacent-pixel comparisons, and the packed 2×32-bit hash all
    // have exact SQL twins — a REAL decode→resample→hash chain oracle'd
    // bit for bit.
    "mm_dhash_real" ->
      s"""WITH $DhashCte
         SELECT doc_id, CAST(v AS INT) AS variant, hash_hi, hash_lo
         FROM hashes ORDER BY doc_id, variant""",

    // mm_audio_fingerprint: the planted pattern and its single-bit
    // flip, closed-form — the decode chain must land exactly here
    "mm_audio_fingerprint" ->
      """WITH f AS (SELECT doc_id,
                           CAST((doc_id * 37 + 11) % 65536 AS BIGINT)
                             AS fp0
                    FROM documents),
          v AS (SELECT doc_id, fp0,
                       CASE WHEN doc_id % 4 = 0
                            THEN xor(fp0, CAST(1 AS BIGINT)
                                          << CAST(doc_id % 16 AS INTEGER))
                            ELSE fp0 END AS fp1
                FROM f)
         SELECT doc_id, fp0, fp1,
                CAST(bit_count(xor(fp0, fp1)) AS BIGINT) AS hamming
         FROM v ORDER BY doc_id""",

    // mm_phash_neardup: identical-hash collapse → 4×16-bit band join →
    // exact Hamming verify, replicated structurally (the banding is part
    // of the CONTRACT — a pair at dist ≤ 3 must share a band by
    // pigeonhole, so the capped construction stays oracle-able).
    "mm_phash_neardup" ->
      s"""WITH $DhashCte,
          groups AS (
            SELECT hash_hi, hash_lo, min(doc_id * 2 + v) AS rep
            FROM hashes GROUP BY hash_hi, hash_lo),
          bands AS (
            SELECT rep, hash_hi, hash_lo, band_key
            FROM groups, LATERAL (SELECT unnest([
                   hash_lo & 65535,
                   65536 + ((hash_lo >> 16) & 65535),
                   131072 + (hash_hi & 65535),
                   196608 + ((hash_hi >> 16) & 65535)]) AS band_key) bk),
          hot AS (
            SELECT band_key FROM bands GROUP BY 1 HAVING count(*) > 64),
          kept AS (
            SELECT * FROM bands
            WHERE band_key NOT IN (SELECT band_key FROM hot)),
          cand AS (
            SELECT DISTINCT l.rep AS l_rep, r.rep AS r_rep,
                   l.hash_hi AS l_hi, l.hash_lo AS l_lo,
                   r.hash_hi AS r_hi, r.hash_lo AS r_lo
            FROM kept l JOIN kept r
              ON l.band_key = r.band_key AND l.rep < r.rep)
         SELECT l_rep, r_rep,
                CAST(bit_count(xor(l_hi, r_hi)) + bit_count(xor(l_lo, r_lo))
                     AS INT) AS dist
         FROM cand
         WHERE bit_count(xor(l_hi, r_hi)) + bit_count(xor(l_lo, r_lo)) <= 3
         ORDER BY l_rep, r_rep""",

    "mm_phash_cap_stats" ->
      s"""WITH $DhashCte,
          groups AS (
            SELECT hash_hi, hash_lo, min(doc_id * 2 + v) AS rep
            FROM hashes GROUP BY hash_hi, hash_lo),
          bands AS (
            SELECT rep, band_key
            FROM groups, LATERAL (SELECT unnest([
                   hash_lo & 65535,
                   65536 + ((hash_lo >> 16) & 65535),
                   131072 + (hash_hi & 65535),
                   196608 + ((hash_hi >> 16) & 65535)]) AS band_key) bk),
          sz AS (SELECT band_key, CAST(count(*) AS BIGINT) AS sz
                 FROM bands GROUP BY 1),
          hot AS (SELECT * FROM sz WHERE sz > 64)
         SELECT 'phash_band' AS stage,
                CAST(coalesce(count(*), 0) AS BIGINT) AS n_hot_keys,
                CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_dropped_rows
         FROM hot""",
    "q1_group_count_sort" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
         GROUP BY 1 ORDER BY cnt DESC, c_mktsegment ASC""",

    "q2_bucket_histogram" ->
      """WITH b AS (SELECT CAST(floor(o_totalprice / 1000) * 1000 AS BIGINT) AS bucket_lo FROM orders)
         SELECT '(' || CAST(bucket_lo AS VARCHAR) || ',' || CAST(bucket_lo + 1000 AS VARCHAR) || ')' AS bucket,
                bucket_lo, count(*) AS cnt
         FROM b GROUP BY bucket_lo ORDER BY bucket_lo""",

    // round_even = HALF_EVEN, matching Spark's bround: plain round()
    // rounds doubles half-away-from-zero and diverges on exact ties
    // (e.g. a ratio of 1/32 at scale 4).
    "q3_1_group_ratio" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                round_even(count(*) / (SELECT count(*) FROM orders), 4) AS ratio
         FROM orders GROUP BY 1 ORDER BY cnt DESC, o_orderpriority ASC""",

    "q3_2_derived_arithmetic" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q3_3_parse_filter" ->
      """WITH s AS (
           SELECT p_partkey, p_name,
                  CASE WHEN p_size % 7 = 0 THEN NULL
                       WHEN p_size >= 10 THEN '10+ years'
                       WHEN p_size < 1 THEN '< 1 year'
                       ELSE CAST(p_size AS VARCHAR) || ' years' END AS work_year
           FROM part),
         p AS (
           SELECT p_partkey, p_name,
                  CASE WHEN work_year IS NULL THEN -1
                       WHEN contains(work_year, '10+') THEN 11
                       WHEN contains(work_year, '<') THEN 0
                       ELSE CAST(split_part(work_year, ' ', 1) AS INT) END AS work_year_num
           FROM s)
         SELECT p_partkey, p_name, work_year_num FROM p
         WHERE work_year_num > 5 ORDER BY p_partkey""",

    // loan_t*: the synthLoan CTE is the SQL twin of the Spark-side
    // synthesis — identical modular arithmetic over orders, so the
    // LoanWorkload semantics (MR comparator sort, bround ratio, parser)
    // are what the hash compare actually checks
    "loan_t1" ->
      """WITH loan AS (SELECT 'ind_' || (o_orderkey % 14) AS industry FROM orders)
         SELECT industry, count(*) AS cnt FROM loan
         GROUP BY 1 ORDER BY cnt DESC, industry ASC""",

    "loan_t3_1" ->
      """WITH loan AS (SELECT 'emp_' || (o_orderkey % 6) AS employer_type FROM orders)
         SELECT employer_type, count(*) AS cnt,
                round_even(count(*) / (SELECT count(*) FROM loan), 4) AS ratio
         FROM loan GROUP BY 1 ORDER BY cnt DESC, employer_type ASC""",

    "loan_t3_2" ->
      """WITH loan AS (
           SELECT o_orderkey AS loan_id, o_custkey AS user_id,
                  o_orderkey % 5 + 1 AS year_of_loan,
                  o_orderkey % 2000 + 500 AS monthly_payment,
                  o_orderkey % 30000 + 1000 AS total_loan
           FROM orders)
         SELECT loan_id, user_id,
                CAST(year_of_loan AS DOUBLE) * CAST(monthly_payment AS DOUBLE) * 12
                  - CAST(total_loan AS DOUBLE) AS total_money
         FROM loan ORDER BY loan_id""",

    "loan_t3_3" ->
      """WITH loan AS (
           SELECT o_orderkey AS loan_id, o_custkey AS user_id,
                  CASE WHEN o_orderkey % 11 = 0 THEN NULL
                       WHEN o_orderkey % 13 >= 10 THEN '10+ years'
                       WHEN o_orderkey % 13 = 0 THEN '< 1 year'
                       ELSE (o_orderkey % 13) || ' years' END AS work_year
           FROM orders),
         p AS (
           SELECT loan_id, user_id, work_year,
                  CASE WHEN work_year IS NULL THEN -1
                       WHEN contains(work_year, '10+') THEN 11
                       WHEN contains(work_year, '<') THEN 0
                       ELSE CAST(split_part(work_year, ' ', 1) AS INT) END AS work_year_num
           FROM loan)
         SELECT loan_id, user_id, work_year, work_year_num FROM p
         WHERE work_year_num > 5 ORDER BY loan_id""",

    "q4_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                count(*) AS cnt
         FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",

    "q5_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY n_orders DESC, c_mktsegment ASC""",

    "q6_join_star" ->
      """SELECT r_name, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY r_name""",

    "q7_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY n_customers DESC, c_mktsegment ASC""",

    "q21_join_left" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
                count(o_orderkey) AS n_matched,
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_urgent
         FROM customer LEFT JOIN
           (SELECT o_custkey, o_orderkey FROM orders
            WHERE o_orderpriority = '1-URGENT') o
           ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",

    "q25_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY n_customers DESC, c_mktsegment ASC""",

    "q26_join_full" ->
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
            b AS (SELECT c_custkey AS k2 FROM customer WHERE c_custkey % 2 = 0)
         SELECT count(CASE WHEN k IS NOT NULL AND k2 IS NOT NULL THEN 1 END) AS n_both,
                count(CASE WHEN k2 IS NULL THEN 1 END) AS n_left_only,
                count(CASE WHEN k IS NULL THEN 1 END) AS n_right_only
         FROM a FULL JOIN b ON k = k2""",

    "q22_except" ->
      """WITH e AS (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
         SELECT c_mktsegment, count(*) AS n_customers
         FROM e JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY n_customers DESC, c_mktsegment ASC""",

    "q24_union_distinct" ->
      """WITH u AS (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION
           SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
         SELECT c_mktsegment, count(*) AS n_customers
         FROM u JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY n_customers DESC, c_mktsegment ASC""",

    "q23_distinct_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                count(DISTINCT o_custkey) AS n_custs,
                count(DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT)) AS n_years
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",

    "q16_percentiles" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.5) AS med,
                quantile_cont(l_quantity, 0.9) AS p90,
                count(*) AS cnt
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    "q17_date_parts" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
                CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
                count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1, 2 ORDER BY y, m""",

    "q15_asof_join" ->
      """SELECT a.user_id, a.event_id, epoch_us(a.ts) AS us, a.value,
                b.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'click') a
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
           ON a.user_id = b.user_id AND a.ts >= b.ts
         ORDER BY a.user_id, us, a.event_id""",

    // q43_asof_forward: portable explicit formulation (rank the
    // following views, take the first; a version-fragile ASOF <=
    // spelling deliberately avoided — the q41 discipline)
    "q43_asof_forward" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
                    FROM events WHERE event_type = 'click'),
          v AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
                FROM events WHERE event_type = 'view'),
          j AS (SELECT c.user_id, c.event_id, c.us, c.value,
                       v.value AS next_value, v.us AS r_us,
                       row_number() OVER (
                         PARTITION BY c.user_id, c.event_id
                         ORDER BY v.us, v.event_id) AS rn
                FROM c JOIN v ON v.user_id = c.user_id AND v.us >= c.us)
         SELECT user_id, event_id, us, value, next_value,
                r_us - us AS gap_us
         FROM j WHERE rn = 1
         UNION ALL
         SELECT c.user_id, c.event_id, c.us, c.value,
                CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
         FROM c WHERE NOT EXISTS (SELECT 1 FROM v
                                  WHERE v.user_id = c.user_id
                                    AND v.us >= c.us)
         ORDER BY user_id, us, event_id""",

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST""",

    "q29_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST,
                  o_orderpriority ASC NULLS FIRST""",

    "q28_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",

    "q13_intersect" ->
      """WITH both_p AS (
           SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
         SELECT c_mktsegment, count(*) AS n_customers
         FROM both_p JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY n_customers DESC, c_mktsegment ASC""",

    "q14_pivot" ->
      """SELECT c_mktsegment,
                count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
                count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
                count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
                count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
                count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
         FROM orders JOIN customer ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",

    "q19_window_frames" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS sum3,
                count(*) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rn3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "sink_compacted_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",

    "q8_window_topn" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    // the typed-Aggregator formulation must return EXACTLY the window
    // formulation's rows — one oracle, two physical strategies
    "q8b_topk_agg" ->
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC)
                    AS BIGINT) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    // capped-basket semantics (MaxBasket lowest part ids per order) —
    // identical to the Spark side's slice(array_sort(collect_set(...)))
    "copurchase_pairs" ->
      s"""WITH ${copurchaseCtes(pairs = false, indent = 8)}
         SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_orders
         FROM capped a JOIN capped b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2
         ORDER BY n_orders DESC, pa ASC, pb ASC LIMIT 20""",

    "events_winsorize" ->
      """WITH p AS (SELECT event_type,
                           quantile_cont(value, 0.05) AS p05,
                           quantile_cont(value, 0.95) AS p95
                    FROM events GROUP BY 1)
         SELECT event_id, e.event_type,
                CAST(round(least(greatest(value, p05), p95) * 100) AS BIGINT)
                  AS clamped_cents
         FROM events e JOIN p ON e.event_type = p.event_type
         ORDER BY event_id""",

    // the portable-histogram clamp: cents quantization, 64-cent bins,
    // covering-count quantile pick, clamp to inclusive bin upper edges —
    // integer-exact twin of Sketches.histCountsBy/histQuantilesBy
    "events_winsorize_approx" ->
      """WITH c AS (SELECT event_id, event_type,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM events),
         h AS (SELECT event_type,
                      least(1023, greatest(0, cents // 64)) AS bucket,
                      count(*) AS cnt
               FROM c GROUP BY 1, 2),
         cum AS (SELECT event_type, bucket, cnt,
                        sum(cnt) OVER (PARTITION BY event_type
                                       ORDER BY bucket) AS cum,
                        sum(cnt) OVER (PARTITION BY event_type) AS n_total
                 FROM h),
         q AS (SELECT event_type, q_bp, min(bucket) AS bucket
               FROM cum, (SELECT unnest([500, 9500]) AS q_bp) qs
               WHERE cum * 10000 >= q_bp * n_total
               GROUP BY 1, 2),
         b AS (SELECT event_type,
                      max(CASE WHEN q_bp = 500
                               THEN (bucket + 1) * 64 - 1 END) AS p05c,
                      max(CASE WHEN q_bp = 9500
                               THEN (bucket + 1) * 64 - 1 END) AS p95c
               FROM q GROUP BY 1)
         SELECT event_id, c.event_type,
                least(greatest(cents, p05c), p95c) AS clamped_cents
         FROM c JOIN b ON c.event_type = b.event_type
         ORDER BY event_id""",

    "q37_recursive_cte" ->
      """WITH RECURSIVE anc(node, root, depth) AS (
           SELECT c_custkey, c_custkey, CAST(0 AS BIGINT)
           FROM customer WHERE c_custkey < 10
           UNION ALL
           SELECT c.c_custkey, a.root, a.depth + 1
           FROM customer c JOIN anc a
             ON c.c_custkey // 10 = a.node AND c.c_custkey >= 10)
         SELECT node, root, depth FROM anc ORDER BY node""",

    "fp_feature_hash" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                      FROM documents),
         h AS (SELECT doc_id,
                      list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split_regex(tk, ''),
                            c -> CAST(ascii(c) AS BIGINT))),
                        (a, x) -> (a * 31 + x) % 1000000007) % 64 AS bucket
               FROM tok WHERE tk <> '')
         SELECT doc_id, bucket, count(*) AS tf FROM h
         GROUP BY 1, 2 ORDER BY doc_id, bucket""",

    "q36_union_by_name" ->
      """WITH u AS (
           SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_orderkey, o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT coalesce(o_orderpriority, '<none>') AS priority,
                count(*) AS cnt,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM u GROUP BY 1 ORDER BY priority""",

    // sketch_bitmap_distinct: the identical word/bit arithmetic —
    // exact, so the oracle replicates the bitmap AND the merge law
    "sketch_bitmap_distinct" ->
      """WITH ids AS (SELECT event_type AS g, CAST(user_id AS BIGINT)
                               AS id
                      FROM events),
          w AS (SELECT g, id // 32 AS widx,
                       bit_or(CAST(1 AS BIGINT)
                              << CAST(id % 32 AS INTEGER)) AS word
                FROM ids GROUP BY 1, 2),
          pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_words,
                        CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct
                 FROM w GROUP BY 1),
          mw AS (SELECT widx, bit_or(word) AS word FROM w GROUP BY 1),
          ma AS (SELECT '(all)' AS g, CAST(count(*) AS BIGINT) AS n_words,
                        CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct
                 FROM mw)
         SELECT * FROM pg UNION ALL SELECT * FROM ma ORDER BY g""",

    "sketch_cms" -> cmsOracle,
    "sketch_hll_distinct" -> hllOracle,
    "sketch_hll_groups" -> hllGroupsOracle,
    "sketch_hll_sliding" -> hllSlidingOracle,
    "sketch_hll_union" -> hllUnionOracle,
    "sketch_kmv_distinct" -> kmvOracle,
    // round-11 promotion: portable KMV distinct estimates in the profile
    "profile_approx" -> profileApproxOracle,
    "sketch_kmv_jaccard" -> kmvJaccardOracle,
  )
}
