package graft.operators

import graft.QuerySpec

/** The embedding-similarity rows: exact and approximate KNN, IVF/PQ/LSH
  * indexes, recall reports and clustering; one [[graft.QuerySpec]] per row. */
object SimilarityQueries {
  /** The IVF top-k oracle — shared verbatim by `emb_ann_ivf`
    * (`Similarity.probeIvf` on the staged raw-seed index) and
    * `emb_knn_rewrite` (the same result computed through the
    * KnnIvfRewrite optimizer rule over that index): both engine paths
    * must reproduce this quantizer arithmetic exactly. */
  private def annIvfOracleSql: String =
    s"""WITH e AS (SELECT vec_id,
           list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
         FROM embeddings),
       -- data-adaptive centroids: the embeddings of seed vectors
       -- vec_id 1..16 (cell c = seed vec_id c+1). list_dot_product
       -- accumulates left-to-right, the same order as the Scala
       -- kernel, so the doubles (and thus the argmax below) are
       -- bit-identical across engines
       seeds AS (
         SELECT vec_id - 1 AS c, emb AS cv FROM e
         WHERE vec_id BETWEEN 1 AND ${Similarity.IvfNlist}),
       proj AS (
         SELECT e.vec_id, s.c,
           list_dot_product(e.emb, s.cv) AS proj
         FROM e CROSS JOIN seeds s),
       assigned AS (
         SELECT vec_id, c AS cell FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
             ORDER BY proj DESC, c) AS rn FROM proj) WHERE rn = 1),
       qcells AS (
         SELECT c AS cell FROM (
           SELECT c, row_number() OVER (ORDER BY proj DESC, c) AS rn
           FROM proj WHERE vec_id = 0) WHERE rn <= ${Similarity.IvfNprobe}),
       qv AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
       cand AS (
         SELECT a.vec_id FROM assigned a JOIN qcells q ON a.cell = q.cell
         WHERE a.vec_id != 0),
       scored AS (
         SELECT c.vec_id,
           list_dot_product(qv, emb) /
             (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(emb,emb)))
             AS cosine
         FROM cand c JOIN e ON e.vec_id = c.vec_id CROSS JOIN qv),
       topk AS (
         SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
           AS rank
         FROM scored)
       SELECT rank, vec_id FROM topk WHERE rank <= 10 ORDER BY rank"""

  /** Seed-quantizer assignment CTE (bit-exact emb_ann_ivf machinery)
    * plus the delta id-cut — shared prefix of the IVF maintenance
    * oracles (`emb_ivf_append`, `stream_ivf_parity`,
    * `emb_ivf_rebalance`). */
  private[graft] def ivfAssignedCteSql: String =
    s"""WITH e AS (SELECT vec_id,
           list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
         FROM embeddings),
       seeds AS (
         SELECT vec_id - 1 AS c, emb AS cv FROM e
         WHERE vec_id BETWEEN 1 AND ${Similarity.IvfNlist}),
       proj AS (
         SELECT e.vec_id, s.c,
           list_dot_product(e.emb, s.cv) AS proj
         FROM e CROSS JOIN seeds s),
       assigned AS (
         SELECT vec_id, c AS cell FROM (
           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
             ORDER BY proj DESC, c) AS rn FROM proj) WHERE rn = 1),
       cut AS (SELECT (MAX(vec_id) * 4) // 5 AS cut FROM embeddings)"""

  /** Shared oracle of `emb_ivf_append` and `stream_ivf_parity`: the
    * final index occupancy from the bit-exact seed-quantizer
    * assignment rule (emb_ann_ivf's machinery), appended share broken
    * out at the id cut. */
  private def ivfAppendOracleSql: String =
    ivfAssignedCteSql +
    s"""
       SELECT CAST(a.cell AS BIGINT) AS cell, COUNT(*) AS n_vectors,
         CAST(SUM(CASE WHEN a.vec_id >= c.cut THEN 1 ELSE 0 END)
           AS BIGINT) AS n_appended,
         MIN(a.vec_id) AS min_vec, MAX(a.vec_id) AS max_vec
       FROM assigned a CROSS JOIN cut c
       GROUP BY a.cell ORDER BY cell"""

  /** Oracle of `emb_ivf_rebalance`: per-cell occupancy before/after
    * the delta append and the split decision (occupancy > 2x the mean
    * after absorbing the delta) — the trigger a 100 TB index uses to
    * schedule quantizer refresh instead of re-clustering on a timer. */
  private def ivfRebalanceOracleSql: String =
    ivfAssignedCteSql +
    s""",
       occ AS (
         SELECT a.cell, COUNT(*) AS n_after,
           CAST(SUM(CASE WHEN a.vec_id < c.cut THEN 1 ELSE 0 END)
             AS BIGINT) AS n_before
         FROM assigned a CROSS JOIN cut c GROUP BY 1),
       tot AS (SELECT CAST(SUM(n_after) AS BIGINT) AS total FROM occ)
       SELECT CAST(cell AS BIGINT) AS cell, n_before, n_after,
         (n_after - n_before) * 1000 // nullif(n_before, 0)
           AS growth_permille,
         CAST(CASE WHEN n_after * ${Similarity.IvfNlist} > 2 * total
           THEN 1 ELSE 0 END AS BIGINT) AS needs_split
       FROM occ CROSS JOIN tot ORDER BY cell"""

  /** PQ shortlist-then-rerank top-k CTE stack shared by emb_ann_pq
    * and emb_pq_recall: ends at `topk` (exact-cosine rerank of the
    * ADC shortlist) with `e` and `qv` still in scope. */
  private lazy val pqTopkCteSql: String =
    s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         -- codebooks: subvectors of the 16 seed embeddings (vec_id
         -- 1..16), 8 subspaces x 8 dims. Every distance is
         -- (dot(a,a) - 2*dot(a,b)) + dot(b,b) over list_dot_product's
         -- left-to-right accumulation, and the ADC total is the
         -- explicitly left-associated 8-term chain — bit-identical to
         -- the Scala kernel's ascending loops (grouped sum() would be
         -- order-unspecified and near-dup vectors share codes).
         seeds AS (
           SELECT vec_id - 1 AS c, emb AS cv FROM e
           WHERE vec_id BETWEEN 1 AND ${Similarity.IvfNlist}),
         ms AS (SELECT unnest(range(0,8)) AS m),
         d AS (
           SELECT e.vec_id, ms.m, s.c,
             (list_dot_product(e.emb[ms.m*8+1 : ms.m*8+8],
                               e.emb[ms.m*8+1 : ms.m*8+8])
              - 2 * list_dot_product(e.emb[ms.m*8+1 : ms.m*8+8],
                                     s.cv[ms.m*8+1 : ms.m*8+8]))
             + list_dot_product(s.cv[ms.m*8+1 : ms.m*8+8],
                                s.cv[ms.m*8+1 : ms.m*8+8]) AS d2
           FROM e CROSS JOIN ms CROSS JOIN seeds s),
         codes AS (
           SELECT vec_id, m, c FROM (
             SELECT vec_id, m, c, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY d2 ASC, c) AS rn
             FROM d WHERE vec_id != 0) WHERE rn = 1),
         p AS (
           SELECT vec_id,
             max(CASE WHEN m=0 THEN c END) AS c0,
             max(CASE WHEN m=1 THEN c END) AS c1,
             max(CASE WHEN m=2 THEN c END) AS c2,
             max(CASE WHEN m=3 THEN c END) AS c3,
             max(CASE WHEN m=4 THEN c END) AS c4,
             max(CASE WHEN m=5 THEN c END) AS c5,
             max(CASE WHEN m=6 THEN c END) AS c6,
             max(CASE WHEN m=7 THEN c END) AS c7
           FROM codes GROUP BY 1),
         t AS (SELECT m, c, d2 FROM d WHERE vec_id = 0),
         adc AS (
           SELECT p.vec_id,
             ((((((t0.d2 + t1.d2) + t2.d2) + t3.d2) + t4.d2)
               + t5.d2) + t6.d2) + t7.d2 AS adc
           FROM p
             JOIN t t0 ON t0.m=0 AND t0.c=p.c0
             JOIN t t1 ON t1.m=1 AND t1.c=p.c1
             JOIN t t2 ON t2.m=2 AND t2.c=p.c2
             JOIN t t3 ON t3.m=3 AND t3.c=p.c3
             JOIN t t4 ON t4.m=4 AND t4.c=p.c4
             JOIN t t5 ON t5.m=5 AND t5.c=p.c5
             JOIN t t6 ON t6.m=6 AND t6.c=p.c6
             JOIN t t7 ON t7.m=7 AND t7.c=p.c7),
         short AS (
           SELECT vec_id FROM (
             SELECT vec_id, row_number() OVER (ORDER BY adc ASC, vec_id)
               AS rn FROM adc) WHERE rn <= 50),
         qv AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         scored AS (
           SELECT sh.vec_id,
             list_dot_product(qv, emb) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(emb,emb)))
               AS cosine
           FROM short sh JOIN e ON e.vec_id = sh.vec_id CROSS JOIN qv),
         topk AS (
           SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
             AS rank FROM scored)"""

  val specs: Seq[QuerySpec] = Seq(
    // the streaming append (foreachBatch per micro-batch) must land
    // the IDENTICAL final index — one oracle serves both rows
    QuerySpec("stream_ivf_parity", Similarity.ivfAppendStreamParity(_, _),
      ivfAppendOracleSql,
      protocol = true),
    QuerySpec("emb_knn_exact", Similarity.knnExact(_, _),
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, emb AS cv FROM e
               WHERE vec_id >= 5),
         scored AS (
           SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
               AS cosine
           FROM q CROSS JOIN c),
         ranked AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 10 ORDER BY query_id, rank"""),
    QuerySpec("emb_ann_lsh", Similarity.annTopK(_, _),
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         proj AS (
           -- ordered accumulation via list_dot_product (an unordered
           -- sum() over doubles could flip a near-zero projection's
           -- sign between engines)
           SELECT e.vec_id, i.i AS i,
             list_dot_product(e.emb,
               list_transform(range(0, len(e.emb)), d ->
                 CAST(CASE WHEN (((i.i*37 + d*101) * 2654435761) >> 13)
                        % 2 != 0 THEN 1 ELSE -1 END AS DOUBLE))) AS proj
           FROM e CROSS JOIN (SELECT unnest(range(0,8)) AS i) i
         ), sig AS (
           SELECT vec_id,
             CAST(sum(CASE WHEN i < 4 AND proj > 0
               THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket0,
             CAST(sum(CASE WHEN i >= 4 AND proj > 0
               THEN (1::BIGINT << CAST(i-4 AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket1
           FROM proj GROUP BY 1
         ),
         q AS (SELECT s.vec_id AS query_id, bucket0 AS qb0, bucket1 AS qb1,
                 emb AS qv
               FROM sig s JOIN e ON e.vec_id = s.vec_id WHERE s.vec_id < 5),
         c AS (SELECT s.vec_id AS neighbor_id, bucket0, bucket1, emb AS cv
               FROM sig s JOIN e ON e.vec_id = s.vec_id WHERE s.vec_id >= 5),
         cand AS (
           SELECT query_id, neighbor_id, qv, cv FROM c JOIN q
             ON c.bucket0 = q.qb0
           UNION
           SELECT query_id, neighbor_id, qv, cv FROM c JOIN q
             ON c.bucket1 = q.qb1
         ), scored AS (
           SELECT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
               AS cosine
           FROM cand),
         ranked AS (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),
    QuerySpec("q_query_documentation", Similarity.queryDocumentation(_, _),
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         qv AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
         store AS (SELECT d.doc_id, d.lang, d.source, d.text, e.emb
                   FROM documents d JOIN e ON d.doc_id = e.vec_id),
         scored AS (
           SELECT doc_id, source,
             1.0 - list_dot_product(qv, emb) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(emb,emb)))
               AS distance
           FROM store CROSS JOIN qv
           WHERE doc_id <> 0 AND lang = 'en'
             AND source LIKE 'src1%' AND length(trim(text)) > 0),
         ranked AS (
           SELECT doc_id, source,
             row_number() OVER (ORDER BY distance, doc_id) AS rank
           FROM scored)
         SELECT rank, doc_id, 'doc://'||doc_id AS url, source
         FROM ranked WHERE rank <= 4 ORDER BY rank"""),
    QuerySpec("q_query_code_diag", Similarity.queryCodeDiagnostics(_, _),
      """WITH files AS (
           SELECT doc_id, text, source,
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS ext
           FROM documents)
         SELECT count(*) AS raw_count,
           count(*) FILTER (WHERE length(trim(text)) = 0)
             AS empty_content_count,
           least(count(*), 4) AS returned
         FROM files
         WHERE (source||'/'||doc_id||ext) LIKE 'src1%'
           AND ext IN ('.py', '.go')"""),
    // planted ground truth: ten synthetic neighbors at 0.001*j from
    // query vector 0 — orders of magnitude inside any natural
    // neighbor, so the seeded LSH must return exactly ids
    // 9000000+1..10 in j order (ids and ranks only, floats never
    // hashed). Empty corpus → empty result on both sides.
    QuerySpec("emb_ann_mllib", Similarity.annMllibPlanted(_, _),
      """SELECT CAST(9000000 + j AS BIGINT) AS vec_id,
           CAST(j AS BIGINT) AS rank
         FROM (SELECT unnest(range(1, 11)) AS j)
         WHERE EXISTS (SELECT 1 FROM embeddings WHERE vec_id = 0)
         ORDER BY rank"""),
    QuerySpec("emb_ann_ivf", Similarity.annIvf(_, _),
      annIvfOracleSql),
    // the optimizer-rewrite row computes the SAME result through
    // KnnIvfRewrite (declarative top-k rewritten onto the registered
    // index) — one oracle, two paths, pinning the rewrite's semantics
    QuerySpec("emb_knn_rewrite", Similarity.knnRewriteIvf(_, _),
      annIvfOracleSql),
    // incremental index maintenance: store codes built below the cut,
    // batch codes APPENDED against the frozen seed quantizer; the
    // final index's per-cell occupancy (appended share broken out)
    // re-derived from the same bit-exact assignment rule as
    // emb_ann_ivf
    QuerySpec("emb_ivf_append", Similarity.ivfAppendReport(_, _),
      ivfAppendOracleSql),
    QuerySpec("emb_ann_recall", Similarity.ivfRecall(_, _),
      """WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         seeds AS (
           SELECT vec_id - 1 AS c, emb AS cv FROM e
           WHERE vec_id BETWEEN 1 AND 16),
         proj AS (
           SELECT e.vec_id, s.c,
             list_dot_product(e.emb, s.cv) AS proj
           FROM e CROSS JOIN seeds s),
         assigned AS (
           SELECT vec_id, c AS cell FROM (
             SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
               ORDER BY proj DESC, c) AS rn FROM proj) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM e
               WHERE vec_id < 5),
         qc AS (
           SELECT vec_id AS query_id, c AS cell FROM (
             SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
               ORDER BY proj DESC, c) AS rn
             FROM proj WHERE vec_id < 5) WHERE rn <= 4),
         cand AS (
           SELECT qc.query_id, a.vec_id
           FROM assigned a JOIN qc ON a.cell = qc.cell
           WHERE a.vec_id != qc.query_id),
         ann_scored AS (
           SELECT c.query_id, c.vec_id,
             list_dot_product(q.qv, e.emb) /
               (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(e.emb, e.emb))) AS cosine
           FROM cand c JOIN e ON e.vec_id = c.vec_id
             JOIN q ON q.query_id = c.query_id),
         ann AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
             FROM ann_scored) WHERE rank <= 10),
         ex_scored AS (
           SELECT q.query_id, e.vec_id,
             list_dot_product(q.qv, e.emb) /
               (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(e.emb, e.emb))) AS cosine
           FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
         exact AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
             FROM ex_scored) WHERE rank <= 10),
         ov AS (
           SELECT a.query_id, count(*) AS n_overlap
           FROM ann a JOIN exact x
             ON a.query_id = x.query_id AND a.vec_id = x.vec_id
           GROUP BY 1)
         SELECT q.query_id,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n_overlap, 0) * 1000 // 10 AS BIGINT)
             AS recall_permille
         FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""),
    // PQ recall calibration: the shortlist-reranked top-10 against the
    // exact top-10 for the same query — the PQ twin of emb_ann_recall,
    // sharing the PQ CTE stack so the scorers cannot drift.
    QuerySpec("emb_pq_recall", Similarity.pqRecall(_, _),
      (pqTopkCteSql + """,
         allscored AS (
           SELECT e.vec_id,
             list_dot_product(qv, emb) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(emb,emb)))
               AS cosine
           FROM e CROSS JOIN qv WHERE e.vec_id != 0),
         exactk AS (
           SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id)
             AS rank FROM allscored)
         SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           CAST(count(*) * 1000 // 10 AS BIGINT) AS recall_permille
         FROM (SELECT vec_id FROM topk WHERE rank <= 10) t
           JOIN (SELECT vec_id FROM exactk WHERE rank <= 10) x
           USING (vec_id)""")),
    // Matryoshka-truncation recall: exact prefix-dim top-k vs exact
    // full-dim top-k, both re-derived with list slicing and the same
    // ascending-dimension double accumulation.
    QuerySpec("emb_mrl_recall", Similarity.mrlRecall(_, _),
      s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM e
               WHERE vec_id < 5),
         pairs AS (SELECT q.query_id, q.qv, e.vec_id, e.emb
           FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
         fulltop AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY
                 list_dot_product(qv, emb) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(emb, emb))) DESC, vec_id)
               AS rank
             FROM pairs) WHERE rank <= 10),
         trunctop AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (
               PARTITION BY query_id ORDER BY
                 list_dot_product(qv[1:${Similarity.MrlPrefixDims}],
                     emb[1:${Similarity.MrlPrefixDims}]) /
                   (sqrt(list_dot_product(qv[1:${Similarity.MrlPrefixDims}],
                       qv[1:${Similarity.MrlPrefixDims}]))
                    * sqrt(list_dot_product(emb[1:${Similarity.MrlPrefixDims}],
                       emb[1:${Similarity.MrlPrefixDims}]))) DESC, vec_id)
               AS rank
             FROM pairs) WHERE rank <= 10),
         ov AS (
           SELECT f.query_id, count(*) AS n_overlap
           FROM fulltop f JOIN trunctop t
             ON f.query_id = t.query_id AND f.vec_id = t.vec_id
           GROUP BY 1)
         SELECT q.query_id,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n_overlap, 0) * 1000 // 10 AS BIGINT)
             AS recall_permille
         FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""),
    // Recall@10 of the IVF probe vs exact KNN, per query — see
    // Similarity.ivfRecall scaladoc. Same seeds/argmax/cosine CTE
    // machinery as the emb_ann_ivf and emb_knn_exact oracles.
    // Binary-quantization recall: sign-bit packing re-derived via
    // shift arithmetic, Hamming via bit_count, exact-cosine rerank of
    // the shortlist — quantize/popcount/rerank all cross-engine exact.
    QuerySpec("emb_bq_recall", Similarity.bqRecall(_, _),
      s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         pk AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(0, 32), d ->
               CASE WHEN emb[CAST(d AS INTEGER) + 1] >= 0
                 THEN CAST(1 AS BIGINT) << CAST(d AS INTEGER)
                 ELSE 0 END)) AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(32, 64), d ->
               CASE WHEN emb[CAST(d AS INTEGER) + 1] >= 0
                 THEN CAST(1 AS BIGINT) << (CAST(d AS INTEGER) - 32)
                 ELSE 0 END)) AS BIGINT) AS w1
           FROM e),
         q AS (SELECT vec_id AS query_id, emb AS qv FROM e
               WHERE vec_id < 5),
         qp AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
               FROM pk WHERE vec_id < 5),
         cand AS (
           SELECT query_id, vec_id FROM (
             SELECT qp.query_id, p.vec_id, row_number() OVER (
               PARTITION BY qp.query_id ORDER BY
                 bit_count(xor(p.w0, qp.qw0))
                   + bit_count(xor(p.w1, qp.qw1)), p.vec_id) AS hrank
             FROM pk p CROSS JOIN qp WHERE p.vec_id != qp.query_id)
           WHERE hrank <= ${Similarity.BqShortlist}),
         ann AS (
           SELECT query_id, vec_id FROM (
             SELECT c.query_id, c.vec_id, row_number() OVER (
               PARTITION BY c.query_id ORDER BY
                 list_dot_product(q.qv, e.emb) /
                   (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.emb, e.emb))) DESC,
                 c.vec_id) AS rank
             FROM cand c JOIN e ON e.vec_id = c.vec_id
               JOIN q ON q.query_id = c.query_id) WHERE rank <= 10),
         exact AS (
           SELECT query_id, vec_id FROM (
             SELECT q.query_id, e.vec_id, row_number() OVER (
               PARTITION BY q.query_id ORDER BY
                 list_dot_product(q.qv, e.emb) /
                   (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.emb, e.emb))) DESC,
                 e.vec_id) AS rank
             FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
           WHERE rank <= 10),
         ov AS (
           SELECT a.query_id, count(*) AS n_overlap
           FROM ann a JOIN exact x
             ON a.query_id = x.query_id AND a.vec_id = x.vec_id
           GROUP BY 1)
         SELECT q.query_id,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n_overlap, 0) * 1000 // 10 AS BIGINT)
             AS recall_permille
         FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id"""),
    QuerySpec("emb_ivf_rebalance", Similarity.ivfRebalanceReport(_, _),
      ivfRebalanceOracleSql),
    QuerySpec("emb_ann_pq", Similarity.annPq(_, _),
      (pqTopkCteSql +
      " SELECT rank, vec_id FROM topk WHERE rank <= 10 ORDER BY rank")),
    QuerySpec("emb_ann_range", Similarity.rangeSearch(_, _),
      s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         proj AS (
           SELECT e.vec_id, i.i AS i,
             list_dot_product(e.emb,
               list_transform(range(0, len(e.emb)), d ->
                 CAST(CASE WHEN (((i.i*37 + d*101) * 2654435761) >> 13)
                        % 2 != 0 THEN 1 ELSE -1 END AS DOUBLE))) AS proj
           FROM e CROSS JOIN (SELECT unnest(range(0,8)) AS i) i
         ), sig AS (
           SELECT vec_id,
             CAST(sum(CASE WHEN i < 4 AND proj > 0
               THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket0,
             CAST(sum(CASE WHEN i >= 4 AND proj > 0
               THEN (1::BIGINT << CAST(i-4 AS INT)) ELSE 0 END) AS BIGINT)
               AS bucket1
           FROM proj GROUP BY 1
         ),
         v AS (SELECT s.vec_id, bucket0, bucket1, emb
               FROM sig s JOIN e ON e.vec_id = s.vec_id),
         q AS (SELECT vec_id AS query_id, bucket0 AS qb0, bucket1 AS qb1,
                 emb AS qv
               FROM v WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, bucket0, bucket1, emb AS cv
               FROM v WHERE vec_id >= 5),
         cand AS (
           SELECT query_id, neighbor_id, qv, cv
           FROM c JOIN q ON c.bucket0 = q.qb0
           UNION ALL
           SELECT query_id, neighbor_id, qv, cv
           FROM c JOIN q ON c.bucket1 = q.qb1),
         scored AS (
           SELECT DISTINCT query_id, neighbor_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
               AS cosine
           FROM cand)
         SELECT query_id, neighbor_id,
           CAST(floor(cosine * 1000) AS BIGINT) AS cosine_permille
         FROM scored WHERE cosine >= ${graft.operators.Similarity.RangeMinCosine}
         ORDER BY query_id, neighbor_id"""),
    QuerySpec("emb_cluster_stats", Similarity.clusterStats(_, _),
      s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         seeds AS (
           SELECT vec_id - 1 AS c, emb AS cv FROM e
           WHERE vec_id BETWEEN 1 AND ${Similarity.IvfNlist}),
         proj AS (
           SELECT e.vec_id, s.c,
             list_dot_product(e.emb, s.cv) AS proj
           FROM e CROSS JOIN seeds s),
         assigned AS (
           SELECT vec_id, c AS cell FROM (
             SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
               ORDER BY proj DESC, c) AS rn FROM proj) WHERE rn = 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM assigned),
         g AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
                 CAST(min(vec_id) AS BIGINT) AS min_vec,
                 CAST(max(vec_id) AS BIGINT) AS max_vec
               FROM assigned GROUP BY 1)
         SELECT CAST(cell AS BIGINT) AS cell, n_vectors,
           (n_vectors * 1000) // total AS share_permille,
           (n_vectors * ${Similarity.IvfNlist} * 1000) // total AS load_permille,
           min_vec, max_vec
         FROM g CROSS JOIN t ORDER BY cell"""),
    // full oracle since r13: planted separated-cluster geometry whose
    // Lloyd fixed point is analytic (integer-only output re-derived by
    // DuckDB from the construction rule); the real-corpus refinement
    // stays pinned in ScalaTest (refined balance beats raw seeds)
    // construction-rule oracle for the planted Lloyd geometry
    // (Similarity.lloydPlantedCluster): vec_ids 1..16 are the seeds,
    // one per cell in order; the rest land on (i % 37) % 16. The
    // engine runs the real seed → 4×Lloyd → occupancy-report pipeline;
    // separation makes its converged partition equal this rule exactly,
    // so every integer in the report is derivable without float math.
    QuerySpec("emb_cluster_stats_lloyd",
      (s, _) => Similarity.clusterStatsLloydOracle(s),
      s"""WITH v AS (
           SELECT CAST(i AS BIGINT) AS vec_id,
             CASE WHEN i <= 16 THEN (i - 1) % 16
                  ELSE i % 37 % 16 END AS cell
           FROM (SELECT unnest(range(1, ${Similarity.LloydPlantedN + 1}))
                   AS i)),
         tot AS (SELECT COUNT(*) AS total FROM v)
         SELECT CAST(v.cell AS BIGINT) AS cell,
           COUNT(*) AS n_vectors,
           COUNT(*) * 1000 // t.total AS share_permille,
           COUNT(*) * 16 * 1000 // t.total AS load_permille,
           MIN(v.vec_id) AS min_vec, MAX(v.vec_id) AS max_vec
         FROM v CROSS JOIN tot t
         GROUP BY v.cell, t.total
         ORDER BY cell"""),
    QuerySpec("emb_quantize_int8", Similarity.quantizeInt8(_, _),
      """WITH e AS (SELECT vec_id,
           CAST(list_min(embedding) AS DOUBLE) AS vmin,
           CAST(list_max(embedding) AS DOUBLE) AS vmax, embedding
         FROM embeddings)
         SELECT vec_id, vmin, vmax,
           array_to_string(list_transform(embedding, x ->
             CAST(CASE WHEN vmax = vmin THEN 0
                  ELSE least(floor((CAST(x AS DOUBLE) - vmin) * 255.0
                                   / (vmax - vmin)), 255.0)
                  END AS BIGINT)), ',') AS codes
         FROM e ORDER BY vec_id""")
  )
}
