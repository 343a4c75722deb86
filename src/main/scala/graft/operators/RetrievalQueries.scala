package graft.operators

import graft.QuerySpec

/** The lexical and hybrid retrieval rows (BM25, phrase, indexed BM25); one
  * [[graft.QuerySpec]] per row. */
object RetrievalQueries {
  /** BM25 oracle CTE stack (through per-query ranking, unlimited) —
    * shared by the `q_search_bm25` and `q_search_hybrid` oracles so the
    * scoring arithmetic cannot drift between them. Mirrors
    * Retrieval.bm25Search's integer rationalization exactly. */
  private val bm25RankedCte: String =
    s"""bm_d AS (SELECT doc_id, string_split(text,' ') AS toks
                FROM documents),
       bm_dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM bm_d),
       bm_tok AS (SELECT doc_id, unnest(toks) AS term FROM bm_d),
       bm_tf AS (SELECT doc_id, term, count(*) AS tf FROM bm_tok
                 GROUP BY 1, 2),
       bm_dft AS (SELECT term, count(*) AS df FROM bm_tf GROUP BY 1),
       bm_stats AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS BIGINT) // count(*) AS avg_dl
                    FROM bm_dl),
       bm_q(query_id, term) AS (VALUES ${Retrieval.benchQueries
      .map { case (q, t) => s"($q,'$t')" }.mkString(",")}),
       bm_scored AS (
         SELECT q.query_id, tf.doc_id,
           ((2*s.n_docs - 2*dft.df + 1) * 1000000) // (2*dft.df + 1)
             AS idf_scaled,
           (44*s.avg_dl*tf.tf*1000000)
             // (20*s.avg_dl*tf.tf + 6*s.avg_dl + 18*dl.dl)
             AS tfpart_micro
         FROM bm_tf tf JOIN bm_q q USING (term)
           JOIN bm_dft dft USING (term)
           JOIN bm_dl dl ON tf.doc_id = dl.doc_id
           CROSS JOIN bm_stats s),
       bm_agg AS (
         SELECT query_id, doc_id,
           CAST(sum(idf_scaled * tfpart_micro // 1000000) AS BIGINT)
             AS score,
           count(*) AS matched_terms
         FROM bm_scored GROUP BY 1, 2),
       bm25_ranked AS (
         SELECT query_id, doc_id, matched_terms, score,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS rank
         FROM bm_agg)"""

  /** Shared oracle of `q_search_bm25` and `q_search_bm25_indexed`. */
  private lazy val bm25TopOracleSql: String =
    s"""WITH $bm25RankedCte
       SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
         matched_terms, score
       FROM bm25_ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  val specs: Seq[QuerySpec] = Seq(
    // BM25 with integer-rationalized k1=1.2/b=0.75 tf saturation and the
    // scaled RSJ idf ratio (log-free) — see Retrieval.bm25Search scaladoc.
    // CTE stack shared with the hybrid-fusion oracle (bm25RankedCte).
    QuerySpec("q_search_bm25", Retrieval.bm25Search(_, _),
      bm25TopOracleSql),
    // Reciprocal Rank Fusion of the BM25 and cosine-KNN top-20 lists
    // (k=60) — integer arithmetic; see Retrieval.hybridSearch scaladoc.
    QuerySpec("q_search_hybrid", Retrieval.hybridSearch(_, _),
      s"""WITH $bm25RankedCte,
         b AS (SELECT query_id, doc_id, rank AS brank FROM bm25_ranked
               WHERE rank <= 20),
         e AS (SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
           FROM embeddings),
         vq AS (SELECT vec_id AS query_id, emb AS qv FROM e
                WHERE vec_id < 3),
         vc AS (SELECT vec_id AS doc_id, emb AS cv FROM e
                WHERE vec_id >= 5),
         vs AS (
           SELECT query_id, doc_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv,qv)) * sqrt(list_dot_product(cv,cv)))
               AS cosine
           FROM vq CROSS JOIN vc),
         vr AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, doc_id) AS vrank
           FROM vs),
         v AS (SELECT query_id, doc_id, vrank FROM vr WHERE vrank <= 20),
         fused AS (
           SELECT coalesce(b.query_id, v.query_id) AS query_id,
             coalesce(b.doc_id, v.doc_id) AS doc_id,
             coalesce(1000000 // (60 + b.brank), 0)
               + coalesce(1000000 // (60 + v.vrank), 0) AS rrf_micro,
             CASE WHEN b.brank IS NULL THEN 0 ELSE 1 END AS in_bm25,
             CASE WHEN v.vrank IS NULL THEN 0 ELSE 1 END AS in_vec
           FROM b FULL OUTER JOIN v
             ON b.query_id = v.query_id AND b.doc_id = v.doc_id),
         rf AS (
           SELECT query_id, doc_id, rrf_micro, in_bm25, in_vec,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_micro DESC, doc_id) AS rank
           FROM fused)
         SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(in_bm25 AS BIGINT) AS in_bm25,
           CAST(in_vec AS BIGINT) AS in_vec
         FROM rf WHERE rank <= 5 ORDER BY query_id, rank"""),
    // Positional-phrase search: anchored postings intersection — see
    // Retrieval.phraseSearch scaladoc. Phrase VALUES interpolate from
    // the same constant the Spark side broadcasts.
    QuerySpec("q_search_phrase", Retrieval.phraseSearch(_, _),
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks
                     FROM documents),
         p0 AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) + 1)) AS i FROM d),
         postings AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                        toks[CAST(i AS INT)] AS term FROM p0),
         q(query_id, idx, term) AS (VALUES ${Retrieval.phraseQueries
        .map { case (q, i, t) => s"($q,$i,'$t')" }.mkString(",")}),
         plen AS (SELECT query_id, CAST(max(idx) + 1 AS BIGINT)
                    AS phrase_len FROM q GROUP BY 1),
         anch AS (SELECT q.query_id, p.doc_id, p.pos - q.idx AS anchor,
                    q.idx
                  FROM postings p JOIN q USING (term)),
         occ AS (SELECT query_id, doc_id, anchor,
                   count(DISTINCT idx) AS n_terms
                 FROM anch GROUP BY 1, 2, 3),
         hits AS (SELECT o.query_id, o.doc_id,
                    count(*) AS n_occurrences
                  FROM occ o JOIN plen USING (query_id)
                  WHERE o.n_terms = plen.phrase_len GROUP BY 1, 2),
         ranked AS (SELECT query_id, doc_id, n_occurrences,
             row_number() OVER (PARTITION BY query_id
               ORDER BY n_occurrences DESC, doc_id) AS rank
           FROM hits)
         SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""),
    // The persisted-index path must score identically to the inline
    // path — one oracle pins both (Retrieval.bm25SearchIndexed).
    QuerySpec("q_search_bm25_indexed", Retrieval.bm25SearchIndexed(_, _),
      bm25TopOracleSql)
  )
}
