package graft.operators

import graft.QuerySpec

/** The dedup rows: exact, MinHash, SimHash (narrow and wide), embedding,
  * substring and cross-source dedup; one [[graft.QuerySpec]] per row. */
object DedupQueries {
  /** Staged-corpus + sampled-window CTE stack shared by the
    * `dedup_substring` and `dedup_substring_delta` oracles — mirrors
    * Dedup.sampledWindows exactly (planted %7 boilerplate, length
    * guard, md5 content-defined 1/4 sampling). Window width and
    * boilerplate interpolate from the Scala constants (repo anti-drift
    * convention). */
  private val substrSelCte: String =
    s"""staged AS (
         SELECT doc_id, CASE WHEN doc_id % 7 = 0
           THEN text || '${Dedup.SubstrBoilerplate}'
           ELSE text END AS text
         FROM documents),
       w0 AS (
         SELECT doc_id, text,
           unnest(range(0, length(text) - ${Dedup.SubstrWindow - 1})) AS gs
         FROM staged WHERE length(text) >= ${Dedup.SubstrWindow}),
       wins AS (
         SELECT doc_id, CAST(gs AS BIGINT) AS start,
           md5(substring(text, CAST(gs + 1 AS INT), ${Dedup.SubstrWindow}))
             AS h
         FROM w0),
       sel AS (SELECT doc_id, start, h FROM wins
               WHERE substring(h, 1, 1) IN ('0','4','8','c'))"""

  /** Island-merge CTEs (over a `marked(doc_id, start, e)` CTE) ending
    * in a `spans` CTE — shared by the three substring-dedup oracles;
    * mirrors Dedup.mergeSpans. */
  private val substrSpansCte: String =
    """flagged AS (
         SELECT doc_id, start, e,
           CASE WHEN start > coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS opens
         FROM marked),
       isl AS (
         SELECT doc_id, start, e,
           CAST(sum(opens) OVER (PARTITION BY doc_id ORDER BY start
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
         FROM flagged),
       spans AS (
         SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
           max(e) - min(start) AS span_chars
         FROM isl GROUP BY doc_id, island)"""

  /** Default span-row projection over [[substrSpansCte]]. */
  private val substrSpansSelect: String =
    """SELECT doc_id, span_start, span_end, span_chars
       FROM spans ORDER BY doc_id, span_start"""

  /** Shared oracle of `dedup_substring_delta` and
    * `stream_substr_parity`: batch windows (ids ≥ the 4/5 cut) probed
    * against the store's window set only. */
  private lazy val substrDeltaOracleSql: String =
    s"""WITH $substrSelCte,
       cut AS (SELECT max(doc_id) * 4 // 5 AS cut FROM documents),
       sel2 AS (SELECT s.*, c.cut FROM sel s CROSS JOIN cut c),
       store AS (SELECT h FROM sel2 WHERE doc_id < cut),
       marked AS (
         SELECT doc_id, start, start + ${Dedup.SubstrWindow} AS e FROM sel2
         WHERE doc_id >= cut AND h IN (SELECT h FROM store)),
       $substrSpansCte
       $substrSpansSelect"""

  /** SimHash 32/6 signatures → pairs → edges → recursive reachability,
    * through the `reach` CTE — shared by the `dedup_clusters` and
    * `dedup_keep_best` oracles (both rows sit behind guard3206, so the
    * 32/6 route in this SQL is always the route the engine took). */
  private lazy val simhashReachCte: String =
    s"""WITH RECURSIVE
       ws AS (SELECT doc_id, string_split(text,' ') AS w
              FROM documents
              WHERE len(string_split(text,' ')) >= 3),
       sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(w)-1),
                i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
              FROM ws),
       x AS (SELECT doc_id,
               ('0x'||substr(sha256(shingle),1,8))::BIGINT AS w32 FROM sh),
       bits AS (SELECT unnest(range(0,32)) AS b),
       sgn AS (SELECT doc_id, b, sum(2*((w32 >> b) & 1) - 1) AS s
               FROM x CROSS JOIN bits GROUP BY 1,2),
       sig AS (SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                          ELSE 0 END) AS BIGINT) AS simhash
               FROM sgn GROUP BY 1),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash))
           <= ${graft.operators.Dedup.SimhashMaxDist}),
       edges AS (
         SELECT doc_a AS s, doc_b AS d FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT doc_id AS start, doc_id AS node FROM documents
         UNION
         SELECT r.start, e.d FROM reach r JOIN edges e ON e.s = r.node)"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", Dedup.exactDedup(_, _),
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id, text FROM documents)
         SELECT sha256(text) AS content_hash,
           min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM u GROUP BY 1 ORDER BY content_hash"""),
    QuerySpec("dedup_ngram_jaccard", Dedup.ngramJaccard(_, _),
      """WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         -- join key = 8-byte sha256 prefix, mirroring the engine's
         -- shuffle-shrinking hash (identical hash ⇒ identical result)
         sh AS (SELECT doc_id,
                  ('0x'||substr(sha256(shingle),1,14))::BIGINT AS sh_h
                FROM sh0),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
                   FROM sh a JOIN sh b
                     ON a.sh_h=b.sh_h AND a.doc_id < b.doc_id
                   GROUP BY 1,2)
         SELECT doc_a, doc_b, inter,
           ca.n_sh + cb.n_sh - inter AS union_size
         FROM inter
         JOIN cnt ca ON ca.doc_id=doc_a JOIN cnt cb ON cb.doc_id=doc_b
         WHERE inter*2 >= ca.n_sh + cb.n_sh - inter
         ORDER BY doc_a, doc_b"""),
    QuerySpec("dedup_minhash_sig", Dedup.minhashSignatures(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,7))::BIGINT AS x FROM sh),
         perms(j, a, b) AS (VALUES ${Dedup.perms.map {
           case (j, a, b) => s"($j,$a,$b)" }.mkString(",")}),
         t AS (SELECT doc_id, j, min((a*x+b) % 2147483647) AS h
               FROM x CROSS JOIN perms GROUP BY 1,2)
         SELECT doc_id, string_agg(h, ',' ORDER BY j) AS sig
         FROM t GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("dedup_minhash_pairs", Dedup.minhashPairs(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,7))::BIGINT AS x FROM sh),
         perms(j, a, b) AS (VALUES ${Dedup.perms.map {
           case (j, a, b) => s"($j,$a,$b)" }.mkString(",")}),
         t AS (SELECT doc_id, j, min((a*x+b) % 2147483647) AS h
               FROM x CROSS JOIN perms GROUP BY 1,2)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS agree
         FROM t a JOIN t b
           ON a.j=b.j AND a.h=b.h AND a.doc_id < b.doc_id
         GROUP BY 1,2 HAVING count(*) >= ${Dedup.NumPerms / 2}
         ORDER BY doc_a, doc_b"""),
    // incremental form: only new-batch docs (top fifth of the id
    // range) pair against the corpus; per-new-doc verdict with
    // pristine docs kept at zeros / -1
    QuerySpec("dedup_minhash_delta", Dedup.minhashPairsDelta(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,7))::BIGINT AS x FROM sh),
         perms(j, a, b) AS (VALUES ${Dedup.perms.map {
           case (j, a, b) => s"($j,$a,$b)" }.mkString(",")}),
         t AS (SELECT doc_id, j, min((a*x+b) % 2147483647) AS h
               FROM x CROSS JOIN perms GROUP BY 1,2),
         cut AS (SELECT (MAX(doc_id) * 4) // 5 AS batch_from
                 FROM documents),
         pairs AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS partner,
             count(*) AS agree
           FROM t a JOIN t b ON a.j=b.j AND a.h=b.h
             AND a.doc_id < b.doc_id
           JOIN cut c ON b.doc_id >= c.batch_from
           GROUP BY 1,2 HAVING count(*) >= ${Dedup.NumPerms / 2}),
         verdict AS (
           SELECT doc_id, count(*) AS n_partners,
             max(agree) AS best_agree, min(partner) AS first_partner
           FROM pairs GROUP BY 1),
         newdocs AS (SELECT DISTINCT t.doc_id FROM t, cut
                     WHERE t.doc_id >= cut.batch_from)
         SELECT n.doc_id,
           COALESCE(v.n_partners, 0) AS n_partners,
           COALESCE(v.best_agree, 0) AS best_agree,
           COALESCE(v.first_partner, -1) AS first_partner
         FROM newdocs n LEFT JOIN verdict v USING (doc_id)
         ORDER BY doc_id"""),
    QuerySpec("dedup_minhash_calib", Dedup.minhashCalibration(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,7))::BIGINT AS x FROM sh0),
         perms(j, a, b) AS (VALUES ${Dedup.perms.map {
           case (j, a, b) => s"($j,$a,$b)" }.mkString(",")}),
         t AS (SELECT doc_id, j, min((a*x+b) % 2147483647) AS h
               FROM x CROSS JOIN perms GROUP BY 1,2),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS agree
                FROM t a JOIN t b
                  ON a.j=b.j AND a.h=b.h AND a.doc_id < b.doc_id
                GROUP BY 1,2 HAVING count(*) >= ${Dedup.NumPerms / 2}),
         cand AS (SELECT DISTINCT doc_a AS doc_id FROM pr
                  UNION SELECT DISTINCT doc_b FROM pr),
         shc AS (SELECT h.doc_id,
                   ('0x'||substr(sha256(h.shingle),1,14))::BIGINT AS sh_h
                 FROM sh0 h JOIN cand USING (doc_id)),
         cnt AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
         ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS inter
                FROM shc a JOIN shc b
                  ON a.sh_h=b.sh_h AND a.doc_id < b.doc_id
                GROUP BY 1,2)
         SELECT pr.doc_a, pr.doc_b, pr.agree,
           (pr.agree*1000)//${Dedup.NumPerms} AS est_permille,
           (coalesce(ix.inter,0)*1000)
             //(ca.n_sh+cb.n_sh-coalesce(ix.inter,0)) AS exact_permille,
           abs((pr.agree*1000)//${Dedup.NumPerms}
             - (coalesce(ix.inter,0)*1000)
               //(ca.n_sh+cb.n_sh-coalesce(ix.inter,0))) AS err_permille
         FROM pr
         LEFT JOIN ix ON ix.doc_a=pr.doc_a AND ix.doc_b=pr.doc_b
         JOIN cnt ca ON ca.doc_id=pr.doc_a
         JOIN cnt cb ON cb.doc_id=pr.doc_b
         ORDER BY pr.doc_a, pr.doc_b"""),
    QuerySpec("dedup_semantic", Dedup.semanticDedup(_, _),
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
         v AS (SELECT a.vec_id, a.cell, e.emb
               FROM assigned a JOIN e ON e.vec_id = a.vec_id),
         pairs AS (
           SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
             CAST(floor(list_dot_product(a.emb, b.emb) /
               (sqrt(list_dot_product(a.emb, a.emb)) *
                sqrt(list_dot_product(b.emb, b.emb))) * 1000) AS BIGINT)
               AS cos_permille
           FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         SELECT drop_id, CAST(min(keep_id) AS BIGINT) AS keeper_id,
           max(cos_permille) AS max_cos_permille,
           count(*) AS n_dups
         FROM pairs WHERE cos_permille >= ${Dedup.SemanticMinCosPermille}
         GROUP BY 1 ORDER BY drop_id"""),
    QuerySpec("dedup_cross_source", Dedup.crossSourceLeakage(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,8))::BIGINT AS w32 FROM sh),
         bits AS (SELECT unnest(range(0,32)) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w32 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                WHERE bit_count(xor(a.simhash, b.simhash))
                  <= ${Dedup.SimhashMaxDist}),
         lk AS (SELECT least(da.source, db.source) AS source_lo,
                  greatest(da.source, db.source) AS source_hi,
                  pr.doc_a, pr.doc_b
                FROM pr JOIN documents da ON da.doc_id = pr.doc_a
                        JOIN documents db ON db.doc_id = pr.doc_b
                WHERE da.source <> db.source)
         SELECT source_lo, source_hi, count(*) AS n_pairs,
           min(doc_a) AS min_doc_a, min(doc_b) AS min_doc_b
         FROM lk GROUP BY 1,2 ORDER BY source_lo, source_hi""",
      sizeGuarded = true),
    QuerySpec("dedup_simhash_sig", Dedup.simhashSignatures(_, _),
      """WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,8))::BIGINT AS w32 FROM sh),
         bits AS (SELECT unnest(range(0,32)) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w32 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2)
         SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                         ELSE 0 END) AS BIGINT) AS simhash
         FROM sgn GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("dedup_simhash_pairs", Dedup.simhashPairs(_, _),
      s"""WITH ws AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents
                     WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,8))::BIGINT AS w32 FROM sh),
         bits AS (SELECT unnest(range(0,32)) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w32 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimhashMaxDist}
         ORDER BY doc_a, doc_b"""),
    // all-pairs mirror of the SCALE kernel on the planted-copy corpus:
    // the banding layout is a Spark-side candidate strategy only, so
    // the oracle checks the SEMANTIC (every pair within the wide
    // Hamming bound) and the planted copies make the row non-empty
    QuerySpec("dedup_simhash_wide", Dedup.simhashWideDemo(_, _),
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 25 = 0),
         ws AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus
                WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,15))::BIGINT AS w60
               FROM sh),
         bits AS (SELECT unnest(range(0,${Dedup.SimhashWideBits})) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w60 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash))
           <= ${Dedup.SimhashWideMaxDist}
         ORDER BY doc_a, doc_b"""),
    // the incremental wide-kernel verdict: pairs restricted to a new-
    // batch higher side (the planted copies), folded per new doc; the
    // all-pairs mirror is exact ground truth at 3-of-60
    QuerySpec("dedup_simhash_wide_delta", Dedup.simhashWideDelta(_, _),
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 25 = 0),
         ws AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus
                WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,15))::BIGINT AS w60
               FROM sh),
         bits AS (SELECT unnest(range(0,${Dedup.SimhashWideBits})) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w60 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1),
         pairs AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS partner,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND b.doc_id >= 10000000
           WHERE bit_count(xor(a.simhash, b.simhash))
             <= ${Dedup.SimhashWideMaxDist}),
         verdict AS (
           SELECT doc_id, count(*) AS n_partners,
             min(ham) AS best_hamming, min(partner) AS first_partner
           FROM pairs GROUP BY 1),
         newdocs AS (SELECT doc_id FROM sig WHERE doc_id >= 10000000)
         SELECT n.doc_id,
           COALESCE(v.n_partners, 0) AS n_partners,
           COALESCE(v.best_hamming, -1) AS best_hamming,
           COALESCE(v.first_partner, -1) AS first_partner
         FROM newdocs n LEFT JOIN verdict v USING (doc_id)
         ORDER BY doc_id"""),
    // the full scale chain (wide sigs -> banding -> components) closed
    // by the same recursive-CTE oracle pattern on the planted corpus
    QuerySpec("dedup_clusters_wide", Dedup.simhashWideClusters(_, _),
      s"""WITH RECURSIVE
         corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 25 = 0),
         ws AS (SELECT doc_id, string_split(text,' ') AS w FROM corpus
                WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,15))::BIGINT AS w60
               FROM sh),
         bits AS (SELECT unnest(range(0,${Dedup.SimhashWideBits})) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w60 >> b) & 1) - 1) AS s
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash))
             <= ${Dedup.SimhashWideMaxDist}),
         edges AS (
           SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT doc_id AS start, doc_id AS node FROM corpus
           UNION
           SELECT r.start, e.d FROM reach r JOIN edges e ON e.s = r.node)
         SELECT start AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN start = min(node) THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical
         FROM reach GROUP BY 1 ORDER BY 1"""),
    QuerySpec("dedup_embedding", Dedup.embeddingPairs(_, _),
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
         v AS (SELECT s.vec_id, bucket0, bucket1, emb
               FROM sig s JOIN e ON e.vec_id = s.vec_id),
         cand AS (
           SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.emb AS ea, b.emb AS eb
           FROM v a JOIN v b
             ON a.bucket0 = b.bucket0 AND a.vec_id < b.vec_id
           UNION ALL
           SELECT a.vec_id, b.vec_id, a.emb, b.emb
           FROM v a JOIN v b
             ON a.bucket1 = b.bucket1 AND a.vec_id < b.vec_id
         )
         SELECT DISTINCT vec_a, vec_b FROM cand
         WHERE list_dot_product(ea, eb) /
           (sqrt(list_dot_product(ea, ea)) *
            sqrt(list_dot_product(eb, eb))) > 0.4
         ORDER BY 1,2"""),
    // Quality-aware retention over the same components: keep the
    // LONGEST member per cluster — see Dedup.keepBest scaladoc. The
    // component CTE stack is shared with dedup_clusters.
    QuerySpec("dedup_keep_best", Dedup.keepBest(_, _),
      s"""$simhashReachCte,
         comp AS (SELECT start AS doc_id,
                    CAST(min(node) AS BIGINT) AS cluster_id
                  FROM reach GROUP BY 1),
         sized AS (SELECT c.cluster_id, c.doc_id, d.n_chars
                   FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
         keepers AS (
           SELECT cluster_id, doc_id AS keeper_id,
             n_chars AS keeper_chars
           FROM (SELECT cluster_id, doc_id, n_chars,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id) AS rn
                 FROM sized) WHERE rn = 1),
         sizes AS (SELECT cluster_id, count(*) AS n_members
                   FROM comp GROUP BY 1)
         SELECT s.cluster_id, s.n_members, k.keeper_id, k.keeper_chars,
           s.n_members - 1 AS n_dropped
         FROM sizes s JOIN keepers k ON s.cluster_id = k.cluster_id
         ORDER BY s.cluster_id""",
      sizeGuarded = true),
    QuerySpec("dedup_clusters", Dedup.simhashClusters(_, _),
      s"""$simhashReachCte
         SELECT start AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN start = min(node) THEN 1 ELSE 0 END AS BIGINT)
             AS is_canonical
         FROM reach GROUP BY 1 ORDER BY 1""",
      sizeGuarded = true),
    // Exact substring-span dedup: stride-1 40-char windows, md5
    // content-defined 1/4 sampling, cross-doc duplicate test, island
    // merge — see Dedup.substringSpans scaladoc. CTE stacks shared with
    // the delta oracle (substrSelCte / substrIslandsSql).
    QuerySpec("dedup_substring", Dedup.substringSpans(_, _),
      s"""WITH $substrSelCte,
         duph AS (SELECT h FROM sel GROUP BY h
                  HAVING count(DISTINCT doc_id) >= 2),
         marked AS (SELECT doc_id, start, start + ${Dedup.SubstrWindow} AS e
                    FROM sel JOIN duph USING (h)),
         $substrSpansCte
         $substrSpansSelect"""),
    // Incremental form: batch (top fifth of ids) windows tested against
    // the STORE's windows only — see Dedup.substringSpansDelta scaladoc.
    QuerySpec("dedup_substring_delta", Dedup.substringSpansDelta(_, _),
      substrDeltaOracleSql),
    // Apply-side accounting of the span cut, per source — see
    // Dedup.substringApplyStats scaladoc.
    QuerySpec("dedup_substring_apply", Dedup.substringApplyStats(_, _),
      s"""WITH $substrSelCte,
         duph AS (SELECT h FROM sel GROUP BY h
                  HAVING count(DISTINCT doc_id) >= 2),
         marked AS (SELECT doc_id, start, start + ${Dedup.SubstrWindow} AS e
                    FROM sel JOIN duph USING (h)),
         $substrSpansCte,
         per_doc AS (
           SELECT doc_id, count(*) AS n_spans,
             CAST(sum(span_chars) AS BIGINT) AS cut_chars
           FROM spans GROUP BY 1),
         sizes AS (
           SELECT d.doc_id, d.source,
             CAST(length(st.text) AS BIGINT) AS chars
           FROM documents d JOIN staged st ON d.doc_id = st.doc_id)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN p.doc_id IS NULL THEN 0 ELSE 1 END)
             AS BIGINT) AS n_docs_affected,
           CAST(sum(coalesce(p.cut_chars, 0)) AS BIGINT) AS cut_chars,
           CAST(sum(chars) AS BIGINT) AS total_chars,
           CAST(sum(coalesce(p.cut_chars, 0)) * 1000 // sum(chars)
             AS BIGINT) AS removed_permille
         FROM sizes LEFT JOIN per_doc p USING (doc_id)
         GROUP BY source ORDER BY source"""),
    // The SAME oracle pins the micro-batched streaming form — a mark
    // lost or replayed across micro-batch boundaries is a hash
    // mismatch (see Dedup.substrDeltaStreamParity).
    QuerySpec("stream_substr_parity", Dedup.substrDeltaStreamParity(_, _),
      substrDeltaOracleSql,
      protocol = true)
  )
}
