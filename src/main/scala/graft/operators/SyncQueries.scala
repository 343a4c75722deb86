package graft.operators

import graft.QuerySpec
import graft.sources.GitCode

/** The incremental-sync rows: url and chunk diffs, skip cascade, resume,
  * cleanup and the end-to-end doc and code syncs; one [[graft.QuerySpec]]
  * per row. */
object SyncQueries {
  /** Shared CTE stack for the sync oracles: deterministic stored/incoming
    * corpora + 128-char token chunks + per-url hash-multiset signatures. */
  private val syncCtes: String =
    """WITH s_docs AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
       i_docs AS (
         SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN text || ' updated marker tokens'
                ELSE text END AS text
         FROM documents WHERE doc_id % 11 <> 0),
       s_chunks AS (
         SELECT 'doc://'||doc_id AS url,
           sha256('doc://'||doc_id||'::'||piece) AS chunk_id
         FROM (SELECT doc_id,
                 trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
               FROM (SELECT doc_id, text,
                       unnest(range(0,
                         CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                     FROM s_docs) t1) t2
         WHERE piece <> ''),
       i_chunks AS (
         SELECT 'doc://'||doc_id AS url,
           sha256('doc://'||doc_id||'::'||piece) AS chunk_id
         FROM (SELECT doc_id,
                 trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
               FROM (SELECT doc_id, text,
                       unnest(range(0,
                         CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                     FROM i_docs) t1) t2
         WHERE piece <> ''),
       s_sig AS (
         SELECT url, string_agg(chunk_id, ',' ORDER BY chunk_id) AS sig,
           count(*) AS n
         FROM s_chunks GROUP BY 1),
       i_sig AS (
         SELECT url, string_agg(chunk_id, ',' ORDER BY chunk_id) AS sig,
           count(*) AS n
         FROM i_chunks GROUP BY 1)
    """

  /** The composed 4-layer skip-cascade oracle, parameterized by the
    * layer-1 (`lm`) CTE block so the plain row and the store-gap
    * variant (`sync_cascade_storegap`) share everything downstream —
    * the cascade counting logic exists exactly once on the oracle side,
    * mirroring Sync.skipCascade being the single Spark kernel. Any
    * non-'skip' lastmod decision (including 'fetch_store_gap') forwards
    * to layer 2, matching `pass1 = lm_dec =!= "skip"` in Scala. */
  private def cascadeSql(lmCtes: String): String = syncCtes +
    s""", sitemap_lm AS (
           SELECT 'doc://'||doc_id AS url,
             '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS lastmod
           FROM documents),
         stored_lm AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 4 = 0 THEN '2023-12-31'
                  ELSE '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
             END AS stored_lastmod
           FROM documents WHERE doc_id % 9 <> 0),
         $lmCtes,
         cur_et AS (
           SELECT 'doc://'||doc_id AS url, sha256(text) AS etag
           FROM documents),
         stored_et AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 3 = 0 THEN sha256(text)
                  ELSE sha256(text||'stale') END AS stored_etag
           FROM documents WHERE doc_id % 3 <> 2),
         et AS (
           SELECT c.url,
             CASE WHEN s.stored_etag IS NULL THEN 'fetch_new'
                  WHEN s.stored_etag = c.etag THEN 'skip'
                  ELSE 'fetch_changed' END AS et_dec
           FROM cur_et c LEFT JOIN stored_et s ON c.url = s.url),
         ud AS (
           SELECT i.url,
             CASE WHEN s.sig IS NULL THEN 'new'
                  WHEN i.sig <> s.sig THEN 'updated'
                  ELSE 'unchanged' END AS status,
             i.n AS n_chunks
           FROM i_sig i LEFT JOIN s_sig s ON i.url = s.url),
         cd AS (
           SELECT url, count(*) AS chunks_to_embed
           FROM i_chunks c
           WHERE NOT EXISTS (SELECT 1 FROM s_chunks s
                             WHERE s.chunk_id = c.chunk_id)
           GROUP BY 1),
         wide AS (
           SELECT l.url, l.lm_dec, e.et_dec, u.status,
             coalesce(u.n_chunks, 0) AS n_chunks,
             coalesce(c.chunks_to_embed, 0) AS chunks_to_embed
           FROM lm l JOIN et e ON l.url = e.url
           LEFT JOIN ud u ON l.url = u.url
           LEFT JOIN cd c ON l.url = c.url),
         agg AS (
           SELECT
             count(*) AS l1_in,
             count(*) FILTER (WHERE lm_dec = 'skip') AS l1_skip,
             count(*) FILTER (WHERE lm_dec <> 'skip') AS l2_in,
             count(*) FILTER (WHERE lm_dec <> 'skip' AND et_dec = 'skip')
               AS l2_skip,
             count(*) FILTER (WHERE lm_dec <> 'skip' AND et_dec <> 'skip'
               AND status IS NOT NULL) AS l3_in,
             count(*) FILTER (WHERE lm_dec <> 'skip' AND et_dec <> 'skip'
               AND status = 'unchanged') AS l3_skip,
             CAST(coalesce(sum(n_chunks) FILTER (WHERE lm_dec <> 'skip'
               AND et_dec <> 'skip' AND status IN ('new','updated')), 0)
               AS BIGINT) AS l4_in,
             CAST(coalesce(sum(n_chunks - chunks_to_embed) FILTER (
               WHERE lm_dec <> 'skip' AND et_dec <> 'skip'
               AND status IN ('new','updated')), 0) AS BIGINT) AS l4_skip
           FROM wide)
         SELECT layer, n_in, n_skipped, n_in - n_skipped AS n_forward
         FROM (
           SELECT '1_lastmod' AS layer, l1_in AS n_in, l1_skip AS n_skipped
           FROM agg
           UNION ALL SELECT '2_etag', l2_in, l2_skip FROM agg
           UNION ALL SELECT '3_url_diff', l3_in, l3_skip FROM agg
           UNION ALL SELECT '4_chunk_hash', l4_in, l4_skip FROM agg)
         ORDER BY layer"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sync_url_diff", Sync.urlDiff(_, _),
      (syncCtes +
      """SELECT i.url,
           CASE WHEN s.sig IS NULL THEN 'new'
                WHEN i.sig <> s.sig THEN 'updated'
                ELSE 'unchanged' END AS status,
           i.n AS n_chunks
         FROM i_sig i LEFT JOIN s_sig s ON i.url = s.url
         ORDER BY i.url""")),
    QuerySpec("sync_chunk_delta", Sync.chunkDelta(_, _),
      (syncCtes +
      """SELECT url, count(*) AS chunks_to_embed
         FROM i_chunks c
         WHERE NOT EXISTS (SELECT 1 FROM s_chunks s
                           WHERE s.chunk_id = c.chunk_id)
         GROUP BY 1 ORDER BY url""")),
    QuerySpec("sync_cleanup", Sync.cleanup(_, _),
      (syncCtes +
      """SELECT url, count(*) AS chunks_deleted
         FROM s_chunks c
         WHERE NOT EXISTS (SELECT 1 FROM i_docs d
                           WHERE 'doc://'||d.doc_id = c.url)
         GROUP BY 1 ORDER BY url""")),
    QuerySpec("sync_watermark", Sync.watermark(_, _),
      """SELECT '2024-01-10 00:00:00' AS watermark_old,
           count(*) AS n_processed,
           count(*) FILTER (WHERE event_type='error') AS n_failures,
           strftime(max(ts)::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f')
             AS candidate_watermark,
           CASE WHEN count(*) FILTER (WHERE event_type='error') = 0
                THEN strftime(max(ts)::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f')
                ELSE '2024-01-10 00:00:00' END AS watermark_new
         FROM events WHERE ts > TIMESTAMP '2024-01-10 00:00:00'"""),
    QuerySpec("sync_run_counters", Sync.runCounters(_, _),
      (syncCtes +
      """, j AS (
           SELECT coalesce(i.url, s.url) AS url,
             CASE WHEN i.sig IS NULL THEN 'deleted'
                  WHEN s.sig IS NULL THEN 'new'
                  WHEN i.sig <> s.sig THEN 'updated'
                  ELSE 'unchanged' END AS status,
             coalesce(i.n, 0) AS n_chunks, coalesce(s.n, 0) AS stored_chunks
           FROM i_sig i FULL OUTER JOIN s_sig s ON i.url = s.url)
         SELECT
           count(*) FILTER (WHERE status='new') AS items_new,
           count(*) FILTER (WHERE status='updated') AS items_updated,
           count(*) FILTER (WHERE status='unchanged') AS items_unchanged,
           count(*) FILTER (WHERE status='deleted') AS items_deleted,
           CAST(sum(CASE WHEN status IN ('new','updated') THEN n_chunks
                    ELSE 0 END) AS BIGINT) AS chunks_added,
           CAST(sum(CASE WHEN status IN ('updated','deleted')
                    THEN stored_chunks ELSE 0 END) AS BIGINT)
             AS chunks_deleted
         FROM j""")),
    QuerySpec("sync_skip_cascade", Sync.skipCascade(_, _),
      cascadeSql(
      """lm AS (
           SELECT s.url,
             CASE WHEN t.stored_lastmod IS NULL THEN 'fetch_new'
                  WHEN t.stored_lastmod = s.lastmod THEN 'skip'
                  ELSE 'fetch_changed' END AS lm_dec
           FROM sitemap_lm s LEFT JOIN stored_lm t ON s.url = t.url)""")),
    QuerySpec("sync_cascade_storegap", Sync.skipCascadeStoreGap(_, _),
      cascadeSql(
      """md_store AS (
           SELECT 'doc://'||doc_id AS url FROM documents
           WHERE doc_id % 7 <> 0),
         lm AS (
           SELECT s.url,
             CASE WHEN t.stored_lastmod IS NULL THEN 'fetch_new'
                  WHEN t.stored_lastmod = s.lastmod AND g.url IS NULL
                    THEN 'fetch_store_gap'
                  WHEN t.stored_lastmod = s.lastmod THEN 'skip'
                  ELSE 'fetch_changed' END AS lm_dec
           FROM sitemap_lm s LEFT JOIN stored_lm t ON s.url = t.url
           LEFT JOIN md_store g ON s.url = g.url)""")),
    QuerySpec("sync_list_diff", Sync.listDiff(_, _),
      """WITH previous AS (
           SELECT '/data/'||doc_id||'.md' AS path FROM documents),
         current AS (
           SELECT '/data/'||doc_id||'.md' AS path FROM documents
           WHERE doc_id % 6 <> 0
           UNION ALL
           SELECT '/data/new_'||doc_id||'.md' AS path FROM documents
           WHERE doc_id % 11 = 0)
         SELECT path FROM previous
         WHERE path NOT IN (SELECT path FROM current)
         ORDER BY path"""),
    QuerySpec("sync_resume", Sync.resumeDecisions(_, _),
      """WITH prefixes AS (
           SELECT DISTINCT 'src://'||(doc_id % 25) AS url_prefix
           FROM documents),
         log AS (
           SELECT 'sync_complete:src://'||(doc_id % 25) AS key,
             CASE WHEN doc_id % 3 = 1 THEN 'false' ELSE 'true' END AS value,
             doc_id AS run_id
           FROM documents WHERE doc_id % 25 < 20
           UNION ALL
           SELECT 'watermark:src://'||(doc_id % 25), doc_id::VARCHAR,
             doc_id + 1000
           FROM documents),
         latest AS (
           SELECT key, arg_max(value, run_id) AS flag,
             max(run_id) AS last_run_id
           FROM log GROUP BY key),
         sc AS (
           SELECT substr(key, length('sync_complete:') + 1) AS url_prefix,
             flag, last_run_id
           FROM latest WHERE key LIKE 'sync_complete:%')
         SELECT p.url_prefix,
           coalesce(sc.last_run_id, -1) AS last_run_id,
           CASE WHEN sc.flag IS NULL THEN 'full_first_sync'
                WHEN sc.flag <> 'true' THEN 'full_incomplete'
                ELSE 'incremental' END AS decision
         FROM prefixes p LEFT JOIN sc ON p.url_prefix = sc.url_prefix
         ORDER BY p.url_prefix"""),
    // Full 3-run sync state machine (Sync.syncRunE2e). The scenario
    // constants (which run had errors / an incomplete scan) are staged
    // facts, so the force flags and store versions they imply are SQL
    // literals — run 1 fails ⇒ run 2 still forced ⇒ run 3 incremental —
    // while every item status, processed-url count, embedded-chunk
    // count, and the final store's chunk set are derived relationally.
    QuerySpec("sync_run_e2e", Sync.syncRunE2e(_, _),
      """WITH a_docs AS (
           SELECT 'doc://'||doc_id AS url, text
           FROM documents WHERE doc_id < 250 AND doc_id % 5 <> 4),
         b_docs AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 10 = 6 THEN text || ' v2 tokens'
                  ELSE text END AS text
           FROM documents WHERE doc_id < 280 AND doc_id % 7 <> 3),
         c_docs AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 9 = 2 THEN text || ' v3 tokens'
                  ELSE text END AS text
           FROM documents WHERE doc_id < 280 AND doc_id % 6 <> 5),
         a_chunks AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM a_docs) t1) t2
           WHERE piece <> ''),
         b_chunks AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM b_docs) t1) t2
           WHERE piece <> ''),
         c_chunks AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM c_docs) t1) t2
           WHERE piece <> ''),
         a_sig AS (SELECT url,
             string_agg(chunk_id, ',' ORDER BY chunk_id) AS sig
           FROM a_chunks GROUP BY 1),
         b_sig AS (SELECT url,
             string_agg(chunk_id, ',' ORDER BY chunk_id) AS sig
           FROM b_chunks GROUP BY 1),
         c_sig AS (SELECT url,
             string_agg(chunk_id, ',' ORDER BY chunk_id) AS sig
           FROM c_chunks GROUP BY 1),
         r2_status AS (
           SELECT coalesce(b.url, a.url) AS url,
             CASE WHEN b.sig IS NULL THEN 'deleted'
                  WHEN a.sig IS NULL THEN 'new'
                  WHEN b.sig <> a.sig THEN 'updated'
                  ELSE 'unchanged' END AS status
           FROM b_sig b FULL OUTER JOIN a_sig a ON b.url = a.url),
         r3_status AS (
           SELECT coalesce(c.url, b.url) AS url,
             CASE WHEN c.sig IS NULL THEN 'deleted'
                  WHEN b.sig IS NULL THEN 'new'
                  WHEN c.sig <> b.sig THEN 'updated'
                  ELSE 'unchanged' END AS status
           FROM c_sig c FULL OUTER JOIN b_sig b ON c.url = b.url),
         proc3 AS (
           SELECT url FROM r3_status WHERE status IN ('new','updated')),
         -- final store: run 3's processed urls carry corpus-C text;
         -- everything else survives from the run-2 store (= corpus B,
         -- run 2 was forced + clean), INCLUDING urls dropped from C —
         -- run 3's incomplete scan skips the obsolete cleanup
         store3_docs AS (
           SELECT url, text FROM c_docs
           WHERE url IN (SELECT url FROM proc3)
           UNION ALL
           SELECT url, text FROM b_docs
           WHERE url NOT IN (SELECT url FROM proc3)),
         store3_chunks AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM store3_docs) t1) t2
           WHERE piece <> '')
         SELECT 'counters' AS kind, 'run:1' AS key,
           'force=true|new='||(SELECT count(*) FROM a_sig)
           ||'|upd=0|unch=0|del=0'
           ||'|proc='||(SELECT count(*) FROM a_sig)
           ||'|emb='||(SELECT count(*) FROM a_chunks)
           ||'|ver=0' AS payload
         UNION ALL
         SELECT 'counters', 'run:2',
           'force=true'
           ||'|new='||(SELECT count(*) FROM r2_status WHERE status='new')
           ||'|upd='||(SELECT count(*) FROM r2_status WHERE status='updated')
           ||'|unch='||(SELECT count(*) FROM r2_status
                        WHERE status='unchanged')
           ||'|del='||(SELECT count(*) FROM r2_status WHERE status='deleted')
           ||'|proc='||(SELECT count(*) FROM b_sig)
           ||'|emb='||(SELECT count(*) FROM b_chunks
                       WHERE chunk_id NOT IN
                         (SELECT chunk_id FROM a_chunks))
           ||'|ver=1'
         UNION ALL
         SELECT 'counters', 'run:3',
           'force=false'
           ||'|new='||(SELECT count(*) FROM r3_status WHERE status='new')
           ||'|upd='||(SELECT count(*) FROM r3_status WHERE status='updated')
           ||'|unch='||(SELECT count(*) FROM r3_status
                        WHERE status='unchanged')
           ||'|del='||(SELECT count(*) FROM r3_status WHERE status='deleted')
           ||'|proc='||(SELECT count(*) FROM proc3)
           ||'|emb='||(SELECT count(*) FROM c_chunks ch
                       WHERE ch.url IN (SELECT url FROM proc3)
                         AND ch.chunk_id NOT IN
                           (SELECT chunk_id FROM b_chunks))
           ||'|ver=2'
         UNION ALL
         SELECT 'store', url||'#'||lpad(chunk_index::VARCHAR, 4, '0'),
           chunk_id||'|'||total_chunks
         FROM store3_chunks
         ORDER BY kind, key""",
      protocol = true),
    QuerySpec("ingest_code_e2e", GitCode.codeSyncE2e(_, _),
      """WITH t1 AS (
           SELECT doc_id, 'src/f'||doc_id||'.py' AS path, text
           FROM documents WHERE doc_id < 120),
         t2 AS (
           SELECT doc_id,
             CASE WHEN doc_id < 120 AND doc_id % 10 = 7
                  THEN 'src/moved/f'||doc_id||'.py'
                  ELSE 'src/f'||doc_id||'.py' END AS path,
             CASE WHEN doc_id < 120 AND doc_id % 10 = 1 THEN text||' v2'
                  ELSE text END AS text
           FROM documents
           WHERE (doc_id < 120 AND doc_id % 10 <> 3)
              OR (doc_id >= 120 AND doc_id < 135)),
         t3 AS (
           SELECT doc_id, path,
             CASE WHEN doc_id % 12 = 5 THEN text||' v3' ELSE text END
               AS text
           FROM t2 WHERE NOT (doc_id % 9 = 0 AND doc_id < 135)
           UNION ALL
           SELECT doc_id, 'src/f'||doc_id||'.py', text
           FROM documents WHERE doc_id >= 135 AND doc_id < 145),
         u1 AS (SELECT doc_id,
             'https://github.com/acme/docs/blob/main/'||path AS url, text
           FROM t1),
         u2 AS (SELECT doc_id,
             'https://github.com/acme/docs/blob/main/'||path AS url, text
           FROM t2),
         u3 AS (SELECT doc_id,
             'https://github.com/acme/docs/blob/main/'||path AS url, text
           FROM t3),
         c1 AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM u1) a) b
           WHERE piece <> ''),
         c2 AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM u2) a) b
           WHERE piece <> ''),
         c3 AS (
           SELECT url,
             row_number() OVER (PARTITION BY url ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY url) AS total_chunks,
             sha256(url||'::'||piece) AS chunk_id
           FROM (SELECT url, i,
                   trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
                 FROM (SELECT url, text,
                         unnest(range(0,
                           CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
                       FROM u3) a) b
           WHERE piece <> ''),
         -- run 2's processed set: diff adds + modifies + rename-new
         proc2 AS (
           SELECT url FROM u2
           WHERE (doc_id >= 120 AND doc_id < 135)
              OR (doc_id < 120 AND (doc_id % 10 = 1 OR doc_id % 10 = 7))),
         -- run 2's delete urls that actually held chunks (D + R-old)
         del2 AS (
           SELECT DISTINCT c1.url FROM c1
           WHERE c1.url IN (
             SELECT 'https://github.com/acme/docs/blob/main/'||path
             FROM t1 WHERE doc_id % 10 = 3 OR doc_id % 10 = 7)),
         -- run 3 (full-scan fallback) obsolete cleanup: stored urls
         -- (store v1 = exactly t2's chunks) absent from the new scan
         del3 AS (
           SELECT DISTINCT url FROM c2
           WHERE url NOT IN (SELECT url FROM u3))
         SELECT 'counters' AS kind, 'run:1' AS key,
           'mode=full|files='||(SELECT count(*) FROM t1)
           ||'|emb='||(SELECT count(*) FROM c1)
           ||'|del=0|ver=0' AS payload
         UNION ALL
         SELECT 'counters', 'run:2',
           'mode=incremental|files='||(SELECT count(*) FROM proc2)
           ||'|emb='||(SELECT count(*) FROM c2
                       WHERE url IN (SELECT url FROM proc2)
                         AND chunk_id NOT IN (SELECT chunk_id FROM c1))
           ||'|del='||(SELECT count(*) FROM del2)
           ||'|ver=1'
         UNION ALL
         SELECT 'counters', 'run:3',
           'mode=full|files='||(SELECT count(*) FROM t3)
           ||'|emb='||(SELECT count(*) FROM c3
                       WHERE chunk_id NOT IN (SELECT chunk_id FROM c2))
           ||'|del='||(SELECT count(*) FROM del3)
           ||'|ver=2'
         UNION ALL
         SELECT 'counters', 'run:4',
           'mode=incremental|files=0|emb=0|del=0|ver=3'
         UNION ALL
         SELECT 'store', url||'#'||lpad(chunk_index::VARCHAR, 4, '0'),
           chunk_id||'|'||total_chunks
         FROM c3
         ORDER BY kind, key"""),
    QuerySpec("sync_metadata_exclusion", Sync.metadataExclusion(_, _),
      (syncCtes +
      """, meta AS (
           SELECT 'metadata://etag:doc://'||doc_id AS url
           FROM documents WHERE doc_id % 25 = 0),
         del AS (
           SELECT 'deleted' AS category, url, count(*) AS n_points
           FROM s_chunks c
           WHERE NOT EXISTS (SELECT 1 FROM i_docs d
                             WHERE 'doc://'||d.doc_id = c.url)
           GROUP BY 2),
         kept AS (
           SELECT 'kept_metadata' AS category, url,
             CAST(1 AS BIGINT) AS n_points
           FROM meta)
         SELECT category, url, n_points
         FROM (SELECT * FROM del UNION ALL SELECT * FROM kept)
         ORDER BY category, url""")),
    // Bloom prefilter over the known-URL set, fp-priced against ground
    // truth — see Sync.bloomPrefilterStats scaladoc. m/k interpolate.
    QuerySpec("sync_bloom_prefilter", Sync.bloomPrefilterStats(_, _),
      s"""WITH urls AS (SELECT doc_id, source,
             'doc://' || CAST(doc_id AS VARCHAR) AS url FROM documents),
         known AS (SELECT url FROM urls WHERE doc_id % 3 != 0),
         kj AS (SELECT url,
                  unnest(range(0, ${Sync.BloomHashes})) AS j FROM known),
         kb AS (SELECT DISTINCT
             ('0x'||substr(md5(CAST(j AS VARCHAR)||':'||url), 1, 8))::BIGINT
               % ${Sync.BloomBits} AS bit
           FROM kj),
         cj AS (SELECT url,
                  unnest(range(0, ${Sync.BloomHashes})) AS j FROM urls),
         cb AS (SELECT url, j,
             ('0x'||substr(md5(CAST(j AS VARCHAR)||':'||url), 1, 8))::BIGINT
               % ${Sync.BloomBits} AS bit
           FROM cj),
         pass AS (
           SELECT url FROM cb JOIN kb USING (bit)
           GROUP BY url
           HAVING count(DISTINCT j) = ${Sync.BloomHashes}),
         agg AS (
           SELECT source, count(*) AS n_candidates,
             CAST(sum(CASE WHEN doc_id % 3 != 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_members,
             CAST(sum(CASE WHEN p.url IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_bloom_pass,
             CAST(sum(CASE WHEN p.url IS NOT NULL AND doc_id % 3 = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
           FROM urls u LEFT JOIN pass p ON u.url = p.url
           GROUP BY source)
         SELECT source, n_candidates, n_members, n_bloom_pass,
           n_false_positives,
           CASE WHEN n_candidates - n_members = 0 THEN 0
             ELSE n_false_positives * 1000 // (n_candidates - n_members)
             END AS fp_permille
         FROM agg ORDER BY source""")
  )
}
