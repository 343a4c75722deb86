package graft.sources

import graft.QuerySpec

/** The chunk-store rows: markdown upsert, inspection, time travel, change
  * feed and the transaction-log store; one [[graft.QuerySpec]] per row. */
object StoreQueries {
  /** Shared oracle of `store_txn_log` and `stream_txn_parity`: each
    * snapshot's membership re-derived from the slice arithmetic
    * (v0: slices 0,1; v1: 1,2; v2: 1,2,3). */
  private def txnLogOracleSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 4 AS r FROM documents)
       SELECT CAST(0 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_files,
         count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
       FROM d WHERE r IN (0, 1)
       UNION ALL
       SELECT 1, 2, count(*), CAST(sum(doc_id) AS BIGINT)
       FROM d WHERE r IN (1, 2)
       UNION ALL
       SELECT 2, 3, count(*), CAST(sum(doc_id) AS BIGINT)
       FROM d WHERE r IN (1, 2, 3)
       ORDER BY version"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("store_markdown_upsert", MarkdownStore.upsertQuery(_, _),
      """WITH stored AS (
           SELECT 'doc://'||doc_id AS url,
             'v1:'||substr(text, 1, 24) AS markdown
           FROM documents WHERE doc_id % 5 <> 4),
         incoming AS (
           SELECT 'doc://'||doc_id AS url,
             'v2:'||substr(text, 1, 24) AS markdown
           FROM documents WHERE doc_id % 3 = 0),
         nf AS (
           SELECT 'doc://'||doc_id AS url FROM documents
           WHERE doc_id % 13 = 0),
         up AS (
           SELECT url, markdown FROM stored
           WHERE url NOT IN (SELECT url FROM incoming)
           UNION ALL
           SELECT url, markdown FROM incoming)
         SELECT url, markdown FROM up
         WHERE url NOT IN (SELECT url FROM nf)
         ORDER BY url"""),
    QuerySpec("ctl_chunk_inspect", ChunkStore.inspectQuery(_, _),
      """WITH hot AS (
           SELECT 'doc://hot' AS url,
             'c'||lpad(doc_id::VARCHAR, 4, '0') AS chunk_id,
             CASE WHEN doc_id % 17 = 0 THEN NULL ELSE doc_id END
               AS chunk_index,
             substr(text, 1, 16) AS content
           FROM documents),
         dates AS (
           SELECT 'c'||lpad(doc_id::VARCHAR, 4, '0') AS chunk_id,
             '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
               AS created_at
           FROM documents WHERE doc_id % 2 = 0),
         joined AS (
           SELECT h.chunk_id, h.url, h.chunk_index, h.content, d.created_at
           FROM hot h LEFT JOIN dates d ON h.chunk_id = d.chunk_id),
         capped AS (
           SELECT * FROM joined
           ORDER BY coalesce(chunk_index, 9223372036854775807), chunk_id
           LIMIT 480)
         SELECT chunk_id, url,
           coalesce(chunk_index::VARCHAR, '') AS chunk_index,
           content, coalesce(created_at, '') AS created_at
         FROM capped ORDER BY chunk_id"""),
    // Time travel over the versioned store: three upserts (inserts +
    // planted updates), every version read back as-of its pointer;
    // the oracle re-derives each snapshot's membership and content
    // lengths from the construction arithmetic — a leaked write, a
    // dropped update, or a pointer off-by-one shifts a sum.
    QuerySpec("store_time_travel", ChunkStore.timeTravelReport(_, _),
      """WITH d AS (SELECT doc_id, length(text) AS len FROM documents)
         SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_urls,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(len) AS BIGINT) AS sum_len
         FROM d WHERE doc_id % 3 = 0
         UNION ALL
         SELECT 1, count(*), CAST(sum(doc_id) AS BIGINT),
           CAST(sum(len + CASE WHEN doc_id % 6 = 0 THEN 3 ELSE 0 END)
             AS BIGINT)
         FROM d WHERE doc_id % 3 IN (0, 1)
         UNION ALL
         SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT),
           CAST(sum(len + CASE WHEN doc_id % 6 IN (0, 3) THEN 3 ELSE 0
             END) AS BIGINT)
         FROM d WHERE doc_id % 3 IN (0, 1, 2)
         ORDER BY version"""),
    // Transaction-log snapshots: three commits (add A+B; add C remove
    // A; add D) folded per version — the oracle re-derives membership
    // from the slice arithmetic (v0: slices 0,1; v1: 1,2; v2: 1,2,3).
    QuerySpec("store_txn_log", TxnLogStore.txnLogReport(_, _),
      txnLogOracleSql),
    // The streamed commits must fold to IDENTICAL snapshots — shared
    // oracle; a commit lost, re-versioned by a replay, or applied out
    // of order is a hash mismatch.
    QuerySpec("stream_txn_parity", TxnLogStore.txnLogStreamReport(_, _),
      txnLogOracleSql),
    // Compaction through the log: v3 swaps every live file for one
    // compacted file — membership identical to v2 (content
    // preservation), n_files drops to 1, earlier snapshots untouched.
    QuerySpec("store_compact_txn", TxnLogStore.compactionTxnReport(_, _),
      (txnLogOracleSql.replace("ORDER BY version",
      """UNION ALL
       SELECT 3, 1, count(*), CAST(sum(doc_id) AS BIGINT)
       FROM d WHERE r IN (1, 2, 3)
       ORDER BY version"""))),
    // Vacuum to the head after compaction: 5 staged file dirs, only
    // the compacted one referenced — 4 vacuumed, head content intact.
    QuerySpec("store_vacuum_txn", TxnLogStore.vacuumTxnReport(_, _),
      """WITH d AS (SELECT doc_id, doc_id % 4 AS r FROM documents)
         SELECT CAST(5 AS BIGINT) AS n_disk_before,
           CAST(1 AS BIGINT) AS n_disk_after,
           CAST(4 AS BIGINT) AS n_vacuumed,
           count(*) AS head_rows,
           CAST(sum(doc_id) AS BIGINT) AS head_sum
         FROM d WHERE r IN (1, 2, 3)"""),
    // CDC between consecutive store versions: change classes
    // re-derived from the fixture's residue arithmetic — a feed that
    // compares keys instead of content misses every update.
    QuerySpec("store_change_feed", ChunkStore.changeFeedReport(_, _),
      """WITH d AS (SELECT doc_id, doc_id % 3 AS r3, doc_id % 6 AS r6
           FROM documents)
         SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
           CAST(count(*) FILTER (WHERE r3 = 1) AS BIGINT) AS n_inserted,
           CAST(count(*) FILTER (WHERE r6 = 0) AS BIGINT) AS n_updated,
           CAST(count(*) FILTER (WHERE r3 = 0 AND r6 <> 0) AS BIGINT)
             AS n_unchanged,
           CAST(0 AS BIGINT) AS n_deleted,
           CAST(COALESCE(sum(doc_id) FILTER (WHERE r3 = 1), 0) AS BIGINT)
             AS sum_id_inserted,
           CAST(COALESCE(sum(doc_id) FILTER (WHERE r6 = 0), 0) AS BIGINT)
             AS sum_id_updated
         FROM d
         UNION ALL
         SELECT 1, 2,
           CAST(count(*) FILTER (WHERE r3 = 2) AS BIGINT),
           CAST(count(*) FILTER (WHERE r6 = 3) AS BIGINT),
           CAST(count(*) FILTER (WHERE r3 IN (0, 1) AND r6 <> 3)
             AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(COALESCE(sum(doc_id) FILTER (WHERE r3 = 2), 0) AS BIGINT),
           CAST(COALESCE(sum(doc_id) FILTER (WHERE r6 = 3), 0) AS BIGINT)
         FROM d ORDER BY from_v""")
  )
}
