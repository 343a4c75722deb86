package graft.streaming

import graft.QuerySpec
import graft.operators.Curation

/** The streaming parity rows over the staged event and store replays; one
  * [[graft.QuerySpec]] per row. */
object StreamQueries {
  /** Shared by stream_window_parity and stream_rocksdb_parity: the two
    * rows run the same windowed aggregation on different state
    * backends and must hash-match the same batch derivation. */
  private val windowParityOracleSql: String =
    s"""WITH e AS (
         SELECT ts::TIMESTAMP AS ts, event_type, value
         FROM events WHERE event_id < ${
           graft.streaming.EventStream.AggParityEvents})
       SELECT (epoch_us(ts) // 300000000) * 300000000
           AS window_start_us,
         event_type, count(*) AS n,
         round(sum(value), 2) AS total_value
       FROM e GROUP BY 1, 2 ORDER BY 1, 2"""

  val specs: Seq[QuerySpec] = Seq(
    // the BATCH derivation of the same pages the streaming entry
    // ingests: a hash match against the streamed store's contents IS
    // the stream/batch parity proof (chunk ids are content hashes)
    // the corpus cap interpolates EventStream.ParityFixtureDocs so the
    // engine fixture and this oracle can never drift apart by hand-edit
    QuerySpec("stream_batch_parity", EventStream.streamBatchParity(_, _),
      s"""SELECT 'doc://'||doc_id AS url, CAST(0 AS BIGINT) AS chunk_index,
         CAST(1 AS BIGINT) AS total_chunks, lang AS section,
         sha256(content) AS chunk_id, content
         FROM (SELECT *,
           '[Topic: '||source||' > '||lang||']'||chr(10)||
           '# '||source||chr(10)||chr(10)||
           '## '||lang||chr(10)||chr(10)||text AS content
           FROM documents
           WHERE doc_id < ${graft.streaming.EventStream.ParityFixtureDocs}) t
         ORDER BY url, chunk_index""",
      protocol = true),
    // the same batch derivation MINUS the tombstoned docs: the streamed
    // store after the 404-purge micro-batches must hold exactly the
    // batch cleanup's survivor set, every chunk bit-identical
    QuerySpec("stream_delete_parity", EventStream.streamDeleteParity(_, _),
      s"""SELECT 'doc://'||doc_id AS url, CAST(0 AS BIGINT) AS chunk_index,
         CAST(1 AS BIGINT) AS total_chunks, lang AS section,
         sha256(content) AS chunk_id, content
         FROM (SELECT *,
           '[Topic: '||source||' > '||lang||']'||chr(10)||
           '# '||source||chr(10)||chr(10)||
           '## '||lang||chr(10)||chr(10)||text AS content
           FROM documents
           WHERE doc_id < ${graft.streaming.EventStream.ParityFixtureDocs}
             AND doc_id % 13 <> 0) t
         ORDER BY url, chunk_index""",
      protocol = true),
    // after a fully REDUNDANT second sync, the
    // store must still match the batch derivation of the 200-doc slice
    QuerySpec("stream_resync_parity", EventStream.streamResyncParity(_, _),
      """SELECT 'doc://'||doc_id AS url, CAST(0 AS BIGINT) AS chunk_index,
         CAST(1 AS BIGINT) AS total_chunks, lang AS section,
         sha256(content) AS chunk_id, content
         FROM (SELECT *,
           '[Topic: '||source||' > '||lang||']'||chr(10)||
           '# '||source||chr(10)||chr(10)||
           '## '||lang||chr(10)||chr(10)||text AS content
           FROM documents WHERE doc_id < 200) t
         ORDER BY url, chunk_index""",
      protocol = true),
    // the BATCH aggregations the streaming windowed/session rows must
    // emit exactly (time-ordered replay + sentinel watermark flush →
    // the append-mode output equals the full batch result); caps
    // interpolate EventStream.AggParityEvents so engine and oracle
    // can never drift apart by hand-edit
    QuerySpec("stream_window_parity", EventStream.streamWindowParity(_, _),
      windowParityOracleSql,
      protocol = true),
    QuerySpec("stream_session_parity", EventStream.streamSessionParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, value
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         g AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800000000
                  THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 1800000000 AS session_end_us,
           user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start_us""",
      protocol = true),
    QuerySpec("stream_state_parity", EventStream.streamStateParity(_, _),
      s"""SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
         FROM events WHERE event_id < ${
           graft.streaming.EventStream.AggParityEvents}
         GROUP BY user_id ORDER BY user_id""",
      protocol = true),
    // transformWithState twin: shares stream_state_parity's oracle
    // VERBATIM — the two arbitrary-state APIs must be result-
    // indistinguishable (and this row runs on the RocksDB provider).
    QuerySpec("stream_tws_parity", EventStream.streamTwsParity(_, _),
      s"""SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
         FROM events WHERE event_id < ${
           graft.streaming.EventStream.AggParityEvents}
         GROUP BY user_id ORDER BY user_id"""),
    QuerySpec("stream_join_parity", EventStream.streamJoinParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, event_type, value,
             event_id
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents})
         SELECT c.event_id AS click_id, c.user_id,
           epoch_us(c.ts) AS click_ts_us, epoch_us(r.ts) AS err_ts_us,
           r.value AS err_value
         FROM e c JOIN e r
           ON c.event_type = 'click' AND r.event_type = 'error'
           AND r.user_id = c.user_id
           AND r.ts >= c.ts - INTERVAL 1 HOUR AND r.ts < c.ts
         ORDER BY click_id, err_ts_us"""),
    QuerySpec("stream_dedup_parity", EventStream.streamDedupParity(_, _),
      s"""SELECT event_id, user_id,
           CAST(epoch_us(ts::TIMESTAMP) AS BIGINT) AS ts_us,
           event_type, round(value, 2) AS value
         FROM events WHERE event_id < ${
           graft.streaming.EventStream.AggParityEvents}
         ORDER BY event_id""",
      protocol = true),
    // the late-replay drop rule: the same quartile assignment the
    // stager uses (identical double arithmetic on epoch millis), with
    // slice 1 — the slice delivered after the watermark passed it —
    // excluded row-by-row, straddling windows keeping their other rows
    QuerySpec("stream_late_parity", EventStream.streamLateParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, event_type, value
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         b AS (
           SELECT min(epoch_ms(ts)) AS lo,
             max(epoch_ms(ts)) - min(epoch_ms(ts)) + 1 AS span
           FROM e),
         s AS (
           SELECT ts, event_type, value,
             least(3, floor((epoch_ms(ts) - lo) * 4.0 / span)) AS slice
           FROM e CROSS JOIN b)
         SELECT (epoch_us(ts) // 300000000) * 300000000
             AS window_start_us,
           event_type, count(*) AS n,
           round(sum(value), 2) AS total_value
         FROM s WHERE slice <> 1
         GROUP BY 1, 2 ORDER BY 1, 2""",
      protocol = true),
    // the RocksDB-backend run shares the default-backend oracle BY
    // DESIGN: state-backend choice must be invisible to results
    QuerySpec("stream_rocksdb_parity", EventStream.streamRocksdbParity(_, _),
      windowParityOracleSql,
      protocol = true),
    // stream-static enrichment: batch left join against the gapped
    // broadcast dim — per-micro-batch re-broadcast must be invisible
    // event_id rides along as the ORDER BY tie-breaker so the sort key
    // is unique by construction (a (ts,user,type) tie at a larger
    // corpus would otherwise make row order engine-dependent)
    QuerySpec("stream_enrich_parity", EventStream.streamEnrichParity(_, _),
      s"""WITH e AS (
           SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type,
             value
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         d AS (
           SELECT c_custkey, n_name, c_mktsegment
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_custkey % 3 <> 0)
         SELECT e.event_id,
           CAST(epoch_us(e.ts) AS BIGINT) AS ts_us, e.user_id,
           e.event_type, round(e.value, 2) AS value,
           COALESCE(d.n_name, 'unknown') AS nation,
           COALESCE(d.c_mktsegment, 'unknown') AS segment
         FROM e LEFT JOIN d ON e.user_id = d.c_custkey
         ORDER BY ts_us, user_id, event_type, e.event_id""",
      protocol = true),
    // the outer variant: unmatched clicks must surface exactly once
    // with null err columns — the filtered CTEs keep the event_type
    // predicates out of the LEFT JOIN's ON clause, where they would
    // wrongly preserve non-click rows
    QuerySpec("stream_outer_join_parity",
      EventStream.streamOuterJoinParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, event_type, value,
             event_id
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         c AS (
           SELECT event_id AS click_id, user_id, ts FROM e
           WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts, value FROM e WHERE event_type = 'error')
         SELECT c.click_id, c.user_id,
           epoch_us(c.ts) AS click_ts_us, epoch_us(r.ts) AS err_ts_us,
           r.value AS err_value
         FROM c LEFT JOIN r
           ON r.user_id = c.user_id
           AND r.ts >= c.ts - INTERVAL 1 HOUR AND r.ts < c.ts
         ORDER BY click_id, err_ts_us""",
      protocol = true),
    // the FULL variant: unmatched rows from BOTH sides, user taken
    // from whichever side is present; null ordering pinned NULLS FIRST
    // (DuckDB defaults nulls-last on ASC, Spark nulls-first)
    QuerySpec("stream_full_outer_join_parity",
      EventStream.streamFullOuterJoinParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, event_type, value,
             event_id
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         c AS (
           SELECT event_id AS click_id, user_id, ts FROM e
           WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts, value FROM e WHERE event_type = 'error')
         SELECT c.click_id,
           COALESCE(c.user_id, r.user_id) AS user_id,
           epoch_us(c.ts) AS click_ts_us, epoch_us(r.ts) AS err_ts_us,
           r.value AS err_value
         FROM c FULL JOIN r
           ON r.user_id = c.user_id
           AND r.ts >= c.ts - INTERVAL 1 HOUR AND r.ts < c.ts
         ORDER BY click_id NULLS FIRST, user_id,
           err_ts_us NULLS FIRST, err_value""",
      protocol = true),
    // the SEMI variant: a click surfaces once iff ANY error matched
    // its interval — EXISTS, not a join, so a click with three matches
    // stays one row and carries no error columns
    QuerySpec("stream_semi_join_parity", EventStream.streamSemiJoinParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, event_type, value,
             event_id
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         c AS (
           SELECT event_id AS click_id, user_id, ts FROM e
           WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts FROM e WHERE event_type = 'error')
         SELECT c.click_id, c.user_id, epoch_us(c.ts) AS click_ts_us
         FROM c
         WHERE EXISTS (
           SELECT 1 FROM r
           WHERE r.user_id = c.user_id
             AND r.ts >= c.ts - INTERVAL 1 HOUR AND r.ts < c.ts)
         ORDER BY click_id"""),
    // the RIGHT variant: unmatched errors surface once with a null
    // click side — mirror of the left row, exercising the error
    // side's eviction-driven null emission
    QuerySpec("stream_right_outer_join_parity",
      EventStream.streamRightOuterJoinParity(_, _),
      s"""WITH e AS (
           SELECT ts::TIMESTAMP AS ts, user_id, event_type, value,
             event_id
           FROM events WHERE event_id < ${
             graft.streaming.EventStream.AggParityEvents}),
         c AS (
           SELECT event_id AS click_id, user_id, ts FROM e
           WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts, value FROM e WHERE event_type = 'error')
         SELECT c.click_id,
           COALESCE(c.user_id, r.user_id) AS user_id,
           epoch_us(c.ts) AS click_ts_us, epoch_us(r.ts) AS err_ts_us,
           r.value AS err_value
         FROM c RIGHT JOIN r
           ON r.user_id = c.user_id
           AND r.ts >= c.ts - INTERVAL 1 HOUR AND r.ts < c.ts
         ORDER BY click_id NULLS FIRST, user_id,
           err_ts_us NULLS FIRST, err_value"""),
    // the batch derivation of the streaming curation pipeline: gate
    // (word floor + the stratified sampler's sha bucket at 500‰) then
    // global (doc_id, pos) first-claim span dedup — ascending-order
    // replay makes the streamed cross-batch claims equal this exactly
    QuerySpec("stream_curate_parity", CurationStream.streamCurateParity(_, _),
      s"""WITH d AS (
           SELECT doc_id, source, text FROM documents
           WHERE len(string_split(text, ' ')) >= 20
             AND ('0x'||substr(sha256('smp:'||doc_id),1,12))::BIGINT
                 % 1000 < 500),
         w AS (SELECT doc_id, string_split(text,' ') AS ws FROM d),
         p AS (SELECT doc_id, ws,
                 unnest(range((len(ws)+${Curation.SpanWords - 1})
                              //${Curation.SpanWords})) AS pos
               FROM w),
         segs AS (SELECT doc_id, pos,
                    array_to_string(ws[pos*${Curation.SpanWords}+1 :
                      pos*${Curation.SpanWords}+${Curation.SpanWords}],
                      ' ') AS span
                  FROM p),
         h AS (SELECT doc_id, pos,
                 ('0x'||substr(sha256(span),1,14))::BIGINT AS h
               FROM segs),
         r AS (SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, pos) AS rn
               FROM h),
         pd AS (SELECT doc_id,
                  CAST(sum(CASE WHEN rn=1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_new_spans
                FROM r GROUP BY doc_id)
         SELECT d.doc_id, d.source, pd.n_new_spans
         FROM pd JOIN d ON pd.doc_id = d.doc_id
         WHERE pd.n_new_spans > 0 ORDER BY d.doc_id""",
      protocol = true)
  )
}
