package graft.operators

import graft.QuerySpec

/** The table-statistics rows: profiles, quantile sketches and KMV distinct
  * counts; one [[graft.QuerySpec]] per row. */
object StatsQueries {
  /** Oracle for `stats_table_profile`: one UNION ALL branch per
    * profiled (table, column), generated from THE spec list
    * (Stats.ProfileSpec) the exact profile consumes — the two cannot
    * drift. */
  private lazy val statsProfileOracleSql: String = {
    val branches = graft.operators.Stats.ProfileSpec.flatMap { case (t, cols) =>
      cols.map { c =>
        s"""SELECT '$t' AS tbl, '$c' AS col_name,
           count(*) AS n_rows,
           count(*) - count($c) AS n_null,
           count(DISTINCT $c) AS ndv,
           CAST(min($c) AS VARCHAR) AS min_s,
           CAST(max($c) AS VARCHAR) AS max_s,
           CAST(COALESCE(sum(length(CAST($c AS VARCHAR))), 0) AS BIGINT)
             AS total_len
           FROM $t"""
      }
    }.mkString(" UNION ALL ")
    s"""WITH p AS ($branches),
       t AS (SELECT tbl, CAST(sum(total_len) AS BIGINT) AS tbl_est_bytes
             FROM p GROUP BY 1)
       SELECT p.tbl, p.col_name, p.n_rows, p.n_null, p.ndv, p.min_s,
         p.max_s, p.total_len, t.tbl_est_bytes,
         t.tbl_est_bytes < ${graft.operators.Stats.BroadcastBytes}
           AS broadcastable
       FROM p JOIN t USING (tbl) ORDER BY tbl, col_name"""
  }

  /** Shared oracle of `stats_kmv_distinct` and `stream_kmv_parity`:
    * 52-bit sha hashes, k smallest distinct per scope, integer
    * estimate — the streaming sketch maintenance must land the
    * identical report. */
  private def kmvOracleSql: String =
    s"""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
       uh AS (SELECT DISTINCT event_type,
           ('0x'||substr(sha256(CAST(user_id AS VARCHAR)),1,13))::BIGINT
             AS h
         FROM ev),
       rk AS (SELECT event_type, h, row_number() OVER
           (PARTITION BY event_type ORDER BY h) AS rn FROM uh),
       sk AS (SELECT event_type, count(*) AS sz, max(h) AS hk
         FROM rk WHERE rn <= ${Stats.KmvK} GROUP BY 1),
       tex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         FROM ev GROUP BY 1),
       trow AS (SELECT 'type:'||s.event_type AS scope, t.n_exact,
           CASE WHEN s.sz < ${Stats.KmvK} THEN s.sz
             ELSE ${Stats.KmvK - 1} * ${Stats.KmvDomain} // s.hk END
             AS n_est
         FROM sk s JOIN tex t USING (event_type)),
       types AS (SELECT DISTINCT event_type AS t FROM ev),
       prs AS (SELECT a.t AS ta, b.t AS tb FROM types a
         JOIN types b ON a.t < b.t),
       puh AS (SELECT DISTINCT ta, tb, h FROM prs
         JOIN uh ON uh.event_type IN (ta, tb)),
       prk AS (SELECT ta, tb, h, row_number() OVER
           (PARTITION BY ta, tb ORDER BY h) AS rn FROM puh),
       psk AS (SELECT ta, tb, count(*) AS sz, max(h) AS hk
         FROM prk WHERE rn <= ${Stats.KmvK} GROUP BY 1, 2),
       pex AS (SELECT ta, tb, count(DISTINCT user_id) AS n_exact
         FROM prs JOIN ev ON ev.event_type IN (ta, tb) GROUP BY 1, 2),
       prow AS (SELECT 'union:'||p.ta||'|'||p.tb AS scope, x.n_exact,
           CASE WHEN p.sz < ${Stats.KmvK} THEN p.sz
             ELSE ${Stats.KmvK - 1} * ${Stats.KmvDomain} // p.hk END
             AS n_est
         FROM psk p JOIN pex x ON p.ta = x.ta AND p.tb = x.tb)
       SELECT scope, CAST(n_exact AS BIGINT) AS n_exact,
         CAST(n_est AS BIGINT) AS n_est,
         CAST(abs(n_est - n_exact) * 1000 // n_exact AS BIGINT)
           AS err_permille
       FROM (SELECT * FROM trow UNION ALL SELECT * FROM prow)
       ORDER BY scope"""

  val specs: Seq[QuerySpec] = Seq(
    // ANALYZE-style stats: every cell recomputed from scratch per
    // column; min/max aggregate in native type then cast, exactly as
    // the Spark side does, and the broadcast flag re-derives from the
    // same byte rollup.
    QuerySpec("stats_table_profile", Stats.tableProfile(_, _),
      statsProfileOracleSql),
    // Mergeable-histogram quantile estimate CALIBRATED against the
    // exact rank statistic — the whole kernel (milli-unit BIGINT
    // rationalization, scan-derived bucket width, deterministic
    // in-bucket interpolation, domain-permille error) re-derives in
    // pure integer SQL; the oracle's exact side uses a global
    // row_number where the engine uses histogram-located bucket
    // refinement, so the two must agree on the rank VALUE.
    QuerySpec("stats_quantile_sketch", Stats.quantileSketch(_, _),
      s"""WITH v AS (SELECT CAST(floor(value * 1000) AS BIGINT) AS v
             FROM events),
         st AS (SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS n,
             (max(v) - min(v)) // ${graft.operators.Stats.QuantileBuckets}
               + 1 AS w
           FROM v),
         b AS (SELECT v, (v - vmin) // w AS bucket FROM v, st),
         hist AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
         cum AS (SELECT bucket, cnt,
             CAST(COALESCE(sum(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM hist),
         tgt AS (SELECT p, 1 + (n - 1) * p // 1000 AS target
           FROM (SELECT unnest([${
             graft.operators.Stats.QuantilesPermille.mkString(",")}]) AS p),
             st),
         loc AS (SELECT p, target, c.bucket, c.cnt, c.cum_before
           FROM tgt JOIN cum c
             ON target > c.cum_before AND target <= c.cum_before + c.cnt),
         ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM v),
         ex AS (SELECT p, v AS exact_v FROM loc JOIN ranked ON rk = target)
         SELECT CAST(l.p AS BIGINT) AS p,
           CAST(l.target AS BIGINT) AS target_rank,
           CAST(l.bucket AS BIGINT) AS bucket,
           CAST(st.vmin + l.bucket * st.w
             + (l.target - l.cum_before - 1) * st.w // l.cnt AS BIGINT)
             AS est_v,
           CAST(ex.exact_v AS BIGINT) AS exact_v,
           CAST(CASE WHEN st.vmax > st.vmin THEN
             abs(st.vmin + l.bucket * st.w
               + (l.target - l.cum_before - 1) * st.w // l.cnt
               - ex.exact_v) * 1000 // (st.vmax - st.vmin)
             ELSE 0 END AS BIGINT) AS err_permille
         FROM loc l CROSS JOIN st JOIN ex ON l.p = ex.p
         ORDER BY p"""),
    // KMV distinct sketching with first-class MERGE: per-type sketch
    // estimates and pairwise union estimates derived by folding
    // finished sketches (never re-scanning), all re-derived in SQL —
    // 52-bit sha hashes, k smallest distinct, integer estimate.
    QuerySpec("stats_kmv_distinct", Stats.kmvDistinct(_, _),
      kmvOracleSql),
    // The micro-batched sketch maintenance must land IDENTICAL
    // estimates — shared oracle, so a batch lost/double-merged or a
    // non-associative merge is a hash mismatch.
    QuerySpec("stream_kmv_parity", Stats.kmvDistinctStream(_, _),
      kmvOracleSql)
  )
}
