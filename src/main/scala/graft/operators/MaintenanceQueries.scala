package graft.operators

import graft.QuerySpec

/** The store-maintenance rows: compaction, z-order/Hilbert layouts,
  * incremental materialized views and the compliance purge; one
  * [[graft.QuerySpec]] per row. */
object MaintenanceQueries {
  /** Shared oracle of `compliance_purge_e2e` and `stream_purge_parity`:
    * every surface rebuilt from scratch minus the purge subjects — the
    * index side rides the bit-exact seed-quantizer assignment CTE the
    * IVF maintenance oracles share. */
  private def compliancePurgeOracleSql: String =
    SimilarityQueries.ivfAssignedCteSql +
    s""",
       cp_d AS (SELECT doc_id, source, (length(text) + 3) // 4 AS tok
           FROM documents),
       cp_lv AS (SELECT * FROM cp_d
           WHERE doc_id % ${Compliance.PurgeMod} <> ${Compliance.PurgeRes}),
       cp_np AS (SELECT count(*) AS np FROM cp_d
           WHERE doc_id % ${Compliance.PurgeMod} = ${Compliance.PurgeRes}),
       cp_ilv AS (SELECT vec_id FROM assigned
           WHERE vec_id % ${Compliance.PurgeMod} <> ${Compliance.PurgeRes}),
       cp_ipg AS (SELECT vec_id, cell FROM assigned
           WHERE vec_id % ${Compliance.PurgeMod} = ${Compliance.PurgeRes})
       SELECT 'index' AS surface, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(COALESCE(sum(vec_id), 0) AS BIGINT) AS checksum,
         CAST((SELECT count(DISTINCT cell) FROM cp_ipg) AS BIGINT)
           AS n_groups,
         CAST((SELECT count(*) FROM cp_ipg) AS BIGINT) AS n_purged
       FROM cp_ilv
       UNION ALL
       SELECT 'mv', CAST(count(*) AS BIGINT),
         CAST(COALESCE(sum(tok), 0) AS BIGINT),
         CAST(count(DISTINCT source) AS BIGINT),
         CAST((SELECT np FROM cp_np) AS BIGINT)
       FROM cp_lv
       UNION ALL
       SELECT 'store', CAST(count(*) AS BIGINT),
         CAST(COALESCE(sum(doc_id), 0) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST((SELECT np FROM cp_np) AS BIGINT)
       FROM cp_lv
       ORDER BY surface"""

  /** Shared full-recompute oracle for the incremental-MV rows: the
    * engine refreshes through the signed-merge + affected-group-
    * recompute path (MatView.scala); the oracle recomputes the same
    * aggregates from the final base state (store minus the %10=3
    * deletes plus the %10=7 inserts = `l_orderkey % 10 <> 3`). */
  private lazy val mvRefreshOracleSql: String =
    """SELECT l_partkey, count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
       strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
       FROM lineitem WHERE l_orderkey % 10 <> 3
       GROUP BY 1 ORDER BY l_partkey"""

  val specs: Seq[QuerySpec] = Seq(
    // Next-fit-decreasing compaction bins over the per-partition file
    // listing — see Layout.compactionPlan scaladoc.
    QuerySpec("store_compaction", Layout.compactionPlan(_, _),
      s"""WITH files AS (SELECT source AS part, doc_id AS file_id,
             n_chars AS bytes FROM documents),
         w AS (
           SELECT part, file_id, bytes,
             CAST(coalesce(sum(bytes) OVER (
               PARTITION BY part ORDER BY bytes DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM files),
         b AS (SELECT part, file_id, bytes,
                 cum_before // ${Layout.CompactionTarget} AS bin FROM w)
         SELECT part, bin, count(*) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           max(bytes) AS max_file_bytes, min(file_id) AS first_file
         FROM b GROUP BY 1, 2 ORDER BY part, bin"""),
    // Z-order layout stats: the interleave expression is generated from
    // the same bit recipe the Spark side folds over
    // (Layout.zInterleaveSql), so the two cannot drift.
    QuerySpec("layout_zorder", Layout.zorderStats(_, _),
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         bounds AS (SELECT min(user_id) AS min_u, max(user_id) AS max_u,
           min(us) AS min_us, max(us) AS max_us FROM ev),
         dims AS (
           SELECT ((user_id - min_u) * ${1L << graft.operators.Layout.ZBits})
               // (max_u - min_u + 1) AS x,
             ((us - min_us) * ${1L << graft.operators.Layout.ZBits})
               // (max_us - min_us + 1) AS y
           FROM ev CROSS JOIN bounds),
         z AS (SELECT x, y,
             ${graft.operators.Layout.zInterleaveSql("x", "y")} AS zkey
           FROM dims),
         f AS (SELECT x, y,
             zkey >> ${2 * graft.operators.Layout.ZBits - 6} AS file_id
           FROM z)
         SELECT CAST(file_id AS BIGINT) AS file_id, count(*) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
         FROM f GROUP BY 1 ORDER BY file_id"""),
    QuerySpec("layout_zorder_prune", Layout.zorderPruneStats(_, _),
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         bounds AS (SELECT min(user_id) AS min_u, max(user_id) AS max_u,
           min(us) AS min_us, max(us) AS max_us FROM ev),
         dims AS (
           SELECT ((user_id - min_u) * ${1L << graft.operators.Layout.ZBits})
               // (max_u - min_u + 1) AS x,
             ((us - min_us) * ${1L << graft.operators.Layout.ZBits})
               // (max_us - min_us + 1) AS y
           FROM ev CROSS JOIN bounds),
         z AS (SELECT x, y,
             ${graft.operators.Layout.zInterleaveSql("x", "y")} AS zkey
           FROM dims),
         lay AS (
           SELECT 'linear_time' AS layout,
             y >> ${graft.operators.Layout.ZBits - 6} AS file_id, x FROM z
           UNION ALL
           SELECT 'zorder',
             zkey >> ${2 * graft.operators.Layout.ZBits - 6}, x FROM z),
         pf AS (
           SELECT layout, file_id, count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             CAST(sum(CASE WHEN x BETWEEN ${graft.operators.Layout.PruneXLo}
                 AND ${graft.operators.Layout.PruneXHi} THEN 1 ELSE 0 END)
               AS BIGINT) AS rows_matched
           FROM lay GROUP BY 1, 2)
         SELECT layout, count(*) AS n_files,
           CAST(sum(CASE WHEN x_max >= ${graft.operators.Layout.PruneXLo}
               AND x_min <= ${graft.operators.Layout.PruneXHi}
               THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
           CAST(sum(CASE WHEN x_max >= ${graft.operators.Layout.PruneXLo}
               AND x_min <= ${graft.operators.Layout.PruneXHi}
               THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read,
           CAST(sum(rows_matched) AS BIGINT) AS rows_matched
         FROM pf GROUP BY 1 ORDER BY layout"""),
    // File-skipping comparison: the same rows laid out z-ordered vs
    // time-linear, pruned by min/max stats under an x-only slice — see
    // Layout.zorderPruneStats scaladoc. All constants interpolate.
    // Hilbert vs Z vs linear: the Morton key re-derives from the
    // shared bit recipe; the Hilbert key walks the generated CTE
    // rounds (same reflect-and-swap recipe as the Scala kernel).
    QuerySpec("layout_hilbert_prune", Layout.hilbertPruneStats(_, _),
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         bounds AS (SELECT min(user_id) AS min_u, max(user_id) AS max_u,
           min(us) AS min_us, max(us) AS max_us FROM ev),
         dims AS (
           SELECT ((user_id - min_u) * ${1L << graft.operators.Layout.ZBits})
               // (max_u - min_u + 1) AS x,
             ((us - min_us) * ${1L << graft.operators.Layout.ZBits})
               // (max_us - min_us + 1) AS y
           FROM ev CROSS JOIN bounds),
         ${graft.operators.Layout.hilbertCteSql("dims")},
         z AS (SELECT x, y,
             ${graft.operators.Layout.zInterleaveSql("x", "y")} AS zkey
           FROM dims),
         lay AS (
           SELECT 'hilbert' AS layout,
             d >> ${2 * graft.operators.Layout.ZBits - 6} AS file_id,
             x0 AS x
           FROM h${graft.operators.Layout.ZBits}
           UNION ALL
           SELECT 'linear_time',
             y >> ${graft.operators.Layout.ZBits - 6}, x FROM z
           UNION ALL
           SELECT 'zorder',
             zkey >> ${2 * graft.operators.Layout.ZBits - 6}, x FROM z),
         pf AS (
           SELECT layout, file_id, count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             CAST(sum(CASE WHEN x BETWEEN ${graft.operators.Layout.PruneXLo}
                 AND ${graft.operators.Layout.PruneXHi} THEN 1 ELSE 0 END)
               AS BIGINT) AS rows_matched
           FROM lay GROUP BY 1, 2)
         SELECT layout, count(*) AS n_files,
           CAST(sum(CASE WHEN x_max >= ${graft.operators.Layout.PruneXLo}
               AND x_min <= ${graft.operators.Layout.PruneXHi}
               THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
           CAST(sum(CASE WHEN x_max >= ${graft.operators.Layout.PruneXLo}
               AND x_min <= ${graft.operators.Layout.PruneXHi}
               THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read,
           CAST(sum(rows_matched) AS BIGINT) AS rows_matched
         FROM pf GROUP BY 1 ORDER BY layout"""),
    // Incremental MV maintenance: the engine refreshes through the
    // signed-merge + affected-group-recompute path (MatView.scala);
    // the oracle recomputes the same aggregates from the final base
    // state (store minus %10=3 deletes plus %10=7 inserts =
    // l_orderkey % 10 <> 3), so any defect in the signed merge, the
    // zero-count drop, or the delete-affected min/max recompute
    // shifts a value and fails the hash.
    QuerySpec("mv_incremental", MatView.incrementalRefresh(_, _),
      mvRefreshOracleSql),
    // Subject-erasure sweep: the engine purges through each surface's
    // own incremental path (store tombstones, MV signed delta, index
    // partition-pruned rewrite); the oracle rebuilds every surface
    // from scratch minus the subjects — a surface the sweep missed, a
    // lost tombstone, or a fully-purged index cell left behind all
    // shift a count or checksum. The index side shares the bit-exact
    // seed-quantizer assignment CTE with the IVF maintenance oracles.
    QuerySpec("compliance_purge_e2e", Compliance.purgeSweep(_, _),
      compliancePurgeOracleSql),
    // The streaming sweep must land the IDENTICAL final state: shared
    // oracle, so a request lost/replayed across micro-batch boundaries
    // or maintenance reading stale state between triggers is a hash
    // mismatch.
    QuerySpec("stream_purge_parity", Compliance.purgeSweepStream(_, _),
      compliancePurgeOracleSql),
    // The streaming MV maintenance must land the IDENTICAL view as the
    // batch refresh — one shared oracle, so rows lost/replayed across
    // micro-batch boundaries or stale-store maintenance hash-mismatch.
    QuerySpec("stream_mv_parity", MatView.mvStreamParity(_, _),
      mvRefreshOracleSql,
      protocol = true)
  )
}
