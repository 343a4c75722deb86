package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Incremental materialized-view maintenance — the aggregate-refresh
  * pattern a 100 TB warehouse runs instead of nightly recompute. The
  * reference recomputes nothing (its per-URL hash diff, SURVEY §2.5, is
  * row-level); this family is the ENGINE-level generalization: a
  * grouped-aggregate MV kept current under a delta of inserts AND
  * deletes by
  *
  *   1. a SIGNED partial-aggregate merge for the self-maintainable
  *      aggregates (count, sum): MV' = MV ⊎ agg(+adds) ⊎ agg(−dels),
  *      groups whose count reaches zero dropped — cost is
  *      O(|delta| + |MV groups touched|), never a base-table scan;
  *   2. an AFFECTED-GROUP recompute for the non-self-maintainable
  *      aggregates (min/max under deletes): only groups that actually
  *      lost rows re-scan the maintained base table, semi-joined down
  *      to that key set. Insert-only groups never re-scan — inserts
  *      maintain min/max by a least/greatest merge.
  *
  * At 100 TB the delete-affected key set is daily-delta-sized
  * (broadcast range), so the recompute reads one semi-join-pruned
  * sliver of the base while the signed merge never touches the base at
  * all: the refresh is two hash aggregates over the delta, one join
  * onto the MV, and one key-pruned scan.
  */
object MatView {

  /** Delta construction over lineitem, by orderkey arithmetic so the
    * oracle can re-derive the final state: yesterday's store is every
    * row with `l_orderkey % 10 <> 7`; today's delta INSERTS the
    * `% 10 = 7` rows and DELETES the stored `% 10 = 3` rows, so the
    * maintained base table is exactly `l_orderkey % 10 <> 3`.
    * `(l_orderkey, l_linenumber)` rides along as the row identity the
    * streaming path's store MERGE deletes by. */
  private[graft] def parts(s: SparkSession, dir: String) = {
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("long").as("qty"), col("l_shipdate"))
    val store = li.filter(pmod(col("l_orderkey"), lit(10)) =!= 7)
    val adds  = li.filter(pmod(col("l_orderkey"), lit(10)) === 7)
    val dels  = store.filter(pmod(col("l_orderkey"), lit(10)) === 3)
    (store, adds, dels)
  }

  /** Aggregate a base slice into MV shape. */
  private[graft] def aggMv(base: DataFrame): DataFrame =
    base.groupBy("l_partkey").agg(
      count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"))

  /** Row-level output finisher: timestamps leave as formatted strings
    * (the repo's oracle-parity rule — raw timestamps hash differently
    * across the LTZ/NTZ parquet shapes; strings are shape-invariant
    * under the pinned UTC session). The internal kernel stays on
    * native timestamps. */
  private[graft] def finish(mv: DataFrame): DataFrame =
    mv.select(col("l_partkey"), col("n_rows"), col("sum_qty"),
      date_format(col("min_ship"), "yyyy-MM-dd").as("min_ship"),
      date_format(col("max_ship"), "yyyy-MM-dd").as("max_ship"))
      .orderBy("l_partkey")

  /** The refresh kernel shared by the batch row and the streaming
    * parity row: apply a signed delta (`sgn` = +1 insert / −1 delete)
    * to an MV in (l_partkey, n_rows, sum_qty, min_ship, max_ship)
    * shape. `newBase` is the POST-maintenance base table — read ONLY
    * for delete-affected groups, semi-joined (broadcast: the key set is
    * delta-bounded) down to exactly those keys. least/greatest skip
    * nulls, so brand-new groups (no MV row) and fully-replaced groups
    * (no surviving kept row) fall through to the present side alone. */
  private[graft] def applyDelta(mv: DataFrame, delta: DataFrame,
      newBase: DataFrame): DataFrame = {
    val m = mv.select(col("l_partkey"), col("n_rows").as("n0"),
      col("sum_qty").as("s0"), col("min_ship").as("m0"),
      col("max_ship").as("x0"))
    // One shuffle of the delta: count/sum merge deltas, insert-side
    // min/max candidates, and the per-group delete marker together.
    val dAgg = delta.groupBy("l_partkey").agg(
      sum(col("sgn")).as("dn"),
      sum(col("sgn") * col("qty")).as("ds"),
      min(when(col("sgn") === 1, col("l_shipdate"))).as("add_min"),
      max(when(col("sgn") === 1, col("l_shipdate"))).as("add_max"),
      max(col("sgn") === -1).as("has_del"))

    val merged = m.join(dAgg, Seq("l_partkey"), "full_outer")
      .withColumn("n1",
        coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
      .withColumn("s1",
        coalesce(col("s0"), lit(0L)) + coalesce(col("ds"), lit(0L)))
      .withColumn("has_del", coalesce(col("has_del"), lit(false)))
      .filter(col("n1") > 0)

    val delKeys = merged.filter(col("has_del")).select("l_partkey")
    val recomputed = newBase
      .join(broadcast(delKeys), Seq("l_partkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(min(col("l_shipdate")).as("rm"), max(col("l_shipdate")).as("rx"))

    merged.join(recomputed, Seq("l_partkey"), "left")
      .select(
        col("l_partkey"),
        col("n1").as("n_rows"),
        col("s1").as("sum_qty"),
        when(col("has_del"), col("rm"))
          .otherwise(least(col("m0"), col("add_min"))).as("min_ship"),
        when(col("has_del"), col("rx"))
          .otherwise(greatest(col("x0"), col("add_max"))).as("max_ship"))
  }

  /** The per-partkey MV refreshed THROUGH the incremental path: MV0
    * from the store, one signed merge + affected-group recompute for
    * the whole delta. The DuckDB oracle recomputes the same aggregates
    * from the final base state (`l_orderkey % 10 <> 3`) — a defect in
    * the signed merge, the zero-count group drop, the insert-side
    * least/greatest merge, or the delete-affected recompute shifts a
    * value and fails the hash. */
  def incrementalRefresh(s: SparkSession, dir: String): DataFrame = {
    val (store, adds, dels) = parts(s, dir)
    val delta = adds.withColumn("sgn", lit(1L))
      .unionByName(dels.withColumn("sgn", lit(-1L)))
    val newBase = store
      .filter(pmod(col("l_orderkey"), lit(10)) =!= 3).unionByName(adds)
    finish(applyDelta(aggMv(store), delta, newBase))
  }

  /** Streaming form — the delta ARRIVES as a stream and each
    * micro-batch maintains BOTH the persisted base store and the
    * persisted MV through [[applyDelta]], fed micro-batch-sized. The
    * store runs MERGE-ON-READ: each batch appends only delta-sized
    * files (insert rows to the add log, delete keys to the tombstone
    * log — a uniform delta touches every hash bucket, so a
    * copy-on-write store would rewrite itself per trigger; tombstones
    * keep per-batch write IO strictly O(delta), the Delta/Iceberg
    * deletion-vector strategy) and reads reconstruct current state as
    * base ANTI-JOIN tombstones UNION adds, with the tombstone side
    * broadcast (delta-sized by construction). Periodic folding of the
    * logs is the compaction job store_compaction plans. The final MV
    * must be identical to the batch refresh's, so the two rows share
    * one DuckDB oracle: a delta row lost or replayed across
    * micro-batch boundaries, a tombstone dropped, or the streaming
    * path drifting from the batch kernel all land as a hash mismatch.
    * Two orderkey-range slices replay in ascending mtime order so
    * micro-batch boundaries are deterministic; each batch carries a
    * mix of inserts and deletes (two batches exercise every boundary
    * class — first-batch bootstrap and tombstone accumulation — at
    * two-thirds the protocol cost of three). */
  /** One micro-batch of streaming MV maintenance — replay-safe by
    * construction: every write of batch `id` lands in a directory
    * KEYED BY THE BATCH ID and is overwritten whole, so a replayed
    * batch rewrites identical content instead of appending a second
    * copy (append-mode logs plus a driver-side version counter would
    * double-apply the delta on retry) — the same exactly-once
    * discipline as the TxnLog link(2) arbitration and the Compliance
    * versioned pointer flip. A fully-committed batch (_SUCCESS on its
    * MV version, the LAST write of the batch) short-circuits
    * entirely. */
  private[graft] def mvApplyBatch(s: SparkSession, base: String,
      b: DataFrame, id: Long): Unit = {
    if (!new java.io.File(s"$base/mv/v${id + 1}/_SUCCESS").exists()) {
      // delta-sized writes — the only write IO of the batch
      b.filter(col("sgn") === -1).select("l_orderkey", "l_linenumber")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$base/dels/b$id")
      b.filter(col("sgn") === 1).drop("sgn")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$base/adds/b$id")
      // merge-on-read reconstruction of the maintained base:
      // tombstones apply to the WHOLE live set (base files AND
      // appended files — a delete may target a row an earlier
      // micro-batch inserted, exactly as deletion vectors do)
      def log(path: String): DataFrame =
        s.read.option("recursiveFileLookup", "true").parquet(path)
      val newBase = s.read.parquet(s"$base/store0")
        .unionByName(log(s"$base/adds"))
        .join(broadcast(log(s"$base/dels")),
          Seq("l_orderkey", "l_linenumber"), "left_anti")
      applyDelta(s.read.parquet(s"$base/mv/v$id"), b, newBase)
        .write.mode("overwrite").parquet(s"$base/mv/v${id + 1}")
    }
  }

  def mvStreamParity(s: SparkSession, dir: String): DataFrame = {
    if (Tables.lineitem(s, dir).take(1).isEmpty)
      return incrementalRefresh(s, dir)
    val (store, adds, dels) = parts(s, dir)
    graft.Scratch.within("replay") { base =>
      // the pristine tree (base store, MV v0, typed empty logs, staged
      // delta slices) is a pure function of the corpus — bench
      // sessions stage it once and copy it in (the run mutates the
      // logs and MV versions); Verify builds per run
      graft.streaming.StageCache.materialize(
        s"mvstream_${graft.streaming.StageCache.dirKey(dir)}",
        base) { d =>
        store.write.parquet(s"$d/store0")
        aggMv(store).write.parquet(s"$d/mv/v0")
        // typed empty logs so the first in-batch read always has a
        // schema (per-batch subdirectories; reads recurse over all)
        dels.select("l_orderkey", "l_linenumber").limit(0)
          .write.parquet(s"$d/dels/b_init")
        adds.limit(0).write.parquet(s"$d/adds/b_init")
        adds.withColumn("sgn", lit(1L))
          .unionByName(dels.withColumn("sgn", lit(-1L)))
          .repartitionByRange(2, col("l_orderkey"))
          .write.parquet(s"$d/in")
        graft.streaming.Replay.stamp(s"$d/in")
      }
      // the stream takes the staged files' own schema: the parquet
      // timestamp shape (LTZ vs NTZ) must flow through unchanged or
      // the streaming kernel type-diverges from the batch kernel
      val q = graft.streaming.Replay.read(s, base, Seq("in")).writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          mvApplyBatch(s, base.toString, b, id))
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val head = new java.io.File(s"$base/mv").listFiles()
        .map(_.getName.stripPrefix("v").toInt).max
      finish(s.read.parquet(s"$base/mv/v$head")).localCheckpoint(true)
    }
  }
}
