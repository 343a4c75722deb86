package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ANALYZE-style table/column statistics — the numbers a cost-based
  * planner actually spends: row counts, null counts, NDV, min/max, and
  * byte estimates, rolled up into the broadcast decision that picks
  * BroadcastHashJoin over SortMergeJoin. The reference has no planner
  * (SURVEY §4 — its "optimizer" is the sync-skip cascade); this is
  * engine-side surface a 100 TB deployment relies on every query.
  *
  * Shape: one aggregate PER COLUMN over a single-column projection —
  * each scan is column-pruned to the one column it profiles (parquet
  * reads only that column's pages), and exact NDV costs one distinct
  * aggregate per column. StatsSpec pins the decision's ground truth:
  * the tables flagged broadcastable here are exactly the ones q3/q16's
  * adaptive plans broadcast.
  */
object Stats {

  /** Broadcast-decision threshold (bytes of profiled-column payload) —
    * deliberately far under Spark's 10 MB `autoBroadcastJoinThreshold`
    * so the flag is conservative the way a planner wants: never
    * broadcast-flag a table whose TOTAL width could blow the limit
    * when unprofiled columns ride along. */
  val BroadcastBytes = 100000L

  /** The single (table → profiled columns) spec list: the exact
    * profile and the generated DuckDB oracle
    * (StatsQueries.statsProfileOracleSql) both consume THIS value, so a
    * column added or renamed in one place cannot drift from the
    * other. */
  val ProfileSpec: Seq[(String, Seq[String])] = Seq(
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_mktsegment", "c_nationkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_returnflag"))

  private def specTables(s: SparkSession,
      dir: String): Seq[(String, DataFrame, Seq[String])] =
    ProfileSpec.map { case (t, cols) =>
      (t, Tables.load(s, dir, t), cols)
    }

  /** The un-materialized per-(table, column) aggregate union — exposed
    * so PlanAuditSpec can assert its scans are column-pruned (the
    * production path materializes it before the rollup/join reuse,
    * which truncates the lineage the audit needs to see). */
  private[graft] def perColumnStats(s: SparkSession, dir: String): DataFrame =
    specTables(s, dir).flatMap { case (t, df, cols) =>
      cols.map { c =>
        df.select(col(c).as("v")).agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          countDistinct(col("v")).as("ndv"),
          min(col("v")).cast("string").as("min_s"),
          max(col("v")).cast("string").as("max_s"),
          coalesce(sum(length(col("v").cast("string"))), lit(0L))
            .as("total_len"))
          .select(lit(t).as("tbl"), lit(c).as("col_name"), col("n_rows"),
            col("n_null"), col("ndv"), col("min_s"), col("max_s"),
            col("total_len"))
      }
    }.reduce(_ unionByName _)

  /** Per-(table, column) stats + per-table byte estimate + broadcast
    * flag. The DuckDB oracle recomputes every cell from scratch —
    * min/max are aggregated in the column's native type and THEN cast
    * to string, so numeric and lexicographic orderings both stay
    * engine-exact. */
  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    // materialized once: perCol feeds both the rollup and the join
    // probe side — without this every column scan + NDV aggregate
    // runs twice
    val perCol = perColumnStats(s, dir).localCheckpoint(true)
    val perTbl = perCol.groupBy("tbl")
      .agg(sum(col("total_len")).as("tbl_est_bytes"))
    perCol.join(broadcast(perTbl), Seq("tbl"))
      .withColumn("broadcastable", col("tbl_est_bytes") < BroadcastBytes)
      .orderBy("tbl", "col_name")
  }

  /** Sketch size of [[kmvDistinct]]. */
  val KmvK = 64

  /** Hash domain of [[kmvDistinct]]: 13 hex chars of sha-256 = 2^52 —
    * wide enough that collisions are negligible at any realistic NDV,
    * narrow enough that (k−1)·M stays inside signed 64-bit. */
  val KmvDomain = 1L << 52

  /** Sorted-distinct k-minimum-values sketch as a typed Aggregator
    * (the [[graft.operators.Dedup.MinHashAgg]] pattern): bounded O(k)
    * state per group, associative merge — the shape that lets every
    * partition keep its own sketch and a reduce fold them without
    * re-scanning, which is the entire point of sketching at 100 TB. */
  object KMinAgg extends org.apache.spark.sql.expressions
      .Aggregator[Long, Array[Long], Array[Long]] {
    private[graft] def insert(buf: Array[Long], x: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(buf, x)
      if (i >= 0) buf // already present — sketches are DISTINCT minima
      else {
        val at = -i - 1
        if (buf.length < KmvK) {
          val out = new Array[Long](buf.length + 1)
          System.arraycopy(buf, 0, out, 0, at)
          out(at) = x
          System.arraycopy(buf, at, out, at + 1, buf.length - at)
          out
        } else if (at < KmvK) {
          val out = buf.clone()
          System.arraycopy(buf, at, out, at + 1, KmvK - at - 1)
          out(at) = x
          out
        } else buf
      }
    }
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], x: Long): Array[Long] =
      insert(buf, x)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var r = a
      var i = 0
      while (i < b.length) { r = insert(r, b(i)); i += 1 }
      r
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** KMV estimate from a sketch: all values seen while under k, else
    * (k−1)·M / h_k — pure integer arithmetic both engines compute
    * bit-exactly. */
  private[graft] def kmvEstimate(sk: Array[Long]): Long =
    if (sk.length < KmvK) sk.length.toLong
    else (KmvK - 1).toLong * KmvDomain / sk.last

  /** Mergeable distinct-count sketching CALIBRATED against exact NDV —
    * and, unlike `approx_count_distinct`, with the MERGE surfaced as a
    * first-class operation: per-group sketches (distinct users per
    * event type) and every pairwise UNION estimate derived by folding
    * two finished sketches together, never by re-scanning the data —
    * how a 100 TB deployment answers "distinct users across segments A
    * and B" from per-segment metadata. The whole kernel (52-bit sha
    * hash, k smallest distinct, integer estimate) re-derives in DuckDB
    * SQL, so estimates are oracle-hashed, not just bounded; exact
    * sides come from count(distinct) on both engines. Sketches are
    * k-row metadata: the driver-side pair fold touches #types·k longs. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uh = Tables.events(s, dir).select(col("event_type"),
        conv(substring(sha2(col("user_id").cast("string"), 256), 1, 13),
          16, 10).cast("long").as("h"))
      .distinct()
    val sketches = uh.as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(KMinAgg.toColumn.name("sk"))
      .collect().toMap // #types × k longs — metadata
    kmvReport(s, dir, sketches)
  }

  /** Shared reporting tail of [[kmvDistinct]] and [[kmvDistinctStream]]:
    * per-type + pairwise-union estimates from FINISHED sketches,
    * exact sides from the base table — one definition, so the batch
    * and streaming rows cannot drift. */
  private def kmvReport(s: SparkSession, dir: String,
      sketches: Map[String, Array[Long]]): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select("event_type", "user_id")
    val types = sketches.keys.toSeq.sorted
    val pairs = for {
      i <- types.indices; j <- (i + 1) until types.size
    } yield (types(i), types(j))
    val ests = types.map(t => (s"type:$t", kmvEstimate(sketches(t)))) ++
      pairs.map { case (a, b) =>
        // merge is purely functional — inputs are never mutated
        (s"union:$a|$b",
          kmvEstimate(KMinAgg.merge(sketches(a), sketches(b))))
      }
    val estDf = ests.toDF("scope", "n_est")
    val tex = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .select(concat(lit("type:"), col("event_type")).as("scope"),
        col("n_exact"))
    val pairDf = pairs.toDF("ta", "tb")
    val pex = ev.join(broadcast(pairDf),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy("ta", "tb")
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .select(concat(lit("union:"), col("ta"), lit("|"), col("tb"))
        .as("scope"), col("n_exact"))
    tex.unionByName(pex)
      .join(broadcast(estDf), Seq("scope"))
      .select(col("scope"), col("n_exact").cast("long"),
        col("n_est").cast("long"),
        expr("abs(n_est - n_exact) * 1000 div n_exact").as("err_permille"))
      .orderBy("scope")
  }

  /** Streaming twin of [[kmvDistinct]] — the sketch-MERGE contract
    * exercised across micro-batch boundaries: events arrive as a file
    * stream (two ascending id-range slices), each batch's per-type
    * sketches fold into a persisted sketch table via the same
    * associative [[KMinAgg.merge]], and the final estimates come from
    * the PERSISTED state while the exact sides come from the full
    * table. Result must be IDENTICAL to the one-shot row — the two
    * share one DuckDB oracle — so a batch lost or double-merged, or a
    * merge that isn't truly associative/idempotent-under-distinct,
    * lands as a hash mismatch. Sketch state is #types × k longs:
    * driver-side folding IS the production shape (sketches are
    * metadata; the data-scale work is each batch's distinct scan). */
  def kmvDistinctStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.Replay.staged(
      s"kmvstream_${graft.streaming.StageCache.dirKey(dir)}") { d =>
      Tables.events(s, dir)
        .select("event_id", "event_type", "user_id")
        .repartitionByRange(2, col("event_id"))
        .write.parquet(s"$d/in")
      graft.streaming.Replay.stamp(s"$d/in")
    } { (in, base) =>
      val statePath = s"$base/state"
      Seq.empty[(String, Array[Long])].toDF("event_type", "sk")
        .write.parquet(statePath)
      val q = graft.streaming.Replay.read(s, in, Seq("in")).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val batchSk = b.select(col("event_type"),
                conv(substring(sha2(col("user_id").cast("string"), 256),
                  1, 13), 16, 10).cast("long").as("h"))
              .distinct()
              .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
              .agg(KMinAgg.toColumn.name("sk"))
              .collect().toMap
            val prior = s.read.schema("event_type STRING, sk ARRAY<LONG>")
              .parquet(statePath)
              .as[(String, Array[Long])].collect().toMap
            val merged = (prior.keySet ++ batchSk.keySet).toSeq.map { t =>
              (prior.get(t), batchSk.get(t)) match {
                case (Some(a), Some(c)) => (t, KMinAgg.merge(a, c))
                case (Some(a), None) => (t, a)
                case (None, Some(c)) => (t, c)
                case (None, None) => (t, Array.emptyLongArray)
              }
            }
            val next = merged.toDF("event_type", "sk")
              .localCheckpoint(true)
            next.write.mode("overwrite").parquet(statePath)
          }
          ()
        }
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val sketches = s.read.schema("event_type STRING, sk ARRAY<LONG>")
        .parquet(statePath)
        .as[(String, Array[Long])].collect().toMap
      kmvReport(s, dir, sketches)
    }
  }

  /** Quantile probe points (permille) of [[quantileSketch]]. */
  val QuantilesPermille: Seq[Long] = Seq(500L, 900L, 990L)

  /** Histogram resolution of [[quantileSketch]]. */
  val QuantileBuckets = 256L

  /** Single-pass mergeable quantile estimation CALIBRATED against the
    * exact rank statistic — the quantile twin of the CMS row
    * (`doc_heavy_hitters_cms`): exact percentiles need a global sort,
    * so at 100 TB a planner/monitor runs a fixed-width histogram (one
    * map-side-combining aggregate, mergeable across partitions and
    * days) and pays a bounded interpolation error. Values rationalize
    * to BIGINT milli-units; the bucket width derives from the scanned
    * min/max, so the whole kernel is integer arithmetic both engines
    * compute bit-exactly.
    *
    * The exact side is itself the scalable two-pass refinement, not a
    * global sort: the cumulative histogram LOCATES the bucket holding
    * each target rank, and only that bucket's members (≈N/256) are
    * rank-selected — at 100 TB the refinement recurses until a bucket
    * fits an executor; here one level suffices and the plan audit pins
    * that the full corpus is never globally sorted. Emits per probe:
    * target rank, located bucket, histogram estimate, exact value, and
    * the estimate's error in permille of the value domain (the
    * calibration contract the oracle re-derives). */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val v = Tables.events(s, dir)
      .select(expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
    val st = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"))
      .withColumn("w", expr(s"(vmax - vmin) div $QuantileBuckets + 1"))
    val withB = v.crossJoin(broadcast(st))
      .withColumn("bucket", expr("(v - vmin) div w"))
    val hist = withB.groupBy("bucket").agg(count(lit(1)).as("cnt"))
    // cumulative counts over the ≤257-row histogram AGGREGATE only
    val cum = hist.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tgt = QuantilesPermille.toDF("p").crossJoin(broadcast(st))
      .withColumn("target", expr("1 + (n - 1) * p div 1000"))
    val loc = broadcast(tgt).join(cum,
        col("target") > col("cum_before") &&
        col("target") <= col("cum_before") + col("cnt"))
      .withColumn("est_v", expr(
        "vmin + bucket * w + (target - cum_before - 1) * w div cnt"))
      .select("p", "target", "bucket", "cnt", "cum_before", "est_v",
        "vmin", "vmax")
    val exact = withB.select("v", "bucket")
      .join(broadcast(loc.select("p", "target", "bucket", "cum_before")),
        Seq("bucket"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("p").orderBy("v")))
      .filter(col("rk") === col("target") - col("cum_before"))
      .select(col("p"), col("v").as("exact_v"))
    loc.join(exact, Seq("p"))
      .select(col("p"), col("target").as("target_rank"), col("bucket"),
        col("est_v"), col("exact_v"),
        when(col("vmax") > col("vmin"),
          expr("abs(est_v - exact_v) * 1000 div (vmax - vmin)"))
          .otherwise(lit(0L)).as("err_permille"))
      .orderBy("p")
  }
}
