package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator surface (SURVEY.md §2.10).
  *
  * Each method is one row of `RelationalQueries`, with its matching DuckDB
  * oracle declared beside it. Declarative DataFrame plans only —
  * Catalyst handles pushdown/pruning; broadcast hints are applied where one
  * side is a dimension table (scale-safe at 100 TB: dims stay small).
  *
  * Determinism rules (driver hashes values after sorting columns by name):
  *   - every query ends in an explicit orderBy on a unique key set
  *   - double aggregates are rounded so float summation order can't flip
  *     the hash between Spark and DuckDB
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: multi-aggregate groupBy.
    * Reference analog: per-source run-counter sums (types.ts:158-178).
    * Scale: map-side partial aggregation; shuffle carries only
    * (flag,status) groups — constant-size regardless of input rows. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection with parquet pushdown (SURVEY §2.10 filters;
    * reference: extension/date/size filters, doc2vec.ts:938-977). */
  def q2FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 10)
      // raw product, not rounded: a single IEEE multiply is bit-identical
      // across engines, while round() half-way behavior is not
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        (col("l_extendedprice") * col("l_discount")).as("disc_amount"))
      .orderBy("l_orderkey", "l_linenumber")

  /** 3-way star join + aggregation: revenue per market segment.
    * customer is the RELATIVELY small side but SCALES with the corpus
    * (~GBs at 100 TB), so no forced broadcast — AQE broadcasts it while
    * it fits the threshold and falls back to a hash join when it
    * doesn't; the orders⋈lineitem shuffle stays co-partitioned on
    * orderkey either way. Only constant-size dims (nation/region) get
    * the explicit hint in this file. */
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Left-semi join (EXISTS): orders having at least one high-quantity
    * line, counted by priority. Reference analog: allowedFiles gating
    * (content-processor.ts:1910-1913). */
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigLines = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"))
    Tables.orders(s, dir)
      .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders. Reference
    * analog: obsolete-chunk cleanup, stored ANTI JOIN visited
    * (database.ts:533-542). Dim side broadcast-able at scale when the
    * visited set is small; here anti-join keys are orders (large) so the
    * shuffle is on custkey — correct co-partitioning either way. */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 2001)
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Window: latest order per customer (row_number over desc order).
    * Reference analog: DISTINCT ON (config_id) latest-run
    * (controller/store.ts:196-199). */
  def q6LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .orderBy("o_custkey")
  }

  /** Window: running revenue + previous-order delta per customer (lag +
    * cumulative sum frame). Reference analog: tail-start-seq lag math
    * (controller/store.ts:253-259). */
  def q7RunningWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      // rounded: windowed sums are not order-deterministic across engines
      // (DuckDB aggregates window frames via segment trees); the true sum
      // is 2-decimal exact, so rounding at 2 decimals is boundary-safe
      .withColumn("running_spend",
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .withColumn("prev_price", lag(col("o_totalprice"), 1, 0.0).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"),
        col("prev_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Top-K: 20 most valuable orders (TakeOrderedAndProject — no global
    * sort at scale, each partition keeps K then the driver merges).
    * Reference analog: KNN ORDER BY distance LIMIT k
    * (mcp/src/server.ts:460-462). */
  def q8TopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(20)

  /** Set ops: customers seen in 1995 EXCEPT 1996, plus INTERSECT count.
    * Reference analog: previous-file-list diff (doc2vec.ts:1066,1283). */
  def q9SetOps(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val y95 = ord.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"))
    val y96 = ord.filter(year(col("o_orderdate")) === 1996)
      .select(col("o_custkey"))
    y95.except(y96).orderBy("o_custkey")
  }

  /** Distinct projection. Reference analog: queue dedupe/visited sets
    * (content-processor.ts:565-571). */
  def q10Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** The reference's URL-level diff signature: sorted multiset of chunk
    * hashes per document (doc2vec.ts:1936-1944) — here per order: the
    * sorted list of line-level content hashes, joined to a comma string
    * so the oracle (string_agg ORDER BY) matches byte-for-byte. */
  def q11HashMultiset(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("line_hash",
        sha2(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey")), 256))
      .groupBy(col("l_orderkey"))
      .agg(array_join(sort_array(collect_list(col("line_hash"))), ",")
        .as("sig"), count(lit(1)).as("n_chunks"))
      .orderBy("l_orderkey")

  /** Conditional aggregation by day/status: count_if + filtered sums.
    * Reference analog: daily run stats GROUP BY day,status with FILTER
    * (controller/store.ts:293-317). */
  def q12ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("purchase_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day")

  /** Grouping sets (ROLLUP): order counts by (status, priority) with
    * subtotals — Catalyst Expand operator; DuckDB ROLLUP oracle. */
  def q13Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Tumbling-window aggregation over the event stream (batch analog of
    * the Structured Streaming path in graft.streaming): hourly windows.
    */
  def q14EventWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy("hour", "event_type")

  /** Sessionization: per-user session ids from >30-minute gaps (lag +
    * cumulative conditional sum), then session stats. The batch analog
    * of stateful streaming sessionization; scale-safe (one shuffle on
    * user_id, windows run within partitions). */
  def q15Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMicros = 30L * 60 * 1000000 // integer µs: engine-portable gap test
    Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros,
          1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Full star join through region→nation→customer→orders with broadcast
    * dims: revenue by region name. At 100 TB the fact table never
    * shuffles on dim keys — all three dims broadcast. */
  def q16StarJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir)
    val nation = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir)
    Tables.orders(s, dir)
      // customer scales with the corpus: no forced broadcast (AQE
      // decides); nation (25) and region (5) are true constants
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name")
  }

  /** As-of join: for every click event, the most recent prior error
    * value of the same user. Spark composition: union-tag + last(...)
    * ignoreNulls window — one shuffle on user_id, no range explosion
    * (vs. the naive theta-join which is O(n²) per user). DuckDB oracle:
    * ASOF JOIN. */
  def q17AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("err_value",
        when(col("event_type") === "error", col("value")))
      .withColumn("err_ts",
        when(col("event_type") === "error", col("ts")))
      .withColumn("last_err_value", last(col("err_value"), ignoreNulls = true).over(w))
      .withColumn("last_err_ts", last(col("err_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click" && col("last_err_ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("last_err_value").as("prior_error_value"))
      .orderBy("event_id")
  }

  /** The same as-of semantics through the engine's CUSTOM Catalyst
    * operator (graft.plans.AsOfJoinPlan/AsOfJoinExec, registered via
    * extraStrategies): one forward merge pass per partition with O(1)
    * candidate state, instead of moving both inputs through a window
    * sort. Same DuckDB ASOF JOIN oracle as q17. */
  def q17AsOfCustom(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "ts", "value")
    graft.plans.AsOf.join(clicks, errors, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"),
        col("r_value").as("prior_error_value"))
      .orderBy("event_id")
  }

  /** Keyset pagination: page 3 of orders ordered by key descending
    * (id < cursor LIMIT n). Reference: controller/store.ts:181-189. */
  def q18KeysetPage(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") < 500)
      .orderBy(col("o_orderkey").desc)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"))
      .limit(25)

  /** Exact percentiles (median/p90/p99) of order value per status —
    * Spark `percentile` and DuckDB `quantile_cont` both linearly
    * interpolate on the sorted values; rounded for interpolation-ulp
    * safety. */
  def q20Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** INTERSECT: customers active in both 1995 and 1996. */
  def q21Intersect(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    ord.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      .intersect(ord.filter(year(col("o_orderdate")) === 1996)
        .select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  /** CUBE over (status, priority): all grouping-set combinations. */
  def q22Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Ranking-function battery: rank / dense_rank / ntile / percent_rank
    * over order value per status (percent_rank is a single int division
    * → bit-identical across engines). */
  def q23RankFunctions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_orderkey") < 2000)
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("tile4", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .select(col("o_orderstatus"), col("o_orderkey"),
        col("rnk").cast("long").as("rnk"),
        col("drnk").cast("long").as("drnk"),
        col("tile4").cast("long").as("tile4"), col("pct_rank"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  /** String scalar battery (§2.8 mapping at the query surface). */
  def q24StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        length(col("c_name")).cast("long").as("len"),
        substring(col("c_name"), 1, 8).as("pre"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("joined"),
        split(col("c_name"), "#").getItem(0).as("head_part"),
        reverse(col("c_mktsegment")).as("rev"))
      .orderBy("c_custkey")

  /** JSON extraction over the events props column. */
  def q25JsonFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Date arithmetic battery over order dates. */
  def q26DateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd")
          .as("plus30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
          .as("month_end"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_2002"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .orderBy("o_orderkey")

  /** Sketch-based approximate distinct (HLL++): per-day approximate vs
    * exact user counts plus the relative error. The sketch value is
    * implementation-specific, so this query carries a rows-only check —
    * the point is exercising the sketch aggregation path at scale
    * (mergeable state, no distinct shuffle). */
  def q27HllSketch(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        // rsd 0.005 → the 50‰ bound below is ~10σ: the boolean is stable
        // even though the two engines' HLL estimates differ
        approx_count_distinct(col("user_id"), 0.005).as("approx_users"))
      // hashed surface is engine-agnostic: exact count + a bound both
      // engines' sketches satisfy (integer math, no division rounding)
      .select(col("day"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 1000 <=
          col("exact_users") * 50).cast("long").as("hll_ok"))
      .orderBy("day")

  /** Join with non-equi range predicate: lines priced above their part's
    * retail price (range/theta condition on top of the equi key —
    * Catalyst keeps it a hash join with residual filter). */
  def q19RangePredJoin(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    Tables.lineitem(s, dir)
      // part scales with the corpus: AQE picks broadcast vs hash join
      .join(part, col("l_partkey") === col("p_partkey") &&
        col("l_extendedprice") > col("p_retailprice") * 20)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy("p_brand")
  }

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * (flag,status), (flag), and grand total in one pass, disambiguated
    * by grouping_id. Scale: Spark expands the sets into one aggregation
    * over a grouping-id-extended key — still a single shuffle with
    * map-side partials. */
  def q28GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id(col("l_returnflag"), col("l_linestatus"))
          .as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("total"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Pivot (explicit value list — never data-driven, so the output
    * schema is deterministic and plannable): linestatus columns of
    * summed revenue per returnflag. Spark plans this as a two-level
    * aggregate (per-(flag,status) partials, then pivotfirst per flag);
    * both exchanges carry only group rows — constant size at any
    * corpus scale. */
  def q29Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_extendedprice")), 2))
      .orderBy("l_returnflag")

  /** Gaps-and-islands: per-user runs of consecutive active DAYS via the
    * day − row_number fingerprint (equal within an unbroken run). The
    * classic retention/streak query. Scale: one shuffle on user_id;
    * both windows and both aggregations run within user partitions. */
  def q30ActivityIslands(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("d"))
      .distinct()
    days
      .withColumn("grp", col("d") - row_number().over(byUser))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("d")).as("start_d"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"),
        min(col("start_d")).as("first_day"))
      .orderBy("user_id")
  }

  /** Value-based RANGE window frame — the one frame spec the checklist
    * still lacked (q7 is ROWS, q14 is tumbling, q15/q30 are gap-based):
    * per event, the count and floor-integer sum of the same user's
    * events in the PRECEDING HOUR by event time. RANGE frames are
    * peer-inclusive (ties in `us` share a frame), which the oracle
    * exercises wherever the fixture has same-microsecond events.
    * floor-before-sum keeps the aggregate integer-exact cross-engine
    * (Spark's double→long cast truncates while DuckDB's rounds — floor
    * is the portable rationalization).
    * Scale: one hash exchange on user_id; the running range frame
    * evaluates inside each user partition with a sliding two-pointer,
    * no self-join (the naive equivalent is an O(n·frame) range
    * self-join). */
  def q32RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value")).cast("long").as("fv"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        sum(col("fv")).over(w).as("sum_floor_last_hour"))
      .orderBy("user_id", "event_id")
  }

  /** The SQL FRONT-END row: every other query declares its plan via
    * the DataFrame API; this one enters through `spark.sql` over temp
    * views with the subquery shapes Catalyst must DECORRELATE —
    * a correlated EXISTS, a correlated NOT EXISTS, and a correlated
    * scalar aggregate subquery — because at 100 TB these rewrite into
    * semi-join / anti-join / aggregate-then-join, not per-row probes.
    * The oracle runs the IDENTICAL ANSI text in DuckDB; cents
    * rationalization keeps the money sum integer-exact cross-engine. */
  def q34SqlCorrelated(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(CorrelatedSql)
  }

  /** Three-valued-logic battery — the null-semantics corners where
    * engines classically diverge, pinned cell-exact: `= NULL` never
    * true, null-safe self-equality always true, NOT IN silently
    * dropping null-valued rows, NOT IN against a null-bearing list
    * matching NOTHING, count(col) vs count(*), aggregate null-skip
    * (min/sum ignore nulls), and the all-null-sum sentinel. One
    * aggregate over a projection with planted nulls
    * (`nullif(o_orderpriority, '3-MEDIUM')`); zero joins, zero
    * windows — pure scan + agg. */
  def q35NullSemantics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("nullif(o_orderpriority, '3-MEDIUM')").as("p"))
    o.agg(
      count(lit(1)).as("n_total"),
      sum(col("p").isNull.cast("long")).as("n_p_null"),
      count(col("p")).as("n_count_p"),
      // `p = NULL` is NULL for every row — never counts
      coalesce(sum((col("p") === lit(null).cast("string")).cast("long")),
        lit(0L)).as("n_eq_null_true"),
      // null-safe equality: true for EVERY row, nulls included
      sum(col("p") <=> col("p") cast "long").as("n_nullsafe_self"),
      // NOT IN drops null-valued rows (NULL, not true)
      coalesce(sum((!col("p").isin("1-URGENT", "2-HIGH")).cast("long")),
        lit(0L)).as("n_not_in"),
      // NOT IN against a null-bearing list matches NOTHING
      coalesce(sum(expr("o_orderstatus NOT IN ('F', NULL)").cast("long")),
        lit(0L)).as("n_not_in_nullable_list"),
      // min/sum skip nulls: the conditional min lands on real rows
      min(when(col("p").isNull, col("o_orderkey"))).as("min_key_null_p"),
      min(col("p")).as("min_p"),
      // an all-null sum is NULL, not 0 — the sentinel proves it
      coalesce(sum(when(lit(false), 1L)), lit(-1L))
        .as("all_null_sum_sentinel"))
      .select(col("n_total").cast("long"), col("n_p_null").cast("long"),
        col("n_count_p").cast("long"), col("n_eq_null_true").cast("long"),
        col("n_nullsafe_self").cast("long"), col("n_not_in").cast("long"),
        col("n_not_in_nullable_list").cast("long"),
        col("min_key_null_p").cast("long"), col("min_p"),
        col("all_null_sum_sentinel").cast("long"))
  }

  /** The shared ANSI text of [[q34SqlCorrelated]] — the Spark side
    * executes THIS string and the oracle map hands the same string to
    * DuckDB, so the two engines cannot drift by construction. */
  val CorrelatedSql: String =
    """SELECT c.c_custkey, c.c_mktsegment,
         (SELECT count(*) FROM orders o
          WHERE o.o_custkey = c.c_custkey) AS n_orders,
         (SELECT CAST(COALESCE(sum(CAST(round(o.o_totalprice * 100)
            AS BIGINT)), 0) AS BIGINT) FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderstatus = 'F') AS filled_cents
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 100000)
         AND NOT EXISTS (SELECT 1 FROM orders o
               WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderpriority = '1-URGENT'
                 AND o.o_totalprice < 1000)
       ORDER BY c.c_custkey"""
}
