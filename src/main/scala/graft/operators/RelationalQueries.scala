package graft.operators

import graft.QuerySpec

/** The relational rows (`q*`): scans, joins, windows, sketches and the
  * salted skew rows; one [[graft.QuerySpec]] per row. */
object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", Relational.q1PricingSummary(_, _),
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2"""),
    QuerySpec("q2_filter_project", Relational.q2FilterProject(_, _),
      """SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice*l_discount AS disc_amount
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_discount >= 0.05 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber"""),
    QuerySpec("q3_join_agg", Relational.q3JoinAgg(_, _),
      """SELECT c_mktsegment,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
         count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q4_semi_join", Relational.q4SemiJoin(_, _),
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey=o_orderkey AND l_quantity>=45)
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q5_anti_join", Relational.q5AntiJoin(_, _),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey=c_custkey
                             AND year(o_orderdate)=2001)
         ORDER BY c_custkey"""),
    QuerySpec("q6_latest_per_key", Relational.q6LatestPerKey(_, _),
      """SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders) t
         WHERE rn=1 ORDER BY o_custkey"""),
    QuerySpec("q7_running_window", Relational.q7RunningWindow(_, _),
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2)
           AS running_spend,
         coalesce(lag(o_totalprice,1) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),0.0)
           AS prev_price
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q8_topk", Relational.q8TopK(_, _),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
    QuerySpec("q9_set_ops", Relational.q9SetOps(_, _),
      """SELECT o_custkey FROM orders WHERE year(o_orderdate)=1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate)=1996
         ORDER BY o_custkey"""),
    QuerySpec("q10_distinct", Relational.q10Distinct(_, _),
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY 1,2"""),
    QuerySpec("q11_hash_multiset", Relational.q11HashMultiset(_, _),
      """SELECT l_orderkey,
         string_agg(line_hash, ',' ORDER BY line_hash) AS sig,
         count(*) AS n_chunks
         FROM (SELECT l_orderkey,
                 sha256(l_orderkey || '|' || l_linenumber || '|' ||
                        l_partkey || '|' || l_suppkey) AS line_hash
               FROM lineitem) t
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q12_conditional_agg", Relational.q12ConditionalAgg(_, _),
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n_events,
         count(*) FILTER (WHERE event_type='error') AS n_errors,
         count(*) FILTER (WHERE event_type='click') AS n_clicks,
         round(sum(CASE WHEN event_type='purchase' THEN value
                        ELSE 0.0 END),2) AS purchase_value,
         count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q13_rollup", Relational.q13Rollup(_, _),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         round(sum(o_totalprice),2) AS total
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    QuerySpec("q14_event_windows", Relational.q14EventWindows(_, _),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n,
         round(sum(value),2) AS total_value,
         round(min(value),2) AS min_value,
         round(max(value),2) AS max_value
         FROM events GROUP BY 1,2 ORDER BY 1,2"""),
    QuerySpec("q15_sessionize", Relational.q15Sessionize(_, _),
      """WITH g AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts::TIMESTAMP)
                       - epoch_us((lag(ts) OVER w)::TIMESTAMP) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, value,
             CAST(sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
           round(sum(value),2) AS session_value
         FROM s GROUP BY 1,2 ORDER BY 1,2"""),
    QuerySpec("q16_star_join", Relational.q16StarJoin(_, _),
      """SELECT r_name, round(sum(o_totalprice),2) AS revenue,
         count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey=c_custkey
         JOIN nation ON c_nationkey=n_nationkey
         JOIN region ON n_regionkey=r_regionkey
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q17_asof_join", Relational.q17AsOfJoin(_, _),
      """SELECT c.event_id, c.user_id, e.value AS prior_error_value
         FROM (SELECT * FROM events WHERE event_type='click') c
         ASOF JOIN (SELECT * FROM events WHERE event_type='error') e
           ON c.user_id = e.user_id AND e.ts < c.ts
         ORDER BY c.event_id"""),
    QuerySpec("q17_asof_custom", Relational.q17AsOfCustom(_, _),
      """SELECT c.event_id, c.user_id, e.value AS prior_error_value
         FROM (SELECT * FROM events WHERE event_type='click') c
         ASOF JOIN (SELECT * FROM events WHERE event_type='error') e
           ON c.user_id = e.user_id AND e.ts < c.ts
         ORDER BY c.event_id"""),
    QuerySpec("q18_keyset_page", Relational.q18KeysetPage(_, _),
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o_totalprice
         FROM orders WHERE o_orderkey < 500
         ORDER BY o_orderkey DESC LIMIT 25"""),
    QuerySpec("q19_range_pred_join", Relational.q19RangePredJoin(_, _),
      """SELECT p_brand, count(*) AS n_lines,
         round(avg(l_extendedprice),2) AS avg_price
         FROM lineitem JOIN part
           ON l_partkey=p_partkey AND l_extendedprice > p_retailprice*20
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q20_percentiles", Relational.q20Percentiles(_, _),
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
         round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
         count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q23_rank_functions", Relational.q23RankFunctions(_, _),
      """SELECT o_orderstatus, o_orderkey,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         CAST(ntile(4) OVER w AS BIGINT) AS tile4,
         percent_rank() OVER w AS pct_rank
         FROM orders WHERE o_orderkey < 2000
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderstatus, o_orderkey"""),
    QuerySpec("q24_string_funcs", Relational.q24StringFuncs(_, _),
      """SELECT c_custkey,
         upper(c_name) AS up, lower(c_mktsegment) AS lo,
         CAST(length(c_name) AS BIGINT) AS len,
         substring(c_name, 1, 8) AS pre,
         regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
         lpad(c_custkey::VARCHAR, 8, '0') AS padded,
         c_mktsegment||'-'||c_custkey AS joined,
         string_split(c_name, '#')[1] AS head_part,
         reverse(c_mktsegment) AS rev
         FROM customer ORDER BY c_custkey"""),
    QuerySpec("q25_json_funcs", Relational.q25JsonFuncs(_, _),
      """SELECT event_type, count(*) AS n,
         CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
           AS sum_k,
         min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
         max(json_extract_string(props, '$.k')::BIGINT) AS max_k
         FROM events GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q26_date_funcs", Relational.q26DateFuncs(_, _),
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS d,
         strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
         strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
         CAST(datediff('day', o_orderdate::DATE, DATE '2002-01-01')
           AS BIGINT) AS days_to_2002,
         CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(quarter(o_orderdate) AS BIGINT) AS q,
         CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),
    QuerySpec("q27_hll_sketch", Relational.q27HllSketch(_, _),
      """SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
         count(DISTINCT user_id) AS exact_users,
         CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
           * 1000 <= count(DISTINCT user_id) * 50 AS BIGINT) AS hll_ok
         FROM events GROUP BY 1 ORDER BY day"""),
    QuerySpec("q28_grouping_sets", Relational.q28GroupingSets(_, _),
      """SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
         l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_extendedprice),2) AS total
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_returnflag), ())
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q29_pivot", Relational.q29Pivot(_, _),
      """SELECT l_returnflag,
         round(sum(l_extendedprice) FILTER (l_linestatus = 'F'), 2) AS "F",
         round(sum(l_extendedprice) FILTER (l_linestatus = 'O'), 2) AS "O"
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q30_activity_islands", Relational.q30ActivityIslands(_, _),
      """WITH days AS (
           SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) AS d
           FROM events),
         g AS (SELECT user_id, d,
                 d - row_number() OVER (PARTITION BY user_id ORDER BY d)
                   AS grp
               FROM days),
         runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
                    min(d) AS start_d
                  FROM g GROUP BY 1,2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days,
           CAST(min(start_d) AS BIGINT) AS first_day
         FROM runs GROUP BY 1 ORDER BY 1"""),
    // Value-based RANGE frame (peer-inclusive, preceding hour);
    // floor-before-sum is the portable integer rationalization —
    // Spark's double→long cast truncates, DuckDB's rounds.
    QuerySpec("q32_range_frame", Relational.q32RangeFrame(_, _),
      """SELECT user_id, event_id,
         count(*) OVER w AS n_last_hour,
         CAST(sum(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT)
           AS sum_floor_last_hour
         FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),
    // SQL front-end row: the ORACLE IS THE SAME STRING the Spark side
    // executes — cross-engine drift is impossible by construction;
    // what's under test is Catalyst's subquery decorrelation
    // (EXISTS/NOT EXISTS/scalar-agg → semi/anti/agg-join).
    QuerySpec("q34_sql_correlated", Relational.q34SqlCorrelated(_, _),
      Relational.CorrelatedSql),
    // Two-stage salted aggregation must also be result-invisible: the
    // oracle is the direct unsalted aggregate. Values rationalize to
    // integer cents before summing so partial-then-merge BIGINT
    // addition is associative — no float-ulp drift between the staged
    // and single-pass shapes.
    // Three-valued-logic battery: the null corners engines classically
    // diverge on, every cell re-derived — `= NULL` never true,
    // null-safe self-equality total, NOT IN null-drop, null-bearing
    // NOT IN list matching nothing, count(col) vs count(*), aggregate
    // null-skip, all-null-sum sentinel.
    QuerySpec("q35_null_semantics", Relational.q35NullSemantics(_, _),
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
             nullif(o_orderpriority, '3-MEDIUM') AS p FROM orders)
         SELECT count(*) AS n_total,
           CAST(count(*) FILTER (WHERE p IS NULL) AS BIGINT) AS n_p_null,
           CAST(count(p) AS BIGINT) AS n_count_p,
           CAST(count(*) FILTER (WHERE p = NULL) AS BIGINT)
             AS n_eq_null_true,
           CAST(count(*) FILTER (WHERE p IS NOT DISTINCT FROM p)
             AS BIGINT) AS n_nullsafe_self,
           CAST(count(*) FILTER (WHERE p NOT IN ('1-URGENT', '2-HIGH'))
             AS BIGINT) AS n_not_in,
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('F', NULL))
             AS BIGINT) AS n_not_in_nullable_list,
           CAST(min(CASE WHEN p IS NULL THEN o_orderkey END) AS BIGINT)
             AS min_key_null_p,
           min(p) AS min_p,
           CAST(COALESCE(sum(CASE WHEN FALSE THEN 1 END), -1) AS BIGINT)
             AS all_null_sum_sentinel
         FROM o"""),
    QuerySpec("q21_intersect", Relational.q21Intersect(_, _),
      """SELECT o_custkey FROM orders WHERE year(o_orderdate)=1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate)=1996
         ORDER BY o_custkey"""),
    QuerySpec("q22_cube", Relational.q22Cube(_, _),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
    // Salting must be RESULT-INVISIBLE: the oracle is the plain join.
    QuerySpec("q31_salted_skew_join", Skew.saltedJoinStats(_, _),
      """WITH ev AS (SELECT ((user_id % 10) + 10) % 10 AS ubucket, value
                     FROM events),
         dim AS (SELECT CAST(i AS BIGINT) AS ubucket,
                   CAST(i*3 + 1 AS BIGINT) AS weight
                 FROM (SELECT unnest(range(0, 10)) AS i)),
         j AS (SELECT ev.ubucket, value, weight FROM ev
               JOIN dim ON ev.ubucket = dim.ubucket)
         SELECT ubucket, count(*) AS n_events,
           round(CAST(sum(value * weight) AS DOUBLE), 2) AS sum_weighted
         FROM j GROUP BY 1 ORDER BY 1"""),
    QuerySpec("q33_salted_agg", Skew.saltedAggStats(_, _),
      """WITH e AS (SELECT ((user_id % 10) + 10) % 10 AS ubucket,
                     user_id, CAST(round(value * 100) AS BIGINT) AS c
                   FROM events)
         SELECT ubucket, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(c) AS BIGINT) AS sum_cents,
           min(c) AS min_cents, max(c) AS max_cents
         FROM e GROUP BY 1 ORDER BY 1""")
  )
}
