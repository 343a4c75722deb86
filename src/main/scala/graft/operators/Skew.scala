package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling join utilities (builder-prompt scale requirement).
  *
  * At 100 TB a handful of hot keys (one viral document's url, one huge
  * repo) can stall a shuffle join on a single reducer. Two standard
  * remedies, composable with any equi-join in this engine:
  *
  *   - AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
  *     set in Verify/Bench sessions) handles it at runtime when
  *     statistics catch it;
  *   - explicit salting handles it deterministically when the skew is
  *     known or AQE can't see it (e.g., the build side is an
  *     aggregation output): the big side gets a random-but-deterministic
  *     salt in [0, n); the small side is replicated n times; the join
  *     key becomes (key, salt), fanning each hot key across n reducers.
  */
object Skew {

  /** Salted inner equi-join: `big ⋈ small ON key` with the big side's
    * rows deterministically salted (hash of all columns mod n — no RNG,
    * so retries/speculation see identical data) and the small side
    * replicated n-fold. Result equals the plain join. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltBuckets: Int = 8): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(hash(big.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Oracle-checked salted-join composition: events bucketed to a hot
    * key domain (user_id mod 10 — every bucket carries ~10% of the
    * fact table, a stand-in for the one-viral-url shape) joined to a
    * derived 10-row weight dimension THROUGH [[saltedJoin]], then
    * aggregated. The result must equal the plain join byte-for-byte —
    * that equality IS the correctness contract of salting, so the
    * DuckDB oracle is simply the unsalted join.
    *
    * Scale: the salt fans each hot bucket across 8 reducers; the
    * aggregate re-collapses per bucket with map-side partials. The
    * dimension replication is 8 × 10 rows — noise. */
  def saltedJoinStats(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .withColumn("ubucket", pmod(col("user_id"), lit(10L)))
    val dim = ev.sparkSession.range(0, 10)
      .select(col("id").as("ubucket"), (col("id") * 3 + 1).as("weight"))
    saltedJoin(ev, dim, "ubucket", saltBuckets = 8)
      .groupBy("ubucket")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("weight")), 2).as("sum_weighted"))
      .orderBy("ubucket")
  }

  /** Two-stage salted aggregation — the AGGREGATE twin of
    * [[saltedJoin]]: a partial aggregate keyed by (key, salt) fans
    * each hot key across `saltBuckets` reducers, and a second
    * #keys-row merge re-collapses the algebraic partials (count→sum,
    * sum→sum, min→min, max→max). For plain sums Spark's hash
    * aggregate already map-side-combines; the case that genuinely
    * needs the explicit shape is EXACT DISTINCT under skew, where
    * `count(distinct u)` would route every (hot key, u) pair through
    * one reducer — here the distinct stage shuffles by (key, u)
    * (spreading the hot key over the full cluster) and only then
    * counts per key. Results must equal the direct aggregation
    * byte-for-byte — that equality is the contract, so the oracle is
    * simply the unsalted aggregate. */
  def saltedAgg(df: DataFrame, key: String, distinctCol: String,
      valueCol: String, saltBuckets: Int = 8): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val partial = salted.groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("p_n"), sum(col(valueCol)).as("p_sum"),
        min(col(valueCol)).as("p_min"), max(col(valueCol)).as("p_max"))
    val merged = partial.groupBy(col(key))
      .agg(sum(col("p_n")).as("n_events"), sum(col("p_sum")).as("sum_v"),
        min(col("p_min")).as("min_v"), max(col("p_max")).as("max_v"))
    val distincts = df.select(col(key), col(distinctCol)).distinct()
      .groupBy(col(key)).agg(count(lit(1)).as("n_distinct"))
    merged.join(broadcast(distincts), Seq(key))
  }

  /** Oracle-checked salted-aggregation row: events bucketed to the hot
    * key domain (user_id mod 10), values rationalized to integer cents
    * BEFORE summing (associative BIGINT addition — partial-then-merge
    * and single-pass sums cannot drift by a float ulp). The DuckDB
    * oracle is the direct unsalted aggregate. */
  def saltedAggStats(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .withColumn("ubucket", pmod(col("user_id"), lit(10L)))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
    saltedAgg(ev, "ubucket", "user_id", "cents")
      .select(col("ubucket"), col("n_events"),
        col("n_distinct").as("n_users"), col("sum_v").as("sum_cents"),
        col("min_v").as("min_cents"), col("max_v").as("max_cents"))
      .orderBy("ubucket")
  }
}
