package graft

import graft.operators.Stats

/** Table-stats semantics: the one-pass HLL profile must calibrate
  * against the exact profile, and the broadcast flag must agree with
  * what the engine's adaptive plans actually do with the same tables. */
class StatsSpec extends SparkSuite {

  test("approx profile calibrates within 5% of exact NDV per column") {
    val dir = "/root/testdata/sf0.001"
    val exact = Stats.tableProfile(spark, dir)
      .select("tbl", "col_name", "ndv").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = Stats.tableProfileApprox(spark, dir)
      .select("tbl", "col_name", "ndv_approx").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n) <= math.max(1L, n / 20),
        s"$k: exact=$n approx=$a")
    }
  }

  test("broadcast flags contrast at sf0.01 and match the q3 plan") {
    val dir = "/root/testdata/sf0.01"
    val flags = Stats.tableProfile(spark, dir)
      .select("tbl", "broadcastable").distinct().collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(flags("nation") && flags("customer"),
      s"dims must flag broadcastable: $flags")
    assert(!flags("lineitem"),
      s"the fact table must not flag broadcastable: $flags")
    // ground truth: the engine's own adaptive q3 plan broadcasts the
    // dimension side the stats flag as broadcastable
    val q3 = SparkEntry.queries("q3_join_agg")(spark, dir)
    q3.collect()
    val p = q3.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("quantileSketch: estimate stays inside the located bucket, error bounded by one bucket width") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = Stats.quantileSketch(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("p")).toSeq == Stats.QuantilesPermille)
    // independent domain stats
    val st = Tables.events(spark, dir)
      .select(expr("CAST(floor(value * 1000) AS BIGINT)").as("v"))
      .agg(min("v"), max("v"), count(lit(1))).collect().head
    val (vmin, vmax, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val w = (vmax - vmin) / Stats.QuantileBuckets + 1
    rows.foreach { r =>
      val (p, tgt, b, est, exact) = (r.getAs[Long]("p"),
        r.getAs[Long]("target_rank"), r.getAs[Long]("bucket"),
        r.getAs[Long]("est_v"), r.getAs[Long]("exact_v"))
      assert(tgt == 1 + (n - 1) * p / 1000 && tgt >= 1 && tgt <= n)
      val lo = vmin + b * w
      assert(est >= lo && est < lo + w, s"p=$p estimate escapes its bucket")
      assert(exact >= lo && exact < lo + w,
        s"p=$p exact rank value must sit in the located bucket")
      assert(math.abs(est - exact) < w,
        s"p=$p error must be bounded by one bucket width")
      assert(r.getAs[Long]("err_permille") ==
        math.abs(est - exact) * 1000 / (vmax - vmin))
    }
    // rank statistics are monotone in p
    val ex = rows.map(_.getAs[Long]("exact_v"))
    assert(ex.zip(ex.tail).forall { case (a, b) => a <= b })
  }

  test("KMinAgg: order-insensitive, bounded, exact under k; union dominates its parts") {
    import graft.operators.Stats.KMinAgg
    val xs = (1 to 500).map(i => (i * 2654435761L) % (1L << 52)).distinct
    val fwd = xs.foldLeft(Array.emptyLongArray)(KMinAgg.insert)
    val rev = xs.reverse.foldLeft(Array.emptyLongArray)(KMinAgg.insert)
    assert(fwd.toSeq == rev.toSeq, "sketch must be insertion-order-insensitive")
    assert(fwd.length == Stats.KmvK)
    assert(fwd.toSeq == fwd.toSeq.sorted.distinct, "sorted distinct invariant")
    assert(fwd.toSeq == xs.sorted.take(Stats.KmvK),
      "sketch IS the k smallest distinct values")
    // split-and-merge equals single-pass (the mergeability contract)
    val (l, r) = xs.splitAt(137)
    val merged = KMinAgg.merge(
      l.foldLeft(Array.emptyLongArray)(KMinAgg.insert),
      r.foldLeft(Array.emptyLongArray)(KMinAgg.insert))
    assert(merged.toSeq == fwd.toSeq)
    // exact under k
    val small = Array(5L, 3L, 9L)
    assert(Stats.kmvEstimate(
      small.foldLeft(Array.emptyLongArray)(KMinAgg.insert)) == 3L)
  }

  test("kmvDistinct: union estimates dominate their saturated parts; errors bounded") {
    val dir = "/root/testdata/sf0.01"
    val rows = Stats.kmvDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size == 15, "5 type rows + 10 pair rows")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("err_permille") <= 500,
        s"${r.getString(0)}: KMV at k=64 must land within 50% on this fixture")
    }
    rows.keys.filter(_.startsWith("union:")).foreach { k =>
      val Array(a, b) = k.stripPrefix("union:").split('|')
      val (ea, eb) = (rows(s"type:$a").getAs[Long]("n_est"),
        rows(s"type:$b").getAs[Long]("n_est"))
      assert(math.max(ea, eb) <= rows(k).getAs[Long]("n_est"),
        s"$k: a union's h_k can only shrink, so its estimate dominates")
    }
  }

  test("total_len and null accounting are exact on a planted column") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("statsspec").toString
    Seq((1L, "aa"), (2L, null), (3L, "bbbb")).toDF("n_nationkey", "n_name")
      .withColumn("n_regionkey", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(s"$d/nation.parquet")
    // reuse the real loaders for the other two tables via sf0.001
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("customer", "lineitem"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.parquet(s"$d/$t.parquet")
    val rows = Stats.tableProfile(spark, d)
      .filter(org.apache.spark.sql.functions.col("tbl") === "nation")
      .collect().map(r => r.getString(1) -> r).toMap
    val name = rows("n_name")
    assert(name.getLong(3) == 1L, "one null in n_name")
    assert(name.getLong(4) == 2L, "ndv excludes the null")
    assert(name.getLong(7) == 6L, "total_len counts only non-null chars")
    assert(name.getString(5) == "aa" && name.getString(6) == "bbbb")
  }
}
