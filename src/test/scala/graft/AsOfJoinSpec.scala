package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.AsOf

class AsOfJoinSpec extends SparkSuite {

  test("as-of join: strict prior match, inner semantics, tie handling") {
    import spark.implicits._
    val quotes = Seq( // (key, t, px)
      ("A", 1L, 10.0), ("A", 5L, 11.0), ("A", 9L, 12.0),
      ("B", 4L, 50.0)).toDF("sym", "t", "px")
    val trades = Seq( // (key, t, qty)
      ("A", 0L, 1L),  // before any quote -> dropped (inner)
      ("A", 5L, 2L),  // strict: t=5 quote NOT eligible -> px=10
      ("A", 6L, 3L),  // -> px=11
      ("A", 99L, 4L), // -> px=12 (latest)
      ("B", 4L, 5L),  // strict at equal time -> dropped
      ("C", 7L, 6L))  // key never quoted -> dropped
      .toDF("sym", "t", "qty")
    val out = AsOf.join(trades, quotes, "sym", "t", "t")
      .select("sym", "t", "qty", "r_px").orderBy("sym", "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("A", 5L, 2L, 10.0),
      ("A", 6L, 3L, 11.0),
      ("A", 99L, 4L, 12.0)))
  }

  test("key/time dtype mismatches fail loudly at plan time") {
    import spark.implicits._
    val left = Seq(("A", 1L, 1)).toDF("k", "t", "v")
    val rightBadKey = Seq((1, 1L, 1.0)).toDF("k", "t", "px") // k: int
    val e1 = intercept[IllegalArgumentException] {
      AsOf.join(left, rightBadKey, "k", "t", "t")
    }
    assert(e1.getMessage.contains("key type mismatch"))
    val rightBadTime = Seq(("A", "1", 1.0)).toDF("k", "t", "px") // t: str
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(left, rightBadTime, "k", "t", "t")
    }
    assert(e2.getMessage.contains("time type mismatch"))
  }

  test("physical plan uses AsOfJoinExec (no window, no cartesian)") {
    import spark.implicits._
    val l = Seq(("A", 2L, 1L)).toDF("k", "t", "v")
    val r = Seq(("A", 1L, 9L)).toDF("k", "t", "w")
    val plan = AsOf.join(l, r, "k", "t", "t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // exec node prints without the Exec suffix
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("left-side filters push below the as-of join; right-side filters don't") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "ts", "value")
    val joined = AsOf.join(clicks, errors, "user_id", "ts", "ts")

    // left-only predicate: pushed below the join, all the way to the scan
    val leftFiltered = joined.filter(col("event_id") < 100)
    val opt = leftFiltered.queryExecution.optimizedPlan.toString
    val asofIdx = opt.indexOf("AsOfJoin")
    assert(asofIdx >= 0)
    assert(opt.indexOf("Filter") > asofIdx, // filter line BELOW the join node
      s"left filter not pushed below AsOfJoin:\n$opt")
    val phys = leftFiltered.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters") && phys.contains("LessThan(event_id,100)"),
      s"filter did not reach the scan:\n$phys")
    // results identical to filtering the input
    val viaInput = AsOf.join(clicks.filter(col("event_id") < 100), errors,
      "user_id", "ts", "ts")
    assert(leftFiltered.count() == viaInput.count())

    // right-only predicate must stay ABOVE the join (semantics: drops
    // matched rows, does not re-match earlier eligible rows)
    val rightFiltered = joined.filter(col("r_value") > 2.0)
    val opt2 = rightFiltered.queryExecution.optimizedPlan.toString
    val asofIdx2 = opt2.indexOf("AsOfJoin")
    val filtIdx2 = opt2.indexOf("Filter")
    assert(filtIdx2 >= 0 && filtIdx2 < asofIdx2,
      s"right filter should remain above AsOfJoin:\n$opt2")
    // and the semantics differ from pre-filtering the right input
    val prefilteredRight = AsOf.join(clicks,
      errors.filter(col("value") > 2.0), "user_id", "ts", "ts")
    assert(rightFiltered.count() <= prefilteredRight.count())
  }

  test("column pruning pushes through the join to the scans") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // events has 6 columns; the final select uses 2 left + 1 right
    val clicks = ev.filter(col("event_type") === "click")
    val errors = ev.filter(col("event_type") === "error")
    val narrow = AsOf.join(clicks, errors, "user_id", "ts", "ts")
      .select("event_id", "user_id", "r_value")
    val phys = narrow.queryExecution.executedPlan.toString
    // right scan must not read the wide columns (props, r_event_type is
    // needed for its filter but props never)
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(phys).toSeq
    assert(readSchemas.nonEmpty)
    assert(!readSchemas.exists(_.contains("props")),
      s"props column not pruned:\n${readSchemas.mkString("\n")}")
    // and results are unchanged by pruning
    assert(narrow.count() ==
      AsOf.join(clicks, errors, "user_id", "ts", "ts").count())
  }

  test("matches the composed window form on real events (self as-of)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.filter(col("event_type") === "error")
      .select("user_id", "ts", "value")
    val custom = AsOf.join(clicks, errors, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"),
        col("r_value").as("prior_error_value"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val composed = ev
      .withColumn("err_value",
        when(col("event_type") === "error", col("value")))
      .withColumn("err_ts", when(col("event_type") === "error", col("ts")))
      .withColumn("pv", last(col("err_value"), ignoreNulls = true).over(w))
      .withColumn("pt", last(col("err_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click" && col("pt").isNotNull)
      .select(col("event_id"), col("user_id"), col("pv"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    assert(custom.length == composed.length && custom.sameElements(composed))
  }
}
