package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.operators.MatView

/** Incremental-MV maintenance semantics: the incremental refresh must
  * equal full recompute on the real fixture AND on a planted corpus
  * that forces every edge the kernel special-cases — brand-new groups,
  * fully-deleted groups, delete+insert in one group, and a delete that
  * removes the group's extremum. */
class MatViewSpec extends SparkSuite {

  private def ts(d: String): Timestamp = Timestamp.valueOf(d + " 00:00:00")

  /** Planted lineitem: orderkey%10 encodes the row's role (7=insert,
    * 3=delete, else kept store row). */
  private lazy val plantedDir: String = {
    val d = tempDir("mvspec").toString
    import spark.implicits._
    val rows = Seq(
      // group 100: INSERT-ONLY — no store row, MV row must appear
      (100L, 7L, 1, 5.0, ts("1995-03-01")),
      (100L, 17L, 1, 7.0, ts("1995-01-01")),
      // group 200: FULLY DELETED — store rows all %10=3, must vanish
      (200L, 3L, 1, 4.0, ts("1994-01-01")),
      (200L, 13L, 1, 6.0, ts("1994-02-01")),
      // group 300: the %10=3 delete removes the stored 1996-06 row,
      // the %10=7 insert lands 1990-01 as the NEW min, and the kept
      // %10=4 row holds the max — recompute + insert merge together
      (300L, 23L, 1, 2.0, ts("1996-06-01")),
      (300L, 4L, 1, 9.0, ts("1996-05-01")),
      (300L, 27L, 1, 1.0, ts("1990-01-01")),
      // group 400: untouched
      (400L, 5L, 1, 8.0, ts("1993-07-01")),
      // group 500: delete removes the stored MIN — recompute must
      // re-derive the min from the surviving kept row
      (500L, 33L, 1, 3.0, ts("1991-01-01")),
      (500L, 6L, 1, 2.0, ts("1997-09-09")))
    rows.toDF("l_partkey", "l_orderkey", "l_linenumber", "l_quantity",
      "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("incremental refresh equals full recompute on the planted edges") {
    val inc = MatView.incrementalRefresh(spark, plantedDir).collect()
    val full = MatViewReference.fullRefresh(spark, plantedDir).collect()
    assert(inc.toSeq == full.toSeq)
    val byKey = inc.map(r => r.getLong(0) -> r).toMap
    assert(!byKey.contains(200L), "fully-deleted group must drop")
    assert(byKey(100L).getLong(1) == 2 && byKey(100L).getLong(2) == 12)
    // group 300: the recompute must see the same-batch INSERT (1990
    // min) while the delete drops the stored 1996-06 max
    assert(byKey(300L).getString(3) == "1990-01-01")
    assert(byKey(300L).getString(4) == "1996-05-01")
    // group 500: deleting the min row forces the recompute to the
    // surviving row's date on BOTH ends
    assert(byKey(500L).getString(3) == "1997-09-09")
    assert(byKey(500L).getString(4) == "1997-09-09")
  }

  test("incremental refresh equals full recompute at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val inc = MatView.incrementalRefresh(spark, dir).collect()
    val full = MatViewReference.fullRefresh(spark, dir).collect()
    assert(inc.length == full.length && inc.toSeq == full.toSeq)
  }

  test("streaming maintenance lands the identical MV (planted edges)") {
    val st = MatView.mvStreamParity(spark, plantedDir).collect()
    val full = MatViewReference.fullRefresh(spark, plantedDir).collect()
    assert(st.toSeq == full.toSeq)
  }

  test("a replayed micro-batch never double-applies its delta") {
    import org.apache.spark.sql.functions._
    val base = tempDir("mvreplay").toString
    import spark.implicits._
    // store: one group with two rows; the batch inserts one row and
    // deletes one stored row — replaying it must leave the MV as if
    // applied once (count 2, not 3/1)
    val store = Seq(
      (1L, 10L, 1, 5L, ts("1995-01-01")),
      (1L, 11L, 1, 7L, ts("1995-02-01")))
      .toDF("l_partkey", "l_orderkey", "l_linenumber", "qty",
        "l_shipdate")
    store.write.parquet(s"$base/store0")
    store.groupBy("l_partkey").agg(
      count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"))
      .write.parquet(s"$base/mv/v0")
    store.select("l_orderkey", "l_linenumber").limit(0)
      .write.parquet(s"$base/dels/b_init")
    store.limit(0).write.parquet(s"$base/adds/b_init")
    val batch = Seq(
      (1L, 17L, 1, 3L, ts("1996-01-01"), 1L),
      (1L, 10L, 1, 5L, ts("1995-01-01"), -1L))
      .toDF("l_partkey", "l_orderkey", "l_linenumber", "qty",
        "l_shipdate", "sgn")
    MatView.mvApplyBatch(spark, base, batch, 0L)
    val once = spark.read.parquet(s"$base/mv/v1").collect().toSeq
    // the replay: same batch, same id — Spark retries deliver exactly
    // this shape after a foreachBatch failure
    MatView.mvApplyBatch(spark, base, batch, 0L)
    val twice = spark.read.parquet(s"$base/mv/v1").collect().toSeq
    assert(once == twice, "replay double-applied the delta")
    assert(once.head.getAs[Long]("n_rows") == 2L)
    assert(once.head.getAs[Long]("sum_qty") == 10L)
    // tombstone log holds the delete exactly once
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/dels").count() == 1L)
  }
}
