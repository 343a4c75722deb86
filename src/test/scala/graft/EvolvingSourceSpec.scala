package graft

import org.apache.spark.sql.functions._
import graft.sources.EvolvingSource

/** Schema-merge semantics beyond the oracle row: the unioned read
  * carries the superset schema and resolves columns by NAME, so a
  * generation that never wrote a column reads pure nulls there. */
class EvolvingSourceSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("merged read: superset schema, name-resolved columns, exact null backfill") {
    val rows = EvolvingSource.scanEvolved(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("gen")).toSeq == Seq(0L, 1L, 2L))
    val docs = Tables.documents(spark, dir)
    val byGen = docs.groupBy(pmod(col("doc_id"), lit(3)).as("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("g") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val g = r.getAs[Long]("gen")
      assert(r.getAs[Long]("n_rows") == byGen(g))
      // null backfill is all-or-nothing per generation
      assert(r.getAs[Long]("n_source_null") ==
        (if (g == 2) byGen(g) else 0L))
      assert(r.getAs[Long]("n_lang_null") ==
        (if (g == 0) byGen(g) else 0L))
      assert(r.getAs[Long]("n_chars_null") ==
        (if (g == 2) 0L else byGen(g)))
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum == docs.count(),
      "no generation's files may be dropped by the merge")
  }

  test("contract enforcement: rogue rows quarantined, clean twins kept") {
    val rows = EvolvingSource.scanContract(spark, dir).collect()
      .map(r => r.getAs[Long]("gen") -> r).toMap
    val byGen = Tables.documents(spark, dir)
      .groupBy(pmod(col("doc_id"), lit(3)).as("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("g") -> r.getAs[Long]("n")).toMap
    // gen 0 appears twice (clean + rogue re-export): the clean rows
    // stay in contract, the rogue twins quarantine — same ids, so a
    // dedup-by-id "fix" would be wrong and is implicitly pinned here
    assert(rows(0L).getAs[Long]("n_rows") == 2 * byGen(0L))
    assert(rows(0L).getAs[Long]("n_in_contract") == byGen(0L))
    assert(rows(0L).getAs[Long]("n_quarantined") == byGen(0L))
    Seq(1L, 2L).foreach { g =>
      assert(rows(g).getAs[Long]("n_quarantined") == 0L)
      assert(rows(g).getAs[Long]("n_in_contract") == byGen(g))
    }
    assert(rows(0L).getAs[String]("rogue_columns") ==
      "chars_total,debug_blob")
  }
}
