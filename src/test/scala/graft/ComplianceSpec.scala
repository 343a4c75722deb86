package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compliance, Similarity}

/** Erasure-sweep semantics beyond the oracle row: the purged state must
  * equal a rebuild-from-scratch on every surface, and a cell whose
  * every code is purged must actually disappear from the index (the
  * dynamic-overwrite gap the kernel handles explicitly). */
class ComplianceSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("purge report equals an independent rebuild-from-scratch on every surface") {
    val rows = Compliance.purgeSweep(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("store", "mv", "index"))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("CAST((length(text) + 3) div 4 AS BIGINT)").as("tok"))
    val live = docs.filter(
      pmod(col("doc_id"), lit(Compliance.PurgeMod)) =!= Compliance.PurgeRes)
    val liveAgg = live.agg(count(lit(1)), sum("doc_id"), sum("tok"),
      countDistinct("source")).collect().head
    val (nLive, sumId, sumTok, nSrc) = (liveAgg.getLong(0),
      liveAgg.getLong(1), liveAgg.getLong(2), liveAgg.getLong(3))
    val nPurged = docs.count() - nLive
    assert(nPurged > 0, "fixture must purge something")
    // store: live rows and id checksum
    assert(rows("store").getLong(1) == nLive)
    assert(rows("store").getLong(2) == sumId)
    assert(rows("store").getLong(4) == nPurged)
    // mv: doc totals and token checksum reconcile with the store
    assert(rows("mv").getLong(1) == nLive,
      "MV total docs must equal live store rows — the seam identity")
    assert(rows("mv").getLong(2) == sumTok)
    assert(rows("mv").getLong(3) == nSrc)
    // index: rebuild the assignment and drop purged codes
    val asg = Similarity.ivfAssign(spark, dir)
    val ilive = asg.filter(
      pmod(col("vec_id"), lit(Compliance.PurgeMod)) =!= Compliance.PurgeRes)
    assert(rows("index").getLong(1) == ilive.count())
    assert(rows("index").getLong(2) ==
      ilive.agg(sum("vec_id")).collect().head.getLong(0))
  }

  test("streaming purge survives a mid-stream restart AND a replayed batch") {
    import spark.implicits._
    val base = tempDir("purgerestart")
    // expose the private machinery through the public sweeps'
    // building blocks: run the batch sweep for the expected report,
    // then drive a two-request stream with a RESTART between files
    // and a forced replay of the first batch
    val expected = Compliance.purgeSweep(spark, dir).collect().toSeq

    val m = Compliance.getClass.getDeclaredMethods
    def call(name: String, args: AnyRef*): AnyRef = {
      val meth = m.find(_.getName == name).get
      meth.setAccessible(true)
      meth.invoke(Compliance, args: _*)
    }
    call("buildSurfaces", spark, dir, base.toString)
    val keys = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("CAST((length(text) + 3) div 4 AS BIGINT)").as("tok"))
      .filter(pmod(col("doc_id"), lit(Compliance.PurgeMod)) ===
        Compliance.PurgeRes)
      .localCheckpoint(true)
    val cut = keys.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val b0 = keys.filter(col("doc_id") <= cut)
    val b1 = keys.filter(col("doc_id") > cut)
    // batch 0 applied, then REPLAYED (at-least-once delivery), then
    // a "restart": batch 1 under a fresh invocation
    call("applyPurgeBatch", spark, base.toString, b0, Long.box(0L))
    call("applyPurgeBatch", spark, base.toString, b0, Long.box(0L))
    call("applyPurgeBatch", spark, base.toString, b1, Long.box(1L))
    val got = call("report", spark, base.toString)
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect().toSeq
    assert(got == expected,
      "replay + restart must land the identical reconciliation — " +
        s"got $got vs $expected")
  }

  test("a fully-purged cell disappears from the index (dynamic-overwrite gap)") {
    import spark.implicits._
    val d = tempDir("purgespec").toString
    // 16 one-hot seeds; 21 → cell 0 (live), 24 → cell 3, 34 → cell 13.
    // Seeds 4 and 14 are themselves purge subjects, so cells 3 and 13
    // hold ONLY purged codes ({4,24} and {14,34}) after the sweep.
    def oneHot(i: Int): Array[Float] =
      Array.tabulate(16)(j => if (j == i) 1f else 0f)
    val vecs = (1 to 16).map(id => (id.toLong, oneHot(id - 1))) ++
      Seq((21L, oneHot(0)), (24L, oneHot(3)), (34L, oneHot(13)))
    vecs.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    // purge requests are SUBJECT-keyed (doc ids), so the subject ids
    // must cover the planted vec ids 24 and 34 for the cells to empty
    ((1 to 20) ++ Seq(24, 34)).map(i =>
        (i.toLong, s"s${i % 3}", "x" * (4 * i)))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$d/documents.parquet")
    val rows = Compliance.purgeSweep(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    // live ids: 1..16 minus {4,14}, plus 21 → 15 codes. If the
    // emptied cell directories survived, their stale files would
    // re-surface the purged codes and inflate this count.
    assert(rows("index").getLong(1) == 15L)
    assert(rows("index").getLong(2) ==
      (1 to 16).filter(i => i != 4 && i != 14).map(_.toLong).sum + 21L)
    assert(rows("index").getLong(3) == 2L,
      "purged codes span exactly cells 3 and 13")
    assert(rows("index").getLong(4) == 4L, "4, 14, 24, 34 are purged")
  }
}
