package graft

import org.apache.spark.sql.functions._
import graft.operators.Chunker
import graft.sources.ChunkStore

/** Bucketed chunk store: url-bucketed layout lets the url-keyed diff
  * joins of §2.5 run shuffle-free between two bucketed tables. */
class BucketedStoreSpec extends SparkSuite(cpus = 2, conf = Seq(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("wh").toString)) {

  test("bucketed write round-trips and the bucket spec is recorded") {
    import spark.implicits._
    val chunks = Seq("doc://a", "doc://b", "doc://c")
      .map(u => u -> ("# T\n\n" + s"content for $u. " * 60))
      .toDF("url", "md").as[(String, String)]
      .flatMap { case (u, md) =>
        Chunker.chunkMarkdown(md, "P", "1.0", u)
      }
    ChunkStore.writeBucketed(chunks.toDF(), "chunks_bucketed")
    val back = spark.table("chunks_bucketed")
    assert(back.count() == chunks.count())
    val ddl = spark.sql("SHOW CREATE TABLE chunks_bucketed")
      .head().getString(0)
    assert(ddl.contains("CLUSTERED BY (url)"))
    assert(ddl.contains("8 BUCKETS"))

    // a self-join on the bucketed key plans without an exchange on the
    // bucketed side (the point of the layout)
    val joined = back.as("x").join(back.as("y"), Seq("url"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(url"),
      s"unexpected shuffle on bucketed join:\n$plan")
  }

  test("chunk inspector: created_at join, null-last order, 500 cap") {
    import spark.implicits._
    val chunks = Seq(
      ("c3", "doc://p", Some(2), "third"),
      ("c1", "doc://p", Some(0), "first"),
      ("c2", "doc://p", Some(1), "second"),
      ("c9", "doc://p", None, "indexless"),
      ("cx", "doc://other", Some(0), "other page"))
      .toDF("chunk_id", "url", "chunk_index", "content")
    val dates = Seq(("c1", "2024-01-01"), ("c2", "2024-01-02"))
      .toDF("chunk_id", "created_at")
    val out = ChunkStore.inspectChunks(chunks, Some(dates), "doc://p")
      .collect()
    assert(out.map(_.getAs[String]("chunk_id")).toSeq ==
      Seq("c1", "c2", "c3", "c9")) // index order, null index last
    assert(out.map(r => Option(r.getAs[String]("created_at"))).toSeq ==
      Seq(Some("2024-01-01"), Some("2024-01-02"), None, None))
    // no dates table -> NULL created_at column still present
    val bare = ChunkStore.inspectChunks(chunks, None, "doc://p").collect()
    assert(bare.length == 4 && bare.forall(_.isNullAt(
      bare.head.fieldIndex("created_at"))))
    // cap
    assert(ChunkStore.inspectChunks(chunks, None, "doc://p", maxChunks = 2)
      .count() == 2)
  }

  test("legacy store without chunk_index: inspector and get_chunks degrade") {
    import spark.implicits._
    import graft.operators.DocPipeline
    // a store written before the chunk_index column existed
    // (reference mcp/src/server.ts:558-592 backward-compat retry)
    val legacy = Seq(
      ("c2", "doc://p", "second", "S"),
      ("c1", "doc://p", "first", "S"),
      ("cx", "doc://other", "other", "S"))
      .toDF("chunk_id", "url", "content", "section")
    // inspector: chunk_id order instead of an analysis failure
    val inspected = ChunkStore.inspectChunks(legacy, None, "doc://p")
      .collect()
    assert(inspected.map(_.getAs[String]("chunk_id")).toSeq ==
      Seq("c1", "c2"))
    // get_chunks: range filter + index ordering dropped, reduced
    // projection, all of the url's chunks returned
    val got = DocPipeline.getChunksFromStore(legacy, "doc://p",
      range = Some((0, 1))).collect()
    assert(got.length == 2)
    assert(got.head.schema.fieldNames.toSeq ==
      Seq("chunk_id", "content", "url", "section"))
    // a modern store keeps the ranged, ordered behavior
    val modern = Seq(
      ("c3", "doc://p", 2, "third"),
      ("c1", "doc://p", 0, "first"),
      ("c2", "doc://p", 1, "second"))
      .toDF("chunk_id", "url", "chunk_index", "content")
    val ranged = DocPipeline.getChunksFromStore(modern, "doc://p",
      range = Some((0, 1))).collect()
    assert(ranged.map(_.getAs[String]("chunk_id")).toSeq == Seq("c1", "c2"))
  }

  test("vacuumVersions keeps the newest versions, never the pointer or its target") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vac").toString
    (0 until 4).foreach { i =>
      ChunkStore.upsertVersioned(spark, root,
        Seq((s"doc://$i", s"c$i")).toDF("url", "content"))
    }
    assert(ChunkStore.latestVersion(root) == 3)
    val deleted = ChunkStore.vacuumVersions(root, keepLast = 2)
    assert(deleted == Seq(0L, 1L), s"deleted $deleted")
    // pointer and its target untouched; previous version kept for
    // readers racing the flip
    assert(ChunkStore.latestVersion(root) == 3)
    assert(new java.io.File(root, "v2").isDirectory)
    assert(!new java.io.File(root, "v0").exists)
    val latest = ChunkStore.readLatest(spark, root).get
    assert(latest.count() == 4) // all 4 urls merged through the upserts
    // idempotent: nothing left to delete
    assert(ChunkStore.vacuumVersions(root, keepLast = 2).isEmpty)
    // stranded-pointer reaping is age-gated: a fresh LATEST.tmp (an
    // in-flight flip) survives, a stale one is reaped
    val fresh = new java.io.File(root, "LATEST.tmp9")
    val stale = new java.io.File(root, "LATEST.tmp8")
    java.nio.file.Files.writeString(fresh.toPath, "9")
    java.nio.file.Files.writeString(stale.toPath, "8")
    stale.setLastModified(System.currentTimeMillis() - 3600 * 1000L)
    ChunkStore.vacuumVersions(root, keepLast = 2)
    assert(fresh.exists && !stale.exists)
    fresh.delete()
    // the store keeps working after a vacuum
    ChunkStore.upsertVersioned(spark, root,
      Seq(("doc://new", "n")).toDF("url", "content"))
    assert(ChunkStore.latestVersion(root) == 4)
    assert(ChunkStore.readLatest(spark, root).get.count() == 5)
  }

  test("sync_complete flag: interrupted run forces full sync, clean run clears it") {
    import graft.sources.SyncState
    val metaPath =
      java.nio.file.Files.createTempDirectory("syncmeta").toString + "/kv"
    val prefix = "https://docs.example.com"
    // never synced -> force
    assert(SyncState.forceFullSync(spark, metaPath, prefix))
    // run 1 dies mid-crawl (flag never written) -> still force
    assert(SyncState.forceFullSync(spark, metaPath, prefix))
    // run 2 finishes but saw network errors -> flag withheld -> force
    SyncState.markSyncComplete(spark, metaPath, prefix, runId = 2,
      hasNetworkErrors = true)
    assert(SyncState.forceFullSync(spark, metaPath, prefix))
    // run 3 clean -> flag set -> normal caching from now on
    SyncState.markSyncComplete(spark, metaPath, prefix, runId = 3,
      hasNetworkErrors = false)
    assert(!SyncState.forceFullSync(spark, metaPath, prefix))
    // independent prefixes don't interfere
    assert(SyncState.forceFullSync(spark, metaPath, "https://other.site"))
  }
}
