package graft

import graft.sources.{ChunkStore, TxnLogStore}

/** Chunk-store surface outside the sync path: the chunk inspector, the
  * legacy-schema fallbacks, version retention and the sync flag. */
class BucketedStoreSpec extends SparkSuite(cpus = 2) {

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

  test("vacuumVersions deletes only the dirs no kept snapshot reads") {
    import spark.implicits._
    val root = tempDir("vac").resolve("store").toString
    def upsert(url: String, c: String): Unit = {
      ChunkStore.upsertVersioned(spark, root, Seq((url, c)).toDF("url", "content"))
      ()
    }
    def rows(v: Long): Set[(String, String)] =
      ChunkStore.readVersion(spark, root, v).get.as[(String, String)]
        .collect().toSet
    (0 until 4).foreach(i => upsert(s"doc://$i", s"c$i"))
    // v4 retracts doc://1's row in v1, which stays live for the read
    // filter, so every dir is still read by the newest snapshot
    upsert("doc://1", "c1b")
    assert(ChunkStore.vacuumVersions(root, keepLast = 2).isEmpty)
    assert(rows(4) == Set("doc://0" -> "c0", "doc://1" -> "c1b",
      "doc://2" -> "c2", "doc://3" -> "c3"))
    // fill the live set to its bound; the commit after that folds into
    // one base dir
    (0 to ChunkStore.MaxLiveDirs - 5).foreach(i => upsert(s"doc://f$i", s"f$i"))
    val head = ChunkStore.latestVersion(root)
    assert(TxnLogStore.snapshot(root, head).live.map(_._1) == Seq(s"v$head"))
    val last = rows(head)
    assert(last.size == 4 + ChunkStore.MaxLiveDirs - 4)
    // the snapshot before the fold still reads every older dir
    assert(ChunkStore.vacuumVersions(root, keepLast = 2).isEmpty)
    assert(ChunkStore.vacuumVersions(root, keepLast = 1) == (0L until head))
    assert(new java.io.File(root, s"v$head").isDirectory)
    assert(rows(head) == last)
    // time travel before the horizon now fails at read
    intercept[Exception](rows(head - 1))
    // idempotent, and the store keeps working after a vacuum
    assert(ChunkStore.vacuumVersions(root, keepLast = 1).isEmpty)
    upsert("doc://new", "n")
    assert(ChunkStore.latestVersion(root) == head + 1)
    assert(rows(head + 1) == last + ("doc://new" -> "n"))
  }

  test("sync_complete flag: interrupted run forces full sync, clean run clears it") {
    import graft.sources.SyncState
    val metaPath = tempDir("syncmeta").resolve("kv").toString
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
