package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sync
import graft.sources.{ChunkStore, SyncState}

/** End-to-end multi-sync scenario — the reference's e2e contract
  * (tests/e2e.test.ts:165 "embed all files on first run and only
  * modified file on second run", :1197/:1253 forceFullSync recovery
  * across three runs) composed through the real pipeline:
  * Sync.syncRun = chunker → URL diff → force bypass → chunk-level
  * embed skip → Embedder → ChunkStore versioned upsert → guarded
  * cleanup → SyncState completion flag. */
class MultiSyncE2ESpec extends SparkSuite {

  private def docs(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "text")
  }

  private val doc1 = "# Document One\n\n" +
    "This is the first document covering installation procedures. " +
    "Follow the steps below to get started with the platform. " +
    "Each step builds on the previous one, so read them in order."
  private val doc2 = "# Document Two\n\n" +
    "This is the second document about configuration options. " +
    "You can customize the behavior using environment variables. " +
    "Defaults are chosen to be safe for production deployments."
  private val doc3 = "# Document Three\n\n" +
    "This is the third document describing the API reference. " +
    "All endpoints require authentication via bearer tokens. " +
    "Rate limits apply to every endpoint listed in this guide."

  test("multi-run sync: delta embeds, forceFullSync recovery, deletion") {
    val base = java.nio.file.Files.createTempDirectory("multisync")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString

    def counters(df: DataFrame): Map[String, Long] = {
      val r = df.collect().head
      Seq("items_new", "items_updated", "items_unchanged", "items_deleted",
        "urls_processed", "chunks_embedded", "store_version")
        .map(c => c -> r.getAs[Long](r.fieldIndex(c))).toMap ++
        Map("force" -> (if (r.getAs[Boolean]("force_full_sync")) 1L else 0L))
    }
    def storeRows(): Array[(String, Int, Int, String, String, Seq[Float])] =
      ChunkStore.readLatest(spark, store).get
        .select("url", "chunk_index", "total_chunks", "chunk_id", "content",
          "embedding")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
          r.getString(4), r.getAs[scala.collection.Seq[Float]](5).toSeq))
        .sortBy(t => (t._1, t._2))

    // ── Run 1: empty store, no completion flag → forced, all new.
    // The run dies dirty (killed mid-crawl in the reference scenario,
    // e2e.test.ts:1209-1224) so sync_complete is never written ───────
    val r1 = counters(Sync.syncRun(spark,
      docs("doc://1" -> doc1, "doc://2" -> doc2, "doc://3" -> doc3),
      store, state, runId = 1, hasNetworkErrors = true))
    assert(r1("force") == 1L)           // no sync_complete yet
    assert(r1("items_new") == 3 && r1("items_updated") == 0 &&
      r1("items_unchanged") == 0 && r1("items_deleted") == 0)
    assert(r1("urls_processed") == 3)
    val run1Rows = storeRows()
    assert(run1Rows.nonEmpty)
    assert(r1("chunks_embedded") == run1Rows.length) // every chunk embedded
    // chunk_index 0..n-1 and total_chunks consistent per url
    for ((url, rows) <- run1Rows.groupBy(_._1)) {
      assert(rows.map(_._2).sorted.toSeq == (0 until rows.length),
        s"$url chunk_index gap")
      assert(rows.forall(_._3 == rows.length), s"$url total_chunks wrong")
    }

    // ── Run 2: nothing changed, but run 1 never marked complete →
    // forceFullSync bypasses the unchanged skip (ALL urls processed,
    // the reference's interrupted-sync recovery); chunk-level identity
    // still avoids re-embedding anything. Clean run → flag written ───
    val r2 = counters(Sync.syncRun(spark,
      docs("doc://1" -> doc1, "doc://2" -> doc2, "doc://3" -> doc3),
      store, state, runId = 2))
    assert(r2("force") == 1L)           // run 1 was dirty
    assert(r2("items_unchanged") == 3 && r2("urls_processed") == 3)
    assert(r2("chunks_embedded") == 0)  // embeddings all reused
    assert(storeRows().toSeq == run1Rows.toSeq)

    // ── Run 3: clean previous run → normal skip path, nothing to do ─
    val r3 = counters(Sync.syncRun(spark,
      docs("doc://1" -> doc1, "doc://2" -> doc2, "doc://3" -> doc3),
      store, state, runId = 3))
    assert(r3("force") == 0L)           // run 2 completed cleanly
    assert(r3("items_unchanged") == 3 && r3("urls_processed") == 0)
    assert(r3("chunks_embedded") == 0)

    // ── Run 4: doc2 modified → only doc2 re-embedded, and of its
    // chunks only the ones whose hash changed (e2e.test.ts:260-306) ──
    val doc2v2 = doc2 +
      "\n\nThis is a newly added paragraph about advanced configuration patterns."
    val r4 = counters(Sync.syncRun(spark,
      docs("doc://1" -> doc1, "doc://2" -> doc2v2, "doc://3" -> doc3),
      store, state, runId = 4))
    assert(r4("force") == 0L)
    assert(r4("items_new") == 0 && r4("items_updated") == 1 &&
      r4("items_unchanged") == 2 && r4("items_deleted") == 0)
    assert(r4("urls_processed") == 1)   // only doc2
    val run4Rows = storeRows()
    // doc1/doc3 rows byte-identical (not re-embedded, not rewritten) —
    // the reference's doc1ChunksBefore == doc1ChunksAfter
    assert(run4Rows.filter(_._1 != "doc://2").toSeq ==
      run1Rows.filter(_._1 != "doc://2").toSeq)
    // doc2 reindexed consistently
    val doc2Rows = run4Rows.filter(_._1 == "doc://2")
    assert(doc2Rows.map(_._2).sorted.toSeq == (0 until doc2Rows.length))
    assert(doc2Rows.forall(_._3 == doc2Rows.length))
    // chunk-level skip: only doc2 chunks whose id is NOT already stored
    // reached the embedder
    val run1Ids = run1Rows.map(_._4).toSet
    val expectedEmbeds = doc2Rows.map(_._4).count(id => !run1Ids.contains(id))
    assert(expectedEmbeds > 0 && r4("chunks_embedded") == expectedEmbeds,
      s"expected $expectedEmbeds embeds, got ${r4("chunks_embedded")}")
    // no orphans: store total = sum over urls
    assert(run4Rows.length ==
      run4Rows.groupBy(_._1).values.map(_.length).sum)

    // ── Run 5: doc3 disappears → obsolete cleanup deletes its chunks ─
    val r5 = counters(Sync.syncRun(spark,
      docs("doc://1" -> doc1, "doc://2" -> doc2v2),
      store, state, runId = 5))
    assert(r5("items_deleted") == 1 && r5("items_unchanged") == 2)
    val run5Rows = storeRows()
    assert(!run5Rows.exists(_._1 == "doc://3"))
    assert(run5Rows.toSeq == run4Rows.filter(_._1 != "doc://3").toSeq)

    // ── Runs 6-7: urls that yield zero chunks (a new empty doc, a new
    // blank doc, and doc2 edited to blank) are never processed, so
    // urls_processed leaves them out on the normal branch (run 6) and
    // on the forceFullSync branch (run 7 reads a state path no run has
    // completed, over the same store; only doc1 is processed) ────────
    val zeroChunkRun = docs("doc://1" -> doc1, "doc://2" -> "   ",
      "doc://4" -> "", "doc://5" -> "      ")
    val r6 = counters(Sync.syncRun(spark, zeroChunkRun, store, state,
      runId = 6))
    assert(r6("force") == 0L)
    assert(r6("items_new") == 0 && r6("urls_processed") == 0)
    assert(r6("chunks_embedded") == 0)
    val r7 = counters(Sync.syncRun(spark, zeroChunkRun, store,
      base.resolve("state-never-completed").toString, runId = 7))
    assert(r7("force") == 1L)
    assert(r7("items_new") == 0 && r7("urls_processed") == 1)
    assert(r7("chunks_embedded") == 0)
    // versions advanced monotonically across runs
    assert(Seq(r1, r2, r3, r4, r5, r6, r7).map(_("store_version")) ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("dirty run leaves obsolete urls in place (guarded cleanup)") {
    val base = java.nio.file.Files.createTempDirectory("multisync2")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    // both runs dirty → completion flag never written, cleanup skipped
    Sync.syncRun(spark, docs("doc://a" -> doc1, "doc://b" -> doc2),
      store, state, runId = 1, hasNetworkErrors = true).collect()
    // doc b vanishes from a run that saw network errors: the reference
    // never purges on partial information (doc2vec.ts:760-781)
    Sync.syncRun(spark, docs("doc://a" -> doc1),
      store, state, runId = 2, hasNetworkErrors = true).collect()
    val urls = ChunkStore.readLatest(spark, store).get
      .select("url").distinct().collect().map(_.getString(0)).toSet
    assert(urls == Set("doc://a", "doc://b"))
    // and the force flag is still armed for run 3
    assert(SyncState.forceFullSync(spark, state, ""))
  }
}
