package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** One stored/embedded chunk row — the versioned chunk store's schema
  * for full sync runs (url-keyed, with the reference's
  * chunk_index/total_chunks bookkeeping). */
final case class StoredChunk(url: String, chunk_index: Int,
    total_chunks: Int, chunk_id: String, content: String,
    embedding: Array[Float])

/** Incremental-sync differential operators (SURVEY.md §2.5) — the
  * reference's 4-layer change-detection pipeline re-expressed as joins:
  *
  *   - URL-level diff: per-document sorted multiset of chunk hashes
  *     (doc2vec.ts:1915-2000) → groupBy(url) signature compare.
  *   - Chunk-level hash skip (doc2vec.ts:515-553) → left-anti join on
  *     chunk_id before the expensive embed stage.
  *   - Obsolete cleanup (database.ts:522-547) → stored ANTI JOIN visited.
  *   - Watermark advance/hold (doc2vec.ts:584-591): advanced only when the
  *     batch had zero failures; otherwise held for re-processing.
  *
  * Scale: every layer is one hash-partitioned join/aggregate keyed on url
  * or chunk_id. The expensive downstream stage (embedding) consumes only
  * the surviving delta — the reference's cost model, preserved.
  *
  * The sync scenario is simulated deterministically from the documents
  * table so the DuckDB oracle can replay it:
  *   stored   = docs with doc_id % 13 != 0  (rest appear as "new")
  *   incoming = docs with doc_id % 11 != 0  (rest appear as "deleted"),
  *              text modified when doc_id % 10 == 0 ("updated")
  */
object Sync {

  private val ChunkSize = 128

  /** (url, chunk_index, chunk_id, piece) token chunks of a corpus. */
  private def chunksOf(docs: DataFrame): DataFrame = {
    val idx = docs
      .withColumn("i", explode(sequence(lit(0),
        ceil(length(col("text")).cast("double") / ChunkSize).cast("int") - 1)))
      .withColumn("piece",
        trim(expr(s"substring(text, i*$ChunkSize+1, $ChunkSize)")))
      .filter(col("piece") =!= "")
    idx
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("chunk_id",
        sha2(concat(col("url"), lit("::"), col("piece")), 256))
      .select("url", "i", "chunk_id", "piece")
  }

  private def storedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 13 =!= 0)

  private def incomingDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 11 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" updated marker tokens")))
          .otherwise(col("text")))

  /** Per-url signature: sorted multiset of chunk hashes joined to one
    * string (the reference's diff unit, doc2vec.ts:1936-1944). */
  private def signatures(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("url"))
      .agg(array_join(sort_array(collect_list(col("chunk_id"))), ",")
        .as("sig"), count(lit(1)).as("n_chunks"))

  /** URL-level diff: status ∈ {new, updated, unchanged} for every
    * incoming url. */
  def urlDiff(s: SparkSession, dir: String): DataFrame =
    urlStatuses(s, dir).orderBy("url")

  /** Unsorted per-url diff statuses — shared with skipCascade. */
  private def urlStatuses(s: SparkSession, dir: String): DataFrame = {
    val stored = signatures(chunksOf(storedDocs(s, dir)))
      .withColumnRenamed("sig", "stored_sig")
      .withColumnRenamed("n_chunks", "stored_chunks")
    val incoming = signatures(chunksOf(incomingDocs(s, dir)))
    incoming.join(stored, Seq("url"), "left")
      .withColumn("status",
        when(col("stored_sig").isNull, "new")
          .when(col("sig") =!= col("stored_sig"), "updated")
          .otherwise("unchanged"))
      .select(col("url"), col("status"), col("n_chunks"))
  }

  /** Chunk-level skip: incoming chunks that must be embedded — those
    * whose chunk_id is not already stored (anti-join placed *before*
    * the expensive embed stage). */
  def chunkDelta(s: SparkSession, dir: String): DataFrame =
    chunkDeltaCounts(s, dir).orderBy("url")

  /** Unsorted per-url to-embed counts — shared with skipCascade. */
  private def chunkDeltaCounts(s: SparkSession, dir: String): DataFrame = {
    val stored = chunksOf(storedDocs(s, dir)).select("chunk_id")
    chunksOf(incomingDocs(s, dir))
      .join(stored, Seq("chunk_id"), "left_anti")
      .groupBy(col("url"))
      .agg(count(lit(1)).as("chunks_to_embed"))
  }

  /** The reference's 4-layer change-detection cascade composed as ONE
    * plan (reference README.md:46-56: sitemap lastmod → ETag → URL
    * hash-multiset → chunk hash, each layer seeing only the survivors
    * of the previous one). Per-url decisions from all four layers are
    * joined into a single wide frame, the per-layer funnel counts fall
    * out of one conditional aggregate, and `stack` unpivots them to a
    * (layer, n_in, n_skipped, n_forward) report. Layers 1–3 count urls;
    * layer 4 counts chunks of the urls that reached it (skipped = chunks
    * whose hash is already stored, forward = chunks actually embedded).
    *
    * Reconciles with the individual layer queries by construction: each
    * decision column is the exact frame behind sync_lastmod_skip /
    * sync_etag_skip / sync_url_diff / sync_chunk_delta.
    *
    * Scale: three url-keyed hash joins + one chunk_id anti-join feeding
    * a single partial-aggregating count pass — no per-layer jobs, no
    * driver-side funnel math, no mid-plan sorts.
    *
    * `markdownStoreUrls`: the reference treats the markdown-store gap
    * as part of the lastmod layer inside one crawl
    * (content-processor.ts:579-606, pinned twice by its e2e suite) — a
    * url ABSENT from the store re-fetches even when lastmod matches.
    * Passing the store here threads that bypass through layer 1 of the
    * composed cascade: gap urls decide `fetch_store_gap` instead of
    * `skip`, so they flow on to the ETag/url-diff/chunk layers exactly
    * as they would in the reference's single crawl loop. */
  def skipCascade(s: SparkSession, dir: String,
      markdownStoreUrls: Option[DataFrame] = None): DataFrame = {
    val lm = Ingest.lastmodDecisions(s, dir,
        markdownStoreUrls = markdownStoreUrls)
      .withColumnRenamed("decision", "lm_dec")
    val et = Ingest.etagDecisions(s, dir)
      .withColumnRenamed("decision", "et_dec")
    val wide = lm.join(et, Seq("url"))
      .join(urlStatuses(s, dir), Seq("url"), "left")
      .join(chunkDeltaCounts(s, dir), Seq("url"), "left")
      .na.fill(0L, Seq("chunks_to_embed"))
    val pass1 = col("lm_dec") =!= "skip"
    val pass2 = pass1 && col("et_dec") =!= "skip"
    val reach3 = pass2 && col("status").isNotNull
    val pass3 = reach3 && col("status") =!= "unchanged"
    wide.agg(
        count(lit(1)).as("l1_in"),
        count(when(col("lm_dec") === "skip", 1)).as("l1_skip"),
        count(when(pass1, 1)).as("l2_in"),
        count(when(pass1 && col("et_dec") === "skip", 1)).as("l2_skip"),
        count(when(reach3, 1)).as("l3_in"),
        count(when(reach3 && col("status") === "unchanged", 1)).as("l3_skip"),
        sum(when(pass3, col("n_chunks")).otherwise(0L)).as("l4_in"),
        sum(when(pass3, col("n_chunks") - col("chunks_to_embed"))
          .otherwise(0L)).as("l4_skip"))
      .selectExpr(
        """stack(4,
             '1_lastmod',    l1_in, l1_skip,
             '2_etag',       l2_in, l2_skip,
             '3_url_diff',   l3_in, l3_skip,
             '4_chunk_hash', l4_in, l4_skip) AS (layer, n_in, n_skipped)""")
      .withColumn("n_forward", col("n_in") - col("n_skipped"))
      .orderBy("layer")
  }

  /** [[skipCascade]] with the markdown store missing every 7th url
    * threaded into layer 1 — the cascade-level oracle row for the
    * store-gap bypass (the standalone layer row is
    * `sync_lastmod_storegap`). Gap urls that would have skipped on
    * lastmod now forward, so layer 1's skip count drops and layers 2-4
    * see the extra survivors. */
  def skipCascadeStoreGap(s: SparkSession, dir: String): DataFrame =
    skipCascade(s, dir, Some(Ingest.storeGapStore(s, dir)))

  /** Obsolete cleanup: stored urls no longer present in the incoming
    * (visited) set (reference: delete stored chunks whose url ∉ visited,
    * database.ts:533-542). */
  def cleanup(s: SparkSession, dir: String): DataFrame = {
    val visited = incomingDocs(s, dir)
      .select(concat(lit("doc://"), col("doc_id")).as("url"))
    chunksOf(storedDocs(s, dir))
      .join(visited, Seq("url"), "left_anti")
      .groupBy(col("url"))
      .agg(count(lit(1)).as("chunks_deleted"))
      .orderBy("url")
  }

  /** Watermark advance/hold over the events "source": the watermark
    * advances to max(ts) only when the batch contains zero failures
    * (error events); otherwise it holds at the old value. Both outcomes
    * are emitted. */
  def watermark(s: SparkSession, dir: String): DataFrame = {
    val old = "2024-01-10 00:00:00"
    val batch = Tables.events(s, dir)
      .filter(col("ts") > lit(old).cast("timestamp"))
    batch.agg(
      lit(old).as("watermark_old"),
      count(lit(1)).as("n_processed"),
      count(when(col("event_type") === "error", 1)).as("n_failures"),
      date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .as("candidate_watermark"))
      .withColumn("watermark_new",
        when(col("n_failures") === 0, col("candidate_watermark"))
          .otherwise(col("watermark_old")))
  }

  /** Token chunks with chunk_index/total_chunks bookkeeping for an
    * arbitrary (url, text) corpus — the store-facing variant of
    * chunksOf. */
  private[graft] def chunksOfUrls(docs: DataFrame,
      chunkSize: Int): DataFrame = {
    val idx = docs
      .withColumn("i", explode(sequence(lit(0),
        ceil(length(col("text")).cast("double") / chunkSize).cast("int") - 1)))
      .withColumn("content",
        trim(expr(s"substring(text, i*$chunkSize+1, $chunkSize)")))
      .filter(col("content") =!= "")
    idx
      .withColumn("chunk_index",
        row_number().over(Window.partitionBy("url").orderBy("i")) - 1)
      .withColumn("total_chunks",
        count(lit(1)).over(Window.partitionBy("url")).cast("int"))
      .withColumn("chunk_id",
        sha2(concat(col("url"), lit("::"), col("content")), 256))
      .select("url", "chunk_index", "total_chunks", "chunk_id", "content")
  }

  /** One complete incremental sync run — the reference's per-source run
    * loop (doc2vec.ts:675-790) composed from the operators above and the
    * versioned store:
    *
    *   1. chunk the incoming (url, text) batch;
    *   2. URL-diff its per-url signatures against the current store
    *      version → new/updated/unchanged/deleted statuses;
    *   3. pick urls to process: new+updated, or ALL incoming when the
    *      previous run never marked `sync_complete` (forceFullSync,
    *      doc2vec.ts:700-712) — the interrupted-sync recovery bypass;
    *   4. chunk-level skip: chunks whose chunk_id is already stored
    *      reuse their stored embedding; only genuinely new chunk
    *      content reaches the embedder (doc2vec.ts:515-553);
    *   5. upsert-by-url + guarded obsolete cleanup, written as the next
    *      complete store version (atomic pointer flip);
    *   6. mark sync complete only on a clean run (hasNetworkErrors
    *      false), so a failed run leaves the force-bypass armed.
    *
    * Returns a one-row counters frame (reference SourceRunStats):
    * run_id, force_full_sync, items_new/updated/unchanged/deleted,
    * urls_processed, chunks_embedded, store_version.
    *
    * Scale: the diff/skip/upsert layers are url- and chunk_id-keyed
    * joins (hash-partitioned, no driver data motion); the driver-side
    * work is the two scalar counts and the version-pointer flip. */
  def syncRun(s: SparkSession, incoming: DataFrame, storeRoot: String,
      statePath: String, runId: Long, urlPrefix: String = "",
      hasNetworkErrors: Boolean = false, scanIncomplete: Boolean = false,
      chunkSize: Int = 128): DataFrame = {
    import s.implicits._
    import graft.sources.{ChunkStore, SyncState}
    val force = SyncState.forceFullSync(s, statePath, urlPrefix)
    val inChunks = chunksOfUrls(incoming, chunkSize).localCheckpoint(true)
    val storedChunks = ChunkStore.readLatest(s, storeRoot)
      .getOrElse(s.emptyDataset[StoredChunk].toDF())

    val storedSig = signatures(storedChunks)
      .withColumnRenamed("sig", "stored_sig")
      .withColumnRenamed("n_chunks", "stored_chunks")
    val joined = signatures(inChunks)
      .join(storedSig, Seq("url"), "full_outer")
      .withColumn("status",
        when(col("sig").isNull, "deleted")
          .when(col("stored_sig").isNull, "new")
          .when(col("sig") =!= col("stored_sig"), "updated")
          .otherwise("unchanged"))
      .localCheckpoint(true)

    val processUrls =
      if (force) inChunks.select("url").distinct()
      else joined.filter(col("status").isin("new", "updated")).select("url")
    val prepared = inChunks
      .join(processUrls, Seq("url"), "left_semi")
      .join(storedChunks.select("chunk_id", "embedding")
        .dropDuplicates("chunk_id"), Seq("chunk_id"), "left")
      .select(col("url"), col("chunk_index"), col("total_chunks"),
        col("chunk_id"), col("content"), col("embedding"))
    // ONE pass over `prepared` (guide §1.2 driver round-trips): the
    // embed map rides a `was_embedded` flag through the checkpoint, so
    // both counters read from the PINNED rows in one cheap aggregate —
    // previously chunksEmbedded ran the semi+reuse joins once and the
    // newRows checkpoint ran them again, a second full pass per run.
    // was_embedded marks exactly the rows whose stored embedding was
    // null. urls_processed = countDistinct(url) counts every processed
    // url because a url that yields zero chunks (empty or blank text)
    // never enters processUrls: the `new` and `updated` statuses need a
    // non-null incoming signature, which only a chunked url has, and
    // the force branch reads its urls from inChunks. So every url in
    // processUrls keeps at least one row through the semi-join
    // (pinned in MultiSyncE2ESpec on both branches).
    val newRowsFlagged = prepared
      .as[(String, Int, Int, String, String, Option[Array[Float]])]
      .map { case (u, i, t, id, c, e) =>
        (u, i, t, id, c,
          e.getOrElse(graft.functions.Embedder.embed(c)), e.isEmpty)
      }
      .toDF("url", "chunk_index", "total_chunks", "chunk_id", "content",
        "embedding", "was_embedded")
      .localCheckpoint(true)
    val counterRow = newRowsFlagged.agg(
      coalesce(sum(col("was_embedded").cast("long")), lit(0L)),
      countDistinct(col("url"))).head()
    val chunksEmbedded = counterRow.getLong(0)
    val urlsProcessed = counterRow.getLong(1)
    val newRows = newRowsFlagged.drop("was_embedded")

    val merged = ChunkStore.upsertByUrl(storedChunks, newRows)
    val cleaned = ChunkStore.cleanupObsolete(merged,
      incoming.select("url"), hasNetworkErrors, scanIncomplete)
    val version = ChunkStore.writeVersion(s, storeRoot, cleaned)
    SyncState.markSyncComplete(s, statePath, urlPrefix, runId,
      hasNetworkErrors)

    joined.agg(
      count(when(col("status") === "new", 1)).as("items_new"),
      count(when(col("status") === "updated", 1)).as("items_updated"),
      count(when(col("status") === "unchanged", 1)).as("items_unchanged"),
      count(when(col("status") === "deleted", 1)).as("items_deleted"))
      .withColumn("run_id", lit(runId))
      .withColumn("force_full_sync", lit(force))
      .withColumn("urls_processed", lit(urlsProcessed))
      .withColumn("chunks_embedded", lit(chunksEmbedded))
      .withColumn("store_version", lit(version))
  }

  /** The FULL sync state machine across three consecutive runs as one
    * ORACLE row — the reference's e2e contract (tests/e2e.test.ts:165,
    * 745: run, assert per-run stats, run again over a mutated corpus,
    * assert the store converged) replayed through [[syncRun]] against a
    * real versioned store + metadata log in a temp tree:
    *
    *   - run 1: corpus A, `hasNetworkErrors = true` — first sync, so
    *     force_full_sync (no flag yet); the error means the
    *     `sync_complete` flag is NEVER written and cleanup is skipped;
    *   - run 2: corpus B (adds + edits + drops vs A) — STILL forced
    *     (run 1 never completed: the interrupted-sync recovery bypass,
    *     doc2vec.ts:700-712), clean, so every incoming url is
    *     processed, unchanged urls re-embed NOTHING (chunk-hash reuse),
    *     obsolete A-only urls are purged, and the flag is finally set;
    *   - run 3: corpus C (adds + edits + drops vs B) — incremental at
    *     last (flag is 'true'), `scanIncomplete = true`, so only
    *     new/updated urls are processed and the cleanup guard RETAINS
    *     urls missing from C (never purge on partial information).
    *
    * Output (one normalized frame, DuckDB-replayable end to end):
    * three `counters` rows packing run_id → (force flag, item statuses,
    * urls processed, chunks embedded, store version), plus one `store`
    * row per chunk of the FINAL store version (chunk_id carries the
    * content identity; embeddings are deliberately not emitted — float
    * payloads never hash-compare). A hash match proves the composed
    * state machine — diff → force bypass → chunk-level embed skip →
    * upsert → guarded cleanup → completion flag — not just its layers.
    *
    * Scale: three [[syncRun]] invocations (url/chunk_id-keyed joins);
    * the corpora are bounded slices so the row stays protocol-sized in
    * the bench. */
  def syncRunE2e(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("syncrune2e")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    val docs = Tables.documents(s, dir)
    def corpus(df: DataFrame): DataFrame =
      df.select(concat(lit("doc://"), col("doc_id")).as("url"), col("text"))
    val a = corpus(docs.filter(col("doc_id") < 250 && col("doc_id") % 5 =!= 4))
    val b = corpus(docs.filter(col("doc_id") < 280 && col("doc_id") % 7 =!= 3)
      .withColumn("text", when(col("doc_id") % 10 === 6,
        concat(col("text"), lit(" v2 tokens"))).otherwise(col("text"))))
    val c = corpus(docs.filter(col("doc_id") < 280 && col("doc_id") % 6 =!= 5)
      .withColumn("text", when(col("doc_id") % 9 === 2,
        concat(col("text"), lit(" v3 tokens"))).otherwise(col("text"))))
    val prefix = "e2e://src"
    def pack(r: DataFrame): DataFrame = r.select(
      lit("counters").as("kind"),
      concat(lit("run:"), col("run_id")).as("key"),
      concat(
        lit("force="), col("force_full_sync").cast("string"),
        lit("|new="), col("items_new"),
        lit("|upd="), col("items_updated"),
        lit("|unch="), col("items_unchanged"),
        lit("|del="), col("items_deleted"),
        lit("|proc="), col("urls_processed"),
        lit("|emb="), col("chunks_embedded"),
        lit("|ver="), col("store_version")).as("payload"))
    // syncRun's side effects (store version write, metadata flag) are
    // eager, so the three runs sequence correctly here
    val r1 = pack(syncRun(s, a, store, state, 1L, prefix,
      hasNetworkErrors = true))
    val r2 = pack(syncRun(s, b, store, state, 2L, prefix))
    val r3 = pack(syncRun(s, c, store, state, 3L, prefix,
      scanIncomplete = true))
    val finalStore = graft.sources.ChunkStore.readLatest(s, store).get
      .select(lit("store").as("kind"),
        concat(col("url"), lit("#"),
          lpad(col("chunk_index").cast("string"), 4, "0")).as("key"),
        concat(col("chunk_id"), lit("|"), col("total_chunks")).as("payload"))
    // pin before deleting the temp tree (the frame reads lazily from it)
    val out = r1.unionByName(r2).unionByName(r3).unionByName(finalStore)
      .orderBy("kind", "key").localCheckpoint(true)
    deleteTree(base.toFile)
    out
  }

  /** Recursive temp-tree cleanup shared by the e2e staging rows. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Qdrant metadata-point exclusion parity (reference
    * database.ts:192-215 metadata upsert; 566-574 `must_not
    * is_metadata` on every cleanup scroll): sync metadata (etag /
    * lastmod / sync_complete state) lives in the SAME collection as the
    * data points — zero-vector rows flagged `is_metadata`, under
    * `metadata://` urls that never appear in any visited set — so every
    * scan and cleanup must exclude them or a sync would purge its own
    * state and force-reprocess forever. The staged mixed store is
    * deterministic from the documents table; the output is the cleanup
    * verdict per point class: obsolete DATA urls get deleted, metadata
    * points are kept even though their urls look obsolete. */
  def metadataExclusion(s: SparkSession, dir: String): DataFrame = {
    val dataPoints = chunksOf(storedDocs(s, dir))
      .select(col("url")).withColumn("is_metadata", lit(false))
    val metaPoints = Tables.documents(s, dir)
      .filter(col("doc_id") % 25 === 0)
      .select(concat(lit("metadata://etag:doc://"), col("doc_id")).as("url"))
      .withColumn("is_metadata", lit(true))
    val store = dataPoints.unionByName(metaPoints)
    val visited = incomingDocs(s, dir)
      .select(concat(lit("doc://"), col("doc_id")).as("url"))
    val deleted = store.filter(!col("is_metadata")) // must_not is_metadata
      .join(visited, Seq("url"), "left_anti")
      .groupBy(col("url")).agg(count(lit(1)).as("n_points"))
      .withColumn("category", lit("deleted"))
    val kept = store.filter(col("is_metadata"))
      .groupBy(col("url")).agg(count(lit(1)).as("n_points"))
      .withColumn("category", lit("kept_metadata"))
    deleted.unionByName(kept)
      .select("category", "url", "n_points")
      .orderBy("category", "url")
  }

  /** Per-run counters (reference SourceRunStats, types.ts:158-190):
    * items_new/updated/unchanged/deleted + chunks_added/deleted. */
  def runCounters(s: SparkSession, dir: String): DataFrame = {
    val stored = signatures(chunksOf(storedDocs(s, dir)))
      .withColumnRenamed("sig", "stored_sig")
      .withColumnRenamed("n_chunks", "stored_chunks")
    val incoming = signatures(chunksOf(incomingDocs(s, dir)))
    val joined = incoming.join(stored, Seq("url"), "full_outer")
      .withColumn("status",
        when(col("sig").isNull, "deleted")
          .when(col("stored_sig").isNull, "new")
          .when(col("sig") =!= col("stored_sig"), "updated")
          .otherwise("unchanged"))
    joined.agg(
      count(when(col("status") === "new", 1)).as("items_new"),
      count(when(col("status") === "updated", 1)).as("items_updated"),
      count(when(col("status") === "unchanged", 1)).as("items_unchanged"),
      count(when(col("status") === "deleted", 1)).as("items_deleted"),
      sum(when(col("status").isin("new", "updated"), col("n_chunks"))
        .otherwise(0L)).as("chunks_added"),
      sum(when(col("status").isin("updated", "deleted"),
        col("stored_chunks")).otherwise(0L)).as("chunks_deleted"))
  }

  /** Deleted-file list diff as an oracle row (reference doc2vec.ts:
    * 1062-1095, and the S3 variant at 1279-1304): the previous run's
    * listing anti-joined against the current one through the
    * production [[graft.sources.LocalDirectory.deletedFiles]] kernel.
    * Staged: previous = every document's path; current drops every 6th
    * file (those must surface as deleted) and ADDS unrelated new paths
    * (which must not — the diff is one-directional).
    *
    * Scale: one hash anti-join on path; both listings are file-count-
    * sized (metadata, not content), so this never touches corpus
    * bytes. */
  def listDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val previous = docs.select(
      concat(lit("/data/"), col("doc_id"), lit(".md")).as("path"))
    val current = docs.filter(col("doc_id") % 6 =!= 0).select(
        concat(lit("/data/"), col("doc_id"), lit(".md")).as("path"))
      .unionByName(docs.filter(col("doc_id") % 11 === 0).select(
        concat(lit("/data/new_"), col("doc_id"), lit(".md")).as("path")))
    graft.sources.LocalDirectory.deletedFiles(previous, current)
      .orderBy("path")
  }

  /** Full-vs-incremental resume decision per source prefix (reference
    * doc2vec.ts:676-687): a run whose previous sync never wrote
    * `sync_complete:{prefix} = 'true'` bypasses every lastmod/ETag
    * skip layer. Resolution runs through the production
    * [[graft.sources.SyncState.latestByKey]] latest-write-wins kernel
    * over a staged metadata log that interleaves stale flag writes
    * (which must lose to the highest run_id) and unrelated keys
    * (watermarks — which must be ignored). Prefixes with no flag row
    * at all get `full_first_sync`, a non-'true' latest flag gets
    * `full_incomplete`, and only a latest 'true' earns
    * `incremental`. */
  def resumeDecisions(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SyncState
    val docs = Tables.documents(s, dir)
    val prefixes = docs
      .select(concat(lit("src://"), col("doc_id") % 25).as("url_prefix"))
      .distinct()
    val log = docs.filter(col("doc_id") % 25 < 20).select(
        concat(lit("sync_complete:src://"), col("doc_id") % 25).as("key"),
        when(col("doc_id") % 3 === 1, lit("false")).otherwise(lit("true"))
          .as("value"),
        col("doc_id").as("run_id"))
      .unionByName(docs.select(
        concat(lit("watermark:src://"), col("doc_id") % 25).as("key"),
        col("doc_id").cast("string").as("value"),
        (col("doc_id") + 1000).as("run_id")))
    val flags = SyncState.latestByKey(log)
      .filter(col("key").startsWith("sync_complete:"))
      .select(
        expr("substring(key, length('sync_complete:') + 1)").as("url_prefix"),
        col("value").as("flag"), col("run_id").as("last_run_id"))
    prefixes.join(flags, Seq("url_prefix"), "left")
      .select(col("url_prefix"),
        coalesce(col("last_run_id"), lit(-1L)).as("last_run_id"),
        when(col("flag").isNull, "full_first_sync")
          .when(col("flag") =!= "true", "full_incomplete")
          .otherwise("incremental").as("decision"))
      .orderBy("url_prefix")
  }

  /** Bloom-filter bits (m) and hash count (k) for
    * [[bloomPrefilterStats]]: n≈⅔·|docs| members in 4096 bits with 3
    * hashes keeps the fixture's fp rate in the interesting single-
    * digit-percent band. */
  val BloomBits = 4096
  val BloomHashes = 3

  /** The crawler's knownUrls membership test as a BLOOM PREFILTER,
    * with its false-positive cost measured next to ground truth — the
    * reference holds the visited/known URL set in memory
    * (content-processor.ts:321-933); at 100 TB the known set no longer
    * fits and every frontier URL cannot afford an exact lookup, so the
    * standard move is a bloom prefilter: bloom-negative URLs are
    * certainly new (skip the store lookup entirely), bloom-positive
    * URLs fall through to the exact check. This row builds the filter
    * RELATIONALLY (bit table = distinct md5-derived bit positions of
    * the known set — deterministic, so DuckDB re-derives every bit)
    * and reports, per source: candidates, true members, bloom passes,
    * false positives, and fp permille among true non-members — the
    * number that prices the exact-check fallback.
    *
    * Scale: the bit table is ≤ [[BloomBits]] rows regardless of corpus
    * size and broadcasts; probing is a map-side join per (candidate ×
    * k hashes), never a shuffle of the known set. (A deployment with a
    * driver-side build would use spark.util.sketch.BloomFilter and
    * broadcast the bitset object; the relational form keeps the
    * arithmetic oracle-checkable and is how you build the filter ONCE
    * distributedly when the member set itself is TB-scale.) */
  def bloomPrefilterStats(s: SparkSession, dir: String): DataFrame = {
    val urls = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        concat(lit("doc://"), col("doc_id")).as("url"))
    // known set: two-thirds of the corpus (doc_id % 3 != 0)
    val known = urls.filter(col("doc_id") % 3 =!= 0).select("url")
    val hashes = explode(sequence(lit(0), lit(BloomHashes - 1))).as("j")
    def bit = expr(
      s"""cast(conv(substring(md5(concat(cast(j as string), ':', url)),
          1, 8), 16, 10) as bigint) % $BloomBits""")
    val bits = known.select(col("url"), hashes)
      .withColumn("bit", bit).select("bit").distinct()

    val passes = urls.select(col("url"), hashes)
      .withColumn("bit", bit)
      .join(broadcast(bits), "bit")
      .groupBy("url")
      .agg(countDistinct(col("j")).as("nj"))
      .filter(col("nj") === BloomHashes)
      .select(col("url"), lit(1L).as("bloom_pass"))

    urls
      .withColumn("is_member",
        (col("doc_id") % 3 =!= 0).cast("long"))
      .join(passes, Seq("url"), "left")
      .withColumn("bloom_pass", coalesce(col("bloom_pass"), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("is_member")).as("n_members"),
        sum(col("bloom_pass")).as("n_bloom_pass"),
        sum(when(col("bloom_pass") === 1L && col("is_member") === 0L, 1L)
          .otherwise(0L)).as("n_false_positives"))
      .withColumn("fp_permille", expr(
        """CASE WHEN n_candidates - n_members = 0 THEN 0L
           ELSE n_false_positives * 1000 div (n_candidates - n_members)
           END"""))
      .orderBy("source")
  }
}
