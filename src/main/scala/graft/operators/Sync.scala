package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
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

  /** The two 30-bit slices of a chunk id's xxhash64 whose per-url sums,
    * with the url's chunk count, are [[syncRun]]'s diff signature: a
    * multiset fingerprint that, unlike a sorted id list, aggregates
    * before the shuffle, so the diff moves a few numbers per url instead
    * of every stored chunk id. Two chunk multisets of one url compare
    * equal only when the count and both sums agree, a chance of about
    * 2^-60 for different content. Each sum stays far below a long's
    * range (2^30 per chunk). */
  private def lowSlice(id: Column): Column =
    xxhash64(id).bitwiseAND((1L << 30) - 1)
  private def highSlice(id: Column): Column = shiftrightunsigned(xxhash64(id), 34)

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

  /** Token chunks of an arbitrary (url, text) corpus as ONE row per
    * doc: `contents` are the non-blank trimmed `chunkSize`-character
    * pieces in text order, `chunk_ids` their sha2(url::content)
    * identities, `n_chunks` their count. A piece's position in the
    * arrays is its chunk_index and `n_chunks` its total_chunks, so
    * [[embedDelta]] numbers the chunks as it explodes them. A doc whose
    * text is null, empty or blank keeps its row with empty arrays.
    *
    * Scale: one narrow map over the docs: no shuffle, no sort, no
    * Window. Chunk rows exist only after [[embedDelta]] explodes the
    * docs a run actually processes, so an unchanged doc never becomes
    * chunk rows. */
  private[graft] def chunksOfUrls(docs: DataFrame,
      chunkSize: Int): DataFrame = {
    val text = col("text")
    val pieces = sequence(lit(0),
      ceil(length(text) / chunkSize).cast("int") - 1)
    val contents = coalesce(
      filter(transform(pieces,
        i => trim(substr(text, i * chunkSize + 1, lit(chunkSize)))),
        c => c =!= ""),
      array().cast("array<string>"))
    docs.select(col("url"), contents.as("contents"))
      .select(col("url"), col("contents"),
        transform(col("contents"),
          c => sha2(concat(col("url"), lit("::"), c), 256)).as("chunk_ids"),
        size(col("contents")).as("n_chunks"))
  }

  /** The embed stage of a sync run, shared by [[syncRun]] and
    * [[graft.sources.GitCode.codeRun]]: the chunk rows of `processed`
    * (a [[chunksOfUrls]] frame cut down to the docs the run processes)
    * as store rows, plus a `was_embedded` flag. A chunk whose id is
    * among the `reusable` stored rows reuses its stored embedding; only
    * new chunk content reaches the embedder (doc2vec.ts:515-553).
    *
    * Callers pass the stored rows of the processed urls, or the whole
    * store when they process every url. Both are exact: a chunk id
    * hashes its url, so a stored row of any other url can never match.
    * The same content under a new url (a moved doc) therefore re-embeds,
    * as the reference's point ids do.
    *
    * Scale: posexplode is a narrow map over the processed docs only,
    * and the reusable rows join as they are, with no deduplication, so
    * a run that restricts them to its processed urls broadcasts them
    * and never shuffles the store. */
  private[graft] def embedDelta(processed: DataFrame,
      reusable: DataFrame): DataFrame = {
    val rows = processed
      .select(col("url"), col("n_chunks").as("total_chunks"),
        posexplode(arrays_zip(col("chunk_ids"), col("contents"))))
      .select(col("url"), col("pos").as("chunk_index"),
        col("total_chunks"), col("col.chunk_ids").as("chunk_id"),
        col("col.contents").as("content"))
    // a chunk id stored twice (a url that repeats a piece of its text)
    // matches both copies. They carry one embedding, a function of the
    // content, and a join emits the matches of a row together, so the
    // first row of each (url, chunk_index) run is the row: no shuffle
    // deduplicates the stored side
    rows.join(reusable.select("chunk_id", "embedding"), Seq("chunk_id"), "left")
      .select(col("url"), col("chunk_index"), col("total_chunks"),
        col("chunk_id"), col("content"), col("embedding"))
      .as(ReuseRow)
      .mapPartitions { it =>
        var last: (String, Int) = null
        it.filter { r =>
          val first = last == null || last._1 != r._1 || last._2 != r._2
          last = (r._1, r._2)
          first
        }.map { case (u, i, t, id, c, e) =>
          (u, i, t, id, c,
            e.getOrElse(graft.functions.Embedder.embed(c)), e.isEmpty)
        }
      }(EmbeddedRow)
      .toDF("url", "chunk_index", "total_chunks", "chunk_id", "content",
        "embedding", "was_embedded")
  }

  /** [[embedDelta]]'s typed rows, derived once: an encoder derived per
    * call costs a sync tens of milliseconds of driver time. */
  private lazy val ReuseRow =
    Encoders.product[(String, Int, Int, String, String, Option[Array[Float]])]
  private lazy val EmbeddedRow =
    Encoders.product[(String, Int, Int, String, String, Array[Float], Boolean)]
  private[graft] lazy val StoredChunks = Encoders.product[StoredChunk]

  /** `rows` with `embedded` observing how many of them the embedder
    * produced (`was_embedded`), minus that flag: the frame a sync
    * commits, counted by the commit's own write. */
  private[graft] def observeEmbedded(rows: DataFrame,
      embedded: Observation): DataFrame =
    rows.observe(embedded, count(when(col("was_embedded"), 1)).as("n"))
      .drop("was_embedded")

  /** The count [[observeEmbedded]] took, once the commit wrote its
    * rows; 0 when it wrote none. */
  private[graft] def embeddedCount(embedded: Observation,
      written: Boolean): Long =
    if (written) embedded.get("n").asInstanceOf[Long] else 0L

  /** One complete incremental sync run — the reference's per-source run
    * loop (doc2vec.ts:675-790) composed from the operators above and the
    * chunk store's commit log:
    *
    *   1. chunk the incoming (url, text) batch into per-doc arrays;
    *   2. URL-diff its per-url chunk fingerprints ([[lowSlice]]) against
    *      the current store → new/updated/unchanged/deleted statuses; a
    *      batch that repeats a url fails here, before anything is
    *      written. The statuses other than `unchanged` come to the
    *      driver in one action, with the count of the unchanged urls;
    *   3. pick urls to process: new+updated, or ALL incoming when the
    *      previous run never marked `sync_complete` (forceFullSync,
    *      doc2vec.ts:700-712) — the interrupted-sync recovery bypass;
    *   4. chunk-level skip ([[embedDelta]]): chunks whose chunk_id is
    *      already stored reuse their stored embedding; only genuinely
    *      new chunk content reaches the embedder (doc2vec.ts:515-553);
    *   5. one store commit ([[graft.sources.ChunkStore.commit]]): the
    *      processed rows, retracting the older rows of the updated urls
    *      and, when the cleanup guard allows (no network errors, a
    *      complete scan), of the `deleted` ones — the urls that yielded
    *      no chunks, so a doc edited to blank loses its stored chunks on
    *      a clean run. A forced run retracts every url, so it writes a
    *      new base: its rows, plus the stored rows of the `deleted` urls
    *      when the guard keeps them. Every run mints one version, an
    *      empty commit when nothing changed;
    *   6. mark sync complete only on a clean run (hasNetworkErrors
    *      false), so a failed run leaves the force-bypass armed.
    *
    * Returns a one-row counters frame (reference SourceRunStats):
    * items_new/updated/unchanged/deleted, run_id, force_full_sync,
    * urls_processed, chunks_embedded, store_version. A url that yields
    * no chunks has no incoming signature, so it is never new or updated
    * and never counts in urls_processed.
    *
    * Scale: two passes and nothing materialized between them. The diff
    * pass chunks every incoming doc (a narrow map, one row per doc) and
    * aggregates both sides by url in one shuffle: a doc's chunk count
    * and fingerprint sums, and the store's partial sums per url; only
    * the changed urls reach the driver. The write pass reads `incoming`
    * again, cut to the processed urls below the chunking, so only those
    * docs are chunked again and exploded into chunk rows; reuse reads
    * only their urls' stored rows, and the commit writes only those rows
    * and counts the embedded ones as it writes. Embed and write work
    * follow the delta, not the store (but for a fold, once per
    * [[graft.sources.ChunkStore.MaxLiveDirs]] commits). An incremental
    * run costs four Spark jobs: the diff's shuffle stage and status
    * action, the broadcast of the reusable rows and the write. A forced
    * run into an empty store costs three, and reads `incoming` twice in
    * full. The flag read and write and the store's log fold run on the
    * driver. */
  def syncRun(s: SparkSession, incoming: DataFrame, storeRoot: String,
      statePath: String, runId: Long, urlPrefix: String = "",
      hasNetworkErrors: Boolean = false, scanIncomplete: Boolean = false,
      chunkSize: Int = 128): DataFrame = {
    import graft.sources.{ChunkStore, SyncState}
    val force = SyncState.forceFullSync(s, statePath, urlPrefix)
    val storedChunks = ChunkStore.readLatest(s, storeRoot)
      .getOrElse(s.emptyDataset(StoredChunks).toDF())

    // the diff: one url-keyed aggregate over both sides in one shuffle.
    // An incoming doc contributes its chunk count and fingerprint sums
    // (none when it has no chunks), a stored row its share of them
    def total(slice: Column => Column): Column =
      aggregate(transform(col("chunk_ids"), slice), lit(0L), _ + _)
    val none = lit(null).cast("long")
    val sides = chunksOfUrls(incoming, chunkSize)
      .select(col("url"), lit(1L).as("docs"),
        when(col("n_chunks") > 0, col("n_chunks").cast("long")).as("n"),
        total(lowSlice).as("lo"), total(highSlice).as("hi"),
        none.as("stored_n"), none.as("stored_lo"), none.as("stored_hi"))
      .unionByName(storedChunks.select(col("url"), lit(0L).as("docs"),
        none.as("n"), none.as("lo"), none.as("hi"), lit(1L).as("stored_n"),
        lowSlice(col("chunk_id")).as("stored_lo"),
        highSlice(col("chunk_id")).as("stored_hi")))
    val sig = Seq("n", "lo", "hi")
    val status = sides.groupBy("url")
      .agg(sum("docs").as("docs"), sig.map(c => max(c).as(c)) ++
        sig.map(c => sum(s"stored_$c").as(s"stored_$c")): _*)
      .select(col("url"),
        when(col("docs") > 1, raise_error(
            concat(lit("sync batch repeats url "), col("url"))))
          .when(col("n").isNull,
            when(col("stored_n").isNotNull, "deleted"))
          .when(col("stored_n").isNull, "new")
          .when(sig.map(c => col(c) =!= col(s"stored_$c")).reduce(_ || _),
            "updated")
          .otherwise("unchanged").as("status"))

    // one action after the shuffle: the changed urls' statuses and the
    // count of the unchanged ones (a url with no chunks on either side
    // has no status)
    val (changed, nUnchanged) = status.as(UrlStatus).rdd
      .aggregate((Vector.empty[(String, String)], 0L))(
        { case ((xs, n), r) => r._2 match {
            case null => (xs, n)
            case "unchanged" => (xs, n + 1)
            case _ => (xs :+ r, n) } },
        { case ((xs, n), (ys, m)) => (xs ++ ys, n + m) })
    val statuses = changed.groupMap(_._2)(_._1).withDefaultValue(Vector.empty)
    val upserted = statuses("new") ++ statuses("updated")
    val cleanup = !hasNetworkErrors && !scanIncomplete
    val (processed, reusable) =
      if (force) (chunksOfUrls(incoming, chunkSize), storedChunks)
      else (chunksOfUrls(incoming.filter(col("url").isin(upserted: _*)),
          chunkSize),
        storedChunks.filter(col("url").isin(upserted: _*)))
    val embedded = Observation()
    val rows = observeEmbedded(embedDelta(processed, reusable), embedded)

    // a forced run rewrites the store as its rows, plus the stored rows
    // of the urls it did not chunk when the cleanup guard keeps them
    val version =
      if (force) ChunkStore.commit(s, storeRoot, Some(
          if (cleanup) rows
          else rows.unionByName(storedChunks.join(
            processed.filter(col("n_chunks") > 0).select("url"), Seq("url"),
            "left_anti"))), Nil, replace = true)
      else ChunkStore.commit(s, storeRoot,
        Option.when(upserted.nonEmpty)(rows),
        statuses("updated") ++ (if (cleanup) statuses("deleted") else Nil))
    SyncState.markSyncComplete(s, statePath, urlPrefix, runId,
      hasNetworkErrors)

    def n(status: String): Long = statuses(status).size.toLong
    s.createDataFrame(java.util.List.of(Row(n("new"), n("updated"),
        nUnchanged, n("deleted"), runId, force,
        upserted.size + (if (force) nUnchanged else 0L),
        embeddedCount(embedded, force || upserted.nonEmpty), version)),
      Counters)
  }

  private lazy val UrlStatus = Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** [[syncRun]]'s counters row. */
  private val Counters = StructType(Seq("items_new", "items_updated",
      "items_unchanged", "items_deleted", "run_id", "force_full_sync",
      "urls_processed", "chunks_embedded", "store_version")
    .map(f => StructField(f,
      if (f == "force_full_sync") BooleanType else LongType, nullable = false)))

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
