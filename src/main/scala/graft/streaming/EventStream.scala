package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}
import org.apache.spark.sql.types._

/** Per-user session state for the stateful path (top-level for encoder
  * codegen). */
case class UserSessionState(userId: Long, nEvents: Long,
    totalValue: Double, lastTsMicros: Long)
case class SessionUpdate(user_id: Long, n_events: Long,
    total_value: Double)

/** [[EventStream.sessionStates]]' running-totals contract re-expressed
  * on Spark 4's arbitrary-state API (`transformWithState`): per-user
  * cumulative event count and value total in a named [[ValueState]],
  * one cumulative update emitted per touched key per micro-batch.
  * Top-level (not nested in the object) so the executor-side encoder
  * codegen sees a stable class. TTL is NONE — the parity contract is
  * exact equality with the batch aggregation, which unexpired state
  * alone guarantees; production deployments bound idle keys with a
  * processing-time [[TTLConfig]] instead of the fMGWS timeout dance. */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long, Double), SessionUpdate] {
  @transient private var totals: ValueState[UserSessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[UserSessionState]("totals",
      org.apache.spark.sql.Encoders.product[UserSessionState],
      TTLConfig.NONE)

  override def handleInputRows(userId: Long,
      rows: Iterator[(Long, Long, Double)],
      timerValues: TimerValues): Iterator[SessionUpdate] = {
    val prev =
      if (totals.exists()) totals.get()
      else UserSessionState(userId, 0L, 0.0, 0L)
    var n = prev.nEvents
    var total = prev.totalValue
    var lastTs = prev.lastTsMicros
    rows.foreach { case (_, tsUs, v) =>
      n += 1; total += v; if (tsUs > lastTs) lastTs = tsUs
    }
    totals.update(UserSessionState(userId, n, total, lastTs))
    Iterator.single(SessionUpdate(userId, n, total))
  }
}

/** Structured Streaming surface (SURVEY.md §2.10 "Streaming"): the
  * reference is batch-with-watermarks, so streaming is the engine's
  * extension point — the same event schema processed incrementally with
  * event-time watermarks.
  *
  * Scale: windowed aggregation state is keyed by (window, event_type);
  * the 10-minute watermark bounds state size regardless of input volume.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an events directory. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** 5-minute tumbling windows per event type with a 10-minute
    * event-time watermark (bounded state; late data beyond the watermark
    * is dropped). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Gap-based session windows per user — the streaming analog of the
    * q15 batch sessionization: `session_window` merges events whose
    * gaps stay under `gap` into one growing window, and the watermark
    * closes (and evicts) sessions once event time passes their end —
    * bounded state at any input volume, where a groupBy over a derived
    * session id would buffer users forever. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** An EMPTY micro-batch (a trigger that found only empty files, or a
    * replayed no-op) must not mint a store version: the versioned
    * layout writes a FULL copy per version, so a quiet stream would
    * otherwise grow the store by one corpus per trigger doing nothing.
    * take(1) is a bounded action — never a full count of the batch. */
  private def batchIsEmpty(
      batch: Dataset[org.apache.spark.sql.Row]): Boolean =
    batch.take(1).isEmpty

  /** Post-merge retention for the streaming sinks: with `keepLast`
    * set, all but the newest N versions are vacuumed after each merge
    * — a long-running stream otherwise accumulates one full store
    * copy per micro-batch ([[graft.sources.ChunkStore.vacuumVersions]]
    * keeps ≥2 so a reader racing the pointer flip stays safe). */
  private def maybeVacuum(storeRoot: String,
      keepLast: Option[Int]): Unit =
    keepLast.foreach { k =>
      graft.sources.ChunkStore.vacuumVersions(storeRoot, math.max(2, k))
      ()
    }

  /** Streaming upsert sink: each micro-batch merges into the versioned
    * chunk store through `foreachBatch` — the same plan-level
    * upsert-by-url the batch path uses, applied per batch. Because the
    * upsert is idempotent per url-set, at-least-once re-delivery of a
    * batch converges to the same store state (the streaming-sink
    * contract without a transactional table format). Returns the
    * started query; callers own its lifecycle. `vacuumKeepLast`
    * bounds store growth for long-running streams (see
    * [[maybeVacuum]]). */
  def upsertStream(chunks: DataFrame, storeRoot: String,
      checkpointDir: String, vacuumKeepLast: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    chunks.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batchIsEmpty(batch)) {
          graft.sources.ChunkStore.upsertVersioned(
            batch.sparkSession, storeRoot, batch)
          maybeVacuum(storeRoot, vacuumKeepLast)
        }
        ()
      }
      .start()

  /** The reference's whole WRITE path as one Structured Streaming job
    * (readStream pages → chunk → embed → merge): each micro-batch of
    * (url, content) markdown pages runs the SAME heading-aware chunker
    * and hermetic embedder as the batch path — typed per-row kernels,
    * embarrassingly parallel, no shuffle before the store merge — and
    * merges into the versioned chunk store. Chunk rows carry the
    * DocumentChunk identity columns plus the embedding, so a streamed
    * store answers the same retrieval queries as a batch-built one.
    * At-least-once redelivery converges: chunk ids are content hashes
    * and the merge replaces whole urls ([[upsertStream]]'s contract). */
  /** Chunk-level EMBED SKIP for the streaming sink — the reference's
    * hash check (doc2vec.ts:515-553) applied per micro-batch: a chunk
    * id is the sha-256 of its url::content, so an id already in the
    * store proves the content is byte-identical and its stored
    * embedding is reusable. Returns the chunk frame with `embedding`
    * filled (reused or freshly computed) plus an `embedding_reused`
    * flag (callers drop it before the merge; tests read it).
    *
    * Scale shape: the 100 TB store is NEVER shuffled — the incoming
    * batch's ids (micro-batch-sized) BROADCAST onto one map-side pass
    * over the store to collect the hits, and the hits (≤ batch size)
    * broadcast back onto the incoming chunks. The embed kernel then
    * runs only on the misses. On a corpus where most syncs touch few
    * documents, this removes the dominant per-batch cost exactly like
    * the batch path's anti-join-before-embed. */
  private[graft] def embedWithReuse(chunks: DataFrame,
      stored: Option[DataFrame]): DataFrame = {
    val s = chunks.sparkSession
    import s.implicits._
    val hits = stored match {
      case Some(st) if st.columns.contains("embedding") =>
        st.select(col("chunk_id"), col("embedding"))
          .join(org.apache.spark.sql.functions
            .broadcast(chunks.select("chunk_id").distinct()), "chunk_id")
          .dropDuplicates("chunk_id")
          .withColumnRenamed("embedding", "stored_embedding")
      case _ => s.emptyDataset[(String, Array[Float])]
        .toDF("chunk_id", "stored_embedding")
    }
    chunks
      .join(org.apache.spark.sql.functions.broadcast(hits),
        Seq("chunk_id"), "left")
      .select(col("url"), col("chunk_id"), col("chunk_index"),
        col("total_chunks"), col("section"), col("content"),
        col("stored_embedding"))
      .as[(String, String, Int, Int, String, String, Option[Seq[Float]])]
      .map { case (url, cid, idx, total, section, content, storedEmb) =>
        val emb = storedEmb.map(_.toArray)
          .getOrElse(graft.functions.Embedder.embed(content))
        (url, cid, idx, total, section, content, emb, storedEmb.isDefined)
      }
      .toDF("url", "chunk_id", "chunk_index", "total_chunks",
        "section", "content", "embedding", "embedding_reused")
  }

  /** `embedReuse` selects the chunk-level embed-skip
    * ([[embedWithReuse]]): OFF by default because the URL-diff layer
    * already skips unchanged PAGES before they reach this sink, and
    * with a cheap local embedder the store probe costs more than
    * embedding; turn it ON when the embedder is the expensive step (a
    * batched service) and syncs re-deliver overlapping content — the
    * probe (two broadcasts, store never shuffled) then replaces the
    * dominant per-batch cost. */
  def ingestStream(pages: DataFrame, storeRoot: String,
      checkpointDir: String, productName: String = "stream",
      version: String = "v1", vacuumKeepLast: Option[Int] = None,
      embedReuse: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        if (!batchIsEmpty(batch)) {
          val embedded =
            if (embedReuse) {
              val chunks = batch.select("url", "content")
                .as[(String, String)]
                .flatMap { case (url, md) =>
                  graft.operators.Chunker
                    .chunkMarkdown(md, productName, version, url)
                    .map(c => (c.url, c.chunk_id, c.chunk_index,
                      c.total_chunks, c.section, c.content))
                }
                .toDF("url", "chunk_id", "chunk_index", "total_chunks",
                  "section", "content")
              embedWithReuse(chunks,
                graft.sources.ChunkStore.readLatest(s, storeRoot))
                .drop("embedding_reused")
            } else
              batch.select("url", "content")
                .as[(String, String)]
                .flatMap { case (url, md) =>
                  graft.operators.Chunker
                    .chunkMarkdown(md, productName, version, url)
                    .map(c => (c.url, c.chunk_id, c.chunk_index,
                      c.total_chunks, c.section, c.content,
                      graft.functions.Embedder.embed(c.content)))
                }
                .toDF("url", "chunk_id", "chunk_index", "total_chunks",
                  "section", "content", "embedding")
          graft.sources.ChunkStore.upsertVersioned(s, storeRoot, embedded)
          maybeVacuum(storeRoot, vacuumKeepLast)
        }
        ()
      }
      .start()

  /** Streaming DELETION sink — the 404/deleted-url purge path as a
    * stream: each micro-batch of tombstone urls (a crawl's 404
    * responses, an S3 listing's deleted keys) removes those urls'
    * chunks from the versioned store, the same
    * stored-anti-join-tombstones plan the batch cleanup uses
    * ([[graft.operators.Sync.cleanup]]; reference markdown-store
    * 404-delete, doc2vec.ts:1973-1986). Idempotent per url set —
    * re-deleting an absent url is a no-op in CONTENT and in STORAGE:
    * a micro-batch whose tombstones match nothing in the store (probed
    * with a semi-join `take(1)` before rewriting) mints no version, so
    * a long-running 404 stream of absent urls cannot grow the store by
    * one full copy per no-op batch. At-least-once redelivery thus
    * converges, matching [[upsertStream]]'s contract. An empty store
    * stays empty (no version is ever minted). */
  def deleteStream(tombstones: DataFrame, storeRoot: String,
      checkpointDir: String, vacuumKeepLast: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    tombstones.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        if (!batchIsEmpty(batch)) {
          graft.sources.ChunkStore.readLatest(s, storeRoot).foreach { stored =>
            val urls = batch.select("url").distinct().localCheckpoint(true)
            // no-op probe: a batch-sized broadcast semi-join that stops
            // at the first hit — absent-url batches touch no storage
            val hits = stored
              .join(org.apache.spark.sql.functions.broadcast(urls),
                Seq("url"), "left_semi")
            if (hits.take(1).nonEmpty) {
              graft.sources.ChunkStore.writeVersion(s, storeRoot,
                stored.join(urls, Seq("url"), "left_anti"))
              maybeVacuum(storeRoot, vacuumKeepLast)
            }
          }
        }
        ()
      }
      .start()

  /** Stream/batch parity as an ORACLE row: stage the documents table
    * as synthetic markdown pages split across 4 parquet files, ingest
    * them through [[ingestStream]] one file per micro-batch
    * (maxFilesPerTrigger=1 → 4 incremental store merges), then return
    * the resulting versioned store's LATEST contents. The DuckDB
    * oracle reproduces the BATCH chunker's output for the same pages
    * (the doc_chunk_markdown derivation), so a hash match proves the
    * streamed store is bit-identical to what the batch path builds —
    * chunk ids, indices, sections, content — after multiple
    * micro-batch merges, regardless of how the file planner batched
    * the pages.
    *
    * Scale: chunk+embed is the same per-row kernel as the batch path
    * (no shuffle before the merge); the store merge is per-micro-batch
    * url-replacement, so state never accumulates in the query. */
  def streamBatchParity(s: SparkSession, dir: String): DataFrame =
    parityRun(s, dir, deletePhase = false,
      docFilter = Some(col("doc_id") < ParityFixtureDocs),
      cacheTag = "p1000")

  /** Streaming DELETION parity as an ORACLE row — [[streamBatchParity]]
    * plus the purge path: after the 4 ingest micro-batches build the
    * full store, a SECOND streaming query feeds 404 tombstones for
    * every 13th document (the testdata's broken-link convention)
    * through [[deleteStream]] in 2 micro-batches. The row returns the
    * final store; the DuckDB oracle is the batch derivation WITHOUT the
    * tombstoned docs, so a hash match proves streamed deletes leave
    * exactly the batch cleanup's survivor set — across micro-batches,
    * with every surviving chunk bit-identical. */
  def streamDeleteParity(s: SparkSession, dir: String): DataFrame =
    parityRun(s, dir, deletePhase = true,
      docFilter = Some(col("doc_id") < ParityFixtureDocs),
      cacheTag = "p1000")

  /** Protocol rows prove PROTOCOL correctness (multi-micro-batch
    * versioned merges, purge, reuse) — their evidential value is in the
    * number of merges crossed, not the corpus size, so the staged
    * fixture is capped. The cap sits above the sf0.01 correctness
    * corpus (500 docs — the DuckDB gate output is unchanged) and keeps
    * the sf0.1 bench from re-embedding a 5,000-doc corpus per sync per
    * rep, which round 11 measured at ~20% of the whole bench. */
  val ParityFixtureDocs = 1000L

  /** RE-SYNC parity — the embed-skip's oracle row: a 200-doc slice is
    * ingested with `embedReuse = true`, then the SAME pages are
    * delivered again as a second streaming sync (fresh input files +
    * checkpoint, the at-least-once world's full re-crawl). The second
    * sync re-chunks but reuses every stored embedding (chunk ids all
    * hit), and the final store must STILL hash-match the batch
    * derivation — proving the reuse path leaves the store
    * bit-identical across a full redundant re-sync. Flag-level reuse
    * evidence is pinned separately in the embedWithReuse test. */
  def streamResyncParity(s: SparkSession, dir: String): DataFrame =
    parityRun(s, dir, deletePhase = false, resyncPhase = true,
      docFilter = Some(col("doc_id") < 200), cacheTag = "p200")

  /** Event cap for the aggregation-parity rows: like the store-parity
    * rows, their evidence is in micro-batches crossed and watermark
    * advances survived, not corpus size. */
  val AggParityEvents = 20000L

  /** Windowed-aggregation parity as an ORACLE row: [[windowedCounts]]
    * (5-minute tumbling windows, 10-minute watermark, append mode) run
    * as a real multi-micro-batch streaming query over time-range-split
    * event files, hash-matched against the plain batch aggregation in
    * DuckDB. Time-ordered replay (repartitionByRange on ts + ascending
    * file mtimes) keeps every event inside the watermark — so the
    * emitted set must equal the batch result EXACTLY; any state lost or
    * double-counted across the 4 micro-batch merges, any window closed
    * early or dropped late, is a hash mismatch. */
  def streamWindowParity(s: SparkSession, dir: String): DataFrame =
    aggParityRun(s, dir, session = false)

  /** Session-window parity as an ORACLE row: [[sessionWindows]]
    * (30-minute gap sessions, per user, 10-minute watermark) streamed
    * the same way, against DuckDB's gaps-and-islands derivation
    * (`session_end` = last event + gap, Spark's session_window end).
    * Sessions spanning micro-batch boundaries must merge across state,
    * and close only when the watermark passes their end. */
  def streamSessionParity(s: SparkSession, dir: String): DataFrame =
    aggParityRun(s, dir, session = true)

  /** Shared protocol for the two aggregation-parity rows. The final
    * watermark only advances past the last real window once MORE data
    * arrives, and state eviction runs one trigger after that — so two
    * sentinel files (same far-future timestamp, 48 h past the corpus)
    * are staged after the real ranges: the first advances the
    * watermark, the second triggers the batch that applies it. The
    * sentinels' own window/session never closes, so they are never
    * emitted — the oracle is pure batch SQL over the real events. */
  /** Stream-static enrichment parity as an ORACLE row: the most common
    * streaming pattern of all — each micro-batch left-outer joins a
    * BROADCAST static dimension (customer × nation, with every 3rd
    * customer withheld so the null path is live) and emits enriched
    * rows immediately. STATELESS by design: no watermark, no state
    * store — the static side is re-broadcast per micro-batch and the
    * stream side never buffers, which is why this shape scales to
    * unbounded streams for free. The DuckDB oracle is the plain batch
    * left join; a dropped unmatched row, a duplicated match across the
    * micro-batch boundary, or a stale dim snapshot is a hash mismatch.
    * Replays the 4 range slices WITHOUT the sentinel files — a
    * stateless query needs no watermark flush, so the two sentinel
    * trigger rounds would be pure overhead. */
  def streamEnrichParity(s: SparkSession, dir: String): DataFrame = {
    // event_id rides along purely as the ORDER BY tie-breaker: the
    // (ts_us, user_id, event_type) prefix is tie-free at today's SFs
    // but not guaranteed unique, and a tie at a larger corpus would
    // make Spark-vs-DuckDB row order nondeterministic (r15 ADVICE)
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts_us", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("nation", StringType),
          StructField("segment", StringType))))
    val (inBase, cached) = stageReplay(s, real,
      s"replay_enrich_${StageCache.dirKey(dir)}", nSentinels = 0)
    // materialize the dim once: the stream re-plans (and re-broadcasts)
    // the static side EVERY micro-batch, so without this each trigger
    // re-runs the customer×nation join from the parquet scans
    val dim = graft.Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .join(graft.Tables.nation(s, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("c_mktsegment"))
      .localCheckpoint(true)
    val work = java.nio.file.Files.createTempDirectory("enrichwork")
    val outDir = work.resolve("out").toString
    val sess = protocolSession(s)
    val stream = readStaged(sess, inBase, withEventId = true)
    val joined = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"),
        "left_outer")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"),
        coalesce(col("n_name"), lit("unknown")).as("nation"),
        coalesce(col("c_mktsegment"), lit("unknown")).as("segment"))
    val q = joined.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val result = s.read.parquet(outDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"),
        col("event_type"), round(col("value"), 2).as("value"),
        col("nation"), col("segment"))
      .orderBy("ts_us", "user_id", "event_type", "event_id")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  /** [[streamWindowParity]] on the RocksDB state store — identical
    * query, identical staged replay, identical ORACLE (the two rows
    * share one DuckDB derivation): state-backend choice must be
    * invisible to results. RocksDB is the backend a 100 TB deployment
    * runs (state on executor-local disk, not heap); the run REQUIREs
    * RocksDB snapshot artifacts in the checkpoint so a silent fallback
    * to the default provider can never pass as parity. */
  def streamRocksdbParity(s: SparkSession, dir: String): DataFrame =
    aggParityRun(s, dir, session = false, rocksdb = true)

  private def aggParityRun(s: SparkSession, dir: String,
      session: Boolean, rocksdb: Boolean = false): DataFrame = {
    import s.implicits._
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
    val emptySchema =
      if (session) StructType(Seq(
        StructField("session_start_us", LongType),
        StructField("session_end_us", LongType),
        StructField("user_id", LongType),
        StructField("n_events", LongType),
        StructField("total_value", DoubleType)))
      else StructType(Seq(
        StructField("window_start_us", LongType),
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("total_value", DoubleType)))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    val (inBase, cached) = stageReplay(s, real,
      s"replay_agg_${StageCache.dirKey(dir)}")
    val work = java.nio.file.Files.createTempDirectory("aggwork")
    val outDir = work.resolve("out").toString
    val stream = readStaged(
      protocolSession(s, rocksdb = rocksdb), inBase)
    val agg = if (session) sessionWindows(stream) else windowedCounts(stream)
    val q = agg.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    if (rocksdb) {
      // self-pin: the checkpoint must hold RocksDB snapshot artifacts
      // (NN.zip / NN.changelog; the default provider writes NN.delta)
      // — a dropped conf would silently fall back and still "pass"
      val stateRoot = work.resolve("ckpt").resolve("state").toFile
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
        else Seq(f)
      val names = files(stateRoot).map(_.getName)
      require(names.exists(n => n.endsWith(".zip") ||
          n.endsWith(".changelog")) && !names.exists(_.endsWith(".delta")),
        s"RocksDB state artifacts missing — provider fell back: " +
          names.take(10).mkString(","))
    }
    val emitted = s.read.parquet(outDir)
    val result =
      if (session) emitted.select(
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("user_id"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start_us")
      else emitted.select(
        unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"),
        round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start_us", "event_type")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  /** Stages a chronological event replay for the parity rows: 4
    * time-range slices with ascending file mtimes (the source replays
    * oldest first, so no real event ever falls behind the watermark),
    * then two sentinel files (same far-future timestamp, user -1) that
    * flush the final watermark. Session-cached under `cacheKey` when
    * the bench's [[StageCache]] is active (the staged replay is a pure
    * function of the corpus — cached files keep their mtimes, so
    * replay order is unchanged); returns (staging root, cached). */
  /** Stamp a staged dir's part files with explicit, all-in-the-past,
    * name-ordered ascending mtimes: the file source replays oldest
    * mtime first, so replay order is fully deterministic — including
    * WITHIN a multi-part dir. The single stamping implementation for
    * every replay stager (three copies drifted before r15 hoisted it:
    * the single-part stagers had silently dropped the name sort). */
  private def stampParts(d: String, t: Long): Unit =
    // listFiles() returns null (not empty) for a missing/unreadable
    // dir — fail with the path, not an anonymous NPE (r15 ADVICE)
    Option(new java.io.File(d).listFiles())
      .getOrElse(sys.error(s"staged replay dir missing or unreadable: $d"))
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex
      .foreach { case (f, i) => f.setLastModified(t + i * 60000L) }

  private def stageReplay(s: SparkSession, real: DataFrame,
      cacheKey: String, nSentinels: Int = 2,
      sentinelTypes: Seq[String] = Seq("__sentinel__")):
      (java.nio.file.Path, Boolean) = {
    import s.implicits._
    StageCache.resolve(cacheKey) { base =>
      val t0 = System.currentTimeMillis() - 3600 * 1000L
      real.repartitionByRange(4, col("ts")).write
        .mode("overwrite").parquet(s"$base/in0")
      stampParts(s"$base/in0", t0)
      // sentinel count is per-consumer: stateless rows (enrich) need
      // no watermark flush and take 0; the stateful rows take the
      // standard 2 (advance, then apply); the OUTER join takes 3 —
      // its null emission rides state EVICTION, and under the lagged
      // watermark (statefulOperator.allowMultiple) the eviction pass
      // of sentinel batch k runs with batch k-1's watermark, so the
      // corpus's final hour of unmatched rows needs one extra batch
      // under the far-future watermark to flush
      if (nSentinels > 0) {
        val maxTs = real.agg(max(col("ts"))).head().getTimestamp(0)
        val future =
          new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)
        // sentinelTypes: consumers that FILTER BY event_type before
        // their watermark node (the joins) never see a '__sentinel__'
        // row, so their watermark would stall at the last real event —
        // they stage one sentinel row per REAL type instead (id/user
        // -1, filtered out of the result after the join)
        val sentinelBase = sentinelTypes.map(t => (future, -1L, t, 0.0))
          .toDF("ts", "user_id", "event_type", "value")
        // mirror any extra caller columns (e.g. event_id) so every
        // staged file carries one schema
        val sentinel = real.columns.foldLeft(sentinelBase) { (df, c) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(-1L)) }
        (1 to nSentinels).foreach { i =>
          sentinel.coalesce(1).write.mode("overwrite")
            .parquet(s"$base/in$i")
          stampParts(s"$base/in$i", t0 + (9 + i) * 60000L)
        }
      }
    }
  }

  private def readStaged(s: SparkSession,
      base: java.nio.file.Path, withEventId: Boolean = false): DataFrame = {
    val core = Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType))
    val fields =
      if (withEventId) StructField("event_id", LongType) +: core else core
    s.readStream
      .schema(StructType(fields))
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in*")
  }

  /** Child session for the stateful parity rows' streaming queries.
    * The state-store instance count per stateful operator is pinned to
    * shuffle.partitions at query start, and 32 instances × checkpoint
    * IO × micro-batch (× two sides for the interval join) dominated
    * these 20k-event protocol runs — the round-13 bench read the join
    * row at 16.5 s of almost pure state-store overhead. Four
    * partitions leave results bit-identical (state partitioning is
    * invisible to aggregation/join semantics — the DuckDB oracles
    * pin exactly that) at an eighth of the per-trigger cost. At
    * production scale the SAME queries run with production partition
    * counts; this is a fixture-size-to-partition-count match, not a
    * semantics switch. */
  private def protocolSession(s: SparkSession,
      rocksdb: Boolean = false): SparkSession = {
    val child = s.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "4")
    // RocksDB state store: the 100 TB state backend (state spills to
    // local disk instead of living on the executor heap the way the
    // default HDFS-backed provider's maps do). The rocksdb parity row
    // runs the SAME windowed aggregation against it and shares the
    // default-backend row's oracle — bit-identical results across
    // state backends is the portability contract.
    if (rocksdb)
      child.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    // The staged-replay stateful rows opt out of no-data micro-batches:
    // the two-sentinel protocol already provides the flush a no-data
    // batch exists for (the first sentinel DATA file advances the
    // watermark, the second triggers the batch that applies it — see
    // aggParityRun), the join's inner join emits matches only on data
    // batches, and the custom-state row uses NoTimeout — so the extra
    // empty batch after every watermark advance (each paying
    // state-store instance commits across all partitions, x2 sides for
    // the join) buys nothing for any of them. Measured medians in
    // SCALEPROBE.md; oracle rows re-matched at sf0.01.
    child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // dev-only instrumentation (-Dgraft.stream.progress=true): dump
    // every micro-batch's durationMs/state metrics to stderr so the
    // per-trigger cost profile of a parity row is measurable (guide
    // §1: decide whether time goes to addBatch, walCommit, state
    // commit, or query planning before touching anything). Registered
    // ONCE per underlying StreamingQueryManager — child sessions share
    // the manager, so a per-makeChild registration accumulated
    // duplicate listeners and printed each progress line once per
    // prior row (r20 ADVICE).
    if (sys.props.get("graft.stream.progress").contains("true") &&
        progressListenerManagers.putIfAbsent(child.streams,
          java.lang.Boolean.TRUE) == null)
      child.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            System.err.println("[stream-progress] " + e.progress.json)
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
            ()
        })
    child
  }

  /** Managers that already carry the dev progress listener (see
    * [[protocolSession]] — dedup across child sessions sharing one
    * StreamingQueryManager). */
  private val progressListenerManagers = new java.util.concurrent
    .ConcurrentHashMap[
      org.apache.spark.sql.streaming.StreamingQueryManager,
      java.lang.Boolean]()

  /** Stream-stream join parity as an ORACLE row: [[clickErrorJoin]]
    * (watermarked interval self-join — each click joins the same
    * user's errors from the preceding hour) over the chronological
    * replay, hash-matched against the batch interval join in DuckDB.
    * Inner joins emit matches as soon as both sides have arrived, so
    * completeness needs no sentinel flush — but state EVICTION is
    * live: the 10-minute watermark delay must keep every error an
    * upcoming click can still reference (the join range reaches 1 h
    * back; eviction trails the watermark by that same hour, so the
    * time-ordered slices stay inside the margin). An error evicted too
    * early, a match emitted twice across the micro-batch boundary, or
    * a boundary condition flipped (>= vs >) is a hash mismatch. */
  def streamJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParityRun(s, dir, "inner")

  /** Stream-stream LEFT OUTER interval join as an ORACLE row — the
    * semantics the inner row cannot pin: an unmatched click emits
    * exactly once, with nulls, and only AFTER the watermark has passed
    * its join window (emitting it earlier would be wrong if a matching
    * error could still arrive; never emitting it loses the row). The
    * two sentinel data files push the final watermark 48 h past the
    * corpus, so every held click flushes — matched rows with their
    * matches, unmatched ones with null err columns — and the DuckDB
    * oracle is the plain batch LEFT JOIN: a null row emitted early
    * (duplicated against its late match), suppressed entirely, or
    * emitted twice across the flush boundary is a hash mismatch.
    *
    * Scale: same bounded-state contract as the inner row — both sides
    * evict at the watermark minus the interval bound; the outer
    * emission rides the same eviction pass, costing nothing extra. */
  def streamOuterJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParityRun(s, dir, "left_outer")

  /** Stream-stream FULL OUTER interval join as an ORACLE row — the one
    * join mode the family still lacked: BOTH sides' unmatched rows must
    * surface exactly once with nulls, each riding its own side's state
    * eviction (an unmatched click flushes when the watermark passes its
    * join window; an unmatched error when it passes err_ts + 1 h, the
    * latest click that could still reference it). The DuckDB oracle is
    * the plain batch FULL JOIN with null ordering pinned on both
    * engines. Reuses the LEFT OUTER machinery end-to-end: typed
    * click+error sentinels (the event-type filters sit below the
    * watermark nodes) and the 3-sentinel replay for the lagged
    * eviction pass. Same bounded-state contract at 100 TB: both sides
    * evict at the watermark minus the interval bound. */
  def streamFullOuterJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParityRun(s, dir, "full_outer")

  /** Stream-stream LEFT SEMI interval join as an ORACLE row — the last
    * join mode Spark's symmetric hash join supports that the family
    * lacked: a click surfaces EXACTLY ONCE iff at least one error
    * matched inside its interval, with no error columns in the output.
    * The semantics the inner row cannot pin: a click matching three
    * errors emits one row here (the inner row emits three), so the
    * join must remember per-left-row matched state across micro-batches
    * — a re-emission on a second match in a later batch, or a miss when
    * the first match arrives after the click, is a hash mismatch
    * against DuckDB's EXISTS. Shares the outer rows' staged replay
    * (identical corpus, typed sentinels) so the bench stages it once;
    * like the other modes, state is watermark-evicted on both sides at
    * 100 TB. */
  def streamSemiJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParityRun(s, dir, "left_semi")

  /** Stream-stream RIGHT OUTER interval join as an ORACLE row —
    * completes the join-mode family (inner, left/right/full outer,
    * left semi): an unmatched ERROR surfaces exactly once with a null
    * click side when the watermark passes the last click that could
    * still reference it (err_ts + 1 h), while matched rows emit as the
    * inner join does. Mirror of the LEFT OUTER row, exercising the
    * opposite side's state-eviction emission; same staged replay, same
    * bounded-state contract. Oracle: DuckDB's batch RIGHT JOIN with
    * NULLS FIRST pinned on both engines. */
  def streamRightOuterJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParityRun(s, dir, "right_outer")

  private def joinParityRun(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"),
        col("event_id"))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(
          if (joinType == "left_semi") Seq(
            StructField("click_id", LongType),
            StructField("user_id", LongType),
            StructField("click_ts_us", LongType))
          else Seq(
            StructField("click_id", LongType),
            StructField("user_id", LongType),
            StructField("click_ts_us", LongType),
            StructField("err_ts_us", LongType),
            StructField("err_value", DoubleType))))
    // Sentinel count is per-JOIN-MODE (r21, guide §1.2 — the per-batch
    // fixed cost of these protocol rows IS the row, so batches that
    // buy no evidence are pure overhead):
    //   - inner and left_semi emission is MATCH-driven: a click
    //     surfaces when its match arrives (both sides replay in ts
    //     order, and err_ts < click_ts puts every match in the click's
    //     own batch or earlier), never on state eviction — so the
    //     final-watermark flush batches contribute NOTHING to the
    //     output, exactly like the stateless enrich row, and the two
    //     modes take 0 sentinels (4 micro-batches, not 6/7). A stalled
    //     final watermark only RETAINS state longer — it can never
    //     drop an emission. Oracle re-proven (same hash) at both gate
    //     SFs after the change.
    //   - the outer rows' null emission DOES ride state eviction, and
    //     under the lagged multi-stateful-operator watermark the
    //     eviction pass of sentinel batch k runs with batch k-1's
    //     watermark — they keep the 3 typed sentinels.
    val (inBase, cached) =
      if (joinType == "inner" || joinType == "left_semi")
        stageReplay(s, real, s"replay_join_${StageCache.dirKey(dir)}",
          nSentinels = 0)
      else stageReplay(s, real,
        s"replay_ojoin_${StageCache.dirKey(dir)}", nSentinels = 3,
        sentinelTypes = Seq("click", "error"))
    val work = java.nio.file.Files.createTempDirectory("joinwork")
    val outDir = work.resolve("out").toString
    val stream = protocolSession(s).readStream
      .schema(StructType(Seq(
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("event_id", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$inBase/in*")
    // NO sentinel filter inside the streaming query: a filter on a
    // left-side column is pushed below the click branch's
    // EventTimeWatermark node (observed in the physical plan), which
    // silently removes the typed sentinel rows BEFORE the watermark
    // they exist to advance. The sentinel rows also never surface on
    // their own — their eviction bound (future + 1 h) lies past the
    // final watermark — so they are dropped on the batch read-back
    // side below, belt and braces.
    val q = clickErrorJoin(stream, joinType).writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // Sentinel drop: inner/left rows always carry the click-side id, so
    // click_id != -1 suffices. A FULL OUTER unmatched-error row has a
    // NULL click_id (which != -1 would silently drop) — there the
    // coalesced user column is the discriminator: sentinel rows on
    // EITHER side carry user -1, real events never do.
    // Ordering: click_id is null for unmatched errors and err_ts_us for
    // unmatched clicks — NULLS FIRST explicitly on both engines (Spark
    // defaults nulls-first on ASC, DuckDB nulls-LAST), with user_id +
    // err_ts_us completing a deterministic key for the null-click rows.
    val raw = s.read.parquet(outDir)
    val result =
      if (joinType == "left_semi")
        raw.filter(col("click_id") =!= -1L)
          .select(col("click_id"), col("user_id"),
            unix_micros(col("click_ts")).as("click_ts_us"))
          .orderBy("click_id")
      else if (joinType == "full_outer" || joinType == "right_outer")
        raw.filter(col("user_id") =!= -1L)
          .select(col("click_id"), col("user_id"),
            unix_micros(col("click_ts")).as("click_ts_us"),
            unix_micros(col("err_ts")).as("err_ts_us"), col("err_value"))
          .orderBy(col("click_id").asc_nulls_first, col("user_id"),
            col("err_ts_us").asc_nulls_first, col("err_value"))
      else
        raw.filter(col("click_id") =!= -1L)
          .select(col("click_id"), col("user_id"),
            unix_micros(col("click_ts")).as("click_ts_us"),
            unix_micros(col("err_ts")).as("err_ts_us"), col("err_value"))
          .orderBy("click_id", "err_ts_us")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  /** Custom-state parity as an ORACLE row: [[sessionStates]]
    * (flatMapGroupsWithState, per-user running totals) streamed over
    * the same chronological replay. Each micro-batch emits one
    * cumulative update per touched user; the LAST update per user
    * (the one with the maximal n_events — strictly increasing, so
    * unambiguous) must equal the plain batch aggregation: state
    * carried across every micro-batch with nothing lost or double
    * counted. The sentinel user's updates are excluded. */
  def streamStateParity(s: SparkSession, dir: String): DataFrame =
    statefulParityRun(s, dir, tws = false)

  /** The SAME running-totals contract on `transformWithState` — Spark
    * 4's arbitrary-state successor to flatMapGroupsWithState
    * ([[RunningTotalsProcessor]]: named ValueState, cumulative update
    * per touched key per batch) — sharing [[streamStateParity]]'s
    * staged replay AND its DuckDB oracle verbatim: the two APIs must
    * be result-indistinguishable, state carried across every
    * micro-batch either way. transformWithState only runs on the
    * RocksDB state store provider (the 100 TB backend), so this row
    * also pins the new API × RocksDB combination end-to-end; the
    * provider refusing (or silently falling back — the operator
    * itself throws on any other provider) fails the row loudly. */
  def streamTwsParity(s: SparkSession, dir: String): DataFrame =
    statefulParityRun(s, dir, tws = true)

  private def statefulParityRun(s: SparkSession, dir: String,
      tws: Boolean): DataFrame = {
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("user_id", LongType),
          StructField("n_events", LongType),
          StructField("total_value", DoubleType))))
    // 0 sentinels (r21): neither flatMapGroupsWithState(NoTimeout) nor
    // transformWithState(TimeMode.None) carries a WATERMARK node —
    // emission is one cumulative update per touched key per DATA batch,
    // and the read-back takes the max per user — so the agg rows' two
    // far-future sentinel batches processed one user(-1) row each and
    // emitted nothing that survives the filter: two pure-overhead
    // triggers (~0.5 s each) per invocation. Own staging key (the agg
    // rows still need their 2-sentinel replay for window close).
    val (inBase, cached) = stageReplay(s, real,
      s"replay_state_${StageCache.dirKey(dir)}", nSentinels = 0)
    val work = java.nio.file.Files.createTempDirectory("statework")
    val outDir = work.resolve("out").toString
    val sess = protocolSession(s, rocksdb = tws)
    val updates =
      if (tws) twsRunningTotals(sess, readStaged(sess, inBase))
      else sessionStates(sess, readStaged(sess, inBase))
    val q = updates.toDF()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val result = s.read.parquet(outDir)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        round(max_by(col("total_value"), col("n_events")), 2)
          .as("total_value"))
      .orderBy("user_id")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  /** Exactly-once ingestion parity as an ORACLE row: the at-least-once
    * world's event dedup. The staged replay deterministically plants
    * BOTH duplicate shapes a redelivering source produces — within-
    * batch duplicates (every `event_id % 101 == 0` row appears twice
    * in its own slice) and cross-batch redeliveries (every
    * `event_id % 5 == 0` row of slice k is delivered AGAIN in slice
    * k+1) — then streams the 4 slices one file per micro-batch through
    * `withWatermark(ts, delay).dropDuplicatesWithinWatermark
    * ("event_id")`, with `delay` = one slice's time width + 1 h margin
    * so every redelivery lands inside the dedup guarantee window at
    * ANY corpus scale (watermark after batch k-1 sits a full margin
    * below slice k-1's oldest event — nothing redeliverable is evicted
    * or late). The DuckDB oracle is the plain batch DISTINCT of the
    * real events: a duplicate leaking through (state lost across a
    * micro-batch boundary, or evicted before the redelivery landed) or
    * a first occurrence suppressed is a hash mismatch.
    *
    * Scale: dedup state is keyed by event_id and evicted at
    * `ts + delay` as the watermark passes — bounded by the redelivery
    * horizon regardless of stream length, the exact contract that
    * makes exactly-once ingestion viable at 100 TB (state never holds
    * the corpus, only the watermark window). */
  def streamDedupParity(s: SparkSession, dir: String): DataFrame = {
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("ts"), col("event_id"), col("user_id"),
        col("event_type"), col("value"))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("ts_us", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType))))
    val b = real.agg(min(col("ts")), max(col("ts"))).head()
    val lo = b.getTimestamp(0).getTime
    val span = math.max(1L, b.getTimestamp(1).getTime - lo + 1)
    // delay covers one replay slice plus margin: watermark after batch
    // k-1 = max(k-1) - delay <= min(k-1) - 1h, so slice k-1's state is
    // fully alive and none of its redeliveries arrive late
    val delayMs = span / 4 + 3600 * 1000L
    val (inBase, cached) = StageCache.resolve(
      s"replay_dedup_${StageCache.dirKey(dir)}") { base =>
      val sliced = real.withColumn("slice",
        least(lit(3), floor((unix_millis(col("ts")) - lit(lo)) * 4.0 /
          lit(span.toDouble))).cast("int"))
        .localCheckpoint(true)
      val t0 = System.currentTimeMillis() - 3600 * 1000L
      (0 to 3).foreach { k =>
        val slice = sliced.filter(col("slice") === k).drop("slice")
        val withinDups = slice.filter(col("event_id") % 101 === 0)
        val redelivered =
          if (k == 0) slice.limit(0)
          else sliced.filter(col("slice") === k - 1).drop("slice")
            .filter(col("event_id") % 5 === 0)
        slice.unionAll(withinDups).unionAll(redelivered)
          .coalesce(1).write.mode("overwrite").parquet(s"$base/in$k")
        stampParts(s"$base/in$k", t0 + k * 60000L)
      }
    }
    val work = java.nio.file.Files.createTempDirectory("dedupwork")
    val outDir = work.resolve("out").toString
    val stream = protocolSession(s).readStream
      .schema(StructType(Seq(
        StructField("ts", TimestampType),
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$inBase/in*")
    val q = stream.withWatermark("ts", s"$delayMs milliseconds")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val result = s.read.parquet(outDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy("event_id")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  /** Watermark LATE-DATA semantics as an ORACLE row — the complement
    * of [[streamWindowParity]]: that row proves time-ordered replay
    * loses nothing; this one pins exactly what the watermark DROPS
    * when data arrives out of order. The four time-range slices replay
    * as 0, 2, 3, 1 — slice 1 is delivered LAST, two slices late — so
    * every slice-1 row sits below even the LATE-EVENTS watermark,
    * which under Spark's multi-stateful-operator default
    * (`statefulOperator.allowMultiple=true`) lags the eviction
    * watermark by one micro-batch: a row is dropped against the
    * watermark of the PREVIOUS batch, not the current one (verified
    * empirically on 4.1.2 — a row one batch late is still aggregated
    * and its window emitted at close; two batches late it is dropped;
    * with `allowMultiple=false` one batch suffices). The windowed
    * aggregation must therefore drop ALL of slice 1 and NOTHING else
    * (boundary windows straddling the slice-1/slice-2 cut were emitted
    * when the eviction watermark passed them and the late slice-1 rows
    * must not resurrect them). The DuckDB oracle recomputes the same
    * quartile assignment and aggregates `slice <> 1`: a late row
    * leaking into a window, or an on-time row dropped with it, is a
    * hash mismatch.
    * Two far-future sentinel data files flush slice 3's windows, as in
    * [[aggParityRun]]; the builder REQUIRES the late construction to
    * be decidable (slice 2 advances the watermark past slice 1) so a
    * pathological corpus fails loudly instead of silently mismatching.
    *
    * Scale: this is the semantics that bounds state at 100 TB — the
    * watermark is the contract that lets Spark evict closed windows;
    * the row pins that eviction drops late stragglers deterministically
    * rather than corrupting closed aggregates. */
  def streamLateParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val real = graft.Tables.events(s, dir)
      .filter(col("event_id") < AggParityEvents)
      .select(col("ts"), col("event_type"), col("value"))
    if (real.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("window_start_us", LongType),
          StructField("event_type", StringType),
          StructField("n", LongType),
          StructField("total_value", DoubleType))))
    val (inBase, cached) = StageCache.resolve(
      s"replay_late_${StageCache.dirKey(dir)}") { base =>
      val b = real.agg(min(col("ts")), max(col("ts"))).head()
      val lo = b.getTimestamp(0).getTime
      val maxTs = b.getTimestamp(1)
      val span = math.max(1L, maxTs.getTime - lo + 1)
      val sliced = real.withColumn("slice",
        least(lit(3), floor((unix_millis(col("ts")) - lit(lo)) * 4.0 /
          lit(span.toDouble))).cast("int"))
        .localCheckpoint(true)
      // decidability: by slice-1's batch, the LAGGED late-events
      // watermark is max(slice 2) - 10 min (the watermark the previous
      // batch ran with); it must sit past ALL of slice 1, else
      // "slice 1 is dropped" is not what Spark computes
      val mx = sliced.groupBy(col("slice"))
        .agg(max(unix_millis(col("ts"))).as("mx"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      require(mx.contains(1) && mx.contains(2) &&
        mx(2) - 10 * 60000L > mx(1),
        s"late-parity corpus not decidable: slice maxes $mx")
      val future = new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)
      val sentinel = Seq((future, "__sentinel__", 0.0))
        .toDF("ts", "event_type", "value")
      // replay order: slice 0, slice 2, slice 3, slice 1 (LATE),
      // sentinel, sentinel
      val files: Seq[DataFrame] = Seq(0, 2, 3, 1)
        .map(k => sliced.filter(col("slice") === k).drop("slice")) ++
        Seq(sentinel, sentinel)
      val t0 = System.currentTimeMillis() - 3600 * 1000L
      files.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$base/in$i")
        stampParts(s"$base/in$i", t0 + i * 60000L)
      }
    }
    val work = java.nio.file.Files.createTempDirectory("latework")
    val outDir = work.resolve("out").toString
    val stream = protocolSession(s).readStream
      .schema(StructType(Seq(
        StructField("ts", TimestampType),
        StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", 1).parquet(s"$inBase/in*")
    val q = windowedCounts(stream).writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val result = s.read.parquet(outDir)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy("window_start_us", "event_type")
    val pinned = result.localCheckpoint(true)
    deleteRecursively(work.toFile)
    if (!cached) deleteRecursively(inBase.toFile)
    pinned
  }

  private def parityRun(s: SparkSession, dir: String,
      deletePhase: Boolean, resyncPhase: Boolean = false,
      docFilter: Option[Column] = None,
      cacheTag: String = "all"): DataFrame = {
    def phase[T](label: String)(f: => T): T =
      if (sys.props.contains("graft.parity.debug")) {
        val t0 = System.nanoTime()
        val r = f
        println(f"[parity] $label%-16s ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      } else f
    val base = java.nio.file.Files.createTempDirectory("streamparity")
    val store = base.resolve("store").toString
    val pages = graft.Tables.documents(s, dir)
      .filter(docFilter.getOrElse(lit(true)))
      .select(concat(lit("doc://"), col("doc_id")).as("url"),
        concat(lit("# "), col("source"), lit("\n\n## "), col("lang"),
          lit("\n\n"), col("text")).as("content"))
    val pageSchema = StructType(Seq(
      StructField("url", StringType), StructField("content", StringType)))
    // batch/delete parity keep the r10 4-micro-batch contract; the
    // resync row runs 2+2 (two syncs; per-trigger streaming overhead
    // dominates this row, and two batches per sync already exercise
    // cross-batch reuse). The staged page files are session-cached
    // (pure function of the corpus slice); store/checkpoints are
    // always fresh.
    val nFiles = if (resyncPhase) 2 else 4
    val (inBase, cachedIn) = StageCache.resolve(
      s"parity_in_${cacheTag}_${nFiles}_${StageCache.dirKey(dir)}") { d =>
      phase("stage_input") {
        pages.repartition(nFiles).write.mode("overwrite")
          .parquet(d.resolve("in").toString) }
    }
    def runIngest(ckpt: String): Unit = {
      val stream = s.readStream.schema(pageSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inBase.resolve("in").toString)
      val q = ingestStream(stream, store, ckpt,
        embedReuse = resyncPhase)
      phase("ingest_stream") {
        try q.processAllAvailable() finally q.stop() }
    }
    runIngest(base.resolve("ckpt").toString)
    if (resyncPhase)
      // the same pages again through a FRESH checkpoint: a fully
      // redundant second sync (the at-least-once world's re-crawl)
      runIngest(base.resolve("ckpt2").toString)
    if (deletePhase) {
      // second run: the re-crawl's 404s arrive as a tombstone stream
      val (tombBase, cachedTomb) = StageCache.resolve(
        s"parity_tomb_${cacheTag}_${StageCache.dirKey(dir)}") { d =>
        graft.Tables.documents(s, dir)
          .filter(docFilter.getOrElse(lit(true)))
          .filter(col("doc_id") % 13 === 0)
          .select(concat(lit("doc://"), col("doc_id")).as("url"))
          .repartition(2)
          .write.mode("overwrite").parquet(d.resolve("tomb").toString)
      }
      val tombStream = s.readStream
        .schema(StructType(Seq(StructField("url", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(tombBase.resolve("tomb").toString)
      val dq = deleteStream(tombStream, store,
        base.resolve("ckpt_del").toString)
      try dq.processAllAvailable() finally dq.stop()
      if (!cachedTomb) deleteRecursively(tombBase.toFile)
    }
    // an empty corpus stages only empty files — no micro-batch ever
    // merges, the store is never created, and the row is 0 rows (the
    // oracle's batch derivation is empty too)
    val result = graft.sources.ChunkStore.readLatest(s, store) match {
      case Some(latest) => latest
        .select(col("url"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("total_chunks").cast("long").as("total_chunks"),
          col("section"), col("chunk_id"), col("content"))
        .orderBy("url", "chunk_index")
      case None => s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("url", StringType),
          StructField("chunk_index", LongType),
          StructField("total_chunks", LongType),
          StructField("section", StringType),
          StructField("chunk_id", StringType),
          StructField("content", StringType))))
    }
    // the returned frame reads LAZILY from the temp store, so pin it in
    // block storage (eager localCheckpoint) before deleting the tree —
    // as a registered bench row this otherwise leaks a corpus-sized
    // temp copy (input + versioned store + checkpoint) per invocation
    val pinned = phase("pin_result") { result.localCheckpoint(true) }
    phase("teardown") {
      deleteRecursively(base.toFile)
      if (!cachedIn) deleteRecursively(inBase.toFile)
    }
    pinned
  }

  private def deleteRecursively(f: java.io.File): Unit =
    graft.operators.Sync.deleteTree(f)

  /** Watermarked stream-stream interval join: each click joins error
    * events of the same user from the preceding hour. Both sides carry
    * watermarks and the join condition bounds the event-time range, so
    * state on BOTH sides is evicted as the watermark advances — the
    * scale-correct form of a streaming enrichment join (an unbounded
    * condition would buffer both streams forever). */
  def clickErrorJoin(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"),
        col("value").as("err_value"))
      .withWatermark("err_ts", "10 minutes")
    val joined = clicks.join(errors,
      col("user_id") === col("err_user") &&
        col("err_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("err_ts") < col("click_ts"), joinType)
    // a LEFT SEMI join's output carries only left-side columns
    if (joinType == "left_semi")
      joined.select(col("click_id"), col("user_id"), col("click_ts"))
    else
      // coalesce: inner/left rows always carry the click-side user, but
      // a FULL OUTER unmatched-error row has a null click side — its
      // user comes from err_user (values identical for inner/left)
      joined.select(col("click_id"),
        coalesce(col("user_id"), col("err_user")).as("user_id"),
        col("click_ts"), col("err_ts"), col("err_value"))
  }

  /** Streaming exact dedup with BOUNDED state: event_id-keyed
    * dropDuplicatesWithinWatermark — duplicate events arriving within
    * the watermark delay are dropped, and state for keys older than the
    * watermark is evicted. (Plain streaming dropDuplicates keeps every
    * key forever — the classic unbounded-state leak at 100 TB/day; the
    * within-watermark form is the scale-correct dedup for re-delivered
    * events.) */
  def dedupWithinWatermark(events: DataFrame,
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom stateful processing: per-user running session state via
    * flatMapGroupsWithState (the KeyValueGroupedDataset extension point
    * the reference's batch-only design leaves open).
    *
    * Timeout note: production deployments bound idle state with
    * EventTimeTimeout + a watermark. ProcessingTimeTimeout is avoided
    * here because it makes the query schedule timeout-only batches
    * indefinitely — `processAllAvailable()` (the test/CI drive) then
    * never quiesces. */
  def sessionStates(spark: SparkSession,
      events: DataFrame): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, Double)],
            state: GroupState[UserSessionState]) => {
          val prev = state.getOption
            .getOrElse(UserSessionState(userId, 0L, 0.0, 0L))
          var n = prev.nEvents
          var total = prev.totalValue
          var lastTs = prev.lastTsMicros
          rows.foreach { case (_, tsUs, v) =>
            n += 1; total += v; if (tsUs > lastTs) lastTs = tsUs
          }
          val next = UserSessionState(userId, n, total, lastTs)
          state.update(next)
          Iterator.single(SessionUpdate(userId, n, total))
        })
  }

  /** [[sessionStates]]' running-totals contract on `transformWithState`
    * (Spark 4's arbitrary-state API, [[RunningTotalsProcessor]]): same
    * input projection, same per-key cumulative update per micro-batch,
    * result-indistinguishable by construction — [[streamTwsParity]]
    * pins exactly that against the shared batch DuckDB oracle on the
    * RocksDB provider (the only provider the operator accepts). */
  def twsRunningTotals(spark: SparkSession,
      events: DataFrame): Dataset[SessionUpdate] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
