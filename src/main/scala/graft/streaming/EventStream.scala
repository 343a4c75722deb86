package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
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
    * replayed no-op) must not mint a store version: every version is a
    * commit, so a quiet stream would otherwise grow the log by one
    * commit per trigger doing nothing and fold the store once per
    * [[graft.sources.ChunkStore.MaxLiveDirs]] triggers. take(1) is a
    * bounded action — never a full count of the batch. */
  private def batchIsEmpty(
      batch: Dataset[org.apache.spark.sql.Row]): Boolean =
    batch.take(1).isEmpty

  /** Post-merge retention for the streaming sinks: with `keepLast`
    * set, the data directories no snapshot among the newest N versions
    * reads are vacuumed after each merge — a long-running stream
    * otherwise keeps every folded-away directory
    * ([[graft.sources.ChunkStore.vacuumVersions]]; ≥2 keeps the
    * previous snapshot whole for a reader that resolved it just before
    * the commit). */
  private def maybeVacuum(storeRoot: String,
      keepLast: Option[Int]): Unit =
    keepLast.foreach { k =>
      graft.sources.ChunkStore.vacuumVersions(storeRoot, math.max(2, k))
      ()
    }

  /** The product name and version every streamed chunk carries. */
  private val StreamProduct = "stream"
  private val StreamVersion = "v1"

  /** The reference's whole WRITE path as one Structured Streaming job
    * (readStream pages → chunk → embed → merge): each micro-batch of
    * (url, content) markdown pages runs the SAME heading-aware chunker
    * and hermetic embedder as the batch path — one typed per-row
    * kernel, embarrassingly parallel, no shuffle before the store
    * merge — and merges into the versioned chunk store. Chunk rows
    * carry the DocumentChunk identity columns plus the embedding, so a
    * streamed store answers the same retrieval queries as a batch-built
    * one. At-least-once redelivery converges: chunk ids are content
    * hashes and the merge replaces whole urls
    * ([[graft.sources.ChunkStore.upsertVersioned]]'s contract).
    *
    * Every chunk is embedded: with the local embedder, probing the
    * store for reusable embeddings costs more than embedding (measured
    * with `graft.TimeQuery` on the three stream store rows), and the
    * URL-diff layer already skips unchanged pages before they reach
    * this sink. */
  def ingestStream(pages: DataFrame, storeRoot: String,
      checkpointDir: String, vacuumKeepLast: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        if (!batchIsEmpty(batch)) {
          val embedded = batch.select("url", "content")
            .as[(String, String)]
            .flatMap { case (url, md) =>
              graft.operators.Chunker
                .chunkMarkdown(md, StreamProduct, StreamVersion, url)
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
    * chunks from the chunk store by one commit that retracts them
    * (reference markdown-store 404-delete, doc2vec.ts:1973-1986).
    * Idempotent per url set — re-deleting an absent url is a no-op in
    * CONTENT and in STORAGE: the batch's urls come to the driver, one
    * action finds those the store holds, and a micro-batch whose
    * tombstones match nothing mints no version, so a long-running 404
    * stream of absent urls cannot grow the log. At-least-once
    * redelivery thus converges, matching [[ingestStream]]'s contract.
    * An empty store stays empty (no version is ever minted). */
  def deleteStream(tombstones: DataFrame, storeRoot: String,
      checkpointDir: String, vacuumKeepLast: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    tombstones.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        if (!batchIsEmpty(batch)) {
          graft.sources.ChunkStore.readLatest(s, storeRoot).foreach { stored =>
            import s.implicits._
            val urls = batch.select("url").distinct().as[String].collect()
            val hits = stored.filter(col("url").isin(urls.toSeq: _*))
              .select("url").distinct().as[String].collect()
            if (hits.nonEmpty) {
              graft.sources.ChunkStore.commit(s, storeRoot, None, hits.toSeq)
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
    * (4 incremental store merges), then return the resulting versioned
    * store's LATEST contents. The DuckDB oracle reproduces the BATCH
    * chunker's output for the same pages (the doc_chunk_markdown
    * derivation), so a hash match proves the streamed store is
    * bit-identical to what the batch path builds — chunk ids, indices,
    * sections, content — after multiple micro-batch merges.
    *
    * Scale: chunk+embed is the same per-row kernel as the batch path
    * (no shuffle before the merge); the store merge is per-micro-batch
    * url-replacement, so state never accumulates in the query. */
  def streamBatchParity(s: SparkSession, dir: String): DataFrame =
    parityRun(s, dir, deletePhase = false)

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
    parityRun(s, dir, deletePhase = true)

  /** Protocol rows prove PROTOCOL correctness (multi-micro-batch
    * versioned merges, purge, re-sync) — their evidential value is in the
    * number of merges crossed, not the corpus size, so the staged
    * fixture is capped. The cap sits above the sf0.01 correctness
    * corpus (500 docs — the DuckDB gate output is unchanged) and keeps
    * the sf0.1 bench from re-embedding a 5,000-doc corpus per sync per
    * rep, which round 11 measured at ~20% of the whole bench. */
  val ParityFixtureDocs = 1000L

  /** RE-SYNC parity: a 200-doc slice is ingested, then the SAME pages
    * are delivered again as a second streaming sync (fresh checkpoint,
    * the at-least-once world's full re-crawl). The second sync
    * re-chunks and re-embeds every page and replaces every url, and the
    * final store must STILL hash-match the batch derivation — proving a
    * full redundant re-sync leaves the store bit-identical. */
  def streamResyncParity(s: SparkSession, dir: String): DataFrame =
    parityRun(s, dir, deletePhase = false, resyncPhase = true,
      docCap = 200)

  /** The store rows: batch/delete parity keep the 4-micro-batch ingest
    * contract; the resync row runs 2+2 (two syncs; per-trigger
    * streaming overhead dominates this row, and two batches per sync
    * already cross a batch boundary). The staged page and tombstone
    * files are pure functions of the corpus slice; the store and the
    * checkpoints live in the run's work dir. */
  private def parityRun(s: SparkSession, dir: String,
      deletePhase: Boolean, resyncPhase: Boolean = false,
      docCap: Long = ParityFixtureDocs): DataFrame = {
    val docs = graft.Tables.documents(s, dir).filter(col("doc_id") < docCap)
    val url = concat(lit("doc://"), col("doc_id")).as("url")
    val nFiles = if (resyncPhase) 2 else 4
    Replay.staged(
      s"parity_in_p${docCap}_${nFiles}_${StageCache.dirKey(dir)}") { d =>
      docs.select(url, concat(lit("# "), col("source"), lit("\n\n## "),
          col("lang"), lit("\n\n"), col("text")).as("content"))
        .repartition(nFiles).write.parquet(s"$d/in")
      Replay.stamp(s"$d/in")
    } { (in, work) =>
      val store = s"$work/store"
      def runIngest(ckpt: String): Unit = {
        val q = ingestStream(Replay.read(s, in, Seq("in")), store,
          s"$work/$ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      runIngest("ckpt")
      if (resyncPhase)
        // the same pages again through a FRESH checkpoint: a fully
        // redundant second sync (the at-least-once world's re-crawl)
        runIngest("ckpt2")
      if (deletePhase)
        // the re-crawl's 404s arrive as a tombstone stream
        Replay.staged(s"parity_tomb_p${docCap}_${StageCache.dirKey(dir)}") {
          d =>
            docs.filter(col("doc_id") % 13 === 0).select(url)
              .repartition(2).write.parquet(s"$d/tomb")
            Replay.stamp(s"$d/tomb")
        } { (tomb, _) =>
          val q = deleteStream(Replay.read(s, tomb, Seq("tomb")), store,
            s"$work/ckpt_del")
          try q.processAllAvailable() finally q.stop()
        }
      // an empty corpus stages only empty files — no micro-batch ever
      // merges, the store is never created, and the row is 0 rows (the
      // oracle's batch derivation is empty too)
      val latest = graft.sources.ChunkStore.readLatest(s, store).getOrElse {
        import s.implicits._
        s.emptyDataset[graft.Chunk].toDF()
      }
      latest.select(col("url"),
          col("chunk_index").cast("long").as("chunk_index"),
          col("total_chunks").cast("long").as("total_chunks"),
          col("section"), col("chunk_id"), col("content"))
        .orderBy("url", "chunk_index")
        .localCheckpoint(true)
    }
  }

  /** Event cap for the event parity rows: like the store rows, their
    * evidence is in micro-batches crossed and watermark advances
    * survived, not corpus size. */
  val AggParityEvents = 20000L

  /** How an event row is staged for replay: its [[StageCache]] key, the
    * staged dirs it streams (in replay order), and the build that
    * writes them from the capped events. */
  private[graft] final case class Plan(key: String, dirs: Seq[String],
      build: (DataFrame, java.nio.file.Path) => Unit)

  /** One event parity row: how it is staged, whether its state lives in
    * RocksDB, the streaming query, and the batch read-back of what the
    * query emitted. */
  private[graft] final case class EventRow(plan: Plan, rocksdb: Boolean,
      query: DataFrame => DataFrame, readBack: DataFrame => DataFrame)

  /** The range plans share ONE staging per corpus ([[stageRanges]]):
    * the four time-range slices of the capped events, then each plan's
    * sentinel files. */
  private def rangePlan(sentinels: String*): Plan =
    Plan("events", "in0" +: sentinels, stageRanges)

  /** No sentinels. A stateless query (enrich) needs no watermark
    * flush; inner and semi join emission is MATCH-driven (both sides
    * replay in ts order and err_ts < click_ts puts every match in the
    * click's own batch or earlier, so a stalled final watermark only
    * retains state longer); the custom-state queries carry no
    * watermark node at all. */
  private[graft] val Slices: Plan = rangePlan()

  /** Two `__sentinel__` flush files. The final watermark only advances
    * past the last real window once MORE data arrives, and state
    * eviction runs one trigger after that: the first file advances the
    * watermark, the second triggers the batch that applies it. The
    * sentinels' own window/session never closes, so they are never
    * emitted. */
  private[graft] val Flush: Plan = rangePlan("flush1", "flush2")

  /** Three files of one click and one error sentinel each. The joins
    * filter by event type below their watermark nodes, so they would
    * never see a `__sentinel__` row; the outer rows' null emission rides
    * state EVICTION, and under the lagged watermark
    * (statefulOperator.allowMultiple) the eviction pass of sentinel
    * batch k runs with batch k-1's watermark, so the corpus's final
    * hour of unmatched rows needs a third batch to flush. */
  private[graft] val Typed: Plan = rangePlan("typed1", "typed2", "typed3")

  /** `repartitionByRange(4, ts)` slices in `in0` (the stamp replays them
    * oldest first, so no real event ever falls behind the watermark),
    * then every range plan's sentinel files: one row per sentinel type
    * at 48 h past the corpus, user and event id -1. */
  private def stageRanges(events: DataFrame,
      base: java.nio.file.Path): Unit = {
    import events.sparkSession.implicits._
    events.repartitionByRange(4, col("ts")).write.parquet(s"$base/in0")
    val future = new java.sql.Timestamp(
      tsBounds(events)._2 + 48L * 3600 * 1000)
    val sentinels = Flush.dirs.tail.map(_ -> Seq("__sentinel__")) ++
      Typed.dirs.tail.map(_ -> Seq("click", "error"))
    sentinels.foreach { case (d, types) =>
      types.map(t => (-1L, future, -1L, t, 0.0)).toDF(events.columns.toIndexedSeq: _*)
        .coalesce(1).write.parquet(s"$base/$d")
    }
    Replay.stamp(("in0" +: sentinels.map(_._1)).map(d => s"$base/$d"): _*)
  }

  /** The capped events every event row replays. */
  private def capped(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir).filter(col("event_id") < AggParityEvents)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** (first, last) event time in ms; (0, 0) when there are no events. */
  private def tsBounds(events: DataFrame): (Long, Long) = {
    val b = events.agg(min(col("ts")), max(col("ts"))).head()
    if (b.isNullAt(0)) (0L, 0L)
    else (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
  }

  /** Each event's time quartile (0..3) over [lo, hi]. */
  private def quartile(lo: Long, hi: Long): Column =
    least(lit(3), floor((unix_millis(col("ts")) - lit(lo)) * 4.0 /
      lit((hi - lo + 1).toDouble))).cast("int")

  /** The one runner of the event rows: the row's staged dirs stream one
    * file per trigger through its query into an append parquet sink in
    * a protocol session; the pinned read-back of the sink is the
    * result. On an empty corpus the result is the read-back of an empty
    * frame of the query's own output schema. */
  private[graft] def replayEvents(s: SparkSession, dir: String,
      row: EventRow): DataFrame = {
    val events = capped(s, dir)
    if (events.take(1).isEmpty)
      return row.readBack(s.createDataFrame(
        s.sparkContext.emptyRDD[Row], row.query(events).schema))
    Replay.staged(s"replay_${row.plan.key}_${StageCache.dirKey(dir)}")(
        row.plan.build(events, _)) { (in, work) =>
      val stream = Replay.read(protocolSession(s, row.rocksdb), in,
        row.plan.dirs)
      val q = row.query(stream).writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      if (row.rocksdb) requireRocksdbState(new java.io.File(s"$work/ckpt"))
      row.readBack(s.read.parquet(s"$work/out")).localCheckpoint(true)
    }
  }

  /** Self-pin of the RocksDB rows: the checkpoint must hold RocksDB
    * snapshot artifacts (NN.zip / NN.changelog; the default provider
    * writes NN.delta) — a dropped conf would silently fall back and
    * still "pass". */
  private def requireRocksdbState(ckpt: java.io.File): Unit = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else Seq(f)
    val names = files(new java.io.File(ckpt, "state")).map(_.getName)
    require(names.exists(n => n.endsWith(".zip") ||
        n.endsWith(".changelog")) && !names.exists(_.endsWith(".delta")),
      s"RocksDB state artifacts missing — provider fell back: " +
        names.take(10).mkString(","))
  }

  private def readWindows(emitted: DataFrame): DataFrame =
    emitted.select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy("window_start_us", "event_type")

  /** Windowed-aggregation parity as an ORACLE row: [[windowedCounts]]
    * (5-minute tumbling windows, 10-minute watermark, append mode) run
    * as a real multi-micro-batch streaming query over time-range-split
    * event files, hash-matched against the plain batch aggregation in
    * DuckDB. Time-ordered replay keeps every event inside the watermark
    * — so the emitted set must equal the batch result EXACTLY; any state
    * lost or double-counted across the micro-batch merges, any window
    * closed early or dropped late, is a hash mismatch. */
  def streamWindowParity(s: SparkSession, dir: String): DataFrame =
    replayEvents(s, dir,
      EventRow(Flush, rocksdb = false, windowedCounts, readWindows))

  /** [[streamWindowParity]] on the RocksDB state store — identical
    * query, identical staged replay, identical ORACLE (the two rows
    * share one DuckDB derivation): state-backend choice must be
    * invisible to results. RocksDB is the backend a 100 TB deployment
    * runs (state on executor-local disk, not heap); the run REQUIREs
    * RocksDB snapshot artifacts in the checkpoint so a silent fallback
    * to the default provider can never pass as parity. */
  def streamRocksdbParity(s: SparkSession, dir: String): DataFrame =
    replayEvents(s, dir,
      EventRow(Flush, rocksdb = true, windowedCounts, readWindows))

  /** Session-window parity as an ORACLE row: [[sessionWindows]]
    * (30-minute gap sessions, per user, 10-minute watermark) streamed
    * the same way, against DuckDB's gaps-and-islands derivation
    * (`session_end` = last event + gap, Spark's session_window end).
    * Sessions spanning micro-batch boundaries must merge across state,
    * and close only when the watermark passes their end. */
  def streamSessionParity(s: SparkSession, dir: String): DataFrame =
    replayEvents(s, dir, EventRow(Flush, rocksdb = false, sessionWindows(_),
      _.select(unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start_us")))

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
    * event_id rides along purely as the ORDER BY tie-breaker: the
    * (ts_us, user_id, event_type) prefix is tie-free at today's SFs
    * but not guaranteed unique. */
  def streamEnrichParity(s: SparkSession, dir: String): DataFrame = {
    // materialize the dim once: the stream re-plans (and re-broadcasts)
    // the static side EVERY micro-batch, so without this each trigger
    // re-runs the customer×nation join from the parquet scans
    lazy val dim = graft.Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .join(graft.Tables.nation(s, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("c_mktsegment"))
      .localCheckpoint(true)
    replayEvents(s, dir, EventRow(Slices, rocksdb = false,
      _.join(broadcast(dim), col("user_id") === col("c_custkey"),
          "left_outer")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"),
          coalesce(col("n_name"), lit("unknown")).as("nation"),
          coalesce(col("c_mktsegment"), lit("unknown")).as("segment")),
      _.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"), col("nation"),
          col("segment"))
        .orderBy("ts_us", "user_id", "event_type", "event_id")))
  }

  /** Child session for the event rows' streaming queries.
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
      rocksdb: Boolean): SparkSession = {
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
    // The event rows opt out of no-data micro-batches: the flush
    // sentinels already provide the flush a no-data batch exists for
    // (see [[Flush]]), the inner joins emit matches only on data
    // batches, and the custom-state rows use NoTimeout — so the extra
    // empty batch after every watermark advance (each paying
    // state-store instance commits across all partitions, x2 sides for
    // the join) buys nothing for any of them. Measured medians in
    // SCALEPROBE.md; oracle rows re-matched at sf0.01.
    child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    child
  }

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
    joinParity(s, dir, "inner")

  /** Stream-stream LEFT OUTER interval join as an ORACLE row — the
    * semantics the inner row cannot pin: an unmatched click emits
    * exactly once, with nulls, and only AFTER the watermark has passed
    * its join window (emitting it earlier would be wrong if a matching
    * error could still arrive; never emitting it loses the row). The
    * typed sentinel files push the final watermark 48 h past the
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
    joinParity(s, dir, "left_outer")

  /** Stream-stream FULL OUTER interval join as an ORACLE row — the one
    * join mode the family still lacked: BOTH sides' unmatched rows must
    * surface exactly once with nulls, each riding its own side's state
    * eviction (an unmatched click flushes when the watermark passes its
    * join window; an unmatched error when it passes err_ts + 1 h, the
    * latest click that could still reference it). The DuckDB oracle is
    * the plain batch FULL JOIN with null ordering pinned on both
    * engines. Same bounded-state contract at 100 TB: both sides evict
    * at the watermark minus the interval bound. */
  def streamFullOuterJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParity(s, dir, "full_outer")

  /** Stream-stream LEFT SEMI interval join as an ORACLE row — the last
    * join mode Spark's symmetric hash join supports that the family
    * lacked: a click surfaces EXACTLY ONCE iff at least one error
    * matched inside its interval, with no error columns in the output.
    * The semantics the inner row cannot pin: a click matching three
    * errors emits one row here (the inner row emits three), so the
    * join must remember per-left-row matched state across micro-batches
    * — a re-emission on a second match in a later batch, or a miss when
    * the first match arrives after the click, is a hash mismatch
    * against DuckDB's EXISTS. Like the other modes, state is
    * watermark-evicted on both sides at 100 TB. */
  def streamSemiJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParity(s, dir, "left_semi")

  /** Stream-stream RIGHT OUTER interval join as an ORACLE row —
    * completes the join-mode family (inner, left/right/full outer,
    * left semi): an unmatched ERROR surfaces exactly once with a null
    * click side when the watermark passes the last click that could
    * still reference it (err_ts + 1 h), while matched rows emit as the
    * inner join does. Mirror of the LEFT OUTER row, exercising the
    * opposite side's state-eviction emission; same bounded-state
    * contract. Oracle: DuckDB's batch RIGHT JOIN with NULLS FIRST
    * pinned on both engines. */
  def streamRightOuterJoinParity(s: SparkSession, dir: String): DataFrame =
    joinParity(s, dir, "right_outer")

  /** The five join rows. NO sentinel filter inside the streaming query:
    * a filter on a left-side column is pushed below the click branch's
    * EventTimeWatermark node (observed in the physical plan), which
    * would remove the typed sentinel rows BEFORE the watermark they
    * exist to advance. The sentinel rows never surface on their own
    * either — their eviction bound (future + 1 h) lies past the final
    * watermark — so they are dropped on the read-back side, belt and
    * braces. Inner/left rows always carry the click-side id, so
    * click_id != -1 suffices; a FULL/RIGHT OUTER unmatched-error row has
    * a NULL click_id (which != -1 would silently drop), so there the
    * coalesced user column is the discriminator: sentinel rows on
    * EITHER side carry user -1, real events never do. Ordering:
    * click_id is null for unmatched errors and err_ts_us for unmatched
    * clicks — NULLS FIRST explicitly on both engines (Spark defaults
    * nulls-first on ASC, DuckDB nulls-LAST), with user_id + err_ts_us
    * completing a deterministic key for the null-click rows. */
  private def joinParity(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val errCols = Seq(unix_micros(col("err_ts")).as("err_ts_us"),
      col("err_value"))
    val readBack: DataFrame => DataFrame = joinType match {
      case "left_semi" => _.filter(col("click_id") =!= -1L)
        .select(col("click_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_ts_us"))
        .orderBy("click_id")
      case "full_outer" | "right_outer" => _.filter(col("user_id") =!= -1L)
        .select(Seq(col("click_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_ts_us")) ++ errCols: _*)
        .orderBy(col("click_id").asc_nulls_first, col("user_id"),
          col("err_ts_us").asc_nulls_first, col("err_value"))
      case _ => _.filter(col("click_id") =!= -1L)
        .select(Seq(col("click_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_ts_us")) ++ errCols: _*)
        .orderBy("click_id", "err_ts_us")
    }
    val plan =
      if (joinType == "inner" || joinType == "left_semi") Slices else Typed
    replayEvents(s, dir, EventRow(plan, rocksdb = false,
      clickErrorJoin(_, joinType), readBack))
  }

  /** Custom-state parity as an ORACLE row: [[sessionStates]]
    * (flatMapGroupsWithState, per-user running totals) streamed over
    * the same chronological replay. Each micro-batch emits one
    * cumulative update per touched user; the LAST update per user
    * (the one with the maximal n_events — strictly increasing, so
    * unambiguous) must equal the plain batch aggregation: state
    * carried across every micro-batch with nothing lost or double
    * counted. */
  def streamStateParity(s: SparkSession, dir: String): DataFrame =
    runningTotalsParity(s, dir, tws = false)

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
    runningTotalsParity(s, dir, tws = true)

  private def runningTotalsParity(s: SparkSession, dir: String,
      tws: Boolean): DataFrame =
    replayEvents(s, dir, EventRow(Slices, rocksdb = tws,
      stream => (if (tws) twsRunningTotals _ else sessionStates _)(
        stream.sparkSession, stream).toDF(),
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          round(max_by(col("total_value"), col("n_events")), 2)
            .as("total_value"))
        .orderBy("user_id")))

  /** Exactly-once ingestion parity as an ORACLE row: the at-least-once
    * world's event dedup. The staged replay deterministically plants
    * BOTH duplicate shapes a redelivering source produces — within-
    * batch duplicates (every `event_id % 101 == 0` row appears twice
    * in its own slice) and cross-batch redeliveries (every
    * `event_id % 5 == 0` row of slice k is delivered AGAIN in slice
    * k+1) — then streams the 4 time-quartile slices one file per
    * micro-batch through `withWatermark(ts, delay)
    * .dropDuplicatesWithinWatermark("event_id")`, with `delay` = one
    * slice's time width + 1 h margin so every redelivery lands inside
    * the dedup guarantee window at ANY corpus scale (watermark after
    * batch k-1 sits a full margin below slice k-1's oldest event —
    * nothing redeliverable is evicted or late). The DuckDB oracle is
    * the plain batch DISTINCT of the real events: a duplicate leaking
    * through (state lost across a micro-batch boundary, or evicted
    * before the redelivery landed) or a first occurrence suppressed is
    * a hash mismatch.
    *
    * Scale: dedup state is keyed by event_id and evicted at
    * `ts + delay` as the watermark passes — bounded by the redelivery
    * horizon regardless of stream length, the exact contract that
    * makes exactly-once ingestion viable at 100 TB (state never holds
    * the corpus, only the watermark window). */
  def streamDedupParity(s: SparkSession, dir: String): DataFrame = {
    lazy val (lo, hi) = tsBounds(capped(s, dir))
    val dirs = (0 to 3).map(k => s"in$k")
    val plan = Plan("dedup", dirs, { (events, base) =>
      val sliced = events.withColumn("slice", quartile(lo, hi))
        .localCheckpoint(true)
      def slice(k: Int) = sliced.filter(col("slice") === k).drop("slice")
      (0 to 3).foreach { k =>
        val withinDups = slice(k).filter(col("event_id") % 101 === 0)
        val redelivered =
          if (k == 0) slice(k).limit(0)
          else slice(k - 1).filter(col("event_id") % 5 === 0)
        slice(k).unionAll(withinDups).unionAll(redelivered)
          .coalesce(1).write.parquet(s"$base/in$k")
      }
      Replay.stamp(dirs.map(d => s"$base/$d"): _*)
    })
    // one slice's width plus margin: watermark after batch k-1 =
    // max(k-1) - delay <= min(k-1) - 1h, so slice k-1's state is
    // fully alive and none of its redeliveries arrive late
    replayEvents(s, dir, EventRow(plan, rocksdb = false,
      dedupWithinWatermark(_,
        s"${(hi - lo + 1) / 4 + 3600 * 1000L} milliseconds"),
      _.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy("event_id")))
  }

  /** Watermark LATE-DATA semantics as an ORACLE row — the complement
    * of [[streamWindowParity]]: that row proves time-ordered replay
    * loses nothing; this one pins exactly what the watermark DROPS
    * when data arrives out of order. The four time-quartile slices
    * replay as 0, 2, 3, 1 — slice 1 is delivered LAST, two slices late
    * — so every slice-1 row sits below even the LATE-EVENTS watermark,
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
    * [[Flush]]; the builder REQUIRES the late construction to be
    * decidable (slice 2 advances the watermark past slice 1) so a
    * pathological corpus fails loudly instead of silently mismatching.
    *
    * Scale: this is the semantics that bounds state at 100 TB — the
    * watermark is the contract that lets Spark evict closed windows;
    * the row pins that eviction drops late stragglers deterministically
    * rather than corrupting closed aggregates. */
  def streamLateParity(s: SparkSession, dir: String): DataFrame = {
    val dirs = (0 to 5).map(i => s"in$i")
    val plan = Plan("late", dirs, { (capped, base) =>
      import s.implicits._
      val events = capped.select("ts", "event_type", "value")
      val (lo, hi) = tsBounds(events)
      val sliced = events.withColumn("slice", quartile(lo, hi))
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
      val future = new java.sql.Timestamp(hi + 48L * 3600 * 1000)
      val sentinel = Seq((future, "__sentinel__", 0.0))
        .toDF("ts", "event_type", "value")
      // replay order: slice 0, slice 2, slice 3, slice 1 (LATE),
      // sentinel, sentinel
      val files = Seq(0, 2, 3, 1)
        .map(k => sliced.filter(col("slice") === k).drop("slice")) ++
        Seq(sentinel, sentinel)
      files.zip(dirs).foreach { case (df, d) =>
        df.coalesce(1).write.parquet(s"$base/$d") }
      Replay.stamp(dirs.map(d => s"$base/$d"): _*)
    })
    replayEvents(s, dir,
      EventRow(plan, rocksdb = false, windowedCounts, readWindows))
  }

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
