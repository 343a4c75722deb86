package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStream

/** Pins the streaming windowed/session aggregation parity rows'
  * mechanics on the smoke corpus, plus the session_window boundary
  * semantics the DuckDB oracle encodes. The full hash gate is the
  * stream_window_parity / stream_session_parity DuckDB match; this
  * spec asserts the protocol promises — sentinel rows never leak into
  * the output, the emitted set equals the batch aggregation — with
  * readable failures. */
class StreamAggParitySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("staged-replay cache reuses inputs and leaves results identical") {
    import graft.streaming.StageCache
    val cache = java.nio.file.Files.createTempDirectory("stagecache")
    sys.props(StageCache.Prop) = cache.toString
    try {
      val first = EventStream.streamWindowParity(spark, dir).collect().toSeq
      // the replay landed in the cache with its completion marker
      val stagedDirs = cache.toFile.listFiles().filter(_.isDirectory)
      assert(stagedDirs.exists(d =>
        d.getName.startsWith("replay_agg_") &&
          new java.io.File(d, "_STAGED").exists()),
        s"expected a marker-gated replay dir, got " +
          s"${stagedDirs.map(_.getName).mkString(",")}")
      val stamp = stagedDirs.head.lastModified()
      // second invocation: same result, inputs NOT re-staged
      val second = EventStream.streamWindowParity(spark, dir).collect().toSeq
      assert(first == second, "cached replay changed the result")
      assert(stagedDirs.head.lastModified() == stamp,
        "second run re-staged the cached inputs")
      // the state row shares the agg rows' staged replay (same corpus)
      EventStream.streamStateParity(spark, dir).collect()
      assert(cache.toFile.listFiles()
        .count(d => d.getName.startsWith("replay_agg_")) == 1,
        "state row must reuse the agg rows' replay, not stage its own")
    } finally {
      sys.props.remove(StageCache.Prop)
      graft.operators.Sync.deleteTree(cache.toFile)
    }
  }

  test("streaming dedup: planted duplicates are suppressed exactly") {
    // the staged replay must actually CONTAIN duplicates (otherwise
    // the oracle row would pass vacuously), and the deduped output
    // must equal the batch distinct of the real events bit-for-bit
    import graft.streaming.{EventStream, StageCache}
    val cache = java.nio.file.Files.createTempDirectory("dedupcache")
    sys.props(StageCache.Prop) = cache.toString
    try {
      val out = EventStream.streamDedupParity(spark, dir)
      val real = graft.Tables.events(spark, dir)
        .filter(col("event_id") < EventStream.AggParityEvents)
      val staged = spark.read.parquet(
        cache.toFile.listFiles()
          .filter(_.getName.startsWith("replay_dedup_"))
          .head.toPath.resolve("in*").toString)
      val nStaged = staged.count()
      val nReal = real.count()
      assert(nStaged > nReal,
        s"staged replay must plant duplicates ($nStaged vs $nReal real)")
      // both duplicate shapes present: within-slice and redelivered
      assert(staged.filter(col("event_id") % 101 === 0).count() >
        real.filter(col("event_id") % 101 === 0).count(),
        "within-batch duplicates missing from the staged replay")
      assert(nStaged - real.filter(col("event_id") % 101 === 0).count() >
        nReal, "cross-batch redeliveries missing from the staged replay")
      // output = batch distinct, exactly once each
      assert(out.count() == nReal, "dedup must emit each event once")
      assert(out.groupBy("event_id").count()
        .filter(col("count") > 1).isEmpty,
        "an event_id was emitted more than once")
      val expected = real
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"),
          round(col("value"), 2).as("value"))
      assert(out.exceptAll(expected).isEmpty &&
        expected.exceptAll(out).isEmpty,
        "deduped stream differs from the batch distinct")
    } finally {
      sys.props.remove(StageCache.Prop)
      graft.operators.Sync.deleteTree(cache.toFile)
    }
  }

  test("rocksdb state backend emits bit-identical windowed results") {
    // state-backend portability: the RocksDB run must equal the
    // default-backend run exactly (they also share one DuckDB oracle);
    // the provider REQUIRE inside the run pins that RocksDB was
    // actually used, so this cannot pass via a silent fallback
    import graft.streaming.{EventStream, StageCache}
    val cache = java.nio.file.Files.createTempDirectory("rockscache")
    sys.props(StageCache.Prop) = cache.toString
    try {
      val default = EventStream.streamWindowParity(spark, dir)
        .collect().toSeq
      val rocks = EventStream.streamRocksdbParity(spark, dir)
        .collect().toSeq
      assert(rocks == default,
        "RocksDB-backed run differs from the default-backend run")
    } finally {
      sys.props.remove(StageCache.Prop)
      graft.operators.Sync.deleteTree(cache.toFile)
    }
  }

  test("late replay drops exactly the late slice, nothing else") {
    // the row's premise, asserted independently of the DuckDB hash:
    // the staged replay really delivers slice 1 after slice 2 (late by
    // construction), and the emitted aggregate equals the batch
    // aggregate over everything EXCEPT slice 1 — total row weight
    // n(batch_all) - n(slice1)
    import graft.streaming.{EventStream, StageCache}
    val cache = java.nio.file.Files.createTempDirectory("latecache")
    sys.props(StageCache.Prop) = cache.toString
    try {
      val out = EventStream.streamLateParity(spark, dir)
      val emitted = out.agg(sum(col("n"))).head().getLong(0)
      val real = graft.Tables.events(spark, dir)
        .filter(col("event_id") < EventStream.AggParityEvents)
      val nReal = real.count()
      val staged = cache.toFile.listFiles()
        .filter(_.getName.startsWith("replay_late_")).head
      // in3 is the late file (replay order 0,2,3,1): non-empty, and
      // every row older than the newest row of in1 (= slice 2)
      val late = spark.read.parquet(s"$staged/in3")
      val nLate = late.count()
      assert(nLate > 0, "late slice must not be empty")
      val maxLate = late.agg(max(col("ts"))).head().getTimestamp(0)
      val minPrev = spark.read.parquet(s"$staged/in1")
        .agg(min(col("ts"))).head().getTimestamp(0)
      assert(maxLate.before(minPrev),
        "slice 1 must be entirely older than the already-played slice 2")
      assert(emitted == nReal - nLate,
        s"emitted weight $emitted != all $nReal minus late $nLate")
    } finally {
      sys.props.remove(StageCache.Prop)
      graft.operators.Sync.deleteTree(cache.toFile)
    }
  }

  test("a regenerated corpus at the same path forces a re-stage") {
    // round-14 verdict #5: the cache key was the sf-dir PATH only — a
    // corpus regenerated in place within one bench process would have
    // replayed stale fixtures. dirKey now folds a (name,length,mtime)
    // fingerprint, so mutation at the same path changes the key.
    import graft.streaming.StageCache
    import java.nio.file.Files
    val corpus = Files.createTempDirectory("corpusfp")
    val f = corpus.resolve("documents.parquet")
    Files.writeString(f, "v1 corpus bytes")
    val cache = Files.createTempDirectory("stagecachefp")
    sys.props(StageCache.Prop) = cache.toString
    try {
      var builds = 0
      def stage(): Unit = {
        StageCache.resolve(s"row_${StageCache.dirKey(corpus.toString)}") {
          _ => builds += 1 }
        ()
      }
      stage(); stage()
      assert(builds == 1, "unchanged corpus must replay the cached stage")
      Files.writeString(f, "v2 regenerated with different length")
      assert(f.toFile.setLastModified(f.toFile.lastModified() + 60000))
      stage()
      assert(builds == 2, "mutated corpus must force a re-stage")
    } finally {
      sys.props.remove(StageCache.Prop)
      graft.operators.Sync.deleteTree(cache.toFile)
      graft.operators.Sync.deleteTree(corpus.toFile)
    }
  }

  test("session_window gap boundary: an exact-gap event merges") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val exact = new java.sql.Timestamp(t0.getTime + 30 * 60 * 1000L)
    val over = new java.sql.Timestamp(t0.getTime + 30 * 60 * 1000L + 1)
    val df = Seq((t0, 1L, 1.0), (exact, 1L, 1.0),
      (t0, 2L, 1.0), (over, 2L, 1.0)).toDF("ts", "user_id", "value")
    val n = df.groupBy(session_window(col("ts"), "30 minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Spark merges an event landing exactly at the previous session's
    // end (gap == 30 min → same session); one ms past the end splits.
    // The oracle's strict `gap > 1800000000` break matches this.
    assert(n(1L) == 2L, s"exact-gap event split the session: $n")
    assert(n.getOrElse(2L, 0L) == 1L || n(2L) == 1L,
      s"over-gap event failed to split: $n")
  }

  test("windowed parity equals the batch aggregation; no sentinel rows") {
    val streamed = EventStream.streamWindowParity(spark, dir)
    val batch = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2)
        .as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
    assert(streamed.filter(col("event_type") === "__sentinel__").isEmpty,
      "sentinel window leaked into the emitted set")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed windows differ from the batch aggregation")
  }

  test("custom-state parity equals the batch per-user aggregation") {
    val streamed = EventStream.streamStateParity(spark, dir)
    val batch = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    assert(streamed.filter(col("user_id") === -1L).isEmpty,
      "sentinel user leaked into the final state set")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "final streamed state differs from the batch aggregation")
  }

  test("transformWithState parity equals the batch per-user aggregation " +
      "(RocksDB provider)") {
    val streamed = EventStream.streamTwsParity(spark, dir)
    val batch = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    assert(streamed.filter(col("user_id") === -1L).isEmpty,
      "sentinel user leaked into the final state set")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "transformWithState final state differs from the batch aggregation")
  }

  test("stream-stream join parity equals the batch interval join") {
    val streamed = EventStream.streamJoinParity(spark, dir)
    val ev = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"),
        col("value").as("err_value"))
    val batch = clicks.join(errors,
        col("user_id") === col("err_user") &&
          col("err_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("err_ts") < col("click_ts"))
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"),
        unix_micros(col("err_ts")).as("err_ts_us"), col("err_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed join matches differ from the batch interval join")
  }

  test("stream-stream LEFT SEMI parity: one row per matched click, " +
      "none for unmatched, no error columns") {
    val streamed = EventStream.streamSemiJoinParity(spark, dir)
    assert(streamed.columns.toSeq ==
      Seq("click_id", "user_id", "click_ts_us"))
    val ev = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
    val batch = clicks.join(errors,
        col("user_id") === col("err_user") &&
          col("err_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
          col("err_ts") < col("click_ts"), "left_semi")
      .select(col("click_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts_us"))
    assert(streamed.count() > 0)
    // exactly-once: click_id is unique in the semi output
    assert(streamed.count() ==
      streamed.select("click_id").distinct().count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed semi join differs from the batch left-semi join")
  }

  test("streaming curation parity: kept set equals the batch derivation") {
    import org.apache.spark.sql.expressions.Window
    val streamed =
      graft.streaming.CurationStream.streamCurateParity(spark, dir)
    val gated = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 20)
      .filter(conv(substring(sha2(concat(lit("smp:"),
        col("doc_id").cast("string")), 256), 1, 12), 16, 10)
        .cast("long") % 1000 < 500)
    val spans = graft.operators.Curation
      .spansOf(gated.select("doc_id", "text"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
    val batch = spans.groupBy("doc_id")
      .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_new_spans"))
      .filter(col("n_new_spans") > 0)
      .join(gated.select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "n_new_spans")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed kept set differs from the batch span-dedup derivation")
  }

  test("session parity equals the batch session_window; no sentinels") {
    val streamed = EventStream.streamSessionParity(spark, dir)
    val batch = Tables.events(spark, dir)
      .filter(col("event_id") < EventStream.AggParityEvents)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2)
        .as("total_value"))
      .select(
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("user_id"), col("n_events"), col("total_value"))
    assert(streamed.filter(col("user_id") === -1L).isEmpty,
      "sentinel session leaked into the emitted set")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed sessions differ from the batch session_window")
  }
}
