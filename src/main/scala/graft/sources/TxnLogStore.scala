package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Transaction-log table layout — the third store discipline in this
  * engine, completing the spectrum:
  *
  *   - full-version copies ([[ChunkStore.upsertVersioned]]): O(table)
  *     per commit, trivial time travel;
  *   - merge-on-read tombstones (the `stream_mv_parity` store):
  *     O(delta) writes, reads reconstruct;
  *   - TRANSACTION LOG (this): O(delta) commits as ordered JSON action
  *     files (`add` / `remove` of immutable data files), where a
  *     snapshot at version v is the fold of actions 0..v — the
  *     Delta/Iceberg layout, scaled down to its essence. Data files
  *     are immutable; logical deletes and rewrites are log entries;
  *     readers at any version see exactly the files its prefix of the
  *     log retains.
  *
  * The row stages three commits over document slices (add A+B; add C
  * while removing A — a rewrite; add D) and reads EVERY version back by
  * folding the log — the DuckDB oracle re-derives each snapshot's
  * membership from the slice arithmetic, so a mis-folded remove, a
  * commit applied out of order, or a snapshot reading an evicted file
  * all shift a sum.
  *
  * Scale: a commit writes one action file + the new data files
  * (O(delta)); a snapshot read is a log fold (metadata-scale) + a scan
  * of exactly the retained files. */
object TxnLogStore {

  /** Append one commit (ordered action file `NNNNN.json`). */
  private[graft] def commit(root: String, version: Long,
      adds: Seq[String], removes: Seq[String]): Unit = {
    val dir = new java.io.File(s"$root/_log")
    dir.mkdirs()
    val lines =
      adds.map(f => s"""{"act":"add","file":"$f"}""") ++
        removes.map(f => s"""{"act":"remove","file":"$f"}""")
    val tmp = new java.io.File(dir,
      f"$version%05d.json.tmp${java.lang.Thread.currentThread().getId}%d")
    java.nio.file.Files.writeString(tmp.toPath, lines.mkString("\n"))
    // atomic publish AND atomic arbitration: link(2) fails with
    // FileAlreadyExistsException if the version is already taken
    // (POSIX rename would silently REPLACE a racing writer's commit),
    // and readers only ever see the fully-written file
    try java.nio.file.Files.createLink(
      new java.io.File(dir, f"$version%05d.json").toPath, tmp.toPath)
    finally java.nio.file.Files.deleteIfExists(tmp.toPath)
  }

  /** Optimistic-concurrency commit — the multi-writer discipline the
    * full-version store explicitly disclaims
    * ([[ChunkStore.upsertVersioned]] is single-writer by contract):
    * read the latest version, attempt version+1, and let the
    * FILESYSTEM arbitrate — link(2) onto an existing action
    * file fails, so exactly one of two racing writers wins each
    * version and the loser re-reads and retries against the new head
    * (re-validation of semantic conflicts between the lost round's
    * actions and its own is the caller's job, as in Delta/Iceberg).
    * Returns the version actually committed. */
  private[graft] def commitOptimistic(root: String, adds: Seq[String],
      removes: Seq[String], maxRetries: Int = 20): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val next = latestVersion(root) + 1
      try {
        commit(root, next, adds, removes)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1 // lost the race — re-read the head and retry
      }
    }
    sys.error(s"commitOptimistic: lost $maxRetries races under $root")
  }

  /** Action files in the log, ordered by NUMERIC version. The writer
    * pads to five digits for human-friendly listings, but the reader
    * accepts any width (`\d+`) and orders by parsed value — a log that
    * reaches version 100000 writes a six-digit name and must not
    * become invisible to its own readers (which would stall
    * [[latestVersion]] and make [[commitOptimistic]] exhaust retries
    * against its own commit). */
  private def actionFiles(root: String): Array[java.io.File] =
    Option(new java.io.File(s"$root/_log").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+\\.json"))
      .sortBy(_.getName.stripSuffix(".json").toLong)

  /** Highest committed version in the log (-1 when empty). */
  private[graft] def latestVersion(root: String): Long = {
    val fs = actionFiles(root)
    if (fs.isEmpty) -1L
    else fs.map(_.getName.stripSuffix(".json").toLong).max
  }

  /** Live file set at `version`: fold of the ordered log prefix. */
  private[graft] def liveFiles(s: SparkSession, root: String,
      version: Long): Seq[String] = {
    val actions = actionFiles(root)
      .takeWhile(_.getName.stripSuffix(".json").toLong <= version)
    actions.foldLeft(Vector.empty[String]) { (live, f) =>
      val lines = java.nio.file.Files.readString(f.toPath)
        .split("\n").filter(_.nonEmpty)
      lines.foldLeft(live) { (acc, l) =>
        // minimal, dependency-free action parse (fields are paths the
        // writer itself produced — no escaping needed)
        val file = l.split("\"file\":\"")(1).takeWhile(_ != '"')
        if (l.contains("\"act\":\"add\"")) acc :+ file
        else acc.filterNot(_ == file)
      }
    }
  }

  /** Stage the immutable data files of the three-commit fixture. */
  private def stageDataFiles(s: SparkSession, dir: String,
      root: String): Unit = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    (0 to 3).foreach(r =>
      docs.filter(pmod(col("doc_id"), lit(4)) === r)
        .write.parquet(s"$root/f$r"))
  }

  /** The per-version snapshot report shared by the batch and streaming
    * rows. */
  private def snapshotReport(s: SparkSession, root: String): DataFrame =
    (0L to 2L).map { v =>
      val files = liveFiles(s, root, v)
      val state =
        if (files.isEmpty)
          s.createDataFrame(s.sparkContext
            .emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType))))
        else s.read.schema("doc_id LONG")
          .parquet(files.map(f => s"$root/$f"): _*)
      state.agg(lit(v).as("version"),
        lit(files.length.toLong).as("n_files"),
        count(lit(1)).as("n_rows"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_id"))
    }.reduce(_ unionByName _)
      .select(col("version"), col("n_files"), col("n_rows").cast("long"),
        col("sum_doc_id").cast("long"))
      .orderBy("version")
      .localCheckpoint(true)

  /** Stage the three-commit fixture and report every snapshot:
    * per version, live file count plus row count / id checksum of the
    * folded table state. */
  def txnLogReport(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("txnlog")
    try {
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      commit(root, 0L, Seq("f0", "f1"), Seq.empty)
      commit(root, 1L, Seq("f2"), Seq("f0")) // rewrite: f0 evicted
      commit(root, 2L, Seq("f3"), Seq.empty)
      snapshotReport(s, root)
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  /** Streaming twin of [[txnLogReport]]: the SAME three commits arrive
    * as a micro-batch stream of commit requests, applied through
    * foreachBatch with the version DERIVED FROM THE BATCH ID — so a
    * replayed batch re-attempts its own version and the link(2)
    * collision makes the replay a detected no-op (exactly-once without
    * a separate applied-marker: the log's own arbitration is the
    * marker). The final snapshot report must be IDENTICAL to the batch
    * row's — the two share one DuckDB oracle, so a commit lost,
    * re-versioned, or applied out of order lands as a hash mismatch. */
  /** Apply one micro-batch of commit requests at version = batch id.
    *
    * This sink consumes commit REQUESTS (metadata-sized rows), and the
    * commit version derives from the batch id — so a batch carrying
    * more than one row would silently DROP every row after the first
    * (the second commit at version=id collides with the first and is
    * swallowed as a "replay"). The limit(2) bounds the driver-side
    * pull regardless of how large a misrouted batch is, and the guard
    * fails loudly instead of losing a commit: data-sized streams
    * belong on a data path (the merge-on-read store of
    * `stream_mv_parity`, [[ChunkStore.upsertVersioned]]), never this
    * commit stream. */
  private[graft] def applyCommitBatch(root: String,
      b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val rows = b.limit(2).collect()
    require(rows.length <= 1,
      s"txnLogStreamReport: micro-batch $id carries >1 commit " +
        "request, but versions derive from the batch id — the " +
        "second request would be silently dropped as a phantom " +
        "replay. One commit request per micro-batch " +
        "(maxFilesPerTrigger=1); route data-sized streams to a " +
        "data sink (merge-on-read store / ChunkStore), not the " +
        "transaction-log commit stream.")
    rows.foreach { r =>
      def split(c: String): Seq[String] = Option(r.getAs[String](c))
        .getOrElse("").split(",").filter(_.nonEmpty).toSeq
      try commit(root, id, split("adds"), split("removes"))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
      } // replayed batch: its version already committed
    }
  }

  def txnLogStreamReport(s: SparkSession, dir: String): DataFrame = {
    graft.streaming.Replay.work { base =>
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      val reqDir = base.resolve("requests")
      java.nio.file.Files.createDirectories(reqDir)
      Seq("""{"adds":"f0,f1","removes":""}""",
        """{"adds":"f2","removes":"f0"}""",
        """{"adds":"f3","removes":""}""").zipWithIndex.foreach {
        case (line, i) =>
          java.nio.file.Files.writeString(reqDir.resolve(s"commit$i.json"),
            line)
      }
      graft.streaming.Replay.stamp(reqDir.toString)
      val q = graft.streaming.Replay.read(s, base, Seq("requests"), "json")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          applyCommitBatch(root, b, id))
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      snapshotReport(s, root)
    }
  }

  /** Compaction THROUGH the log — the job `store_compaction` plans,
    * executed with transaction-log semantics: the live files of the
    * head snapshot rewrite into one compacted file and a single commit
    * atomically swaps them (add the compacted file, remove every
    * input) — readers at the old version still see the old files
    * (time travel is undisturbed), readers at the new version see ONE
    * file with byte-identical content. The report appends the
    * post-compaction snapshot to the three fixture snapshots; content
    * preservation (same rows, same checksum, fewer files) is the
    * contract the shared-construction oracle re-derives. */
  def compactionTxnReport(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("txncompact")
    try {
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      commit(root, 0L, Seq("f0", "f1"), Seq.empty)
      commit(root, 1L, Seq("f2"), Seq("f0"))
      commit(root, 2L, Seq("f3"), Seq.empty)
      // the compaction job: rewrite the head's live set into one file,
      // swap atomically in a single commit
      val head = latestVersion(root)
      val live = liveFiles(s, root, head)
      s.read.schema("doc_id LONG")
        .parquet(live.map(f => s"$root/$f"): _*)
        .coalesce(1).write.parquet(s"$root/fc")
      commitOptimistic(root, Seq("fc"), live)
      (0L to 3L).map { v =>
        val files = liveFiles(s, root, v)
        s.read.schema("doc_id LONG")
          .parquet(files.map(f => s"$root/$f"): _*)
          .agg(lit(v).as("version"),
            lit(files.length.toLong).as("n_files"),
            count(lit(1)).as("n_rows"),
            coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_id"))
      }.reduce(_ unionByName _)
        .select(col("version"), col("n_files"),
          col("n_rows").cast("long"), col("sum_doc_id").cast("long"))
        .orderBy("version")
        .localCheckpoint(true)
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  /** Vacuum with a retention horizon — the space-for-history trade the
    * log layout defers: data files referenced by NO snapshot at or
    * after `retainFrom` are deleted from disk (the log itself is kept
    * — history stays auditable, but time travel before the horizon
    * now fails at read, which is exactly Delta VACUUM's contract).
    * Returns the deleted file names. Metadata-scale: a log fold per
    * retained version. */
  private[graft] def vacuum(s: SparkSession, root: String,
      retainFrom: Long): Seq[String] = {
    val head = latestVersion(root)
    val referenced = (retainFrom to head)
      .flatMap(v => liveFiles(s, root, v)).toSet
    val onDisk = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != "_log")
      .map(_.getName).toSeq.sorted
    val doomed = onDisk.filterNot(referenced.contains)
    doomed.foreach(f =>
      graft.operators.Sync.deleteTree(new java.io.File(s"$root/$f")))
    doomed
  }

  /** The vacuum row: build, compact, vacuum to the head, and report —
    * disk files before/after, what vacuum deleted, and the head
    * snapshot's content read AFTER the deletion (proving the retained
    * reader path never referenced a vacuumed file). Oracle: pure
    * construction arithmetic (5 staged files; head references only the
    * compacted one; membership = slices 1,2,3). */
  def vacuumTxnReport(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("txnvacuum")
    try {
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      commit(root, 0L, Seq("f0", "f1"), Seq.empty)
      commit(root, 1L, Seq("f2"), Seq("f0"))
      commit(root, 2L, Seq("f3"), Seq.empty)
      val live = liveFiles(s, root, latestVersion(root))
      s.read.schema("doc_id LONG")
        .parquet(live.map(f => s"$root/$f"): _*)
        .coalesce(1).write.parquet(s"$root/fc")
      commitOptimistic(root, Seq("fc"), live)
      def diskFiles: Long = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName != "_log").toLong
      val before = diskFiles
      val head = latestVersion(root)
      val deleted = vacuum(s, root, retainFrom = head)
      val after = diskFiles
      s.read.schema("doc_id LONG")
        .parquet(liveFiles(s, root, head).map(f => s"$root/$f"): _*)
        .agg(lit(before).as("n_disk_before"), lit(after).as("n_disk_after"),
          lit(deleted.length.toLong).as("n_vacuumed"),
          count(lit(1)).as("head_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("head_sum"))
        .select(col("n_disk_before"), col("n_disk_after"),
          col("n_vacuumed"), col("head_rows").cast("long"),
          col("head_sum").cast("long"))
        .localCheckpoint(true)
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }
}
