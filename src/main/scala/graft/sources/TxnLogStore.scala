package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Transaction-log table layout: commits as ordered JSON action files
  * `_log/NNNNN.json` over immutable data files, where the snapshot at
  * version v is the fold of commits 0..v — the Delta/Iceberg layout,
  * scaled down to its essence. Three actions exist:
  *
  *   - `add` a data file (or directory) to the live set;
  *   - `remove` one from the live set (a rewrite or a compaction);
  *   - `retract` a url: rows of that url in files added BEFORE the
  *     retracting commit drop out of every later snapshot. This is the
  *     merge-on-read half of the layout; the chunk store
  *     ([[ChunkStore]]) upserts by adding the new rows of a url and
  *     retracting its older ones.
  *
  * Each commit starts with one more line, `{"act":"commit","id":...}`,
  * a random id that the fold ignores: a store deleted and written again
  * repeats its first commits byte for byte, and the id tells them
  * apart ([[commitId]]).
  *
  * Data files are immutable; logical deletes and rewrites are log
  * entries; readers at any version see exactly what its prefix of the
  * log retains. Every action line is written and read with Jackson, so
  * a file name or url holding quotes, backslashes, newlines or any
  * other character round-trips.
  *
  * The four txn rows stage three commits over document slices (add A+B;
  * add C while removing A — a rewrite; add D) and read EVERY version
  * back by folding the log — the DuckDB oracle re-derives each
  * snapshot's membership from the slice arithmetic, so a mis-folded
  * remove, a commit applied out of order, or a snapshot reading an
  * evicted file all shift a sum.
  *
  * Scale: a commit writes one action file + the new data files
  * (O(delta)); a snapshot read is a log fold (metadata-scale) + a scan
  * of exactly the retained files. */
object TxnLogStore {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def action(act: String, field: String, value: String): String =
    json.writeValueAsString(json.createObjectNode()
      .put("act", act).put(field, value))

  /** Append one commit (ordered action file `NNNNN.json`). */
  private[graft] def commit(root: String, version: Long,
      adds: Seq[String], removes: Seq[String],
      retracts: Seq[String] = Nil): Unit = {
    val dir = new java.io.File(s"$root/_log")
    dir.mkdirs()
    val lines = action("commit", "id", java.util.UUID.randomUUID.toString) +:
      (adds.map(action("add", "file", _)) ++
        removes.map(action("remove", "file", _)) ++
        retracts.map(action("retract", "url", _)))
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

  /** Optimistic-concurrency commit — the multi-writer discipline:
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
  private[graft] def actionFiles(root: String): Array[(Long, java.io.File)] =
    Option(new java.io.File(s"$root/_log").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("\\d+\\.json"))
      .map(f => f.getName.stripSuffix(".json").toLong -> f)
      .sortBy(_._1)

  /** The first line of the commit file `f`: its random id, or its first
    * action for a commit written before ids were. */
  private[graft] def commitId(f: java.io.File): String = {
    val in = java.nio.file.Files.newBufferedReader(f.toPath)
    try String.valueOf(in.readLine()) finally in.close()
  }

  /** Highest committed version in the log (-1 when empty). */
  private[graft] def latestVersion(root: String): Long =
    actionFiles(root).lastOption.fold(-1L)(_._1)

  /** The fold of a log prefix: the live files in the order they were
    * added, each with the urls retracted after it was added and before
    * the next live file was, and `pending`, the number of retract
    * entries that still apply to some live file (what a reader filters
    * on). A retract applies to every live file added before it, so the
    * urls retracted from file i are those listed with files i and
    * later: each entry is listed once. */
  private[graft] final case class Snapshot(
      live: Vector[(String, Set[String])], pending: Int)

  /** Fold commits 0..`version`. */
  private[graft] def snapshot(root: String, version: Long): Snapshot =
    fold(actionFiles(root).takeWhile(_._1 <= version))

  /** Fold the listed action files `log`, in order. Retract entries older
    * than every live file apply to nothing and are dropped, so a commit
    * that removes every live file (a rewrite) resets the fold. */
  private[graft] def fold(log: Iterable[(Long, java.io.File)]): Snapshot = {
    val (live, retracts) = log
      .foldLeft((Vector.empty[(String, Long)],
          Vector.empty[(Long, Vector[String])])) {
        case ((files, gone), (v, f)) =>
          val acts = java.nio.file.Files.readString(f.toPath)
            .split("\n").filter(_.nonEmpty).map(json.readTree)
          def values(act: String, field: String) = acts.toVector
            .filter(_.get("act").asText == act).map(_.get(field).asText)
          val removes = values("remove", "file").toSet
          val kept = (files ++ values("add", "file").map(_ -> v))
            .filterNot(x => removes.contains(x._1))
          val urls = values("retract", "url")
          (kept, if (urls.isEmpty) gone else gone :+ (v -> urls))
      }
    val oldest = live.map(_._2).minOption.getOrElse(Long.MaxValue)
    val pending = retracts.filter(_._1 > oldest)
    val until = live.drop(1).map(_._2) :+ Long.MaxValue
    Snapshot(live.zip(until).map { case ((f, added), next) =>
        f -> pending.filter(r => r._1 > added && r._1 <= next)
          .flatMap(_._2).toSet },
      pending.map(_._2.size).sum)
  }

  /** Live file set at `version`: fold of the ordered log prefix. */
  private[graft] def liveFiles(root: String, version: Long): Seq[String] =
    snapshot(root, version).live.map(_._1)

  /** Stage the immutable data files of the three-commit fixture. */
  private def stageDataFiles(s: SparkSession, dir: String,
      root: String): Unit = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    (0 to 3).foreach(r =>
      docs.filter(pmod(col("doc_id"), lit(4)) === r)
        .write.parquet(s"$root/f$r"))
  }

  /** The fixture's three commits, (adds, removes) at versions 0..2:
    * add f0+f1; add f2 while removing f0 (a rewrite); add f3. */
  private val FixtureCommits = Seq(Seq("f0", "f1") -> Seq.empty[String],
    Seq("f2") -> Seq("f0"), Seq("f3") -> Seq.empty[String])

  /** Stage the three-commit fixture under a fresh temp root, run `f`
    * on its store root and delete it; `f` materializes its result. */
  private def onFixture(s: SparkSession, dir: String, prefix: String)(
      f: String => DataFrame): DataFrame = {
    graft.Scratch.within(prefix) { base =>
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      FixtureCommits.zipWithIndex.foreach { case ((adds, removes), v) =>
        commit(root, v.toLong, adds, removes) }
      f(root)
    }
  }

  /** The compaction job: rewrite the head's live set into one file
    * `fc` and swap it in atomically by a single commit. */
  private def compact(s: SparkSession, root: String): Unit = {
    val live = liveFiles(root, latestVersion(root))
    s.read.schema("doc_id LONG")
      .parquet(live.map(f => s"$root/$f"): _*)
      .coalesce(1).write.parquet(s"$root/fc")
    commitOptimistic(root, Seq("fc"), live)
  }

  /** Every snapshot of the store at `root`, version 0 to the head: live
    * file count plus row count / id checksum of the folded table
    * state. Shared by every txn row. */
  private def snapshotReport(s: SparkSession, root: String): DataFrame =
    (0L to latestVersion(root)).map { v =>
      val files = liveFiles(root, v)
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
  def txnLogReport(s: SparkSession, dir: String): DataFrame =
    onFixture(s, dir, "txnlog")(snapshotReport(s, _))

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

  def txnLogStreamReport(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.within("replay") { base =>
      val root = s"$base/store"
      stageDataFiles(s, dir, root)
      val reqDir = base.resolve("requests")
      java.nio.file.Files.createDirectories(reqDir)
      FixtureCommits.zipWithIndex.foreach { case ((adds, removes), i) =>
        java.nio.file.Files.writeString(reqDir.resolve(s"commit$i.json"),
          s"""{"adds":"${adds.mkString(",")}","removes":"${removes.mkString(",")}"}""")
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
  def compactionTxnReport(s: SparkSession, dir: String): DataFrame =
    onFixture(s, dir, "txncompact") { root =>
      compact(s, root)
      snapshotReport(s, root)
    }

  /** Vacuum with a retention horizon — the space-for-history trade the
    * log layout defers: data files referenced by NO snapshot at or
    * after `retainFrom` are deleted from disk (the log itself is kept
    * — history stays auditable, but time travel before the horizon
    * now fails at read, which is exactly Delta VACUUM's contract).
    * Returns the deleted file names. Metadata-scale: a log fold per
    * retained version. */
  private[graft] def vacuum(root: String, retainFrom: Long): Seq[String] = {
    val head = latestVersion(root)
    val referenced = (retainFrom to head)
      .flatMap(v => snapshot(root, v).live.map(_._1)).toSet
    val onDisk = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != "_log")
      .map(_.getName).toSeq.sorted
    val doomed = onDisk.filterNot(referenced.contains)
    doomed.foreach(f => graft.Scratch.delete(java.nio.file.Paths.get(root, f)))
    doomed
  }

  /** The vacuum row: build, compact, vacuum to the head, and report —
    * disk files before/after, what vacuum deleted, and the head
    * snapshot's content read AFTER the deletion (proving the retained
    * reader path never referenced a vacuumed file). Oracle: pure
    * construction arithmetic (5 staged files; head references only the
    * compacted one; membership = slices 1,2,3). */
  def vacuumTxnReport(s: SparkSession, dir: String): DataFrame =
    onFixture(s, dir, "txnvacuum") { root =>
      compact(s, root)
      def diskFiles: Long = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName != "_log").toLong
      val before = diskFiles
      val head = latestVersion(root)
      val deleted = vacuum(root, retainFrom = head)
      val after = diskFiles
      s.read.schema("doc_id LONG")
        .parquet(liveFiles(root, head).map(f => s"$root/$f"): _*)
        .agg(lit(before).as("n_disk_before"), lit(after).as("n_disk_after"),
          lit(deleted.length.toLong).as("n_vacuumed"),
          count(lit(1)).as("head_rows"),
          coalesce(sum(col("doc_id")), lit(0L)).as("head_sum"))
        .select(col("n_disk_before"), col("n_disk_after"),
          col("n_vacuumed"), col("head_rows").cast("long"),
          col("head_sum").cast("long"))
        .localCheckpoint(true)
    }
}
