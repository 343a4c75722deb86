package graft.sources

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SaveMode, SparkSession}
import org.apache.spark.sql.api.java.UDF2
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}

/** The engine's chunk store (SURVEY.md §2.6), with the reference's two
  * write disciplines:
  *
  *   - upsert-by-url (delete-then-reinsert all chunks of a changed
  *     document, doc2vec.ts:1957-1969) so chunk_index/total_chunks stay
  *     consistent and no orphans survive;
  *   - cleanup guards: obsolete-url deletion is *skipped entirely* when
  *     the scan was incomplete or had network errors
  *     (doc2vec.ts:760-781) — never purge live documents on partial
  *     information (the callers decide what to retract).
  *
  * Layout: a merge-on-read transaction log on [[TxnLogStore]]'s core. A
  * store root holds the commits `_log/NNNNN.json` and one data
  * directory `v<N>` per commit that adds rows. Commit N records the
  * directory it adds, if any, and the urls it retracts; the snapshot at
  * N is, for each live `v<i>`, its rows whose url no commit in (i, N]
  * retracted. An upsert therefore writes only the rows of the urls it
  * replaces and logs their urls, so a resync costs its delta, as the
  * reference's upsert-by-url into SQLite or Qdrant does. Version
  * numbers are commit numbers.
  *
  * The fold is bounded by one fixed rule ([[MaxLiveDirs]],
  * [[MaxRetractedUrls]]): a commit that would pass either bound writes
  * the folded snapshot as a new base directory instead (a full rewrite)
  * and removes every older directory from the live set.
  *
  * SINGLE WRITER per root: the log's link(2) arbitration rejects a
  * second commit at the same version, but the data directory `v<N>` is
  * written before that, so two writers would race on it. The reference
  * has the same discipline (one sync process per collection). */
object ChunkStore {

  /** Most live data directories a snapshot may have. A read lists
    * every live directory on the driver and scans each one's files, so
    * the fixed cost of a read grows with the count; 8 keeps it near a
    * one-directory store's, while a fold, which rewrites the whole
    * store as every commit did before, runs on at most one commit in
    * eight. */
  private[graft] val MaxLiveDirs = 8

  /** Most retract entries a snapshot may carry. Every entry is a url on
    * the driver and at most one key of the read's url map, which is
    * shipped with every scan task: 100,000 urls of about 100 bytes
    * keep that near 10 MB, far above a 1%-edit resync (tens of urls)
    * and below a rewrite's memory. A commit that would pass it folds,
    * as one that would pass [[MaxLiveDirs]] does, and a fold resets
    * both counts. */
  private[graft] val MaxRetractedUrls = 100000

  /** Current version number (the newest commit), or -1 for an empty
    * store. */
  def latestVersion(root: String): Long = TxnLogStore.latestVersion(root)

  /** Current contents, or None for an empty store. The read runs no
    * Spark job.
    *
    * Cost: one listing of `_log`, and one status call on its head commit
    * and a read of its first line. Each store root keeps one snapshot
    * [[Handle]], keyed by the head commit's number, modification time,
    * length and random id ([[TxnLogStore.commitId]]). While the head is
    * unchanged, the call returns the handle's frame without folding the
    * log, listing the live directories or reading a footer. A commit, or
    * a store deleted and re-synced (its version numbers and commit bytes
    * repeat, its commit ids are new), changes the head: the call then
    * reads the snapshot as [[readVersion]] does and drops the old handle
    * with its resident rows. A frame of another session is never
    * returned, and the handles of stopped sessions and deleted stores
    * are dropped. */
  def readLatest(spark: SparkSession, root: String): Option[DataFrame] = {
    val key = new java.io.File(root).getAbsolutePath
    val log = TxnLogStore.actionFiles(root)
    val head = log.lastOption.map { case (v, f) =>
      val a = java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (v, a.lastModifiedTime, a.size, TxnLogStore.commitId(f))
    }
    handles.foreach { case (k, h) => if (!h.live && handles.remove(k, h)) h.drop() }
    handles.get(key)
      .filter(h => head.contains(h.head) && h.frame.sparkSession.eq(spark))
      .map(_.frame)
      .orElse {
        handles.remove(key).foreach(_.drop())
        for {
          h <- head
          (frame, bytes) <- readSnapshot(spark, root, TxnLogStore.fold(log))
        } yield {
          handles(key) = new Handle(key, h, frame, bytes)
          frame
        }
      }
  }

  /** Contents as of commit `version` (time travel), or None when that
    * snapshot has no data directory. The log is folded on the driver and
    * the live `v<i>` are listed and read with the schema of one footer
    * ([[graft.Tables.footerSchema]]), so the read runs no Spark job: the
    * result is the rows of each `v<i>` whose url no commit after i
    * retracted. */
  def readVersion(spark: SparkSession, root: String,
      version: Long): Option[DataFrame] =
    readSnapshot(spark, root, TxnLogStore.snapshot(root, version)).map(_._1)

  /** The snapshot handle of each store root, by absolute path. */
  private val handles = TrieMap.empty[String, Handle]

  /** A store root's snapshot as [[readLatest]] returned it, at log head
    * `head` (commit number, modification time, length, id), with its
    * data files' bytes. Within [[graft.ResidentMemory]]'s rule it also
    * keeps the snapshot's rows on the driver, by url and sorted by
    * `chunk_index`, for [[residentPage]]. */
  private final class Handle(key: String,
      val head: (Long, java.nio.file.attribute.FileTime, Long, String),
      val frame: DataFrame, fileBytes: Long) {

    /** Whether the handle's session runs and its store's log is there;
      * a handle that is not live is dropped ([[readLatest]],
      * [[graft.ResidentMemory.admit]]). */
    def live: Boolean = !frame.sparkSession.sparkContext.isStopped &&
      new java.io.File(key, "_log").isDirectory

    /** The rows by url, read by the first page lookup in one Spark job;
      * None when the snapshot has no string `url` and integral
      * `chunk_index`, or does not fit the memory rule. A snapshot whose
      * files alone pass the room runs no job. */
    lazy val rows: Option[Map[String, Array[InternalRow]]] = {
      val schema = frame.schema
      def ordinal(name: String) =
        Option(schema.fieldNames.indexOf(name)).filter(_ >= 0)
      val ordinals = for {
        u <- ordinal("url")
        if schema(u).dataType == StringType
        i <- ordinal("chunk_index")
        if Set[DataType](IntegerType, LongType)(schema(i).dataType)
      } yield (u, i)
      ordinals.flatMap { case (u, i) =>
        graft.ResidentMemory.admit(s"store:$key", () => live,
            () => handles.remove(key, this)) { room =>
          if (fileBytes > room) None
          else collectWithin(room).map { case (rs, bytes) =>
            rs.filterNot(_.isNullAt(u)).groupBy(_.getUTF8String(u).toString)
              .map { case (url, page) =>
                url -> page.sortBy(r => (!r.isNullAt(i), index(r, i)))
                  .toArray[InternalRow] } -> bytes
          }
        }
      }
    }

    /** The snapshot's rows as compact copies, with the bytes they count,
      * from one Spark job; None when they do not fit, or the job fails.
      * What the driver receives is bounded, not each task's share: with
      * `room` capped at half of `spark.driver.maxResultSize`, each of
      * the scan's n tasks ships its rows only while they count at most
      * `room / n`, so all of them ship at most `room`. The other half of
      * the result cap is left to the results' serialization (under 1% of
      * a row's bytes) and metrics. A skewed snapshot that fits `room`
      * but not its shares is answered by the Spark plan. */
    private def collectWithin(room: Long): Option[(Array[UnsafeRow], Long)] = {
      val rdd = frame.queryExecution.toRdd
      val maxResult = frame.sparkSession.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
      val cap = (if (maxResult > 0) room.min(maxResult / 2) else room) /
        rdd.getNumPartitions.max(1)
      val (schema, perRow) = (frame.schema, RowBytes)
      try {
        val parts = rdd.mapPartitions { it =>
          val copy = UnsafeProjection.create(schema)
          val kept = Array.newBuilder[UnsafeRow]
          var bytes = 0L
          while (it.hasNext && bytes <= cap) {
            val r = copy(it.next()).copy()
            bytes += perRow + r.getSizeInBytes
            kept += r
          }
          Iterator(Option.when(bytes <= cap)(kept.result() -> bytes))
        }.collect()
        Option.when(parts.forall(_.isDefined))(parts.flatten)
          .map(ps => ps.flatMap(_._1) -> ps.map(_._2).sum)
      } catch { case NonFatal(_) => None }
    }

    /** The page of `url` in `range` from the resident rows, as a local
      * frame; None when the snapshot keeps no rows. */
    def page(url: String, range: Option[(Int, Int)]): Option[DataFrame] =
      rows.map { byUrl =>
        val i = frame.schema.fieldIndex("chunk_index")
        val all = byUrl.getOrElse(url, Array.empty[InternalRow])
        val kept = range.fold(all) { case (a, b) => all.filter { r =>
          !r.isNullAt(i) && index(r, i) >= a && index(r, i) <= b } }
        GraftSqlBridge.ofRows(frame.sparkSession, LocalRelation(
          DataTypeUtils.toAttributes(frame.schema), kept.toSeq))
      }

    private def index(r: InternalRow, i: Int): Long =
      if (r.isNullAt(i)) 0L
      else frame.schema(i).dataType match {
        case IntegerType => r.getInt(i).toLong
        case _ => r.getLong(i)
      }

    /** Release the resident rows' place in the memory rule. */
    def drop(): Unit = graft.ResidentMemory.release(s"store:$key")
  }

  /** What a resident row counts beside its bytes: the row object and its
    * byte array's header. */
  private val RowBytes = 48L

  /** The page of `url` in `range` when `chunks` is the frame of a current
    * snapshot handle (the same logical plan [[readLatest]] returned) that
    * keeps its rows: that handle's rows of `url`, sorted by
    * `chunk_index` with nulls first, those outside `range` (and those
    * without a `chunk_index`, when a range is given) left out, as a local
    * frame that runs no Spark job. The handle's first page lookup reads
    * its rows in one job. None for any other frame, a projection of the
    * handle's frame included, and for a snapshot over the memory rule. */
  private[graft] def residentPage(chunks: DataFrame, url: String,
      range: Option[(Int, Int)]): Option[DataFrame] = {
    val plan = chunks.queryExecution.logical
    handles.valuesIterator.find(_.frame.queryExecution.logical.eq(plan))
      .flatMap(_.page(url, range))
  }

  /** One scan over every live directory, so Spark packs their small
    * files into few tasks, minus the rows whose url a commit after
    * their directory's retracted. The scan takes the files listed here
    * and the schema of one footer ([[graft.Tables.footerSchema]]), so it
    * lists nothing again. Without retractions it is the bare scan.
    *
    * The retract rule is one plan for any store state, so its generated
    * code compiles once per session: a row is dropped when its url maps
    * to a live directory at or after its own in `newest`, the index of
    * the newest directory each url is retracted from. The row's
    * directory is the parent of its `_metadata.file_path`, and the test
    * is one hash lookup of its url; `newest` holds each pending url
    * once, so it stays within [[MaxRetractedUrls]]. */
  private def readSnapshot(spark: SparkSession, root: String,
      snap: TxnLogStore.Snapshot): Option[(DataFrame, Long)] =
    Option.when(snap.live.nonEmpty) {
      val conf = spark.sessionState.newHadoopConf()
      val dirs = snap.live.map { case (dir, _) =>
        val p = new Path(root, dir)
        val fs = p.getFileSystem(conf)
        fs.makeQualified(p) -> fs.listStatus(p).filter(graft.Tables.isDataFile)
      }
      val scan = graft.Tables.footerSchema(spark, dirs.flatMap(_._2), conf)
        .fold(spark.read.parquet(dirs.map(_._1.toString): _*))(
          graft.Tables.listedParquet(spark, dirs.filter(_._2.nonEmpty).toMap, _))
      val bytes = dirs.iterator.flatMap(_._2).map(_.getLen).sum
      val newest = snap.live.zipWithIndex
        .flatMap { case ((_, gone), i) => gone.map(_ -> i) }.toMap
      if (newest.isEmpty) scan -> bytes
      else {
        val index = snap.live.map(_._1).zipWithIndex.toMap
        val retracted = udf(new UDF2[String, String, Boolean] {
          def call(url: String, file: String): Boolean =
            url != null && newest.get(url).exists { i =>
              val dir = file.substring(0, file.lastIndexOf('/'))
              index(dir.substring(dir.lastIndexOf('/') + 1)) <= i
            }
        }, BooleanType)
        scan.filter(!retracted(col("url"), col("_metadata.file_path"))) -> bytes
      }
    }

  /** The one write path of the store: commit `rows` (every row of the
    * urls they carry) and retract the older rows of `retract`, as the
    * next version; returns it. `replace` drops every older row instead
    * (a forced full sync retracts every url). A commit with no rows and
    * nothing to retract still mints its version.
    *
    * Cost: `rows` are written as `v<N>`, and the log gets one line per
    * retracted url. A commit that finds no live directory, that
    * replaces, or that would pass [[MaxLiveDirs]] or
    * [[MaxRetractedUrls]] writes the folded snapshot (older rows minus
    * `retract`, plus `rows`) as the base `v<N>` and removes the older
    * directories from the live set: that is the full rewrite every
    * commit paid before, now paid once per bound. A crash after the data
    * write and before the log append leaves an orphan `v<N>` that no
    * snapshot reads; the next commit at N overwrites it. */
  private[graft] def commit(spark: SparkSession, root: String,
      rows: Option[DataFrame], retract: Seq[String],
      replace: Boolean = false): Long = {
    val head = latestVersion(root)
    val snap = TxnLogStore.snapshot(root, head)
    val next = head + 1
    val dir = s"v$next"
    val fold = replace || snap.live.isEmpty ||
      snap.live.size + rows.size > MaxLiveDirs ||
      snap.pending + retract.size > MaxRetractedUrls
    val contents =
      if (!fold) rows
      else {
        val kept = if (replace) None else readSnapshot(spark, root, snap)
          .map(_._1).map(df => if (retract.isEmpty) df
            else df.filter(!col("url").isin(retract: _*)))
        (kept ++ rows).reduceOption(_ unionByName _)
      }
    contents.foreach(_.write.mode(SaveMode.Overwrite).parquet(s"$root/$dir"))
    TxnLogStore.commit(root, next, contents.map(_ => dir).toSeq,
      if (fold) snap.live.map(_._1) else Nil,
      if (fold) Nil else retract)
    next
  }

  /** Upsert-by-url: `incoming` replaces every stored row of the urls it
    * carries; returns the new version. Idempotent per incoming batch
    * (re-running the same batch commits the same urls with the same
    * contents), which is exactly what an at-least-once streaming sink
    * needs. */
  def upsertVersioned(spark: SparkSession, root: String,
      incoming: DataFrame): Long = {
    val rows = incoming.localCheckpoint(true)
    val urls = rows.select("url").distinct().collect().map(_.getString(0))
    commit(spark, root, Some(rows), urls.toSeq)
  }

  /** Version retention: delete every data directory that no snapshot
    * among the newest `keepLast` versions reads ([[TxnLogStore.vacuum]]),
    * an orphan a crashed commit left included, and return their version
    * ids. A directory is live from its commit until a fold removes it,
    * so most directories outlive many versions. The log is kept: time
    * travel to a version before the horizon fails at read.
    * Single-writer discipline, as for [[commit]]. */
  def vacuumVersions(root: String, keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    TxnLogStore.vacuum(root, latestVersion(root) - keepLast + 1)
      .map(_.substring(1).toLong).sorted
  }

  /** Stage the shared three-upsert fixture of [[timeTravelReport]] and
    * [[changeFeedReport]] under `root`: inserts per `doc_id % 3`
    * residue, planted UPDATES (`% 6 = 0` re-written in the second
    * upsert, `% 6 = 3` in the third). */
  private def buildVersionedFixture(s: SparkSession, dir: String,
      root: String): Unit = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(lit("doc://"), col("doc_id")).as("url"), col("text"))
    val b0 = d.filter(pmod(col("doc_id"), lit(3)) === 0)
    val b1 = d.filter(pmod(col("doc_id"), lit(3)) === 1)
      .unionByName(d.filter(pmod(col("doc_id"), lit(6)) === 0)
        .withColumn("text", concat(col("text"), lit("-r1"))))
    val b2 = d.filter(pmod(col("doc_id"), lit(3)) === 2)
      .unionByName(d.filter(pmod(col("doc_id"), lit(6)) === 3)
        .withColumn("text", concat(col("text"), lit("-r2"))))
    Seq(b0, b1, b2).foreach(b => upsertVersioned(s, root, b))
  }

  /** Snapshot-isolation (time-travel) report over the versioned store:
    * three upserts build versions v0..v2 — inserts plus planted
    * UPDATES (`doc_id % 6 = 0` re-written in the second upsert,
    * `% 6 = 3` in the third) — and then every historical version is
    * read back AS OF its commit ([[readVersion]]). This row pins that
    * versions are genuinely immutable snapshots: a later upsert that
    * leaked into an earlier version, a merge that dropped an update, a
    * retraction folded into the wrong version, or a commit off-by-one
    * all shift a sum. The DuckDB oracle re-derives every snapshot's
    * membership and content lengths from the construction arithmetic.
    *
    * Scale: each upsert writes only its batch and logs its urls;
    * reports are one aggregate per version. */
  def timeTravelReport(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.within("ttravel") { base =>
      val root = s"$base/store"
      buildVersionedFixture(s, dir, root)
      (0L to 2L).map { v =>
        readVersion(s, root, v).get.agg(
          lit(v).as("version"), count(lit(1)).as("n_urls"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text")).cast("long")).as("sum_len"))
      }.reduce(_ unionByName _)
        .orderBy("version")
        .localCheckpoint(true)
    }

  /** Change-data-capture feed between consecutive store versions —
    * what a downstream consumes to stay incremental without rescanning
    * the table: per transition v→v+1, row-level change classes
    * (inserted / updated / unchanged — the upsert discipline never
    * deletes, so a nonzero delete count would itself be a defect)
    * derived by a full-outer url join comparing content. The DuckDB
    * oracle re-derives every class from the fixture's residue
    * arithmetic — a change feed that misses an update (the classic CDC
    * bug: comparing keys, not content) or double-reports an insert
    * shifts a count.
    *
    * Scale: one url-keyed join per transition (both sides
    * version-sized); a production feed persists per-commit change
    * files instead of diffing snapshots — the diff here doubles as the
    * VALIDATOR such a feed would be checked against. */
  def changeFeedReport(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.within("cdcfeed") { base =>
      val root = s"$base/store"
      buildVersionedFixture(s, dir, root)
      (0L to 1L).map { v =>
        val prev = readVersion(s, root, v).get
          .select(col("url"), col("doc_id").as("id_a"),
            col("text").as("text_a"))
        val next = readVersion(s, root, v + 1).get
          .select(col("url"), col("doc_id").as("id_b"),
            col("text").as("text_b"))
        prev.join(next, Seq("url"), "full_outer")
          .agg(lit(v).as("from_v"), lit(v + 1).as("to_v"),
            sum(col("id_a").isNull.cast("long")).as("n_inserted"),
            sum((col("id_a").isNotNull && col("id_b").isNotNull &&
              col("text_a") =!= col("text_b")).cast("long"))
              .as("n_updated"),
            sum((col("id_a").isNotNull && col("id_b").isNotNull &&
              col("text_a") === col("text_b")).cast("long"))
              .as("n_unchanged"),
            sum(col("id_b").isNull.cast("long")).as("n_deleted"),
            coalesce(sum(when(col("id_a").isNull, col("id_b"))), lit(0L))
              .as("sum_id_inserted"),
            coalesce(sum(when(col("id_a").isNotNull &&
              col("id_b").isNotNull &&
              col("text_a") =!= col("text_b"), col("id_b"))), lit(0L))
              .as("sum_id_updated"))
      }.reduce(_ unionByName _)
        .select(col("from_v"), col("to_v"),
          col("n_inserted").cast("long"), col("n_updated").cast("long"),
          col("n_unchanged").cast("long"), col("n_deleted").cast("long"),
          col("sum_id_inserted").cast("long"),
          col("sum_id_updated").cast("long"))
        .orderBy("from_v")
        .localCheckpoint(true)
    }

  /** Chunk inspector (reference controller/chunk-inspector.ts:42-206):
    * all chunks of one url, created_at attached via LEFT JOIN on
    * chunk_id when a dates table exists (NULL otherwise), capped at
    * `maxChunks` (the reference's MAX_CHUNKS=500), default-ordered by
    * (chunk_index with nulls last, chunk_id). A legacy store whose
    * schema predates chunk_index falls back to chunk_id order instead
    * of failing (the reference's backward-compatible retry,
    * mcp/src/server.ts:558-592).
    *
    * Scale: the url filter lands on the chunks scan before the join,
    * and orderBy+limit compiles to TakeOrderedAndProject — a page
    * inspection reads one url's chunks, never the store. */
  def inspectChunks(chunks: DataFrame, dates: Option[DataFrame],
      url: String, maxChunks: Int = 500): DataFrame = {
    val page = chunks.filter(col("url") === url)
    val withDates = dates match {
      case Some(d) =>
        page.join(d.select(col("chunk_id"), col("created_at")),
          Seq("chunk_id"), "left")
      case None => page.withColumn("created_at", lit(null).cast("string"))
    }
    val order =
      if (chunks.columns.contains("chunk_index"))
        Seq(coalesce(col("chunk_index").cast("long"),
          lit(Long.MaxValue)).asc, col("chunk_id").asc)
      else Seq(col("chunk_id").asc)
    withDates.orderBy(order: _*).limit(maxChunks)
  }

  /** [[inspectChunks]] as an oracle row: the per-url lookup over a
    * staged store whose inspected page has more chunks than the cap.
    * Every document contributes one chunk to the hot url (every 17th
    * missing its chunk_index — those must sort LAST and fall to the
    * cap), a cold url per document must be filtered before the join,
    * and created_at exists for only every 2nd chunk (left-join gaps
    * render empty). `maxChunks = 480` < 500 docs proves the cap; with
    * 30 null-index chunks it also keeps exactly 10 of them, proving
    * nulls-last ordering INSIDE the capped window. Nullable outputs are
    * rendered as strings ('' for missing) for driver-hash stability. */
  def inspectQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    def cid = concat(lit("c"), lpad(col("doc_id").cast("string"), 4, "0"))
    val hot = docs.select(
      lit("doc://hot").as("url"),
      cid.as("chunk_id"),
      when(col("doc_id") % 17 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id")).as("chunk_index"),
      substring(col("text"), 1, 16).as("content"))
    val cold = docs.select(
      concat(lit("doc://cold/"), col("doc_id")).as("url"),
      concat(lit("x"), col("doc_id")).as("chunk_id"),
      col("doc_id").as("chunk_index"),
      substring(col("text"), 1, 16).as("content"))
    val dates = docs.filter(col("doc_id") % 2 === 0).select(
      cid.as("chunk_id"),
      concat(lit("2024-01-"),
        lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
        .as("created_at"))
    inspectChunks(hot.unionByName(cold), Some(dates), "doc://hot",
        maxChunks = 480)
      .withColumn("chunk_index",
        coalesce(col("chunk_index").cast("string"), lit("")))
      .withColumn("created_at", coalesce(col("created_at"), lit("")))
      .orderBy("chunk_id")
  }
}
