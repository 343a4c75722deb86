package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The engine's chunk store (SURVEY.md §2.6): a Parquet table partitioned
  * by `product_name` (≅ one collection per product, reference
  * database.ts:28), with the reference's two write disciplines:
  *
  *   - upsert-by-url (delete-then-reinsert all chunks of a changed
  *     document, doc2vec.ts:1957-1969) so chunk_index/total_chunks stay
  *     consistent and no orphans survive;
  *   - cleanup guards: obsolete-url deletion is *skipped entirely* when
  *     the scan was incomplete or had network errors
  *     (doc2vec.ts:760-781) — never purge live documents on partial
  *     information.
  *
  * Without a transactional table format in this build, upsert is
  * expressed as plan-level replacement (stored minus incoming-urls, union
  * incoming) written atomically per run directory; on a cluster with
  * Delta/Iceberg the same plan becomes MERGE / replaceWhere keyed on url.
  */
object ChunkStore {

  /** Plan-level upsert: replace every document (url) present in
    * `incoming`, keep all other stored chunks. */
  def upsertByUrl(stored: DataFrame, incoming: DataFrame): DataFrame = {
    val incomingUrls = incoming.select("url").distinct()
    stored.join(incomingUrls, Seq("url"), "left_anti")
      .unionByName(incoming)
  }

  /** Obsolete cleanup with the reference's guards: returns the store
    * unchanged when the visited set is untrustworthy. */
  def cleanupObsolete(stored: DataFrame, visitedUrls: DataFrame,
      hasNetworkErrors: Boolean, scanIncomplete: Boolean): DataFrame =
    if (hasNetworkErrors || scanIncomplete) stored
    else stored.join(visitedUrls.select("url").distinct(),
      Seq("url"), "left_semi")

  /** Partitioned by (product_name, version) — the collection scope of
    * SURVEY §1.3 (reference database.ts:28 keys one collection per
    * `<product>_<version>`): a query scoped to one product+version
    * prunes to exactly that directory pair at PLANNING time, so a
    * one-table-many-versions store never scans other versions' files.
    * PlanAuditSpec pins the pruning against the live plan. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("product_name", "version")
      .parquet(path)

  // ── Versioned store: the MERGE pattern without a transactional table
  // format. Data lives in `root/v<N>`; `root/LATEST` names the current
  // version. An upsert reads the current version, merges at plan level,
  // writes v<N+1> COMPLETELY, then flips the pointer — readers never
  // observe a half-written version, and a crashed writer leaves the
  // store on the old version (the new directory is simply orphaned).
  // On a cluster with Delta/Iceberg this whole block becomes MERGE.

  private def latestFile(root: String) = new java.io.File(root, "LATEST")

  /** Current version number, or -1 when the store is empty. The
    * pointer is authoritative; a missing or unreadable pointer falls
    * back to scanning the version directories (so a reader racing the
    * pointer flip, or a store whose pointer write died, still resolves
    * the newest COMPLETE version — versions are only ever written
    * before the pointer). Local/HDFS-style rename semantics assumed; on
    * an object store this whole layout is replaced by a transactional
    * table format (see class doc). */
  def latestVersion(root: String): Long = {
    val f = latestFile(root)
    val fromPointer: Option[Long] =
      if (!f.exists) None
      else scala.util.Try(
        java.nio.file.Files.readString(f.toPath).trim.toLong).toOption
    fromPointer.getOrElse {
      val vs = Option(new java.io.File(root).listFiles()).getOrElse(Array())
        .filter(d => d.isDirectory && d.getName.matches("v\\d+"))
        .map(_.getName.substring(1).toLong)
      if (vs.isEmpty) -1L else vs.max
    }
  }

  /** Current contents, or None for an empty store. The read runs no
    * Spark job: a `v<N>` directory is immutable once `LATEST` names it,
    * so its schema is taken from one footer on the driver
    * ([[footerSchema]]) and handed to the reader, which then lists the
    * directory and nothing else. Nothing is cached between calls, so a
    * store deleted and re-synced (its version numbers repeat) reads its
    * new rows. */
  def readLatest(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = latestVersion(root)
    if (v < 0) None
    else {
      val dir = s"$root/v$v"
      val p = new Path(dir)
      val files = p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).toSeq
      Some(footerSchema(spark, files).fold(spark.read)(spark.read.schema)
        .parquet(dir))
    }
  }

  /** A file Spark's listing keeps as data: not hidden (`_` or `.`
    * prefix) and not a copy in flight. */
  private[graft] def isDataFile(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
      !n.endsWith("._COPYING_")
  }

  /** The schema Spark infers for a non-merged parquet read of `files`,
    * without its inference job: the footer of the first data file by
    * path, its `org.apache.spark.sql.parquet.row.metadata` (or, from a
    * writer other than Spark, the converted parquet schema). None when
    * no file is data, so the caller leaves inference, and its error
    * for an empty directory, to Spark. */
  private[graft] def footerSchema(spark: SparkSession,
      files: Seq[FileStatus]): Option[StructType] =
    files.filter(isDataFile).sortBy(_.getPath.toString).headOption.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }

  /** Upsert-by-url into the versioned store; returns the new version.
    * Idempotent per incoming batch (re-running the same batch rewrites
    * the same urls to the same contents), which is exactly what an
    * at-least-once streaming sink needs.
    *
    * SINGLE-WRITER assumed: two concurrent upserts would both read
    * version N and race writing v(N+1) — last pointer flip wins and the
    * other batch's rows are silently dropped. The reference has the
    * same discipline (one sync process per collection); under a
    * multi-writer scheduler, serialize per store root or use a
    * transactional table format (Delta/Iceberg MERGE). */
  def upsertVersioned(spark: SparkSession, root: String,
      incoming: DataFrame): Long = {
    val merged = readLatest(spark, root) match {
      case Some(stored) => upsertByUrl(stored, incoming)
      case None => incoming
    }
    writeVersion(spark, root, merged)
  }

  /** Write `contents` as the next complete version and flip the
    * pointer. The building block under upsertVersioned; callers that
    * compute their own merge (e.g. a sync run that also deletes
    * obsolete urls) use this directly. */
  def writeVersion(spark: SparkSession, root: String,
      contents: DataFrame): Long = {
    val next = latestVersion(root) + 1
    contents.write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    // atomic pointer flip: write a temp file, then ATOMIC_MOVE over
    // LATEST — a reader never observes a truncated pointer (and the
    // directory-scan fallback in latestVersion covers a writer that
    // died between the data write and the flip)
    val f = latestFile(root)
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(root, s"LATEST.tmp$next")
    java.nio.file.Files.writeString(tmp.toPath, next.toString)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Version retention: delete all but the newest `keepLast` version
    * directories (plus any stranded pointer temp files). The versioned
    * layout trades write simplicity for a FULL copy per upsert — at
    * 100 TB, retention is what keeps the store from growing by one
    * corpus per sync. `keepLast >= 2` leaves the previous version
    * intact for a reader that resolved the pointer just before a flip;
    * the LATEST pointer itself is never touched. Single-writer
    * discipline applies, same as [[upsertVersioned]]; as a belt-and-
    * braces guard against a vacuum racing an in-flight pointer flip,
    * stranded `LATEST.tmp*` files are only reaped once older than
    * `tmpMaxAgeMs` (a live flip's temp file exists for milliseconds).
    * Returns the deleted version ids. */
  def vacuumVersions(root: String, keepLast: Int = 2,
      tmpMaxAgeMs: Long = 60000L): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val dir = new java.io.File(root)
    val versions = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("v\\d+"))
      .map(_.getName.substring(1).toLong).sorted.toSeq
    val doomed = versions.dropRight(keepLast)
    doomed.foreach { v =>
      val p = new java.io.File(root, s"v$v").toPath
      val walk = java.nio.file.Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { java.nio.file.Files.delete(q); () })
      finally walk.close()
    }
    val cutoff = System.currentTimeMillis() - tmpMaxAgeMs
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("LATEST.tmp")
        && f.lastModified() < cutoff)
      .foreach(_.delete())
    doomed
  }

  /** Snapshot-isolation (time-travel) report over the versioned store:
    * three upserts build versions v0..v2 — inserts plus planted
    * UPDATES (`doc_id % 6 = 0` re-written in the second upsert,
    * `% 6 = 3` in the third) — and then every historical version is
    * read back AS OF its pointer. The full-version layout makes time
    * travel a directory read (Delta/Iceberg resolve the same question
    * through their log); this row pins that versions are genuinely
    * immutable snapshots: a later upsert that leaked into an earlier
    * version's directory, a merge that dropped an update, or a
    * pointer off-by-one all shift a sum. The DuckDB oracle re-derives
    * every snapshot's membership and content lengths from the
    * construction arithmetic.
    *
    * Scale: each upsert is the plan-level MERGE (anti-join + union —
    * one shuffle on url); reports are one aggregate per version. */
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

  def timeTravelReport(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("ttravel")
    try {
      val root = s"$base/store"
      buildVersionedFixture(s, dir, root)
      (0L to 2L).map { v =>
        s.read.parquet(s"$root/v$v").agg(
          lit(v).as("version"), count(lit(1)).as("n_urls"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(length(col("text")).cast("long")).as("sum_len"))
      }.reduce(_ unionByName _)
        .orderBy("version")
        .localCheckpoint(true)
    } finally graft.operators.Sync.deleteTree(base.toFile)
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
  def changeFeedReport(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("cdcfeed")
    try {
      val root = s"$base/store"
      buildVersionedFixture(s, dir, root)
      (0L to 1L).map { v =>
        val prev = s.read.parquet(s"$root/v$v")
          .select(col("url"), col("doc_id").as("id_a"),
            col("text").as("text_a"))
        val next = s.read.parquet(s"$root/v${v + 1}")
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
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

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

  /** Bucketed variant: 8 buckets on url, sorted by chunk_index within
    * each bucket. At scale this co-locates all of a document's chunks
    * (and two bucketed tables joined on url skip the shuffle entirely —
    * the right layout for the url-diff joins of §2.5). Bucketing
    * requires a managed table (`saveAsTable`). */
  def writeBucketed(df: DataFrame, table: String,
      nBuckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, "url")
      .sortBy("url", "chunk_index")
      .format("parquet")
      .saveAsTable(table)
}
