package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Chunk
import graft.operators.Chunker

/** Local-directory / code-directory source (SURVEY.md §2.1, reference
  * content-processor.ts:1696-1947): a `binaryFile` scan with
  * extension/size filters, format dispatch (markdown/html pass through
  * the normalizers, known code extensions route to the code chunker,
  * unknown text falls back to character windows), producing the chunk
  * table.
  *
  * Scale: the binaryFile source parallelizes over files; conversion and
  * chunking are per-file kernels (no shuffle). `modificationTime` from
  * the source feeds the mtime-cutoff incremental layer
  * (content-processor.ts:1812-1947) as a plain filter.
  */
object LocalDirectory {

  val DefaultMaxBytes: Long = 10L * 1024 * 1024

  /** Per-file scan decision in [[readFiles]]'s cascade order (size cap
    * → include set → exclude set → mtime cutoff): one LABELED row per
    * listed file instead of a silent drop — the skip accounting a
    * 100 TB scan reports, and the exact predicate readFiles applies
    * (readFiles keeps `decision == 'kept'`, so the oracle-checked
    * cascade IS the production filter). Expects (path, size, mod_ms);
    * extensions are matched lowercased, like the reference's walk. */
  def classifyScan(listing: DataFrame,
      includeExtensions: Seq[String] = Seq.empty,
      excludeExtensions: Seq[String] = Seq.empty,
      maxBytes: Long = DefaultMaxBytes,
      mtimeCutoffMs: Option[Long] = None): DataFrame = {
    val inc = includeExtensions.map(_.toLowerCase)
    val exc = excludeExtensions.map(_.toLowerCase)
    listing
      .withColumn("ext",
        lower(regexp_extract(col("path"), "(\\.[^./\\\\]+)$", 1)))
      .withColumn("decision",
        when(col("size") > maxBytes, lit("skip_size"))
          .when(if (inc.nonEmpty) !col("ext").isin(inc: _*) else lit(false),
            lit("skip_not_included"))
          .when(if (exc.nonEmpty) col("ext").isin(exc: _*) else lit(false),
            lit("skip_excluded"))
          .when(mtimeCutoffMs.map(col("mod_ms") <= _).getOrElse(lit(false)),
            lit("skip_mtime"))
          .otherwise(lit("kept")))
  }

  /** Scan a directory tree as (path, modificationTime, content). */
  def readFiles(spark: SparkSession, dir: String,
      includeExtensions: Seq[String] = Seq.empty,
      excludeExtensions: Seq[String] = Seq.empty,
      maxBytes: Long = DefaultMaxBytes,
      mtimeCutoffMs: Option[Long] = None): DataFrame = {
    val listed = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), unix_millis(col("modificationTime")).as("mod_ms"),
        col("length").as("size"), col("content"))
    classifyScan(listed, includeExtensions, excludeExtensions, maxBytes,
      mtimeCutoffMs)
      .filter(col("decision") === "kept")
      .select("path", "mod_ms", "content")
  }

  /** [[classifyScan]] over a listing synthesized deterministically
    * from the documents table (ext by lang, size = n_chars, mtime from
    * doc id) — the oracle row for the local/S3 scan cascade; constants
    * chosen so ALL five decisions occur at the gate's scale factors.
    * Because [[readFiles]] keeps exactly `decision == 'kept'`, this
    * query checks the production filter, not a replica. */
  def scanFilters(s: SparkSession, dir: String): DataFrame = {
    val listing = graft.Tables.documents(s, dir)
      .withColumn("ext",
        when(col("lang") === "en", ".py").when(col("lang") === "es", ".go")
          .when(col("lang") === "de", ".rs").when(col("lang") === "fr", ".ts")
          .otherwise(".md"))
      .select(
        concat(col("source"), lit("/f"), col("doc_id"), col("ext"))
          .as("path"),
        col("n_chars").cast("long").as("size"),
        (col("doc_id") * 60000L).as("mod_ms"))
    classifyScan(listing, includeExtensions = Seq(".py", ".go", ".md"),
      excludeExtensions = Seq(".md"), maxBytes = 500L,
      mtimeCutoffMs = Some(120L * 60000L))
      .select("path", "ext", "size", "mod_ms", "decision")
      .orderBy("path")
  }

  /** The INCREMENTAL code-directory scan as an oracle row (reference
    * content-processor.ts:1812-1947 + the allowedFiles git-diff gate
    * at 1910-1913): [[scanFilters]]'s kept set further restricted by
    * [[restrictToAllowed]] to the run's changed-file list (every doc
    * whose id ≡ 0 or 1 mod 4 stands in for the git diff). This is the
    * exact production composition `readFiles → restrictToAllowed`
    * chunkFiles consumes, so the last §2.1 kernel without CORRECTNESS
    * presence — the semi-join gate — is oracle-checked through it. */
  def scanAllowed(s: SparkSession, dir: String): DataFrame = {
    val kept = scanFilters(s, dir).filter(col("decision") === "kept")
    val allowed = graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 4 < 2)
      .withColumn("ext",
        when(col("lang") === "en", ".py").when(col("lang") === "es", ".go")
          .when(col("lang") === "de", ".rs").when(col("lang") === "fr", ".ts")
          .otherwise(".md"))
      .select(concat(col("source"), lit("/f"), col("doc_id"), col("ext"))
        .as("path"))
    restrictToAllowed(kept, allowed)
      .select("path", "ext", "size", "mod_ms")
      .orderBy("path")
  }

  /** S3 object-listing decision cascade in the reference's own order
    * (doc2vec.ts:938-980), which differs from the local cascade in
    * three ways worth pinning: folder markers (key ending in '/') are
    * dropped first, excluded extensions are tested BEFORE the include
    * list, and the unchanged-since-last-sync check runs BEFORE the
    * size cap. Objects skipped for mtime or size still count as
    * PRESENT for the deletion diff — processedFiles.add runs before
    * either skip (doc2vec.ts:965) — which [[scanS3]] relies on.
    * Expects (key, size, mod_ms). */
  def classifyS3Scan(listing: DataFrame,
      includeExtensions: Seq[String] = Seq.empty,
      excludeExtensions: Seq[String] = Seq.empty,
      maxBytes: Long = DefaultMaxBytes,
      lastSyncMs: Option[Long] = None): DataFrame = {
    val inc = includeExtensions.map(_.toLowerCase)
    val exc = excludeExtensions.map(_.toLowerCase)
    listing
      .withColumn("ext",
        lower(regexp_extract(col("key"), "(\\.[^./\\\\]+)$", 1)))
      .withColumn("decision",
        when(col("key").endsWith("/"), lit("skip_folder"))
          .when(if (exc.nonEmpty) col("ext").isin(exc: _*) else lit(false),
            lit("skip_excluded"))
          .when(if (inc.nonEmpty) !col("ext").isin(inc: _*) else lit(false),
            lit("skip_not_included"))
          .when(lastSyncMs.map(col("mod_ms") <= _).getOrElse(lit(false)),
            lit("skip_mtime"))
          .when(col("size") > maxBytes, lit("skip_size"))
          .otherwise(lit("kept")))
  }

  /** `metadata(x-amz-meta-…)` config-value indirection (reference
    * resolveS3MetadataValue, doc2vec.ts:1111-1118): a config value of
    * the form `metadata(KEY)` resolves per-object from the S3 user
    * metadata map (the `x-amz-meta-` prefix is stripped, as the AWS
    * SDK returns keys without it; a missing key resolves to the empty
    * string); any other value passes through as a literal. */
  def resolveS3MetadataValue(configValue: String, meta: Column): Column = {
    val Meta = "^metadata\\((.+)\\)$".r
    configValue match {
      case Meta(key) =>
        coalesce(element_at(meta, key.replaceFirst("^x-amz-meta-", "")),
          lit(""))
      case other => lit(other)
    }
  }

  /** Per-object URL (reference doc2vec.ts:1028-1040 and the identical
    * deletion-side computation at 1073-1081): with a rewrite prefix,
    * trailing '/' trimmed from the prefix + the key with the listing
    * prefix and any leading '/' removed; otherwise `s3://bucket/key`. */
  def s3ObjectUrl(bucket: String, prefix: String,
      urlRewritePrefix: Option[String], key: Column): Column =
    urlRewritePrefix match {
      case Some(p0) =>
        val p = if (p0.endsWith("/")) p0.dropRight(1) else p0
        concat(lit(p + "/"),
          regexp_replace(substring(key, prefix.length + 1, Int.MaxValue),
            "^/", ""))
      case None => concat(lit(s"s3://$bucket/"), key)
    }

  /** The S3 source composition as an oracle row (reference processS3,
    * doc2vec.ts:898-1103): a bucket listing synthesized from the
    * documents table (folder markers for doc_id % 23 = 0, ext by lang,
    * size = n_chars, lastModified from doc id, sparse user metadata)
    * run through [[classifyS3Scan]] in the reference's decision order,
    * per-kept-object [[s3ObjectUrl]] rewrite and
    * [[resolveS3MetadataValue]] product/version resolution, UNIONed
    * with the deleted-object diff: the previous run's file list minus
    * everything the listing filters passed — so mtime/size-skipped
    * objects survive, while objects a config change now excludes are
    * purged like the reference purges them. */
  def scanS3(s: SparkSession, dir: String): DataFrame = {
    val bucket = "corp-docs"
    val prefix = "docs/"
    val rewrite = Some("https://docs.example.com/")
    val docs = graft.Tables.documents(s, dir)
    def extCol = when(col("lang") === "en", ".py")
      .when(col("lang") === "es", ".go")
      .when(col("lang") === "de", ".rs")
      .when(col("lang") === "fr", ".ts")
      .otherwise(".md")
    val fileKey = concat(lit(prefix), lit("f"),
      col("doc_id").cast("string"), extCol)
    val listing = docs.select(
      when(col("doc_id") % 23 === 0,
        concat(lit(prefix), lit("d"), col("doc_id").cast("string"), lit("/")))
        .otherwise(fileKey).as("key"),
      col("n_chars").cast("long").as("size"),
      (col("doc_id") * 60000L).as("mod_ms"),
      map_filter(
        map(
          lit("product"),
          when(col("doc_id") % 5 =!= 0,
            concat(lit("prod_"), (col("doc_id") % 3).cast("string"))),
          lit("version"),
          when(col("doc_id") % 11 =!= 0,
            concat(lit("v"), (col("doc_id") % 7).cast("string")))),
        (_, v) => v.isNotNull).as("meta"))
    val classified = classifyS3Scan(listing,
      includeExtensions = Seq(".py", ".go"),
      excludeExtensions = Seq(".md", ".rs"),
      maxBytes = 500L, lastSyncMs = Some(120L * 60000L))
    val kept = col("decision") === "kept"
    val live = classified.select(
      col("key"), col("decision"),
      col("size"), col("mod_ms"),
      when(kept, s3ObjectUrl(bucket, prefix, rewrite, col("key")))
        .as("url"),
      when(kept,
        resolveS3MetadataValue("metadata(x-amz-meta-product)", col("meta")))
        .as("product_name"),
      when(kept, resolveS3MetadataValue("metadata(version)", col("meta")))
        .as("version"))
    // Previous run's file list: the file-shaped key for doc_id % 4 <> 3
    // plus keys that no longer exist at all — diffed against everything
    // the listing's ext/folder filters passed (present even if skipped
    // for mtime/size, per the reference's processedFiles semantics).
    val previous = docs.filter(col("doc_id") % 4 =!= 3)
      .select(fileKey.as("key"))
      .union(docs.filter(col("doc_id") % 29 === 0)
        .select(concat(lit(prefix), lit("gone"), col("doc_id").cast("string"),
          lit(".py")).as("key")))
    val present = classified
      .filter(col("decision").isin("kept", "skip_mtime", "skip_size"))
      .select("key")
    val deleted = previous.join(present, Seq("key"), "left_anti")
      .select(col("key"), lit("deleted").as("decision"),
        lit(null).cast("long").as("size"),
        lit(null).cast("long").as("mod_ms"),
        s3ObjectUrl(bucket, prefix, rewrite, col("key")).as("url"),
        lit(null).cast("string").as("product_name"),
        lit(null).cast("string").as("version"))
    live.union(deleted).orderBy("key", "decision")
  }

  /** Deleted-object detection (reference doc2vec.ts:1062-1095): the
    * previous run's file list anti-joined against the current listing.
    */
  def deletedFiles(previous: DataFrame, current: DataFrame): DataFrame =
    previous.select("path").join(current.select("path"), Seq("path"),
      "left_anti")

  /** Git-diff gating (reference allowedFiles,
    * content-processor.ts:1910-1913): restrict the scan to the changed
    * set via a semi-join. */
  def restrictToAllowed(files: DataFrame, allowed: DataFrame): DataFrame =
    files.join(allowed.select("path"), Seq("path"), "left_semi")

  private def extOf(path: String): String = {
    val slash = math.max(path.lastIndexOf('/'), path.lastIndexOf('\\'))
    val dot = path.lastIndexOf('.')
    if (dot > slash) path.substring(dot).toLowerCase else ""
  }

  /** Format dispatch + chunking: one pass, no shuffle. Document formats
    * (md/txt/html/pdf/doc/docx) route through DocumentConverters to
    * markdown; everything else goes to the code chunker (which itself
    * dispatches by language with a character-window fallback). */
  def chunkFiles(spark: SparkSession, files: DataFrame,
      productName: String, version: String): Dataset[Chunk] = {
    import spark.implicits._
    files.select("path", "mod_ms", "content").as[(String, Long, Array[Byte])]
      .flatMap { case (path, _, bytes) =>
        val url = if (path.startsWith("file:")) path else s"file://$path"
        extOf(path) match {
          case "" =>
            Chunker.chunkMarkdown(
              new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
              productName, version, url)
          case _ =>
            DocumentConverters.convertFileToMarkdown(path, bytes) match {
              case Some(md) =>
                Chunker.chunkMarkdown(md, productName, version, url)
              case None =>
                Chunker.chunkCode(
                  new String(bytes, java.nio.charset.StandardCharsets.UTF_8),
                  productName, version, url,
                  filePath = path.replaceFirst("^file:/*", "/"))
            }
        }
      }
  }
}
