package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

// Reference implementations the specs compare live engine paths against,
// and a fixture builder only specs use. No product code calls them; each
// object names the engine object its members came from.

/** From [[graft.sources.Warc]]. */
object WarcReference {
  import graft.sources.Warc._

  /** Whole-buffer convenience walk (fixtures, specs, single sliced
    * records): the streaming parser over a ByteArrayInputStream,
    * errors dropped. Distributed paths use [[parseWarcEvents]]. */
  def parseWarc(bytes: Array[Byte]): Seq[WarcRecord] =
    parseWarcEvents(new java.io.ByteArrayInputStream(bytes))
      .collect { case Right(r) => r }.toVector

  /** WET fixture twin: a `warcinfo` plus one `conversion` record whose
    * block is the extracted text of [[fixtureHtml]] — the exact text
    * the HTML pipeline's markdown carries, so the two distributions
    * stay consistent. Gzipped for odd ids like [[fixtureWarc]]. */
  def fixtureWet(id: Long): Array[Byte] = {
    val raw = fixtureWetRaw(id)
    if (id % 2 == 1) gzip(raw) else raw
  }
}

/** From [[graft.operators.MatView]]. */
object MatViewReference {
  import graft.operators.MatView._

  /** Full-recompute MV over the maintained base state — the expensive
    * path [[incrementalRefresh]] exists to avoid; specs reconcile the
    * two so the kernel can never drift from recompute semantics. */
  def fullRefresh(s: SparkSession, dir: String): DataFrame = {
    val (store, adds, _) = parts(s, dir)
    finish(aggMv(store.filter(pmod(col("l_orderkey"), lit(10)) =!= 3)
      .unionByName(adds)))
  }
}

/** From [[graft.operators.Dedup]]. */
object DedupReference {
  import graft.operators.Dedup._

  /** Typed `Aggregator` form of the MinHash signature (the UDAF
    * extension surface): buffer = running minima per permutation,
    * reduce = fold one 28-bit shingle hash through all permutations,
    * merge = elementwise min — associative and commutative, so Spark
    * runs it with map-side partial aggregation. The per-document typed
    * kernel stays the default (zero shuffle when input is already one
    * row per document); this form is for when shingles arrive as an
    * EXPLODED relation (e.g. out of a join) and grouping is unavoidable
    * anyway. Output identical to [[minhashSignatures]]. */
  object MinHashAgg extends org.apache.spark.sql.expressions
      .Aggregator[Long, Array[Long], String] {
    override def zero: Array[Long] = Array.fill(NumPerms)(Long.MaxValue)
    override def reduce(buf: Array[Long], x: Long): Array[Long] = {
      var j = 0
      while (j < NumPerms) {
        val h = (perms(j)._2 * x + perms(j)._3) % P
        if (h < buf(j)) buf(j) = h
        j += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var j = 0
      while (j < NumPerms) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
      a
    }
    override def finish(buf: Array[Long]): String = buf.mkString(",")
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** [[minhashSignatures]] via the Aggregator over exploded shingle
    * postings (28-bit sha prefix per shingle, as everywhere). */
  def minhashSignaturesAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = shingles(s, dir)
      .select(col("doc_id"),
        conv(substring(sha2(col("shingle"), 256), 1, 7), 16, 10)
          .cast("long").as("x"))
    x.as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(MinHashAgg.toColumn.name("sig"))
      .toDF("doc_id", "sig")
      .orderBy("doc_id")
  }
}

/** From [[graft.operators.Similarity]]. */
object IvfReference {
  import graft.operators.Similarity._

  /** The seeds a build over the corpus at `dir` with `lloydIters`
    * Lloyd rounds quantizes with, recomputed from the corpus rather
    * than read from the manifest the probe kernel reads. */
  def indexSeeds(s: SparkSession, dir: String,
      lloydIters: Int = 0): Array[Array[Float]] =
    lloydRefine(s, dir, ivfSeeds(s, dir, IvfNlist), lloydIters)

  /** Probe a built IVF index: rank its centroids `seeds` against the
    * query on the driver (nlist dot products — pure math, no corpus
    * pass), read only the `nprobe` best partitions, exact cosine
    * re-rank. The cell filter is a partition filter on the scan. Pass
    * `excludeId` to drop a known self-match *before* the limit so all
    * `k` result slots are real neighbors.
    * Zero-norm vectors have no direction, so they take no part in a
    * cosine ranking: zero-norm candidates are skipped, and a zero-norm
    * query returns no rows (the cosine would divide by zero). */
  def probeIvf(s: SparkSession, indexDir: String,
      seeds: Array[Array[Float]], queryVec: Array[Float],
      k: Int = 10, nprobe: Int = IvfNprobe,
      excludeId: Option[Long] = None): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val cells = topCells(queryVec, seeds, nprobe)
    val q = s.createDataFrame(Seq(Tuple1(queryVec))).toDF("qv")
    val scan = s.read.parquet(indexDir)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
    excludeId.fold(scan)(id => scan.filter(col("vec_id") =!= id))
      .crossJoin(broadcast(q))
      .filter(expr("dot_f(qv, qv) > 0 AND dot_f(embedding, embedding) > 0"))
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select("vec_id", "cosine")
  }
}

/** From [[graft.operators.DocPipeline]]: the page lookup as a Spark plan
  * over any frame with `url` and `chunk_index`, the path every store
  * page took before snapshot handles kept their rows resident. The url
  * and range filters run in the scan; the page crosses one exchange into
  * a single partition, sorted by `chunk_index` (nulls first). */
object DocPipelineReference {
  def getChunksFromStore(chunks: DataFrame, url: String,
      range: Option[(Int, Int)]): DataFrame = {
    val page = chunks.filter(col("url") === url)
    range.fold(page) { case (a, b) =>
      page.filter(col("chunk_index").between(a, b)) }
      .repartition(1).sortWithinPartitions("chunk_index")
  }
}

/** From [[graft.sources.ChunkStore]] and [[graft.operators.Sync]]: the
  * full-copy store every sync wrote before the commit log — the
  * plan-level upsert and guarded cleanup, written as a complete `v<N>`
  * per run behind a `LATEST` pointer — and the store half of the sync
  * run that drove it. Specs replay the same runs through both stores and
  * compare them row for row. */
object StoreReference {
  import graft.operators.{StoredChunk, Sync}

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

  private def latestFile(root: String) = new java.io.File(root, "LATEST")

  /** Current version number, or -1 when the store is empty. The
    * pointer is authoritative; a missing or unreadable pointer falls
    * back to scanning the version directories. */
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

  def readLatest(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = latestVersion(root)
    if (v < 0) None else Some(spark.read.parquet(s"$root/v$v"))
  }

  /** Write `contents` as the next complete version and flip the
    * pointer. */
  def writeVersion(spark: SparkSession, root: String,
      contents: DataFrame): Long = {
    val next = latestVersion(root) + 1
    contents.write.mode(SaveMode.Overwrite).parquet(s"$root/v$next")
    val f = latestFile(root)
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(root, s"LATEST.tmp$next")
    java.nio.file.Files.writeString(tmp.toPath, next.toString)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** The store half of a sync run as it was: URL diff on the whole
    * signature strings, new+updated (or, when `force`, every incoming
    * url) processed with chunk-level reuse, upsert-by-url, guarded
    * cleanup against the urls that yielded chunks, and the whole result
    * rewritten as the next version. `force` is the live run's
    * force_full_sync, so the reference needs no metadata log. */
  def sync(s: SparkSession, incoming: DataFrame, root: String,
      force: Boolean, hasNetworkErrors: Boolean = false,
      scanIncomplete: Boolean = false, chunkSize: Int = 128): Long = {
    import s.implicits._
    val docs = Sync.chunksOfUrls(incoming, chunkSize).localCheckpoint(true)
    val stored = readLatest(s, root)
      .getOrElse(s.emptyDataset[StoredChunk].toDF())
    val storedSig = stored.groupBy(col("url"))
      .agg(array_join(sort_array(collect_list(col("chunk_id"))), ",")
        .as("stored_sig"))
    val incomingSig = docs
      .select(col("url"), array_join(array_sort(col("chunk_ids")), ",")
        .as("sig"))
      .filter(col("sig") =!= "")
    val fresh = incomingSig.join(storedSig, Seq("url"), "left")
      .filter(col("stored_sig").isNull || col("sig") =!= col("stored_sig"))
      .select("url")
    val processed =
      if (force) docs else docs.join(fresh, Seq("url"), "left_semi")
    val embedded = Sync.embedDelta(processed,
        stored.join(broadcast(processed.select("url")), Seq("url"),
          "left_semi"))
      .drop("was_embedded")
    writeVersion(s, root, cleanupObsolete(upsertByUrl(stored, embedded),
      docs.filter(col("n_chunks") > 0), hasNetworkErrors, scanIncomplete))
  }
}
