package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** The seeds of a built index, read from its `.centroids` parquet
    * copy rather than the manifest the probe kernel reads. */
  def indexSeeds(s: SparkSession, indexDir: String): Array[Array[Float]] = {
    import s.implicits._
    s.read.parquet(indexDir + ".centroids")
      .orderBy("cell").select("embedding").as[Array[Float]].collect()
  }

  /** Probe a built IVF index: rank the persisted centroids against the
    * query on the driver (nlist dot products — pure math, no corpus
    * pass), read only the `nprobe` best partitions, exact cosine
    * re-rank. The cell filter is a partition filter on the scan. Pass
    * `excludeId` to drop a known self-match *before* the limit so all
    * `k` result slots are real neighbors.
    * Zero-norm vectors have no direction, so they take no part in a
    * cosine ranking: zero-norm candidates are skipped, and a zero-norm
    * query returns no rows (the cosine would divide by zero). */
  def probeIvf(s: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int = 10, nprobe: Int = IvfNprobe,
      excludeId: Option[Long] = None): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val seeds = indexSeeds(s, indexDir)
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
