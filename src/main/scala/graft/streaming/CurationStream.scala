package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.Curation

/** Streaming dataset curation: the batch Curation operators applied to
  * a continuous document feed. The quality gate and the hash-bucket
  * sample are STATELESS column filters (they stream with zero state by
  * construction — the same property that makes them shuffle-free in
  * batch); corpus-global span dedup is the one genuinely stateful step,
  * and its state is the persisted span-hash INDEX (8 bytes per span),
  * maintained per micro-batch through foreachBatch — the
  * [[Curation.spanDedupDelta]] semantics, applied incrementally.
  *
  * Idempotence: re-delivery of a batch re-appends hashes the index
  * already holds; the dedup anti-join is insensitive to duplicate index
  * rows, so at-least-once delivery converges to the same kept set (the
  * same contract as EventStream.ingestStream).
  */
object CurationStream {

  /** Stateless curation gate: minimum word count plus the
    * deterministic sha-bucket sample at `ratePermille` — the SAME
    * bucket definition as the batch Curation.stratifiedSample, so the
    * streaming gate selects exactly the sample the batch operator
    * would, and re-delivered documents always gate the same way. */
  def gate(docs: DataFrame, minWords: Int = 20,
      ratePermille: Int = 1000): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= minWords)
      .filter(Curation.shaBucket(col("doc_id")) < ratePermille)

  /** One micro-batch of incremental span dedup against the persisted
    * index at `indexDir`: documents whose every span is already indexed
    * (or duplicated earlier in the batch) drop; surviving documents are
    * appended to `keptDir` with their new-span count, and the new
    * hashes are appended to the index. Exposed for direct testing. */
  private[graft] def dedupBatch(batch: DataFrame, indexDir: String,
      keptDir: String): Unit = {
    val s = batch.sparkSession
    val spans = Curation.spansOf(batch.select("doc_id", "text"))
    // only a genuinely-absent index means "first batch" — any OTHER
    // read failure (IO error, corrupt file) must propagate and fail
    // the batch, or dedup silently turns off and duplicate docs land
    // permanently in the append-only kept sink
    val indexExists = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(indexDir))
    val stored =
      if (indexExists)
        s.read.parquet(indexDir).select("h").withColumn("in_stored", lit(1L))
      else
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("h", LongType),
            StructField("in_stored", LongType))))
    val marked = spans
      .join(stored, Seq("h"), "left")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
          .orderBy(col("doc_id"), col("pos"))))
      .withColumn("is_new",
        col("in_stored").isNull && col("rn") === 1)
      .localCheckpoint(true) // feeds kept-docs and index append
    val perDoc = marked.groupBy(col("doc_id"))
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new_spans"))
      .filter(col("n_new_spans") > 0)
    perDoc
      .join(batch, Seq("doc_id"))
      .select("doc_id", "source", "n_new_spans")
      .write.mode("append").parquet(keptDir)
    marked.filter(col("is_new")).select("h")
      .write.mode("append").parquet(indexDir)
  }

  /** The full streaming pipeline: gate → per-batch span dedup →
    * kept-docs sink + index maintenance. Returns the started query;
    * callers own its lifecycle. */
  def curateStream(docs: DataFrame, indexDir: String, keptDir: String,
      checkpointDir: String, minWords: Int = 20,
      ratePermille: Int = 1000): StreamingQuery =
    gate(docs, minWords, ratePermille).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          dedupBatch(batch.toDF(), indexDir, keptDir)
          ()
      }
      .start()

  /** Streaming-curation parity as an ORACLE row: the full
    * gate → per-batch span-dedup → kept-sink pipeline run as a real
    * 4-micro-batch streaming query over doc_id-range slices replayed
    * in ascending order, hash-matched against the batch derivation in
    * DuckDB. Ascending replay makes cross-batch first-claim equal the
    * global (doc_id, pos) first-claim the batch dedup_spans row pins —
    * so the kept set and every survivor's new-span count must match
    * exactly; an index row lost between batches, a double claim, or a
    * gate drifting from the batch sampler's sha-bucket all land as
    * hash mismatches. The 500‰ rate keeps the sha-bucket branch live
    * (1000‰ would pass everything). */
  def streamCurateParity(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
    def readBack(kept: DataFrame) = kept
      .select(col("doc_id"), col("source"),
        col("n_new_spans").cast("long").as("n_new_spans"))
      .orderBy("doc_id")
    val noneKept = readBack(docs.select(col("doc_id"), col("source"),
      lit(0L).as("n_new_spans")).limit(0))
    if (docs.take(1).isEmpty) return noneKept
    // ascending doc_id slices, stamped in order: deterministic replay
    Replay.staged(s"curate_${StageCache.dirKey(dir)}") { d =>
      docs.repartitionByRange(4, col("doc_id")).write.parquet(s"$d/in")
      Replay.stamp(s"$d/in")
    } { (in, work) =>
      val kept = s"$work/kept"
      val q = curateStream(Replay.read(s, in, Seq("in")), s"$work/index",
        kept, s"$work/ckpt", ratePermille = 500)
      try q.processAllAvailable() finally q.stop()
      (if (new java.io.File(kept).exists) readBack(s.read.parquet(kept))
       else noneKept).localCheckpoint(true)
    }
  }
}
