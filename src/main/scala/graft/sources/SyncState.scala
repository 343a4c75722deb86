package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sync metadata (reference DatabaseManager
  * get/setMetadataValue, used for the interrupted-sync recovery flag
  * `sync_complete:{urlPrefix}`, doc2vec.ts:675-770): an append-only
  * parquet KV log where the highest run_id wins.
  *
  * The reference's contract: forceFullSync is true until a run has
  * completed a full sync once — if the process dies mid-crawl the flag
  * is never written, and the next run bypasses every lastmod/ETag skip
  * so pages half-processed under stale cache state are revisited.
  * Appending a new row per write (instead of rewriting the store)
  * keeps the write O(1) and crash-safe: a torn run leaves the log
  * exactly as it was.
  */
object SyncState {

  def setMetadata(s: SparkSession, path: String, key: String,
      value: String, runId: Long): Unit = {
    import s.implicits._
    Seq((key, value, runId)).toDF("key", "value", "run_id")
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Latest-write-wins resolution of an append-only KV log: one row
    * per key carrying the value of its highest run_id. The set-based
    * form of [[getMetadata]]'s rule, used by the resume-decision query
    * so the oracle checks the production resolution rule. */
  def latestByKey(log: DataFrame): DataFrame =
    log.groupBy("key").agg(
      expr("max_by(value, run_id)").as("value"),
      max(col("run_id")).as("run_id"))

  /** Latest value for a key (highest run_id), if any: [[latestByKey]]'s
    * rule applied on the driver, so the read runs no Spark job. The log
    * is one tiny file per run; each is read with parquet's own reader.
    * As in `max_by`, rows with a null run_id never win (a key with no
    * other row has a null value), and among rows tied on the highest
    * run_id the last one read wins (files in path order, rows in file
    * order). A path that does not exist, or holds no data file yet (a
    * first sync), has no value. */
  def getMetadata(s: SparkSession, path: String,
      key: String): Option[String] = {
    val p = new Path(path)
    val conf = s.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val files =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(graft.Tables.isDataFile)
        .sortBy(_.getPath.toString)
    files.flatMap(f => readLog(conf, f)).filter(_._1 == key)
      .foldLeft(Option.empty[(String, Option[Long])]) {
        case (best, (_, v, Some(run)))
            if best.forall(_._2.forall(_ <= run)) => Some(v -> Some(run))
        case (None, _) => Some((null, None))
        case (best, _) => best
      }.map(_._1)
  }

  /** The (key, value, run_id) rows of one log file. */
  private def readLog(conf: org.apache.hadoop.conf.Configuration,
      f: FileStatus): Vector[(String, String, Option[Long])] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), f.getPath)
      .withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      def has(c: String) = g.getFieldRepetitionCount(c) > 0
      (if (has("key")) g.getString("key", 0) else null,
        if (has("value")) g.getString("value", 0) else null,
        Option.when(has("run_id"))(g.getLong("run_id", 0)))
    }.toVector finally reader.close()
  }

  /** True until a full sync has ever completed for this prefix
    * (reference: `syncCompleteValue !== 'true'`). */
  def forceFullSync(s: SparkSession, path: String,
      urlPrefix: String): Boolean =
    !getMetadata(s, path, s"sync_complete:$urlPrefix").contains("true")

  /** Mark the source fully synced — only on a clean run (the reference
    * skips the write when the crawl saw network errors, so the next run
    * still force-processes). */
  def markSyncComplete(s: SparkSession, path: String, urlPrefix: String,
      runId: Long, hasNetworkErrors: Boolean): Unit =
    if (!hasNetworkErrors)
      setMetadata(s, path, s"sync_complete:$urlPrefix", "true", runId)
}
