package graft.sources

import scala.collection.immutable.VectorMap
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sync metadata (reference DatabaseManager
  * get/setMetadataValue, used for the interrupted-sync recovery flag
  * `sync_complete:{urlPrefix}`, doc2vec.ts:675-770): a parquet KV log
  * where the highest run_id wins.
  *
  * The reference's contract: forceFullSync is true until a run has
  * completed a full sync once — if the process dies mid-crawl the flag
  * is never written, and the next run bypasses every lastmod/ETag skip
  * so pages half-processed under stale cache state are revisited.
  *
  * Both sides run on the driver with parquet's own reader and writer,
  * so neither runs a Spark job, and the log stays one small file: each
  * write replaces it with the winning row of every key. The files stay
  * readable by `spark.read.parquet` as (key string, value string,
  * run_id bigint). SINGLE WRITER per path, as for [[ChunkStore]].
  */
object SyncState {

  private type Entry = (String, String, Option[Long])

  /** The log's file schema. Every field is optional: a resolved key may
    * carry a null value, or a null run_id when none of its rows had
    * one. */
  private val LogSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary key (STRING);
      |  optional binary value (STRING);
      |  optional int64 run_id;
      |}""".stripMargin)

  /** Record `key = value` at `runId`. The log is rewritten as one file
    * that holds the winner of every key over the old files and the new
    * row, in first-seen key order ([[resolve]]). The file is written
    * under a hidden name and renamed into place, and only then are the
    * files it supersedes deleted: a crash before the rename leaves the
    * log as it was, and one after it leaves old files whose winners the
    * new file repeats, so every key resolves to the same value. The new
    * file's name sorts after every older one, so it is read last. Runs
    * no Spark job and opens each old file once. */
  def setMetadata(s: SparkSession, path: String, key: String,
      value: String, runId: Long): Unit = {
    val p = new Path(path)
    val conf = s.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val old = logFiles(fs, p)
    val winners = resolve(old.flatMap(readLog(conf, _)) :+
      ((key, value, Some(runId))))
    val seq = old.map(_.getPath.getName).collect {
      case LogName(n) => n.toLong + 1 }.maxOption.getOrElse(0L)
    val tmp = new Path(p, f"_sync-$seq%019d.parquet.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withType(LogSchema).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val rows = new SimpleGroupFactory(LogSchema)
    try winners.foreach { case (k, (v, run)) =>
      val g = rows.newGroup()
      Option(k).foreach(g.append("key", _))
      Option(v).foreach(g.append("value", _))
      run.foreach(g.append("run_id", _))
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, new Path(p, f"sync-$seq%019d.parquet")))
      throw new java.io.IOException(s"sync state: cannot publish $tmp")
    old.foreach(f => fs.delete(f.getPath, false))
  }

  /** Names of the files [[setMetadata]] writes, with their sequence
    * number. "sync-" sorts after the "part-" files of a Spark write. */
  private val LogName = """sync-(\d+)\.parquet""".r

  /** Latest-write-wins resolution of an append-only KV log: one row
    * per key carrying the value of its highest run_id. The set-based
    * form of [[getMetadata]]'s rule, used by the resume-decision query
    * so the oracle checks the production resolution rule. */
  def latestByKey(log: DataFrame): DataFrame =
    log.groupBy("key").agg(
      expr("max_by(value, run_id)").as("value"),
      max(col("run_id")).as("run_id"))

  /** [[latestByKey]]'s rule over rows in read order: each key's row with
    * the highest run_id, as (value, run_id), keys in first-seen order.
    * As in `max_by`, rows with a null run_id never win (a key with no
    * other row has a null value), and among rows tied on the highest
    * run_id the last one read wins. */
  private def resolve(rows: Seq[Entry]): VectorMap[String, (String, Option[Long])] =
    rows.foldLeft(VectorMap.empty[String, (String, Option[Long])]) {
      case (m, (k, v, run)) =>
        if (run.exists(r => m.get(k).forall(_._2.forall(_ <= r))))
          m.updated(k, (v, run))
        else if (m.contains(k)) m
        else m.updated(k, (null, None))
    }

  /** Latest value for a key (highest run_id), if any: [[resolve]] over
    * the log's files in path order, rows in file order, on the driver,
    * so the read runs no Spark job. After a [[setMetadata]] the log is
    * one file. A path that does not exist, or holds no data file yet (a
    * first sync), has no value. */
  def getMetadata(s: SparkSession, path: String,
      key: String): Option[String] = {
    val p = new Path(path)
    val conf = s.sessionState.newHadoopConf()
    resolve(logFiles(p.getFileSystem(conf), p)
      .flatMap(readLog(conf, _)).filter(_._1 == key)).get(key).map(_._1)
  }

  /** The log's data files in path order (none when the path is
    * missing). */
  private def logFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(graft.Tables.isDataFile)
      .sortBy(_.getPath.toString)

  /** The (key, value, run_id) rows of one log file. */
  private def readLog(conf: org.apache.hadoop.conf.Configuration,
      f: FileStatus): Vector[Entry] = {
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
