package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md), and the
  * footer-schema parquet read the engine's own stores share. */
object Tables {
  /** `spark.read.parquet` of `dir/name.parquet` without its
    * schema-inference job: the schema comes from one footer read on the
    * driver ([[footerSchema]]), so the load runs no Spark job. A path
    * with no data file at its top level (missing, partitioned, empty)
    * leaves inference, and its error, to Spark. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
    footerSchema(spark, files).fold(spark.read)(spark.read.schema)
      .parquet(path)
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

  /** Normalize events.ts to TimestampType whatever the parquet carries.
    * Earlier driver testdata wrote TIMESTAMP(NANOS), which Spark 4 reads
    * as long under `spark.sql.legacy.parquet.nanosAsLong` — ns→µs
    * floor-division matches DuckDB's TIMESTAMP_NS→TIMESTAMP truncation.
    * The round-13 regeneration writes timestamp[us] with no timezone,
    * which Spark reads as TIMESTAMP_NTZ; with the session timezone
    * pinned to UTC the cast below is instant-preserving and restores the
    * single TimestampType every consumer (unix_micros included) was
    * written against — left NTZ, the two unix_micros(ts) queries threw
    * DATATYPE_MISMATCH and silently dropped out of the round-12 gate. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
