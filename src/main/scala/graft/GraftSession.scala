package graft

import org.apache.spark.sql.SparkSession

/** The one factory for the engine's local sessions. Every entry point
  * (Bench / Verify / TimeQuery / ScaleProbe / Explain / Demo) and every
  * Spark test suite gets its session here, so the tests run the same
  * SQL and filesystem configuration the product runs.
  *
  * It installs no optimizer rules or extensions: operators register
  * themselves on first use (`AsOf.register`, `KnnIvfRewrite.register`,
  * `VectorExprs.register`), which also covers sessions built elsewhere.
  * AQE and its skew-join split are Spark 4 defaults and are not pinned
  * here (GraftSessionSpec proves both read `true`). */
object GraftSession {

  /** Core count of the entry points that honour `SPARK_GRAFT_CPUS`;
    * unset, every processor this JVM may run on (what `nproc` reports). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core. `conf` pairs are
    * applied after the shared settings, so a caller can add or override
    * one. Builder semantics: when a session is already active, that
    * session is returned. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet stores TIMESTAMP(NANOS), which Spark 4 reads only
      // as a long; Tables.events converts ns → µs
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Local file:// IO without client-side CRC sidecars: every tiny
      // checkpoint/state/commit-log file otherwise writes twice (data
      // + .crc) and re-verifies on read — measured ~30-50% of the
      // streaming parity rows' wall clock (OPTIMIZATION_r20.md). The
      // FileContext route (checkpoint manager) goes raw here; the
      // FileSystem route keeps LocalFileSystem (RocksDB's
      // copyFromLocalFile casts to it) with checksums turned off via
      // LocalFsTuning below. At cluster scale checkpoints live on
      // HDFS/S3 where this knob is moot; recoverability rides rename
      // atomicity, not client CRC.
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        "org.apache.hadoop.fs.local.RawLocalFs",
      "spark.ui.enabled" -> "false")
    val spark = (shared ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalFsTuning.disableLocalCrc(spark)
    quietStreamingProbes()
    spark
  }

  /** `FileStreamSink.hasMetadata` probes every batch-read path for a
    * `_spark_metadata` directory and logs a full WARN stack trace when
    * the filesystem check throws — which it does for the temp e2e
    * staging dirs the streaming parity rows read right around their
    * teardown. The traces are harmless but they flood the tail window
    * the harness records (round 12 lost a REAL retime exception to
    * exactly this noise). The probe's outcome is unaffected by its log
    * level, so the narrowest fix is to cap that one logger at ERROR. */
  private def quietStreamingProbes(): Unit =
    try
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.FileStreamSink",
        org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging must never fail a run
}
