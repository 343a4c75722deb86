package graft

import org.apache.spark.sql.SparkSession

/** Local-filesystem IO tuning for every session [[GraftSession.local]]
  * builds (Bench / Verify / TimeQuery / Explain / ScaleProbe / Demo and
  * the test suites) and for perfbench's own session.
  *
  * Hadoop's `LocalFileSystem` is a ChecksumFileSystem: every file it
  * writes lands TWICE (data + `.crc` sidecar) and every read re-hashes
  * to verify — pure overhead on a local scratch disk, and measured at
  * ~30-50% of the streaming parity rows' wall clock (each micro-batch
  * commits dozens of tiny state/offset/commit-log files; see
  * OPTIMIZATION_r20.md). Turning checksums off on the process-wide
  * cached instance keeps the class `LocalFileSystem` — which RocksDB's
  * `FileSystem.getLocal` cast requires (an `fs.file.impl` override to
  * RawLocalFileSystem breaks `CANNOT_WRITE_STATE_STORE`) — while
  * skipping all CRC work. The FileContext route (Spark's checkpoint
  * file manager) is rerouted separately via
  * `fs.AbstractFileSystem.file.impl = RawLocalFs` in the session conf.
  *
  * Results are unaffected (the oracle gate re-proves every row);
  * durability on local disk rides rename atomicity, not client CRC —
  * and at cluster scale checkpoints live on HDFS/S3 where none of this
  * applies. */
object LocalFsTuning {
  def disableLocalCrc(spark: SparkSession): Unit = {
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    lfs.setWriteChecksum(false)
    lfs.setVerifyChecksum(false)
  }
}
