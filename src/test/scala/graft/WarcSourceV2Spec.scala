package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Warc

/** The DataSource V2 WARC connector: fixed schema, one input
  * partition per archive, the warc_type pushdown skipping records
  * inside the streaming walk, and gzip transparency — plus the
  * property the generic binaryFile format cannot have: the reader
  * consumes the filesystem stream directly (no whole-file content
  * column). */
class WarcSourceV2Spec extends SparkSuite(cpus = 2) {

  private lazy val dir: String = {
    val d = tempDir("warcv2spec")
    // two plain multi-record buckets + one gzipped archive
    Files.write(d.resolve("a.warc"),
      Warc.fixtureWarcRaw(2) ++ Warc.fixtureWarcRaw(4))
    Files.write(d.resolve("b.warc"), Warc.fixtureWarcRaw(6))
    Files.write(d.resolve("c.warc.gz"), Warc.gzip(Warc.fixtureWarcRaw(8)))
    d.toString
  }

  private def read() =
    spark.read.format("graft.sources.v2.WarcSource").load(dir)

  test("fixed schema; every record of every archive surfaces, gzip " +
      "transparently") {
    val df = read()
    assert(df.schema.fieldNames.toSeq == Seq("path", "record_idx",
      "warc_type", "url", "http_status", "content_type",
      "n_body_bytes", "body_checksum", "body"))
    // 4 docs x (warcinfo + response)
    assert(df.count() == 8)
    val urls = df.filter(col("warc_type") === "response")
      .select("url").collect().map(_.getString(0)).sorted.toSeq
    assert(urls == Seq(2, 4, 6, 8)
      .map(i => s"https://archive.example.com/doc/$i"))
  }

  test("one input partition per archive file") {
    assert(read().rdd.getNumPartitions == 3)
  }

  test("column pruning reaches the reader: a body-free projection " +
      "scans without the body or checksum columns") {
    val slim = read().select("url", "http_status")
    val plan = slim.queryExecution.executedPlan.toString
    assert(plan.contains("columns=url,http_status"), plan.take(1500))
    assert(!plan.contains("body"), plan.take(1500))
    assert(slim.count() == 8)
    // and the body column carries the real payload when asked for
    val body = read().filter(col("warc_type") === "response")
      .filter(col("url").endsWith("/2"))
      .select("body").head().getAs[Array[Byte]](0)
    assert(new String(body, "ISO-8859-1").contains("<h1>Doc 2</h1>"))
  }

  test("warc_type equality pushes into the record walk") {
    val filtered = read().filter(col("warc_type") === "response")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("pushedTypes=response"), plan.take(1500))
    assert(filtered.count() == 4)
    // checksum parity with the column path over the same bytes
    val viaColumns = {
      import spark.implicits._
      val warcs = Seq(2L, 4L, 6L, 8L)
        .map(id => ("x://" + id, Warc.fixtureWarcRaw(id)))
        .toDF("path", "content")
      Warc.warcRecords(spark, warcs)
        .filter(col("warc_type") === "response")
        .select("url", "n_body_bytes", "body_checksum")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    }
    val viaV2 = filtered.select("url", "n_body_bytes", "body_checksum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(viaV2 == viaColumns)
  }

  test("micro-batch stream: archive waves drain exactly once across a " +
      "checkpointed restart") {
    val land = tempDir("warcland")
    val ckpt = tempDir("warcckpt").toString
    val out = tempDir("warcout").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.v2.WarcSource")
        .load(land.toString)
        .filter(col("warc_type") === "response")
        .select("url", "http_status", "body_checksum")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // wave 1 lands two archives
    Files.write(land.resolve("w000.warc"),
      Warc.fixtureWarcRaw(2) ++ Warc.fixtureWarcRaw(4))
    Files.write(land.resolve("w001.warc"), Warc.fixtureWarcRaw(6))
    drain()
    val afterWave1 = spark.read.parquet(out).count()
    assert(afterWave1 == 3, s"wave 1 rows: $afterWave1")
    // wave 2 lands one more (name sorts after — the landing contract);
    // the restarted query resumes from the checkpoint offset
    Files.write(land.resolve("w002.warc"), Warc.fixtureWarcRaw(8))
    drain()
    val urls = spark.read.parquet(out).select("url").collect()
      .map(_.getString(0)).sorted.toSeq
    // exactly once: 4 responses, no wave-1 re-reads
    assert(urls == Seq(2, 4, 6, 8)
      .map(i => s"https://archive.example.com/doc/$i"), urls.toString)
    // a third drain with nothing new is a no-op
    drain()
    assert(spark.read.parquet(out).count() == 4)
  }

  test("a large member-per-record .warc.gz splits into record-range " +
      "partitions with byte-identical results") {
    val d = tempDir("warcsplit")
    val out = new java.io.ByteArrayOutputStream()
    (0 until 100).foreach(i => out.write(Warc.fixtureWarcMemberGz(i)))
    Files.write(d.resolve("big.warc.gz"), out.toByteArray)
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try {
      def readD() =
        spark.read.format("graft.sources.v2.WarcSource").load(d.toString)
      val cols = Seq("warc_type", "url", "http_status", "n_body_bytes",
        "body_checksum")
      val split = readD().select(cols.head, cols.tail: _*)
      assert(split.rdd.getNumPartitions > 1,
        s"expected range splits, got ${split.rdd.getNumPartitions}")
      // record_idx requires the single-partition walk (a range task
      // cannot know how many records precede it)
      val idxCols = "record_idx" +: cols
      val withIdx = readD().select(idxCols.head, idxCols.tail: _*)
      assert(withIdx.rdd.getNumPartitions == 1)
      val a = split.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val b = withIdx.drop("record_idx").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
      assert(a == b, s"split read differs: ${a.take(3)} vs ${b.take(3)}")
      assert(a.length == 200) // 2 records per doc
    } finally spark.conf.set(key, old)
  }

  test("a large WHOLE-STREAM-gzipped archive is NOT range-split: one " +
      "partition, streaming one-member-residency parse (r20 ADVICE)") {
    val d = tempDir("warcnosplit")
    // one gzip member spanning the whole file — range tasks would scan
    // for boundaries that don't exist and partition 0 would buffer the
    // whole decompressed stream
    val raw = new java.io.ByteArrayOutputStream()
    (0 until 50).foreach(i => raw.write(Warc.fixtureWarcRaw(i)))
    Files.write(d.resolve("whole.warc.gz"), Warc.gzip(raw.toByteArray))
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try {
      val df = spark.read.format("graft.sources.v2.WarcSource")
        .load(d.toString).select("warc_type", "url", "body_checksum")
      assert(df.rdd.getNumPartitions == 1,
        s"whole-stream gz fanned out: ${df.rdd.getNumPartitions}")
      assert(df.count() == 100) // 50 docs x (warcinfo + response)
    } finally spark.conf.set(key, old)
  }

  test("hidden files (_ and . prefixed) are excluded from batch and " +
      "stream listings (r20 ADVICE: the StageCache _STAGED marker)") {
    val d = tempDir("warchidden")
    Files.write(d.resolve("a.warc"), Warc.fixtureWarcRaw(2))
    Files.write(d.resolve("_STAGED"), "marker".getBytes("UTF-8"))
    Files.write(d.resolve(".hidden"), "x".getBytes("UTF-8"))
    val df = spark.read.format("graft.sources.v2.WarcSource")
      .load(d.toString)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 2) // warcinfo + response; no marker scan
    // streaming listing skips them too
    val ckpt = tempDir("warchiddenckpt").toString
    val out = tempDir("warchiddenout").toString
    val q = spark.readStream.format("graft.sources.v2.WarcSource")
      .load(d.toString).select("url")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("a file landing BEFORE the committed watermark fails loudly " +
      "instead of silently re-reading / skipping") {
    val land = tempDir("warcv2order")
    val ckpt = tempDir("warcv2orderckpt").toString
    val out = tempDir("warcv2orderout").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.v2.WarcSource")
        .load(land.toString)
        .select("url")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Files.write(land.resolve("m001.warc"), Warc.fixtureWarcRaw(2))
    drain()
    // an out-of-order landing: sorts BEFORE the committed prefix
    Files.write(land.resolve("a000.warc"), Warc.fixtureWarcRaw(4))
    val ex = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](drain())
    assert(ex.getMessage.contains("out of name order") ||
      String.valueOf(ex.getCause).contains("out of name order"),
      ex.toString)
  }

  test("FS-seek CDX fetch: record-pruned access off an archive " +
      "larger than any configured buffer, no content column") {
    // 300 members x ~1 MiB incompressible bodies ≈ 300 MiB on disk —
    // bigger than DefaultMaxRecordBytes (the largest configured
    // buffer anywhere in the WARC path), far past anything a
    // content-column feed could stage per row at this member count.
    // The fetch must read ONLY the (offset, rec_bytes) extents.
    // ~300 MiB on disk: deleted as soon as the test ends
    Scratch.within("warcseek") { d =>
      val f = d.resolve("big.warc.gz")
      val rnd = new java.util.Random(7)
      val extents = Vector.newBuilder[(Int, Long, Long, Long)]
      val outS = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(f), 1 << 20)
      var off = 0L
      var checksum42 = 0L
      (0 until 300).foreach { k =>
        val body = new Array[Byte](1 << 20)
        rnd.nextBytes(body)
        if (k == 42) {
          var i = 0
          while (i < body.length) {
            checksum42 += (body(i) & 0xff).toLong * (1 + i % 97)
            i += 1
          }
        }
        val member = Warc.gzip(Warc.warcEncode(
          Seq(("resource", s"u://rec$k", body))))
        outS.write(member)
        extents += ((k, off, member.length.toLong, body.length.toLong))
        off += member.length
      }
      outS.close()
      assert(off > Warc.DefaultMaxRecordBytes,
        s"fixture too small: $off bytes")
      import spark.implicits._
      val all = extents.result()
      val cdx = Seq(all(0), all(42), all(299))
        .map { case (k, o, l, _) => (f.toString, k, o, l) }
        .toDF("path", "record_idx", "offset", "rec_bytes")
      val got = Warc.warcFetchSlicesFromFiles(spark, cdx,
        compressedCoords = true)
        .select("record_idx", "url", "n_body_bytes", "body_checksum")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(0, 42, 299), got.toString)
      assert(got.forall(_._3 == (1 << 20).toLong), got.toString)
      assert(got(1)._2 == "u://rec42" && got(1)._4 == checksum42,
        s"seek fetch decoded the wrong record: ${got(1)}")
    }
  }
}
