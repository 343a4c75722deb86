package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.operators.StoredChunk
import graft.sources.{ChunkStore, SyncState, TxnLogStore}

/** Log-fold semantics of the transaction-log store beyond the oracle
  * row: ordered prefix folding, remove eviction, version boundaries,
  * and atomic commit publication; the chunk store's read code and the
  * sync-flag log built on the same discipline. */
class TxnLogStoreSpec extends SparkSuite(cpus = 2) {

  test("snapshot = fold of the ordered log prefix; removes evict") {
    val root = tempDir("txnspec").toString
    TxnLogStore.commit(root, 0L, Seq("a", "b"), Seq.empty)
    TxnLogStore.commit(root, 1L, Seq("c"), Seq("a"))
    TxnLogStore.commit(root, 2L, Seq("d"), Seq.empty)
    assert(TxnLogStore.liveFiles(spark, root, 0L) == Seq("a", "b"))
    assert(TxnLogStore.liveFiles(spark, root, 1L) == Seq("b", "c"))
    assert(TxnLogStore.liveFiles(spark, root, 2L) == Seq("b", "c", "d"))
    // a version beyond the log sees the full fold; before it, nothing
    assert(TxnLogStore.liveFiles(spark, root, 99L) == Seq("b", "c", "d"))
    assert(TxnLogStore.liveFiles(spark, root, -1L).isEmpty)
    // a stranded tmp file (crashed writer) is never folded
    java.nio.file.Files.writeString(
      new java.io.File(s"$root/_log/00003.json.tmp").toPath,
      """{"act":"add","file":"ghost"}""")
    assert(TxnLogStore.liveFiles(spark, root, 99L) == Seq("b", "c", "d"))
  }

  test("vacuum honors the retention horizon and keeps retained reads whole") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = tempDir("vacspec").toString
    val root = s"$base/store"
    (0 to 2).foreach(r => Seq.tabulate(5)(i => (r * 10 + i).toLong)
      .toDF("doc_id").write.parquet(s"$root/f$r"))
    TxnLogStore.commit(root, 0L, Seq("f0", "f1"), Seq.empty)
    TxnLogStore.commit(root, 1L, Seq("f2"), Seq("f0"))
    // retain from v1: f0 is referenced by v0 only → vacuumed;
    // f1 and f2 are referenced by v1 → kept
    val deleted = TxnLogStore.vacuum(root, retainFrom = 1L)
    assert(deleted == Seq("f0"))
    // the retained snapshot still reads completely
    val v1 = TxnLogStore.liveFiles(spark, root, 1L)
    assert(v1 == Seq("f1", "f2"))
    assert(spark.read.schema("doc_id LONG")
      .parquet(v1.map(f => s"$root/$f"): _*).count() == 10L)
    // time travel BEFORE the horizon now fails at read — the traded
    // contract, not a silent wrong answer
    intercept[Exception] {
      spark.read.schema("doc_id LONG")
        .parquet(TxnLogStore.liveFiles(spark, root, 0L)
          .map(f => s"$root/$f"): _*).count()
    }
  }

  test("versions past the five-digit pad stay visible to readers") {
    val root = tempDir("txnwide").toString
    // version 100000 writes a SIX-digit action file; a strict \d{5}
    // reader would never see it — latestVersion would stall at 99999
    // and commitOptimistic would exhaust retries against the
    // writer's own invisible commit
    TxnLogStore.commit(root, 99999L, Seq("a"), Seq.empty)
    TxnLogStore.commit(root, 100000L, Seq("b"), Seq("a"))
    assert(TxnLogStore.latestVersion(root) == 100000L)
    assert(TxnLogStore.liveFiles(spark, root, 100000L) == Seq("b"))
    // numeric ordering, not lexicographic: 100000.json sorts AFTER
    // 99999.json even though it compares lower as a string
    assert(TxnLogStore.liveFiles(spark, root, 99999L) == Seq("a"))
    val next = TxnLogStore.commitOptimistic(root, Seq("c"), Seq.empty)
    assert(next == 100001L)
  }

  test("streaming commit sink refuses a multi-row micro-batch") {
    val base = tempDir("txnmulti")
    val root = s"$base/store"
    val reqDir = new java.io.File(s"$base/requests")
    reqDir.mkdirs()
    // TWO requests in ONE file: maxFilesPerTrigger=1 still delivers
    // both rows in a single micro-batch, so version=batchId would
    // silently drop the second commit as a phantom replay — the
    // guard must fail the batch loudly instead
    java.nio.file.Files.writeString(
      new java.io.File(reqDir, "commit0.json").toPath,
      """{"adds":"f0","removes":""}""" + "\n" +
        """{"adds":"f1","removes":""}""")
    val stream = spark.readStream
      .schema("adds STRING, removes STRING")
      .option("maxFilesPerTrigger", 1).json(reqDir.toString)
    val q = stream.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        TxnLogStore.applyCommitBatch(root, b, id))
      .option("checkpointLocation", s"$base/ckpt").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains(">1 commit")),
      s"unexpected failure: ${messages(ex).mkString(" | ")}")
    // nothing was committed — the log is empty, not half-applied
    assert(TxnLogStore.latestVersion(root) == -1L)
  }

  test("optimistic commits: racing writers never lose a commit") {
    val root = tempDir("txnrace").toString
    // a committed version can never be stolen: direct re-commit of
    // an existing version must fail, not silently replace
    TxnLogStore.commit(root, 0L, Seq("a"), Seq.empty)
    intercept[java.nio.file.FileAlreadyExistsException] {
      TxnLogStore.commit(root, 0L, Seq("thief"), Seq.empty)
    }
    assert(TxnLogStore.liveFiles(spark, root, 0L) == Seq("a"))
    // 4 threads × 5 optimistic commits: 20 total, all 20 versions
    // distinct and every writer's files present in the final fold
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (0 until 4).map { w =>
      scala.concurrent.Future {
        (0 until 5).map(i =>
          TxnLogStore.commitOptimistic(root, Seq(s"w$w-$i"), Seq.empty))
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs),
      scala.concurrent.duration.Duration(60, "s")).flatten
    pool.shutdown()
    assert(versions.toSet.size == 20, s"duplicate versions: $versions")
    assert(versions.min == 1L && versions.max == 20L)
    val live = TxnLogStore.liveFiles(spark, root, 20L)
    val expected = (for (w <- 0 until 4; i <- 0 until 5)
      yield s"w$w-$i").toSet + "a"
    assert(live.toSet == expected, "a racing commit was lost")
  }

  test("a store read compiles its code once, whatever its retractions") {
    import spark.implicits._
    val root = tempDir("compileonce").resolve("store").toString
    def rows(urls: Seq[Int], tag: String): DataFrame = urls.map(u =>
      StoredChunk(s"doc://$u", 0, 1, s"$tag-$u", s"$tag $u", Array(u.toFloat)))
      .toDF()
    var expected = (0 until 40).map(u => s"doc://$u" -> s"c0-$u").toMap
    ChunkStore.commit(spark, root, Some(rows(0 until 40, "c0")), Nil)
    val jobs = new JobCount(spark.sparkContext)
    // each commit re-adds a growing prefix of urls and deletes one more,
    // so the live dirs and the retract set grow with every commit
    (1 to 6).foreach { c =>
      val upsert = 0 until 3 * c
      val gone = s"doc://${40 - c}"
      ChunkStore.commit(spark, root, Some(rows(upsert, s"c$c")),
        upsert.map(u => s"doc://$u") :+ gone)
      expected = expected - gone ++ upsert.map(u => s"doc://$u" -> s"c$c-$u")
      var df: DataFrame = null
      assert(jobs.of { df = ChunkStore.readLatest(spark, root).get } == 0)
      val before = CodeGenerator.compileTime
      val got = df.select("url", "chunk_id").as[(String, String)].collect()
      val compiled = CodeGenerator.compileTime - before
      assert(got.length == expected.size && got.toMap == expected, s"commit $c")
      if (c >= 3) assert(compiled == 0, s"commit $c compiled $compiled ns")
    }
    assert(TxnLogStore.snapshot(root, ChunkStore.latestVersion(root)).live.size == 7)
  }

  test("the sync-flag log stays one file and keeps latestByKey's rule") {
    import spark.implicits._
    val path = tempDir("flaglog").resolve("kv").toString
    // a log first written by Spark: a tie on the highest run_id, a key
    // with only a null run_id and one whose null run_id must lose
    val history = scala.collection.mutable.ArrayBuffer[(String, String, Option[Long])](
      ("k0", "a", Some(3L)), ("k0", "b", Some(3L)), ("k1", "c", None),
      ("k2", "d", None), ("k2", "e", Some(1L)), ("k3", null, Some(60L)))
    history.toSeq.toDF("key", "value", "run_id").coalesce(1).write.parquet(path)
    val rnd = new scala.util.Random(12)
    (1 to 200).foreach { i =>
      // few keys and run ids, so most writes tie or lose
      val (k, v, run) = (s"k${rnd.nextInt(3) * 2}", s"v$i", rnd.nextInt(40).toLong)
      SyncState.setMetadata(spark, path, k, v, run)
      history += ((k, v, Some(run)))
    }
    val files = new java.io.File(path).list()
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(files.length <= 2, files.mkString(", "))
    // one partition in write order, so max_by's later-row-wins tie rule
    // is defined
    def latest(log: DataFrame): Map[String, Option[String]] =
      SyncState.latestByKey(log.coalesce(1)).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val expected = latest(history.toSeq.toDF("key", "value", "run_id"))
    assert(expected("k1").isEmpty && expected("k3").isEmpty)
    val onDisk = spark.read.parquet(path)
    assert(onDisk.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("key" -> "string", "value" -> "string", "run_id" -> "bigint"))
    assert(latest(onDisk) == expected)
    expected.foreach { case (k, v) =>
      val got = SyncState.getMetadata(spark, path, k)
      assert(got.isDefined && Option(got.get) == v, k)
    }
  }
}
