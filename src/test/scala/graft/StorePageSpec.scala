package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.DocPipeline
import graft.sources.ChunkStore

/** Page lookups answered from a store snapshot's resident rows
  * (`ChunkStore.residentPage`) against the Spark plan every page took
  * before ([[DocPipelineReference]]): every url of a multi-commit store
  * over ranges inside, across and outside its chunks, a url with no
  * rows, null `chunk_index` rows, a legacy store, a frame derived from
  * the handle's, a commit after a warm page, a store written again with
  * the same commit bytes, snapshots whose rows pass the memory rule or
  * the driver's result cap, and a deleted store's place in the memory
  * account. The suite's result cap is small
  * ([[MaxResult]]), so a fill that ships more fails its job. */
class StorePageSpec extends SparkSuite(cpus = 2,
    conf = Seq("spark.driver.maxResultSize" -> "8m")) {
  import spark.implicits._

  /** The suite's `spark.driver.maxResultSize`. */
  private val MaxResult = 8L << 20

  /** Commit `rows` of `(url, chunk_index, content)` as one upsert. */
  private def upsert(root: String, rows: Seq[(String, Option[Int], String)]): Long =
    ChunkStore.upsertVersioned(spark, root, rows.toDF("url", "chunk_index", "content")
      .withColumn("chunk_id", sha2(concat_ws("|", col("url"),
        coalesce(col("chunk_index").cast("string"), lit("-")), col("content")), 256))
      .withColumn("embedding", array(length(col("content")).cast("float"),
        coalesce(col("chunk_index").cast("float"), lit(-1f)))))

  /** `n` chunks of `url`, indexed 0 until n, tagged with the commit. */
  private def doc(url: String, n: Int, tag: String): Seq[(String, Option[Int], String)] =
    (0 until n).map(i => (url, Some(i), s"$tag $url chunk $i"))

  /** A store of 12 commits: adds, re-upserts that retract older rows,
    * and the fold that passing `MaxLiveDirs` forces, with commits on top
    * of the folded base. Returns its root and each url's chunk count. */
  private lazy val multiCommit: (String, Map[String, Int]) = {
    val root = tempDir("storepage").resolve("store").toString
    var sizes = Map.empty[String, Int]
    (0 until 12).foreach { c =>
      val batch = Seq(s"doc://new/$c" -> (1 + c % 4)) ++
        Option.when(c > 0)(s"doc://new/${c / 2}" -> (2 + c % 3)) ++
        Option.when(c % 5 == 4)("doc://multi" -> 6)
      sizes ++= batch
      upsert(root, batch.flatMap { case (u, n) => doc(u, n, s"c$c") })
    }
    val log = new java.io.File(root, "_log").listFiles().map(f =>
      java.nio.file.Files.readString(f.toPath))
    assert(log.exists(_.contains("\"remove\"")), "no commit folded the store")
    root -> sizes
  }

  private def strings(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString)

  /** The resident page and the reference plan agree: the same
    * `chunk_index` sequence (nulls first), and rows that tie on it
    * compare as a multiset. */
  private def assertSamePage(got: Array[Row], want: Array[Row], what: String): Unit = {
    def index(r: Row): Option[Long] =
      Option(r.getAs[Any]("chunk_index")).map(_.toString.toLong)
    assert(got.map(index).toSeq == want.map(index).toSeq, s"$what: chunk_index order")
    def ties(rows: Array[Row]) = rows.groupBy(index).view.mapValues(strings(_).sorted).toMap
    assert(ties(got) == ties(want), s"$what: rows")
  }

  /** The page of `url` over the frame `readLatest` returns, which must
    * be answered from resident rows, against the reference plan. */
  private def check(root: String, url: String, range: Option[(Int, Int)]): Array[Row] = {
    val stored = ChunkStore.readLatest(spark, root).get
    assert(ChunkStore.residentPage(stored, url, range).isDefined,
      s"$url $range was not answered from resident rows")
    val got = DocPipeline.getChunksFromStore(stored, url, range).collect()
    val want = DocPipelineReference.getChunksFromStore(stored, url, range).collect()
    assertSamePage(got, want, s"$url $range")
    assert(got.headOption.forall(_.schema == stored.schema))
    got
  }

  test("every url and range of a multi-commit store equals the Spark plan") {
    val (root, sizes) = multiCommit
    sizes.foreach { case (url, n) =>
      val ranges = Seq(None, Some((0, 2)), Some((n, n + 2)), Some((n - 1, n)),
        Some((2, 0)), Some((-3, 1)), Some((-5, -1)))
      ranges.foreach { r =>
        val got = check(root, url, r)
        val want = (0 until n).filter(i => r.forall(ab => i >= ab._1 && i <= ab._2))
        assert(got.map(_.getAs[Int]("chunk_index")).toSeq == want, s"$url $r")
      }
    }
  }

  test("a url with no rows has an empty page") {
    val (root, _) = multiCommit
    Seq(None, Some((0, 2))).foreach(r => assert(check(root, "doc://absent", r).isEmpty))
  }

  test("null chunk_index rows come first, as Spark's ascending sort puts them") {
    val root = tempDir("storenulls").resolve("store").toString
    upsert(root, Seq(("doc://n", Some(1), "b"), ("doc://n", None, "x"),
      ("doc://n", Some(0), "a"), ("doc://n", None, "y"), ("doc://n", Some(1), "b2"),
      ("doc://m", None, "z")))
    upsert(root, Seq(("doc://o", Some(0), "o")))
    val all = check(root, "doc://n", None)
    assert(all.map(r => Option(r.getAs[Any]("chunk_index"))).toSeq ==
      Seq(None, None, Some(0), Some(1), Some(1)))
    assert(check(root, "doc://n", Some((0, 1))).length == 3)
    assert(check(root, "doc://m", None).length == 1)
    assert(check(root, "doc://m", Some((-1, 1))).isEmpty)
  }

  test("a legacy store without chunk_index keeps the legacy projection") {
    val root = tempDir("storelegacy").resolve("store").toString
    ChunkStore.upsertVersioned(spark, root, Seq(
      ("doc://p", "c2", "second", "S"), ("doc://p", "c1", "first", "S"),
      ("doc://q", "c3", "other", "T")).toDF("url", "chunk_id", "content", "section"))
    val stored = ChunkStore.readLatest(spark, root).get
    val got = DocPipeline.getChunksFromStore(stored, "doc://p", Some((0, 0))).collect()
    assert(got.head.schema.fieldNames.toSeq == Seq("chunk_id", "content", "url", "section"))
    assert(got.map(_.getAs[String]("chunk_id")).toSet == Set("c1", "c2"))
  }

  test("a frame derived from the handle's takes the Spark path") {
    val (root, sizes) = multiCommit
    val stored = ChunkStore.readLatest(spark, root).get
    val derived = Seq(stored.filter(length(col("content")) > 0),
      stored.select("url", "chunk_index", "content"))
    derived.foreach { df =>
      assert(ChunkStore.residentPage(df, "doc://multi", Some((1, 3))).isEmpty)
      val got = DocPipeline.getChunksFromStore(df, "doc://multi", Some((1, 3)))
      assert(got.queryExecution.optimizedPlan.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => ()
      }.isDefined, "the derived frame's page is not the Spark plan")
      assertSamePage(got.collect(), DocPipelineReference.getChunksFromStore(
        df, "doc://multi", Some((1, 3))).collect(), "derived frame")
    }
    assert(sizes("doc://multi") == 6)
  }

  test("a commit after a warm page is seen by the next store read") {
    val root = tempDir("storecommit").resolve("store").toString
    upsert(root, doc("doc://a", 3, "one") ++ doc("doc://b", 2, "one"))
    val before = ChunkStore.readLatest(spark, root).get
    assert(check(root, "doc://a", None).map(_.getAs[String]("content")).toSeq ==
      (0 until 3).map(i => s"one doc://a chunk $i"))
    upsert(root, doc("doc://a", 4, "two"))
    val after = ChunkStore.readLatest(spark, root).get
    assert(!after.eq(before))
    assert(check(root, "doc://a", Some((1, 9))).map(_.getAs[String]("content")).toSeq ==
      (1 until 4).map(i => s"two doc://a chunk $i"))
    assert(check(root, "doc://b", None).length == 2)
    assert(ChunkStore.residentPage(before, "doc://a", None).isEmpty,
      "the replaced handle still answers pages")
  }

  test("a snapshot over the memory rule takes the Spark path") {
    val root = tempDir("storefull").resolve("store").toString
    upsert(root, doc("doc://a", 3, "one"))
    val filler = "test:storepage-filler"
    ResidentMemory.admit(filler, () => true, () => ())(room => Some(() -> room))
    try {
      val stored = ChunkStore.readLatest(spark, root).get
      assert(ChunkStore.residentPage(stored, "doc://a", None).isEmpty)
      assertSamePage(DocPipeline.getChunksFromStore(stored, "doc://a", None).collect(),
        DocPipelineReference.getChunksFromStore(stored, "doc://a", None).collect(),
        "over the rule")
    } finally ResidentMemory.release(filler)
  }

  test("a store deleted and written again with the same head times reads its new rows") {
    val root = tempDir("storeagain").resolve("store").toString
    def contents(): Seq[String] =
      check(root, "doc://a", None).map(_.getAs[String]("content")).toSeq
    upsert(root, doc("doc://a", 2, "one"))
    assert(contents() == Seq("one doc://a chunk 0", "one doc://a chunk 1"))
    val head = new java.io.File(root, "_log/00000.json").toPath
    val (time, size) = (java.nio.file.Files.getLastModifiedTime(head),
      java.nio.file.Files.size(head))
    Scratch.delete(java.nio.file.Paths.get(root))
    upsert(root, doc("doc://a", 2, "two"))
    // the clock that stamps files is coarse: two stores made within one
    // tick have the same head version, length and time
    java.nio.file.Files.setLastModifiedTime(head, time)
    assert(java.nio.file.Files.size(head) == size)
    assert(contents() == Seq("two doc://a chunk 0", "two doc://a chunk 1"))
  }

  /** A store of `commits` commits, each one url of 20 chunks of 40 kB
    * that compress about twentyfold in parquet: 0.8 MB of rows and some
    * 40 kB of files a commit. Each call makes a new store, with its own
    * fill. Returns its root, its rows' bytes and its files'. */
  private def compressible(commits: Int): (String, Long, Long) = {
    val root = tempDir("storewide").resolve("store").toString
    (0 until commits).foreach { c =>
      upsert(root, (0 until 20).map(i =>
        (s"doc://wide/$c", Some(i), s"$c $i " + "x" * 40000)))
    }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(_.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size(_)).sum
    (root, commits * 20L * 40000, files)
  }

  /** The bytes of the task results the driver receives while `f` runs. */
  private def resultBytes(f: => Unit): Long = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val barrier = new java.util.concurrent.CountDownLatch(1)
    @volatile var barrierJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") ==
            "resultbytes-barrier")) barrierJob = e.jobId
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == barrierJob) barrier.countDown()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup("resultbytes-barrier", "resultbytes-barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    bytes.get
  }

  /** The page of each of the first 6 urls of a compressible store takes
    * the Spark path and equals the reference plan. */
  private def assertSparkPages(root: String): Unit = {
    val stored = ChunkStore.readLatest(spark, root).get
    (0 until 6).foreach { c =>
      val url = s"doc://wide/$c"
      assert(ChunkStore.residentPage(stored, url, Some((3, 5))).isEmpty)
      assertSamePage(DocPipeline.getChunksFromStore(stored, url, Some((3, 5))).collect(),
        DocPipelineReference.getChunksFromStore(stored, url, Some((3, 5))).collect(),
        url)
    }
  }

  test("rows over the room take the Spark path, and their fill ships at most the room") {
    val (root, rowBytes, fileBytes) = compressible(6)
    val stored = ChunkStore.readLatest(spark, root).get
    assert(stored.queryExecution.toRdd.getNumPartitions >= 2)
    // each task's rows fit the room; all of them do not
    val room = rowBytes * 3 / 4
    assert(fileBytes < room && room < MaxResult / 2)
    val filler = "test:storepage-filler"
    ResidentMemory.admit(filler, () => true, () => ())(r => Some(() -> (r - room)))
    try {
      val shipped = resultBytes(ChunkStore.residentPage(stored, "doc://wide/0", None))
      assert(shipped <= room, s"the fill shipped $shipped bytes into a room of $room")
      assertSparkPages(root)
    } finally ResidentMemory.release(filler)
  }

  test("rows over spark.driver.maxResultSize take the Spark path") {
    val (root, rowBytes, _) = compressible(12)
    assert(rowBytes > MaxResult && rowBytes < ResidentMemory.MaxBytes)
    val stored = ChunkStore.readLatest(spark, root).get
    val shipped = resultBytes(ChunkStore.residentPage(stored, "doc://wide/0", None))
    assert(shipped <= MaxResult / 2, s"the fill shipped $shipped bytes")
    assertSparkPages(root)
  }

  test("a deleted store's rows leave the memory account at the next admit") {
    def room(): Long = {
      var r = 0L
      ResidentMemory.admit("test:storepage-probe", () => true, () => ()) { x =>
        r = x; None }
      r
    }
    val base = tempDir("storegone")
    val root = base.resolve("store").toString
    upsert(root, doc("doc://a", 3, "one"))
    val before = room()
    val stored = ChunkStore.readLatest(spark, root).get
    assert(ChunkStore.residentPage(stored, "doc://a", None).isDefined)
    assert(room() < before)
    Scratch.delete(base)
    assert(room() == before)
    assert(ChunkStore.residentPage(stored, "doc://a", None).isEmpty)
  }
}
