package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Sync
import graft.sources.{ChunkStore, SyncState, TxnLogStore}

/** The chunk store's merge-on-read commit log against the full-copy
  * store it replaced ([[StoreReference]]): seeded multi-run sync
  * sequences must leave both stores equal row for row, through edits,
  * adds, deletes, docs edited to blank, forced runs, both cleanup
  * guards, urls no hand-written JSON survives, and at least three folds.
  * Also pinned: a crash between the data write and the log append, the
  * live-directory bound, retention, and the driver-side sync-flag read
  * against the set-based rule. */
class StoreLogSpec extends SparkSuite(cpus = 2) {
  import spark.implicits._

  private type Row6 = (String, Int, Int, String, String, Seq[Float])

  private def rowsOf(df: Option[DataFrame]): Seq[Row6] =
    df.fold(Seq.empty[Row6])(_.select("url", "chunk_index", "total_chunks",
        "chunk_id", "content", "embedding")
      .as[(String, Int, Int, String, String, Array[Float])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6.toSeq)).toSeq
      .sortBy(r => (r._1, r._2, r._4)))

  /** Urls that hand-written JSON would break, next to plain ones. */
  private val urlForms = Seq[Int => String](
    i => s"doc://$i",
    i => s"""doc://q"uote/$i""",
    i => s"doc://back\\slash/$i",
    i => s"doc://new\nline/$i",
    i => s"doc://ünï/çødé/$i")

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def text(rng: scala.util.Random): String =
    Seq.fill(10 + rng.nextInt(70))(words(rng.nextInt(words.size)))
      .mkString(" ")

  /** Replays `runs` seeded syncs into a live store and the reference
    * store and checks them equal after every run; returns the number of
    * bound-triggered folds. */
  private def replay(seed: Int, runs: Int): Int = {
    val rng = new scala.util.Random(seed)
    val base = tempDir(s"storelog$seed")
    // a root whose name URL-encoding changes
    val live = base.resolve("li ve%20#1").toString
    val ref = base.resolve("ref").toString
    var state = base.resolve("state0").toString
    var next = 0
    var corpus = Map.empty[String, String]
    def add(): Unit = {
      corpus += urlForms(next % urlForms.size)(next) -> text(rng); next += 1
    }
    (0 until 24).foreach(_ => add())
    var folds = 0
    (0 until runs).foreach { r =>
      if (r > 0) {
        val urls = corpus.keys.toVector.sorted
        rng.shuffle(urls).take(3).foreach(u =>
          corpus += u -> (corpus(u) + " " + words(rng.nextInt(words.size))))
        rng.shuffle(urls).take(1 + rng.nextInt(2)).foreach(corpus -= _)
        (0 until 1 + rng.nextInt(2)).foreach(_ => add())
        if (r % 4 == 1)
          corpus += rng.shuffle(corpus.keys.toVector.sorted).head -> "   "
      }
      // a lost metadata log forces the next run; a network error keeps
      // it forced until a clean run
      if (r == 12 || r == 22) state = base.resolve(s"state$r").toString
      val netErr = r == 20 || r == 22
      val incomplete = r % 9 == 5 || r == 12
      val incoming = corpus.toSeq.toDF("url", "text")
      val c = Sync.syncRun(spark, incoming, live, state, r.toLong,
        hasNetworkErrors = netErr, scanIncomplete = incomplete).head()
      val force = c.getAs[Boolean]("force_full_sync")
      val v = c.getAs[Long]("store_version")
      assert(v == r.toLong)
      assert(StoreReference.sync(spark, incoming, ref, force, netErr,
        incomplete) == v)
      val (got, want) = (rowsOf(ChunkStore.readLatest(spark, live)),
        rowsOf(StoreReference.readLatest(spark, ref)))
      val same = got == want
      assert(same, s"seed $seed run $r: the commit log differs from the " +
        "full copy at (url, chunk_index) " + (got.diff(want) ++ want.diff(got))
          .map(x => (x._1, x._2)).distinct.take(5).mkString(", "))
      val snap = TxnLogStore.snapshot(live, v)
      assert(snap.live.size <= ChunkStore.MaxLiveDirs)
      val log = java.nio.file.Files.readString(
        new java.io.File(live, f"_log/$v%05d.json").toPath)
      if (log.contains("\"remove\"") && !(force && !netErr && !incomplete))
        folds += 1
    }
    folds
  }

  test("the commit log equals the full-copy store over seeded sync sequences") {
    assert(replay(seed = 7, runs = 32) >= 3)
    replay(seed = 8, runs = 10)
  }

  test("a crash between the data write and the log append loses nothing") {
    val root = tempDir("crash").resolve("store").toString
    def upsert(rows: Seq[(String, String)]): Long =
      ChunkStore.upsertVersioned(spark, root, rows.toDF("url", "content"))
    def contents(): Set[(String, String)] = ChunkStore.readLatest(spark, root)
      .get.as[(String, String)].collect().toSet
    upsert(Seq("doc://a" -> "a0", "doc://b" -> "b0"))
    upsert(Seq("doc://a" -> "a1"))
    val before = contents()
    // the commit's data write of v2 happened, its log append did not
    Seq("doc://b" -> "b-orphan", "doc://c" -> "c-orphan").toDF("url", "content")
      .write.parquet(s"$root/v2")
    assert(ChunkStore.latestVersion(root) == 1)
    assert(contents() == before)
    // the next commit takes version 2 and replaces the orphan
    assert(upsert(Seq("doc://c" -> "c2")) == 2)
    assert(contents() == Set("doc://a" -> "a1", "doc://b" -> "b0",
      "doc://c" -> "c2"))
    // an orphan under a version that mints no data dir is never read,
    // and vacuum removes it
    Seq("doc://z" -> "z").toDF("url", "content").write.parquet(s"$root/v3")
    assert(ChunkStore.commit(spark, root, None, Seq("doc://b")) == 3)
    assert(contents() == Set("doc://a" -> "a1", "doc://c" -> "c2"))
    assert(ChunkStore.vacuumVersions(root, keepLast = 1) == Seq(3L))
    assert(contents() == Set("doc://a" -> "a1", "doc://c" -> "c2"))
  }

  test("retention never deletes a dir a kept snapshot reads, across folds") {
    val root = tempDir("retain").resolve("store").toString
    val rng = new scala.util.Random(3)
    (0 until 3 * ChunkStore.MaxLiveDirs).foreach { i =>
      val urls = Seq.fill(3)(s"doc://${rng.nextInt(12)}").distinct
      ChunkStore.upsertVersioned(spark, root,
        urls.map(_ -> s"r$i").toDF("url", "content"))
      val keep = 1 + i % 3
      val head = ChunkStore.latestVersion(root)
      val kept = (math.max(0L, head - keep + 1) to head).map(v =>
        ChunkStore.readVersion(spark, root, v).get.as[(String, String)]
          .collect().toSet)
      ChunkStore.vacuumVersions(root, keep)
      assert((math.max(0L, head - keep + 1) to head).map(v =>
        ChunkStore.readVersion(spark, root, v).get.as[(String, String)]
          .collect().toSet) == kept, s"commit $i keepLast $keep")
      assert(TxnLogStore.snapshot(root, head).live.size <= ChunkStore.MaxLiveDirs)
    }
  }

  test("log actions round-trip any file name and url") {
    val root = tempDir("actions").toString
    val odd = Seq("plain", "q\"uote", "back\\slash", "new\nline", "tab\tx",
      "ünï/çødé", "{\"act\":\"add\"}", "")
    TxnLogStore.commit(root, 0L, odd, Nil)
    TxnLogStore.commit(root, 1L, Nil, Seq("plain"), odd)
    // one commit added every file, so its retractions are listed once,
    // with the last of them
    val snap = TxnLogStore.snapshot(root, 1L)
    assert(snap.live == odd.tail.init.map(_ -> Set.empty[String]).toVector :+
      (odd.last -> odd.toSet))
    assert(snap.pending == odd.size)
    assert(TxnLogStore.snapshot(root, 0L).live == odd.map(_ -> Set.empty[String]))
  }

  test("the driver-side flag read keeps latestByKey's rule, ties included") {
    val path = tempDir("kvlog").resolve("kv").toString
    // one file: rows in this order, so max_by's later-row-wins tie rule
    // is defined
    Seq[(String, String, Option[Long])](("k", "a", Some(1L)),
        ("k", "b", Some(3L)), ("k", "c", Some(3L)), ("k", "d", Some(2L)),
        ("k", "e", None), ("n", "x", None), ("m", "y", Some(5L)),
        ("m", null, Some(7L)))
      .toDF("key", "value", "run_id").coalesce(1).write.parquet(path)
    SyncState.setMetadata(spark, path, "w", "late", 9L)
    val expected = SyncState.latestByKey(spark.read.parquet(path)).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(expected("k").contains("c"))
    Seq("k", "n", "m", "w").foreach { k =>
      val got = SyncState.getMetadata(spark, path, k)
      assert(got.isDefined && Option(got.get) == expected(k), k)
    }
    assert(SyncState.getMetadata(spark, path, "absent").isEmpty)
    assert(SyncState.getMetadata(spark, path + "-missing", "k").isEmpty)
  }
}
