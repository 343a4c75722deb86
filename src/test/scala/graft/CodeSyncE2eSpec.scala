package graft

import graft.sources.GitCode

/** Pins the ingest_code_e2e composition's seams on the smoke corpus:
  * mode decisions off the SHA watermark, the rename purge+re-embed,
  * the unreachable-SHA full-scan fallback's obsolete cleanup, and the
  * identical-SHA no-op run. The DuckDB hash match is the full gate;
  * this spec asserts the state bits with readable messages. */
class CodeSyncE2eSpec extends SparkSuite {

  test("four-run composition: modes, rename handling, fallback cleanup") {
    val out = GitCode.codeSyncE2e(spark, "/root/testdata/sf0.001").collect()
    val counters = out.filter(_.getString(0) == "counters")
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(counters.keySet == Set("run:1", "run:2", "run:3", "run:4"))

    def field(run: String, k: String): String =
      counters(run).split('|').find(_.startsWith(k + "="))
        .map(_.drop(k.length + 1))
        .getOrElse(fail(s"$run payload missing $k: ${counters(run)}"))

    // run 1: no watermark → full scan, everything embedded, no deletes
    assert(field("run:1", "mode") == "full")
    assert(field("run:1", "del") == "0" && field("run:1", "ver") == "0")
    assert(field("run:1", "emb").toLong > 0)
    // run 2: reachable SHA → incremental; the diff's D + R-old urls
    // are purged (both classes exist in state 1 by construction)
    assert(field("run:2", "mode") == "incremental")
    assert(field("run:2", "ver") == "1")
    assert(field("run:2", "del").toLong > 0,
      "D and R-old urls must be purged")
    // processed files > embedded-for-free: the ' v2' append reuses
    // every unchanged leading chunk (chunk-level skip observable)
    assert(field("run:2", "files").toLong > 0)
    // run 3: unreachable SHA → full-scan fallback; obsolete cleanup
    // purges the files state 3 dropped
    assert(field("run:3", "mode") == "full")
    assert(field("run:3", "ver") == "2")
    assert(field("run:3", "del").toLong > 0,
      "fallback full scan must purge dropped files via list diff")
    // run 4: watermark == HEAD → empty allowed set, a true no-op
    assert(field("run:4", "mode") == "incremental")
    assert(counters("run:4").contains("files=0|emb=0|del=0"))
    assert(field("run:4", "ver") == "3")

    val storeUrls = out.filter(_.getString(0) == "store")
      .map(_.getString(1).takeWhile(_ != '#')).toSet
    // renamed files live ONLY under their new URL
    val renamed = storeUrls.filter(_.contains("/src/moved/f"))
    assert(renamed.nonEmpty, "state 2's renames must be in the store")
    renamed.foreach { u =>
      val old = u.replace("/src/moved/f", "/src/f")
      assert(!storeUrls.contains(old),
        s"rename left the old URL behind: $old")
    }
    // files deleted in state 2 (id%10==3) never resurface
    assert(!storeUrls.exists(_.endsWith("/src/f3.py")),
      "state-2 deletes must stay purged")
    // files dropped in state 3 (id%9==0, id<135) are gone — f18 was
    // neither renamed nor deleted earlier, so only the drop removes it
    assert(!storeUrls.exists(_.endsWith("/src/f18.py")),
      "state-3 drops must be purged by the fallback full scan")
    // state-3 adds are present
    assert(storeUrls.exists(_.endsWith("/src/f136.py")),
      "state-3 adds must be ingested")
  }

  test("codeRun re-embeds a rename under its new URL (url-scoped ids)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("codeone")
    try {
      val store = s"$base/store"
      val state = s"$base/state"
      val prefix = "https://github.com/o/r/blob/main"
      val t1 = Seq(("a.py", "alpha content"), ("b.py", "beta content"))
        .toDF("path", "text")
      val r1 = GitCode.codeRun(spark, t1, store, state, 1L, "s1", None,
        "/repo", prefix, "o/r", "main").collect().head
      assert(r1.getAs[String]("mode") == "full")
      assert(r1.getAs[Long]("chunks_embedded") == 2L)
      // rename a.py → c.py, content identical: the old URL is purged
      // and the chunk re-embeds because chunk ids are url-scoped
      val t2 = Seq(("c.py", "alpha content"), ("b.py", "beta content"))
        .toDF("path", "text")
      val r2 = GitCode.codeRun(spark, t2, store, state, 2L, "s2",
        Some("R100\ta.py\tc.py"), "/repo", prefix, "o/r", "main")
        .collect().head
      assert(r2.getAs[String]("mode") == "incremental")
      assert(r2.getAs[Long]("files_processed") == 1L)
      assert(r2.getAs[Long]("chunks_embedded") == 1L,
        "renamed content must re-embed under the new url")
      assert(r2.getAs[Long]("urls_deleted") == 1L)
      val urls = graft.sources.ChunkStore.readLatest(spark, store).get
        .select("url").as[String].collect().toSet
      assert(urls == Set(s"$prefix/c.py", s"$prefix/b.py"))
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  test("codeRun purges a file edited to empty, in both modes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("codeempty")
    try {
      val store = s"$base/store"
      val state = s"$base/state"
      val prefix = "https://github.com/o/r/blob/main"
      def urls(): Set[String] = graft.sources.ChunkStore
        .readLatest(spark, store).get.select("url").as[String]
        .collect().toSet
      def run(files: Seq[(String, String)], id: Long,
          diff: Option[String]) =
        GitCode.codeRun(spark, files.toDF("path", "text"), store, state,
          id, s"s$id", diff, "/repo", prefix, "o/r", "main")
          .collect().head
      run(Seq("a.py" -> "alpha content", "b.py" -> "beta content",
        "c.py" -> "gamma content"), 1L, None)
      // incremental: a.py modified to empty
      val r2 = run(Seq("a.py" -> "", "b.py" -> "beta content",
        "c.py" -> "gamma content"), 2L, Some("M\ta.py"))
      assert(r2.getAs[String]("mode") == "incremental")
      assert(r2.getAs[Long]("chunks_embedded") == 0L)
      assert(r2.getAs[Long]("urls_deleted") == 1L)
      assert(urls() == Set(s"$prefix/b.py", s"$prefix/c.py"))
      // full (no diff for a moved SHA): c.py edited to spaces only
      val r3 = run(Seq("a.py" -> "", "b.py" -> "beta content",
        "c.py" -> "    "), 3L, None)
      assert(r3.getAs[String]("mode") == "full")
      assert(r3.getAs[Long]("chunks_embedded") == 0L)
      assert(r3.getAs[Long]("urls_deleted") == 1L)
      assert(urls() == Set(s"$prefix/b.py"))
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }
}
