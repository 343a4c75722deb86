package graft

import java.nio.file.{Files, Paths}
import graft.sources.LocalDirectory

/** Local-directory source: binaryFile scan, extension/size filters,
  * converter dispatch (reference contract:
  * content-processor.ts:1696-1947). */
class LocalDirectorySpec extends SparkSuite(cpus = 2) {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("localdir")
    val sub = Files.createDirectory(d.resolve("sub"))
    Files.writeString(d.resolve("guide.md"),
      "# Guide\n\n" + "Useful words here. " * 40)
    Files.writeString(d.resolve("page.html"),
      "<h1>Page</h1><p>" + "web content " * 40 + "</p>")
    Files.writeString(sub.resolve("app.py"),
      "def main():\n    return 42\n")
    Files.writeString(d.resolve("notes.txt"), "plain text notes " * 40)
    Files.writeString(d.resolve("logo.png"), "not-really-a-png")
    Files.writeString(d.resolve("huge.md"), "x" * 2048)
    d.toString
  }

  test("extension include/exclude and size-cap filters") {
    val all = LocalDirectory.readFiles(spark, dir)
    assert(all.count() == 6)
    val docsOnly = LocalDirectory.readFiles(spark, dir,
      includeExtensions = Seq(".md", ".html", ".txt"))
    assert(docsOnly.count() == 4)
    val noPng = LocalDirectory.readFiles(spark, dir,
      excludeExtensions = Seq(".png"))
    assert(noPng.count() == 5)
    val small = LocalDirectory.readFiles(spark, dir, maxBytes = 1024)
    assert(small.count() == 5) // huge.md dropped before conversion
  }

  test("mtime cutoff filters unchanged files (incremental layer)") {
    val none = LocalDirectory.readFiles(spark, dir,
      mtimeCutoffMs = Some(System.currentTimeMillis() + 60000))
    assert(none.count() == 0)
    val allNew = LocalDirectory.readFiles(spark, dir,
      mtimeCutoffMs = Some(0L))
    assert(allNew.count() == 6)
  }

  test("dispatch: md/html/txt chunk as markdown, code gets [File:] ids") {
    val files = LocalDirectory.readFiles(spark, dir,
      excludeExtensions = Seq(".png"))
    val chunks = LocalDirectory.chunkFiles(spark, files, "TestProd", "1.0")
      .collect()
    val byUrl = chunks.groupBy(_.url)

    val md = byUrl.keys.find(_.endsWith("guide.md")).get
    assert(byUrl(md).head.heading_hierarchy == Seq("Guide"))
    assert(byUrl(md).head.content.startsWith("[Topic: Guide]\n"))

    val html = byUrl.keys.find(_.endsWith("page.html")).get
    assert(byUrl(html).head.heading_hierarchy == Seq("Page"))

    val py = byUrl.keys.find(_.endsWith("app.py")).get
    val pyChunk = byUrl(py).head
    assert(pyChunk.content.startsWith("[File: "))
    assert(pyChunk.chunk_id ==
      graft.functions.TextUtil.sha256Hex(s"$py::${pyChunk.content}"))

    val txt = byUrl.keys.find(_.endsWith("notes.txt")).get
    assert(byUrl(txt).head.section == "Introduction")
  }

  // ── GitCode: the code source's deterministic incremental semantics
  //    (reference doc2vec.test.ts:529-640, 1054-1130) ────────────────

  test("shaMetadataKey normalizes repo and branch like the reference") {
    import graft.sources.GitCode
    assert(GitCode.shaMetadataKey("org/repo", "main") ==
      "code_last_sha_org_repo_main")
    assert(GitCode.shaMetadataKey("my-org/my-repo", "feature/new-thing") ==
      "code_last_sha_my_org_my_repo_feature_new_thing")
    assert(GitCode.shaMetadataKey("my.org/my_repo.js", "release/v1.2.3") ==
      "code_last_sha_my_org_my_repo_js_release_v1_2_3")
    assert(GitCode.shaMetadataKey("org--repo", "main") ==
      "code_last_sha_org_repo_main")
  }

  test("parseNameStatus: A/M/D and rename semantics") {
    import graft.sources.GitCode
    val mixed = Seq(
      "A\tsrc/added.ts",
      "M\tsrc/modified.ts",
      "D\tsrc/deleted.ts",
      "R090\tsrc/old.ts\tsrc/new.ts",
      "").mkString("\n")
    val r = GitCode.parseNameStatus(mixed, "/repo")
    assert(r.changed == Set("/repo/src/added.ts", "/repo/src/modified.ts",
      "/repo/src/new.ts"))
    assert(r.deleted == Seq("src/deleted.ts", "src/old.ts"))
    // a rename purges the old URL and re-ingests the new one
    assert(GitCode.parseNameStatus("R100\tsrc/a.ts\tsrc/b.ts", "/repo") ==
      GitCode.DiffSets(Set("/repo/src/b.ts"), Seq("src/a.ts")))
    assert(GitCode.parseNameStatus("\n\n\n", "/repo") ==
      GitCode.DiffSets(Set.empty, Seq.empty))
    // the changed set feeds the allowedFiles semi-join directly
    import spark.implicits._
    val files = Seq("/repo/src/added.ts", "/repo/src/untouched.ts")
      .toDF("path")
    val allowed = LocalDirectory.restrictToAllowed(files,
      r.changed.toSeq.toDF("path"))
    assert(allowed.collect().map(_.getString(0)).toSeq ==
      Seq("/repo/src/added.ts"))
  }

  test("codeFileUrl priority: repo blob prefix, rewrite prefix, file://") {
    import graft.sources.GitCode
    assert(GitCode.codeFileUrl("/tmp/repo/src/app.ts", "/tmp/repo",
      repoUrlPrefix = Some("https://github.com/org/repo/blob/main")) ==
      "https://github.com/org/repo/blob/main/src/app.ts")
    assert(GitCode.codeFileUrl("/project/src/app.ts", "/project",
      urlRewritePrefix = Some("https://mysite.com/code")) ==
      "https://mysite.com/code/src/app.ts")
    assert(GitCode.codeFileUrl("/project/src/app.ts", "/project",
      urlRewritePrefix = Some("https://mysite.com/code/")) ==
      "https://mysite.com/code/src/app.ts")
    assert(GitCode.codeFileUrl("/other/path/file.ts", "/project",
      urlRewritePrefix = Some("https://mysite.com")) ==
      "file:///other/path/file.ts")
    assert(GitCode.codeFileUrl("/project/src/app.ts", "/project") ==
      "file:///project/src/app.ts")
    // repoUrlPrefix wins over url_rewrite_prefix
    assert(GitCode.codeFileUrl("/project/src/app.ts", "/project",
      urlRewritePrefix = Some("https://other.com"),
      repoUrlPrefix = Some("https://github.com/org/repo/blob/main")) ==
      "https://github.com/org/repo/blob/main/src/app.ts")
    assert(GitCode.codeFileUrl("/project/src/deep/nested/file.ts",
      "/project", urlRewritePrefix = Some("https://mysite.com/code")) ==
      "https://mysite.com/code/src/deep/nested/file.ts")
  }

  test("S3 cascade: reference decision order, presence includes skips") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // (key, size, mod_ms): exercises each decision plus the order
    // distinctions vs the local cascade (exclude before include; mtime
    // before size — 'both.rs' is excluded even though also not
    // included; 'old_big.py' is mtime-skipped even though oversize).
    val listing = Seq(
      ("docs/d1/", 0L, 999L),
      ("docs/both.rs", 10L, 999L),
      ("docs/style.css", 10L, 999L),
      ("docs/old_big.py", 5000L, 50L),
      ("docs/big.py", 5000L, 999L),
      ("docs/fresh.go", 10L, 999L)
    ).toDF("key", "size", "mod_ms")
    val cls = LocalDirectory.classifyS3Scan(listing,
      includeExtensions = Seq(".py", ".go"),
      excludeExtensions = Seq(".md", ".rs"),
      maxBytes = 500L, lastSyncMs = Some(100L))
    val decisions = cls.select("key", "decision").as[(String, String)]
      .collect().toMap
    assert(decisions("docs/d1/") == "skip_folder")
    assert(decisions("docs/both.rs") == "skip_excluded")
    assert(decisions("docs/style.css") == "skip_not_included")
    assert(decisions("docs/old_big.py") == "skip_mtime")
    assert(decisions("docs/big.py") == "skip_size")
    assert(decisions("docs/fresh.go") == "kept")
    // Deletion diff: mtime/size-skipped keys are PRESENT (the reference
    // adds to processedFiles before those skips), ext-filtered are not.
    val present = cls
      .filter(col("decision").isin("kept", "skip_mtime", "skip_size"))
    val previous = Seq("docs/old_big.py", "docs/big.py", "docs/both.rs",
      "docs/vanished.py").toDF("key")
    val deleted = LocalDirectory
      .deletedFiles(previous.withColumnRenamed("key", "path"),
        present.select(col("key").as("path")))
      .as[String].collect().toSet
    assert(deleted == Set("docs/both.rs", "docs/vanished.py"))
  }

  test("S3 metadata() indirection and url rewrite") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("docs/a.md", Map("product" -> "istio", "version" -> "1.22")),
      ("docs/b.md", Map.empty[String, String])
    ).toDF("key", "meta")
    def resolved(config: String): Seq[String] =
      df.orderBy("key")
        .select(LocalDirectory.resolveS3MetadataValue(config, col("meta")))
        .as[String].collect().toSeq
    // prefix-stripped lookup; missing key -> empty string
    assert(resolved("metadata(x-amz-meta-product)") == Seq("istio", ""))
    // lookup without the x-amz-meta- prefix works identically
    assert(resolved("metadata(version)") == Seq("1.22", ""))
    // non-metadata() values pass through as literals
    assert(resolved("fixed-product") == Seq("fixed-product", "fixed-product"))
    val urls = df.orderBy("key").select(
      LocalDirectory.s3ObjectUrl("b", "docs/",
        Some("https://docs.example.com/"), col("key")),
      LocalDirectory.s3ObjectUrl("bkt", "docs/", None, col("key")))
      .as[(String, String)].collect().toSeq
    assert(urls.head == ("https://docs.example.com/a.md",
      "s3://bkt/docs/a.md"))
  }
}
