package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.ChunkStore
import graft.streaming.EventStream

/** Runnable walkthrough of the library surface that is not covered by
  * SparkEntry.queries: the chunk store's upsert-by-url commit, the
  * Structured Streaming path, and the multimodal binary pipeline.
  * `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // chunk store: upsert-by-url through the commit log
    val store = Scratch.held("store")
      .resolve("chunks").toString
    ChunkStore.upsertVersioned(spark, store,
      Seq(("doc://a", "h1"), ("doc://a", "h2"), ("doc://b", "h3"))
        .toDF("url", "chunk_id"))
    ChunkStore.upsertVersioned(spark, store,
      Seq(("doc://b", "h9")).toDF("url", "chunk_id"))
    println("UPSERT -> " + ChunkStore.readLatest(spark, store).get
      .orderBy("url", "chunk_id").collect().mkString(" "))

    // structured streaming over a staged slice of the events table
    val tmp = Scratch.held("ev").toString
    Tables.events(spark, "/root/testdata/sf0.001").limit(300)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val q = EventStream.windowedCounts(EventStream.readEvents(spark, tmp))
      .writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    q.processAllAvailable()
    println("STREAM state rows -> " +
      q.lastProgress.stateOperators.head.numRowsTotal)
    q.stop()

    // local-directory source: scan → dispatch → chunk
    val ldir = Scratch.held("demo-docs")
    java.nio.file.Files.writeString(ldir.resolve("guide.md"),
      "# Demo Guide\n\n" + "Useful words here. " * 40)
    java.nio.file.Files.writeString(ldir.resolve("app.py"),
      "def main():\n    return 42\n")
    val files = graft.sources.LocalDirectory.readFiles(spark, ldir.toString)
    val chunks = graft.sources.LocalDirectory
      .chunkFiles(spark, files, "Demo", "1.0").collect()
    println("LOCALDIR -> " + chunks.map(c =>
      s"${c.url.split('/').last}:${c.section}").mkString(" "))

    // staged-API source: JSON issues → rendered markdown → chunks
    val ijson = ldir.resolve("issues.jsonl")
    java.nio.file.Files.writeString(ijson,
      """{"number":1,"title":"Demo bug","user_login":"alice","state":"open","created_at":"2024-01-10T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","labels":["bug"],"body":"Broken.","is_pull_request":false,"html_url":"https://gh.io/r/issues/1"}""")
    val issueChunks = graft.sources.ApiSources
      .ingestIssues(spark, ijson.toString, "Demo", "1.0").collect()
    println("APISRC -> " + issueChunks.head.content.linesIterator.next())

    // Zendesk-style tickets: status filter + deleted purge list
    val tjson = ldir.resolve("tickets.jsonl")
    java.nio.file.Files.writeString(tjson,
      """{"id":10,"subject":"Demo ticket","status":"open","priority":"high","type":"incident","requester_id":101,"assignee_id":7,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-02T00:00:00Z","tags":["auth"],"description":"Broken.","comments":[{"author_id":5,"created_at":"2024-02-01T01:00:00Z","public":true,"body":"On it."}]}""" +
        "\n" +
        """{"id":11,"subject":"Gone","status":"deleted","priority":null,"type":null,"requester_id":102,"assignee_id":null,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-03T00:00:00Z","tags":[],"description":null,"comments":[]}""")
    val (tchunks, tdeleted) = graft.sources.ApiSources
      .ingestTickets(spark, tjson.toString, "Support", "1.0")
    println("TICKETS -> " + tchunks.collect().head.content.linesIterator.next() +
      " | purge: " + tdeleted.collect().map(_.getString(0)).mkString(","))

    // WAI-ARIA tab flattening through the HTML normalizer
    println("TABS -> " + graft.functions.HtmlToMarkdown.convert(
      """<button role="tab" aria-controls="p1">Linux</button>
        |<div role="tabpanel" id="p1"><p>apt install foo</p></div>""".stripMargin)
      .replace("\n", " / "))

    // multimodal binary pipeline (stub decode, real plumbing)
    val bins = Seq(("a.png", "image/png", "0123456789abcdef".getBytes("UTF-8")))
      .toDF("path", "mime", "content")
    println("MULTIMODAL -> " +
      Multimodal.extractFeatures(spark, bins).collect().head)

    // custom Catalyst AS-OF JOIN: trades pick up the latest prior quote
    val quotes = Seq(("A", 1L, 10.0), ("A", 5L, 11.0))
      .toDF("sym", "t", "px")
    val trades = Seq(("A", 4L, 100L), ("A", 9L, 200L))
      .toDF("sym", "t", "qty")
    println("ASOF -> " + graft.plans.AsOf
      .join(trades, quotes, "sym", "t", "t")
      .select("sym", "t", "qty", "r_px").orderBy("t")
      .collect().mkString(" "))

    // sitemap tree resolution (index recursion + nested override)
    val staged = Seq(
      ("idx", "<sitemapindex><sitemap><loc>child</loc></sitemap></sitemapindex>"),
      ("child", "<urlset><url><loc>https://a/1</loc>" +
        "<lastmod>2024-06-06</lastmod></url></urlset>"))
      .toDF("sitemap_url", "xml")
    println("SITEMAP -> " + graft.sources.Sitemap
      .resolve(spark, staged, "idx").collect().mkString(" "))

    // article template render (Zendesk help-center)
    println("ARTICLE -> " + graft.sources.Renderers.renderArticle(
      graft.sources.Renderers.Article(1, "Demo article", 42, 7,
        "2024-03-01T00:00:00Z", "2024-03-01T00:00:00Z", 3, 5,
        Seq("howto"), Some("Body text."))).linesIterator.next())

    // run-summary structured event
    val counters = graft.operators.Sync
      .runCounters(spark, "/root/testdata/sf0.001")
    println("RUNSUMMARY -> " + graft.operators.RunSummary.eventJson(
      graft.operators.RunSummary.sourceStats(counters, "Demo", "website",
        "1.0", 1000L, ok = true), "2024-03-01T00:00:00Z").take(120) + "…")

    // persisted IVF index (Lloyd-refined centroids) + partition-pruned probe
    val sf = "/root/testdata/sf0.001"
    val ivfDir = Scratch.held("demo-ivf")
      .resolve("ivf").toString
    graft.operators.Similarity.buildIvfIndex(spark, sf, ivfDir)
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").head().getAs[scala.collection.Seq[Float]](0)
      .toArray
    println("IVF PROBE -> " + graft.operators.Similarity
      .probeIvf(spark, ivfDir, qv, k = 3, excludeId = Some(0L))
      .collect().map(_.getLong(0)).mkString(","))

    // curation provenance: record a run, read the durable channel back
    val runsDir = Scratch.held("demo-runs")
      .resolve("curation_runs").toString
    val runId = graft.operators.Curation.recordRun(spark, sf, runsDir)
    println("CURATION RUN " + runId + " -> " +
      spark.read.parquet(runsDir).orderBy("stage")
        .select("stage", "docs_out").collect()
        .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" "))

    // cross-source leakage check over the near-dup pair evidence
    println("LEAKAGE -> " + graft.operators.Dedup
      .crossSourceLeakage(spark, sf).limit(3).collect()
      .map(r => s"${r.getString(0)}~${r.getString(1)}:${r.getLong(2)}")
      .mkString(" "))

    // full streaming ingest: pages -> chunk -> embed -> versioned store
    val ibase = Scratch.held("demo-ingest")
    val pagesDir = ibase.resolve("pages").toString
    new java.io.File(pagesDir).mkdirs()
    Seq("doc://p" -> ("# Page\n\n" + "streamed words. " * 50))
      .toDF("url", "content").coalesce(1)
      .write.parquet(pagesDir + "/b1")
    val pageSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.StringType)))
    val iq = EventStream.ingestStream(
      spark.readStream.schema(pageSchema).parquet(pagesDir + "/*"),
      ibase.resolve("store").toString, ibase.resolve("ckpt").toString)
    iq.processAllAvailable()
    println("STREAM INGEST -> " + ChunkStore
      .readLatest(spark, ibase.resolve("store").toString).get.count() +
      " chunks in store")
    iq.stop()

    spark.stop()
  }
}
