package graft

import java.nio.file.Files
import graft.sources.ApiSources

class ApiSourcesSpec extends SparkSuite(cpus = 2) {

  private lazy val jsonPath: String = {
    val d = tempDir("issues")
    val lines = Seq(
      """{"number":1,"title":"Crash on start","user_login":"alice","state":"open","created_at":"2024-01-10T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","labels":["bug"],"body":"It crashes hard.","is_pull_request":false,"html_url":"https://gh.io/r/issues/1"}""",
      """{"number":2,"title":"Add dark mode","user_login":"bob","state":"open","created_at":"2024-01-15T00:00:00Z","updated_at":"2024-03-01T00:00:00Z","labels":[],"body":null,"is_pull_request":true,"html_url":"https://gh.io/r/pull/2"}""",
      """{"number":3,"title":"Old one","user_login":"eve","state":"closed","created_at":"2023-01-01T00:00:00Z","updated_at":"2023-06-01T00:00:00Z","labels":["stale"],"body":"Ancient.","is_pull_request":false,"html_url":"https://gh.io/r/issues/3"}""")
    Files.writeString(d.resolve("issues.jsonl"), lines.mkString("\n"))
    d.resolve("issues.jsonl").toString
  }

  test("renders staged issues into chunked markdown pages") {
    val chunks = ApiSources.ingestIssues(spark, jsonPath, "Repo", "1.0")
      .collect()
    assert(chunks.map(_.url).distinct.length == 3)
    val c1 = chunks.find(_.url.endsWith("/issues/1")).get
    assert(c1.content.contains("# Issue #1: Crash on start"))
    assert(c1.content.contains("- **Labels:** `bug`"))
    assert(c1.content.contains("It crashes hard."))
    val c2 = chunks.find(_.url.endsWith("/pull/2")).get
    assert(c2.content.contains("# PR #2: Add dark mode"))
    assert(c2.content.contains("_No description._"))
  }

  test("watermark filter drops already-seen issues") {
    val fresh = ApiSources.ingestIssues(spark, jsonPath, "Repo", "1.0",
      updatedAfter = Some("2024-01-01T00:00:00Z")).collect()
    assert(fresh.map(_.url).distinct.length == 2) // issue 3 skipped
  }

  private lazy val ticketsPath: String = {
    val d = tempDir("tickets")
    val lines = Seq(
      """{"id":10,"subject":"Login broken","status":"open","priority":"high","type":"incident","requester_id":101,"assignee_id":7,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-02T00:00:00Z","tags":["auth"],"description":"Cannot log in.","comments":[{"author_id":5,"created_at":"2024-02-01T01:00:00Z","public":true,"body":"Looking into it."},{"author_id":6,"created_at":"2024-02-01T02:00:00Z","public":false,"body":"Internal escalation"}]}""",
      """{"id":11,"subject":"Gone","status":"deleted","priority":null,"type":null,"requester_id":102,"assignee_id":null,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-03T00:00:00Z","tags":[],"description":null,"comments":[]}""",
      """{"id":12,"subject":"Spam","status":"spam","priority":null,"type":null,"requester_id":103,"assignee_id":null,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-03T00:00:00Z","tags":[],"description":"buy now","comments":[]}""")
    Files.writeString(d.resolve("tickets.jsonl"), lines.mkString("\n"))
    d.resolve("tickets.jsonl").toString
  }

  test("tickets: status filter, internal-comment skip, deleted purge list") {
    val (chunks, deleted) = ApiSources.ingestTickets(spark, ticketsPath,
      "Support", "1.0")
    val rows = chunks.collect()
    assert(rows.map(_.url).distinct.toSeq == Seq("zendesk://ticket/10"))
    val md = rows.head.content
    assert(md.contains("# Ticket #10: Login broken"))
    assert(md.contains("Looking into it."))
    assert(!md.contains("Internal escalation"))
    assert(deleted.collect().map(_.getString(0)).toSeq ==
      Seq("zendesk://ticket/11"))
    val (withInternal, _) = ApiSources.ingestTickets(spark, ticketsPath,
      "Support", "1.0", includeInternal = true)
    assert(withInternal.collect().head.content.contains("Internal escalation"))
  }

  test("article renderer matches the reference template byte-for-byte") {
    import graft.sources.Renderers
    val a = Renderers.Article(201, "Getting started", 42, 7,
      "2024-03-01T10:00:00Z", "2024-03-05T11:00:00Z", 5, 9,
      Seq("howto", "faq"), Some("Plain text body."))
    assert(Renderers.renderArticle(a) ==
      "# Getting started\n\n" +
      "- **Author:** 42\n" +
      "- **Section:** 7\n" +
      "- **Created:** Fri Mar 01 2024\n" +
      "- **Updated:** Tue Mar 05 2024\n" +
      "- **Vote Sum:** 5\n" +
      "- **Vote Count:** 9\n" +
      "- **Labels:** `howto`, `faq`\n" +
      "\n## Content\n\nPlain text body.\n")
  }

  test("article renderer: blank body, no labels, HTML body branch") {
    import graft.sources.Renderers
    def art(id: Long, body: Option[String]) = Renderers.Article(id, "T", 1,
      1, "2024-01-01T00:00:00Z", "2024-01-01T00:00:00Z", 0, 0,
      Seq.empty, body)
    val blank = Renderers.renderArticle(art(1, None))
    assert(blank.contains("\n## Content\n\n_No content._\n"))
    assert(!blank.contains("**Labels:**"))
    val ws = Renderers.renderArticle(art(2, Some("   ")))
    assert(ws.contains("_No content._"))
    val html = Renderers.renderArticle(
      art(3, Some("<p>Hello <strong>world</strong></p>")))
    assert(html.contains("Hello **world**"))
  }

  private lazy val articlesPath: String = {
    val d = tempDir("articles")
    val lines = Seq(
      """{"id":301,"title":"Install guide","author_id":42,"section_id":7,"created_at":"2024-03-01T10:00:00Z","updated_at":"2024-03-05T11:00:00Z","vote_sum":5,"vote_count":9,"label_names":["howto"],"body":"<p>Run the <code>installer</code>.</p>","html_url":"https://x.zendesk.com/hc/articles/301"}""",
      """{"id":302,"title":"Empty one","author_id":43,"section_id":8,"created_at":"2024-01-01T00:00:00Z","updated_at":"2024-01-02T00:00:00Z","vote_sum":null,"vote_count":null,"label_names":[],"body":null,"html_url":null}""")
    Files.writeString(d.resolve("articles.jsonl"), lines.mkString("\n"))
    d.resolve("articles.jsonl").toString
  }

  test("staged articles render and chunk; vote/url defaults applied") {
    val rows = ApiSources.ingestArticles(spark, articlesPath, "HC", "1.0")
      .collect()
    assert(rows.map(_.url).distinct.sorted.toSeq ==
      Seq("https://x.zendesk.com/hc/articles/301", "zendesk://article/302"))
    val a301 = rows.find(_.url.endsWith("/301")).get.content
    assert(a301.contains("# Install guide"))
    assert(a301.contains("- **Labels:** `howto`"))
    assert(a301.contains("Run the `installer`."))
    val a302 = rows.find(_.url == "zendesk://article/302").get.content
    assert(a302.contains("- **Vote Sum:** 0"))
    assert(a302.contains("- **Vote Count:** 0"))
    assert(a302.contains("_No content._"))
    val fresh = ApiSources.ingestArticles(spark, articlesPath, "HC", "1.0",
      updatedAfter = Some("2024-02-01T00:00:00Z")).collect()
    assert(fresh.map(_.url).distinct.toSeq ==
      Seq("https://x.zendesk.com/hc/articles/301"))
  }

  test("excluded organizations: name resolution fails fast, ids drop tickets") {
    import spark.implicits._
    val orgs = Seq((101L, "Acme"), (102L, "Globex")).toDF("id", "name")
    assert(ApiSources.resolveExcludedOrgs(orgs, Seq("Acme")) == Seq(101L))
    intercept[IllegalArgumentException] {
      ApiSources.resolveExcludedOrgs(orgs, Seq("Acme", "NoSuchOrg"))
    }
    val d = tempDir("orgtickets")
    Files.writeString(d.resolve("t.jsonl"), Seq(
      """{"id":20,"subject":"In scope","status":"open","priority":null,"type":null,"requester_id":1,"assignee_id":null,"organization_id":102,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","tags":[],"description":"x","comments":[]}""",
      """{"id":21,"subject":"Excluded","status":"open","priority":null,"type":null,"requester_id":2,"assignee_id":null,"organization_id":101,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","tags":[],"description":"y","comments":[]}""",
      """{"id":22,"subject":"No org","status":"open","priority":null,"type":null,"requester_id":3,"assignee_id":null,"organization_id":null,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","tags":[],"description":"z","comments":[]}""")
      .mkString("\n"))
    val (chunks, _) = ApiSources.ingestTickets(spark,
      d.resolve("t.jsonl").toString, "S", "1.0",
      excludedOrgIds = Seq(101L))
    assert(chunks.collect().map(_.url).distinct.sorted.toSeq ==
      Seq("zendesk://ticket/20", "zendesk://ticket/22"))
  }

  test("comment body preference: plain_body > html_body > body") {
    val d = tempDir("bodytickets")
    Files.writeString(d.resolve("t.jsonl"),
      """{"id":30,"subject":"Pref","status":"open","priority":null,"type":null,"requester_id":1,"assignee_id":null,"created_at":"2024-02-01T00:00:00Z","updated_at":"2024-02-01T00:00:00Z","tags":[],"description":"d","comments":[{"author_id":1,"created_at":"2024-02-01T01:00:00Z","public":true,"plain_body":"PLAIN","html_body":"<p>HTML</p>","body":"RAW"},{"author_id":2,"created_at":"2024-02-01T02:00:00Z","public":true,"html_body":"<p>H2</p>","body":"RAW2"}]}""")
    val (chunks, _) = ApiSources.ingestTickets(spark,
      d.resolve("t.jsonl").toString, "S", "1.0")
    val md = chunks.collect().head.content
    assert(md.contains("PLAIN") && !md.contains("RAW"))
    assert(md.contains("<p>H2</p>") && !md.contains("RAW2"))
  }
}
