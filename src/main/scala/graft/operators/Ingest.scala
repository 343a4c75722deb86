package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.HtmlToMarkdown
import graft.sources.{Crawler, Renderers}

/** Ingestion-layer operators (SURVEY.md §2.1/§2.2): HTML normalization,
  * API-record rendering, crawl frontier, sitemap prefix inheritance,
  * ETag skip — each over deterministic constructions from the driver
  * tables so the DuckDB oracle can replay them.
  */
object Ingest {

  /** Corpus size for the synthetic modular link graph, memoized per data
    * directory — crawlFrontier and brokenLinks both need it, and an
    * uncached `docs.count()` is a full extra scan job per query. The
    * entry carries a file-listing fingerprint (names, lengths, mtimes)
    * of the documents table, so rewriting the data under the same path
    * REPLACES the entry instead of serving a stale count — one entry
    * per directory, so a long-lived session that rewrites data under
    * the same paths never grows the map (dead fingerprints would
    * otherwise accumulate forever). */
  private val docCountCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  private[graft] def docCount(s: SparkSession, dir: String): Long = {
    val fp = tableFingerprint(s, dir)
    docCountCache.get(dir) match {
      case Some((`fp`, n)) => n
      case _ =>
        val n = Tables.documents(s, dir).select("doc_id").count()
        docCountCache.put(dir, (fp, n))
        n
    }
  }
  private def tableFingerprint(s: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    try {
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(path).foldLeft(0L) { (h, st) =>
        var x = h * 1000003L + st.getPath.getName.hashCode
        x = x * 1000003L + st.getLen
        x * 1000003L + st.getModificationTime
      }
    } catch { case _: java.io.IOException => 0L }
  }

  /** HTML page ingest: documents → synthetic HTML → HtmlToMarkdown →
    * heading-aware chunker. End-to-end §2.2 normalization through the
    * pipeline (pure per-row, no shuffle). */
  def ingestHtml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .flatMap { d =>
        val html = s"<html><head><title>x</title><script>bad()</script></head>" +
          s"<body><h1>${d.source}</h1><div><h2>${d.lang}</h2>" +
          s"<p>${d.text}</p></div></body></html>"
        val md = HtmlToMarkdown.convert(html)
        Chunker.chunkMarkdown(md, d.source, "1.0", s"doc://${d.doc_id}")
      }
      .select(col("url"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        col("section"), col("chunk_id"), col("content"))
      .orderBy("url", "chunk_index")
  }

  /** Full-page ingest through the selector cascade (reference
    * processPage, content-processor.ts:987-1237): chrome-bearing pages
    * (head/title/script, nav with fragment/mailto links, an h1 OUTSIDE
    * the main content) where `<article>` is the cascade target. Links
    * harvest from the full DOM (fragment + mailto dropped); even docs
    * carry their own `<h1>` (no injection), odd docs get the document
    * title injected. */
  def ingestPage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .map { d =>
        val h1 =
          if (d.doc_id % 2 == 0) s"<h1>${d.source} guide</h1>" else ""
        val html =
          "<html><head><title>Site</title><script>nav()</script></head>" +
            "<body><nav><a href=\"/home\">Home</a><a href=\"#frag\">Skip</a>" +
            "<a href=\"mailto:x@y\">Mail</a><a href=\"/about\">About</a></nav>" +
            "<h1>Portal navigation</h1>" +
            s"<article>$h1<h2>${d.lang}</h2><p>${d.text} " +
            "<a href=\"doc://next\">Next</a></p></article></body></html>"
        val (md, links) = HtmlToMarkdown.processPage(html)
        (s"doc://${d.doc_id}", md, links.mkString(","),
          links.length.toLong, graft.functions.TextUtil.sha256Hex(md))
      }
      .toDF("url", "markdown", "links_csv", "n_links", "md_hash")
      .orderBy("url")
  }

  /** URL-canonical frontier dedup through the PRODUCTION url kernels
    * (reference utils.ts:17-69): every pair of documents stages six
    * variant urls of one logical page — base, `?query`, `#fragment`,
    * across both pair members — and the row groups by
    * `UrlUtils.normalizeUrl` output with `shouldProcessUrl` /
    * `isPdfUrl` crawl-eligibility flags. The extension rotates by page
    * (pdf / html / extension-less / png / directory), so every
    * eligibility branch occurs; the DuckDB oracle reconstructs the
    * expected canonical strings and decision table ARITHMETICALLY —
    * the kernels are checked against an independent expectation, not
    * replayed. This is the crawl frontier's visited-set key dedup
    * (doc2vec.ts's normalizeUrl-before-enqueue) as a corpus-scale
    * groupBy: one hash shuffle on the canonical key, nothing else. */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.UrlUtils
    Tables.documents(s, dir).select("doc_id").as[Long]
      .flatMap { id =>
        val g = id / 2
        val ext = (g % 5) match {
          case 0 => ".pdf"
          case 1 => ".html"
          case 2 => ""
          case 3 => ".png"
          case _ => "/"
        }
        val base = s"https://docs.example.com/p$g$ext"
        Seq(base, base + "?utm=1&ref=2", base + "#section-3").map { u =>
          (UrlUtils.normalizeUrl(u), id,
            if (UrlUtils.shouldProcessUrl(u)) 1L else 0L,
            if (UrlUtils.isPdfUrl(u)) 1L else 0L)
        }
      }
      .toDF("canonical_url", "doc_id", "should", "pdf")
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"),
        min(col("doc_id")).as("first_doc"),
        max(col("should")).as("should_process"),
        max(col("pdf")).as("is_pdf"))
      .orderBy("canonical_url")
  }

  /** Link RESOLUTION through the production [[UrlUtils.buildUrl]]
    * kernel (reference utils.ts:30-46, the crawler's href→absolute
    * step): each document stages one harvested href rotating through
    * the resolution shapes a real page emits — absolute, root-relative,
    * document-relative, parent-traversing (`../`), and
    * protocol-relative — against a two-segment base url. RFC 3986
    * resolution is reconstructed arithmetically in the oracle. Also
    * emits [[UrlUtils.getUrlPrefix]] of the resolved url (query
    * stripped, origin+path kept), closing the last §2.8 url scalar
    * without a correctness row. */
  def resolveLinks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.UrlUtils
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val base = s"https://docs.example.com/guide$id/page.html"
        val href = (id % 5) match {
          case 0 => s"https://other.example.com/abs$id"
          case 1 => s"/root$id.html"
          case 2 => s"sib$id.html?v=2"
          case 3 => s"../up$id/"
          case _ => s"//cdn.example.com/p$id.js"
        }
        val resolved = UrlUtils.buildUrl(href, base)
        (id, resolved, UrlUtils.getUrlPrefix(resolved))
      }
      .toDF("doc_id", "resolved_url", "url_prefix")
      .orderBy("doc_id")
  }

  /** The HTTP header scalars through the PRODUCTION parsers (reference
    * utils.ts:92-108 Link rel=next; content-processor.ts:1274-1291
    * Retry-After): every event stages one paginated API response —
    * a Link header whose shape rotates through the RFC 5988 variants
    * the reference handles (quoted/unquoted rel, extra params, rel on
    * a non-next member, missing) and a Retry-After that rotates
    * numeric seconds / sub-second floor / HTTP-date / garbage /
    * absent. The oracle reconstructs both results ARITHMETICALLY from
    * the event id, so the regex and date parsing are checked against
    * an independent decision table. Pure per-row map, no shuffle. */
  def parseApiHeaders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.UrlUtils
    Tables.events(s, dir)
      .filter(col("event_id") < 500)
      .select(col("event_id")).as[Long]
      .map { id =>
        val nextUrl = s"https://api.example.com/items?page=${id + 1}"
        val link = (id % 5) match {
          case 0 => s"""<$nextUrl>; rel="next", <https://x/last>; rel="last""""
          case 1 => s"<$nextUrl>; rel=next"
          case 2 => s"""<https://x/prev>; rel="prev", <$nextUrl>; rel="next"; title="n""""
          case 3 => s"""<https://x/only>; rel="prev""""
          case _ => ""
        }
        val retry = (id % 4) match {
          case 0 => s"${id % 30 + 1}"
          case 1 => "0.25"
          case 2 => "Mon, 01 Jan 2024 00:00:30 GMT"
          case _ => "not-a-date"
        }
        // HTTP-date case: nowMs pinned 10 s before the header date
        val nowMs = 1704067200000L - 10000L
        (id,
          UrlUtils.parseNextLink(link).getOrElse(""),
          UrlUtils.parseRetryAfter(retry, nowMs).getOrElse(-1L))
      }
      .toDF("event_id", "next_url", "retry_ms")
      .orderBy("event_id")
  }

  /** WAI-ARIA tab flattening through the FULL processPage cascade
    * (reference preprocessTabs, content-processor.ts:1307-1399; its
    * tests L2714/L2942): tab-bearing pages where each [role=tab]
    * button's label is injected as a `**Label:**` paragraph before its
    * panel, panels are kept (hidden ones included), and tab buttons
    * are removed. The staged HTML exercises every matching branch:
    *   - even docs: tab 0 targets the SECOND panel via
    *     aria-controls=p2, so tab 1's positional fallback finds its
    *     panel already claimed (seen-set) and injects nothing;
    *   - odd docs: no aria-controls — pure positional matching, both
    *     panels get their labels;
    *   - doc_id % 5 == 0: tab 1's label is EMPTY → its panel keeps no
    *     injected paragraph (but still counts as claimed);
    *   - panel 2 carries `hidden` — flattening must surface it anyway.
    * Pure per-row map, zero shuffle, like [[ingestPage]]. */
  def ingestTabs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .map { d =>
        val snippet = d.text.take(40)
        val ac = if (d.doc_id % 2 == 0) " aria-controls=\"p2\"" else ""
        val lbl2 = if (d.doc_id % 5 == 0) "" else "Advanced"
        val html =
          "<html><head><title>Site</title></head><body><article>" +
            s"<h1>${d.source} tabs</h1>" +
            "<div role=\"tablist\">" +
            s"<button role=\"tab\"$ac>Overview ${d.lang}</button>" +
            s"<button role=\"tab\">$lbl2</button></div>" +
            s"<div role=\"tabpanel\" id=\"p1\"><p>$snippet</p></div>" +
            "<div role=\"tabpanel\" id=\"p2\" hidden>" +
            s"<p>More on ${d.doc_id}</p></div>" +
            "</article></body></html>"
        val (md, _) = graft.functions.HtmlToMarkdown.processPage(html)
        (s"doc://${d.doc_id}", md, graft.functions.TextUtil.sha256Hex(md))
      }
      .toDF("url", "markdown", "md_hash")
      .orderBy("url")
  }

  /** GitHub-issue rendering: events rows as synthetic issues (event_id →
    * number, event_type → state vocabulary) rendered through the
    * reference template; emits the markdown and its hash. */
  def renderIssues(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter(col("event_id") < 100)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
      .as[(Long, Long, String, String)]
      .map { case (id, user, etype, iso) =>
        val issue = Renderers.Issue(
          number = id, title = s"Event $etype $id", author = s"user$user",
          state = if (etype == "error") "closed" else "open",
          createdAt = iso, updatedAt = iso,
          labels = if (etype == "click") Seq("ui", "p1") else Seq.empty,
          body = Some(s"Body for event $id."),
          isPullRequest = id % 5 == 0,
          comments = Seq.empty)
        val md = Renderers.renderIssue(issue)
        (id, md, graft.functions.TextUtil.sha256Hex(md))
      }
      .toDF("issue_id", "markdown", "md_hash")
      .orderBy("issue_id")
  }

  /** Zendesk article rendering: events rows as synthetic help-center
    * articles through the reference template (doc2vec.ts:1825-1854).
    * Every 7th article has a blank body (→ `_No content._`); `click`
    * events carry labels so the optional label bullet is exercised both
    * ways. Emits the markdown and its hash. */
  def renderArticles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter(col("event_id") < 100)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
      .as[(Long, Long, String, String)]
      .map { case (id, user, etype, iso) =>
        val article = Renderers.Article(
          id = id, title = s"Article $etype $id", authorId = user,
          sectionId = id % 7, createdAt = iso, updatedAt = iso,
          voteSum = id % 11 - 3, voteCount = id % 11,
          labelNames = if (etype == "click") Seq("howto", "faq") else Seq.empty,
          body = if (id % 7 == 0) None else Some(s"Article body for event $id."))
        val md = Renderers.renderArticle(article)
        (id, md, graft.functions.TextUtil.sha256Hex(md))
      }
      .toDF("article_id", "markdown", "md_hash")
      .orderBy("article_id")
  }

  /** Zendesk ticket rendering: events rows as synthetic tickets through
    * the reference template (doc2vec.ts:1586-1627). Exercises every
    * branch the reference's `generateMarkdownForTicket` has: optional
    * priority/type/assignee, optional tag bullet, blank description →
    * `_No description._`, the internal-comment filter (every ticket
    * carries one internal comment that must NOT appear), `&nbsp;`
    * cleanup in comment bodies, and blank comment body → `_No
    * content._`. Emits the markdown and its hash. */
  def renderTickets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter(col("event_id") < 100)
      .select(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
      .as[(Long, Long, String, String)]
      .map { case (id, user, etype, iso) =>
        val ticket = Renderers.Ticket(
          id = id, subject = s"Ticket $etype $id",
          status = if (etype == "error") "open" else "solved",
          priority =
            if (id % 3 == 0) None
            else Some(if (id % 2 == 0) "high" else "low"),
          ticketType = if (etype == "error") Some("incident") else None,
          requesterId = user,
          assigneeId = if (id % 4 == 0) None else Some(user + 1),
          createdAt = iso, updatedAt = iso,
          tags = if (etype == "click") Seq("ui", "bug") else Seq.empty,
          description =
            if (id % 7 == 0) None else Some(s"Ticket description $id."),
          comments = Seq(
            Renderers.TicketComment(
              authorId = user + 1000, createdAt = iso, isPublic = true,
              body =
                if (id % 5 == 0) ""
                else s"Reply&nbsp;for&nbsp;ticket $id."),
            Renderers.TicketComment(
              authorId = user + 2000, createdAt = iso, isPublic = false,
              body = s"Internal note $id.")))
        val md = Renderers.renderTicket(ticket)
        (id, md, graft.functions.TextUtil.sha256Hex(md))
      }
      .toDF("ticket_id", "markdown", "md_hash")
      .orderBy("ticket_id")
  }

  /** End-to-end GitHub-issues ingest composition (reference
    * doc2vec.ts:258-597) as ONE oracle row: a paginated JSON-lines
    * landing area staged from the events table (one file-set per
    * fetched page, short last page — the `per_page=100` loop's shape),
    * the `since`-watermark filter, the issue template render, the
    * heading-aware chunker, and the chunk-delta against a prior store.
    * Every layer has its own green row; this pins their COMPOSITION,
    * where the ingest_tabs-style bugs hide.
    *
    * Deterministic construction: `updated_at` derives from event_id
    * arithmetic (Feb day = id%28+1) so the 2024-02-14T12 watermark
    * splits identically at every scale factor; every 3rd issue body
    * carries an edit marker vs the prior-store rendering; the store
    * holds ids < 150. Actions: `new` (url absent from the store),
    * `changed` (stored hash differs → re-embed), `unchanged` (hash
    * matches → the chunk-level skip fires, nothing re-embeds). The
    * prior-store rendering keeps the same updated_at — the reference's
    * overlapping-cursor case, where `since` re-surfaces the boundary
    * and the hash skip absorbs it.
    *
    * Scale: staging is fixture-bounded; the pipeline itself is one
    * json scan → flatMap chunker → url-keyed left join, no driver
    * data motion. */
  def ingestIssuesE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ApiSources
    graft.Scratch.within("issuese2e") { base =>
      val recs = Tables.events(s, dir).filter(col("event_id") < 200)
        .select(
          col("event_id").as("number"),
          concat(lit("Event "), col("event_type"), lit(" "),
            col("event_id")).as("title"),
          concat(lit("user"), col("user_id")).as("user_login"),
          when(col("event_type") === "error", lit("closed"))
            .otherwise(lit("open")).as("state"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .as("created_at"),
          concat(lit("2024-02-"),
            lpad(((col("event_id") % 28) + 1).cast("string"), 2, "0"),
            lit("T00:00:00Z")).as("updated_at"),
          when(col("event_type") === "click", array(lit("ui"), lit("p1")))
            .otherwise(array().cast("array<string>")).as("labels"),
          concat(lit("Body for event "), col("event_id"),
            when(col("event_id") % 3 === 0, lit(". (edited)"))
              .otherwise(lit("."))).as("body"),
          (col("event_id") % 5 === 0).as("is_pull_request"),
          concat(lit("github://issues/"), col("event_id")).as("html_url"),
          (col("event_id") / 40).cast("int").as("page"))
        .localCheckpoint(true)
      (0 until 5).foreach { p =>
        recs.filter(col("page") === p).drop("page").coalesce(1)
          .write.mode("overwrite").json(s"$base/page-$p")
      }
      val chunks = ApiSources.ingestIssues(s, s"$base/page-*",
          "events-docs", "1.0", updatedAfter = Some("2024-02-14T12:00:00Z"))
        .map(c => (c.url, c.chunk_id, c.section, c.total_chunks.toLong))
        .toDF("url", "chunk_id", "section", "total_chunks")
      // prior store: ids < 150 rendered through the SAME kernels from the
      // pre-edit records (what the previous sync embedded)
      val prior = Tables.events(s, dir).filter(col("event_id") < 150)
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
        .as[(Long, Long, String, String)]
        .flatMap { case (id, user, etype, iso) =>
          val issue = graft.sources.Renderers.Issue(
            id, s"Event $etype $id", s"user$user",
            if (etype == "error") "closed" else "open",
            iso, "2024-02-%02dT00:00:00Z".format((id % 28) + 1),
            if (etype == "click") Seq("ui", "p1") else Seq.empty,
            Some(s"Body for event $id."), id % 5 == 0, Seq.empty)
          Chunker.chunkMarkdown(Renderers.renderIssue(issue),
              "events-docs", "1.0", s"github://issues/$id")
            .map(c => (c.url, c.chunk_id))
        }.toDF("url", "stored_id")
      chunks.join(prior, Seq("url"), "left")
        .withColumn("action",
          when(col("stored_id").isNull, "new")
            .when(col("stored_id") =!= col("chunk_id"), "changed")
            .otherwise("unchanged"))
        .select("url", "chunk_id", "section", "total_chunks", "action")
        .orderBy("url").localCheckpoint(true)
    }
  }

  /** End-to-end Zendesk-tickets ingest composition (reference
    * doc2vec.ts:1540-1789) as ONE oracle row, through the REAL
    * [[graft.sources.ApiSources.ingestTickets]] path: incremental-
    * export watermark → deleted-ticket purge list → excluded-org drop
    * (names resolved against a staged orgs table, the require-on-typo
    * contract) → status filter → comment body-preference
    * (plain_body > html_body > body) + internal-comment filter +
    * `&nbsp;` cleanup → ticket template render → chunker → chunk-delta
    * vs a prior store.
    *
    * Construction (events table, id < 200): `updated_at` from the same
    * Feb-day arithmetic as the issues row; id%11==0 tickets arrive
    * `deleted` (they WERE stored — the purge hits real urls); orgs are
    * the nation table, NATION_3/NATION_7 excluded → tickets whose
    * organization_id = user_id%25 lands on 3 or 7 are dropped (null
    * org ids kept, id%6==0); every 3rd description carries an edit
    * marker (unless id%7==0: no description on either side); id%4==0
    * comments prove the plain_body preference (body/html_body hold
    * decoys). Output: one row per surviving chunk with its delta
    * action, plus `purge` rows for the deleted urls.
    *
    * Scale: same shape as the issues row — json scan → flatMap →
    * url-keyed join; the org id-list is a broadcast-sized isin. */
  def ingestTicketsE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ApiSources
    graft.Scratch.within("ticketse2e") { base =>
      val recs = Tables.events(s, dir).filter(col("event_id") < 200)
        .withColumn("created_iso",
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .select(
          col("event_id").as("id"),
          concat(lit("Ticket "), col("event_type"), lit(" "),
            col("event_id")).as("subject"),
          when(col("event_id") % 11 === 0, lit("deleted"))
            .when(col("event_type") === "error", lit("open"))
            .otherwise(lit("solved")).as("status"),
          when(col("event_id") % 3 === 0, lit(null).cast("string"))
            .when(col("event_id") % 2 === 0, lit("high"))
            .otherwise(lit("low")).as("priority"),
          when(col("event_type") === "error", lit("incident"))
            .otherwise(lit(null).cast("string")).as("type"),
          col("user_id").as("requester_id"),
          when(col("event_id") % 4 === 0, lit(null).cast("long"))
            .otherwise(col("user_id") + 1).as("assignee_id"),
          col("created_iso").as("created_at"),
          concat(lit("2024-02-"),
            lpad(((col("event_id") % 28) + 1).cast("string"), 2, "0"),
            lit("T00:00:00Z")).as("updated_at"),
          when(col("event_id") % 6 === 0, lit(null).cast("long"))
            .otherwise(col("user_id") % 25).as("organization_id"),
          when(col("event_type") === "click", array(lit("ui"), lit("bug")))
            .otherwise(array().cast("array<string>")).as("tags"),
          when(col("event_id") % 7 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("Ticket description "), col("event_id"),
              when(col("event_id") % 3 === 0, lit(". (edited)"))
                .otherwise(lit(".")))).as("description"),
          expr("""array(
            named_struct(
              'author_id', user_id + 1000, 'created_at', created_iso,
              'public', true,
              'body', CASE WHEN event_id % 4 = 0 THEN 'decoy body'
                WHEN event_id % 5 = 0 THEN ''
                ELSE concat('Reply&nbsp;for&nbsp;ticket ', event_id, '.')
                END,
              'plain_body', CASE WHEN event_id % 4 = 0
                THEN concat('Plain reply for ticket ', event_id, '.')
                ELSE CAST(NULL AS STRING) END,
              'html_body', CASE WHEN event_id % 4 = 0
                THEN '<p>decoy html</p>' ELSE CAST(NULL AS STRING) END),
            named_struct(
              'author_id', user_id + 2000, 'created_at', created_iso,
              'public', false,
              'body', concat('Internal note ', event_id, '.'),
              'plain_body', CAST(NULL AS STRING),
              'html_body', CAST(NULL AS STRING)))""").as("comments"),
          (col("event_id") / 40).cast("int").as("page"))
        .localCheckpoint(true)
      (0 until 5).foreach { p =>
        recs.filter(col("page") === p).drop("page").coalesce(1)
          .write.mode("overwrite").json(s"$base/page-$p")
      }
      val orgs = Tables.nation(s, dir)
        .select(col("n_name").as("name"), col("n_nationkey").as("id"))
      // staging guard only: on an empty fixture corpus there are no orgs
      // (and no tickets) to exclude; resolveExcludedOrgs keeps its
      // fail-on-unresolvable contract for real configs
      val excluded =
        if (orgs.isEmpty) Seq.empty[Long]
        else ApiSources.resolveExcludedOrgs(orgs, Seq("NATION_3", "NATION_7"))
      val (chunksDs, deleted) = ApiSources.ingestTickets(s, s"$base/page-*",
        "support", "1.0", excludedOrgIds = excluded,
        updatedAfter = Some("2024-02-14T12:00:00Z"))
      val chunks = chunksDs
        .map(c => (c.url, c.chunk_id, c.section, c.total_chunks.toLong))
        .toDF("url", "chunk_id", "section", "total_chunks")
      // prior store: ids < 150, active then (today's deletions were
      // stored — the purge hits real urls), org config unchanged,
      // pre-edit descriptions
      val prior = Tables.events(s, dir)
        .filter(col("event_id") < 150 && col("event_id") % 11 =!= 0 &&
          !(col("event_id") % 6 =!= 0 &&
            (col("user_id") % 25).isin(3L, 7L)))
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
        .as[(Long, Long, String, String)]
        .flatMap { case (id, user, etype, iso) =>
          val t = Renderers.Ticket(
            id, s"Ticket $etype $id",
            if (etype == "error") "open" else "solved",
            if (id % 3 == 0) None
            else Some(if (id % 2 == 0) "high" else "low"),
            if (etype == "error") Some("incident") else None,
            user, if (id % 4 == 0) None else Some(user + 1),
            iso, "2024-02-%02dT00:00:00Z".format((id % 28) + 1),
            if (etype == "click") Seq("ui", "bug") else Seq.empty,
            if (id % 7 == 0) None else Some(s"Ticket description $id."),
            Seq(
              Renderers.TicketComment(user + 1000, iso, isPublic = true,
                if (id % 4 == 0) s"Plain reply for ticket $id."
                else if (id % 5 == 0) ""
                else s"Reply&nbsp;for&nbsp;ticket $id."),
              Renderers.TicketComment(user + 2000, iso, isPublic = false,
                s"Internal note $id.")))
          Chunker.chunkMarkdown(Renderers.renderTicket(t),
              "support", "1.0", s"zendesk://ticket/$id")
            .map(c => (c.url, c.chunk_id))
        }.toDF("url", "stored_id")
      val delta = chunks.join(prior, Seq("url"), "left")
        .withColumn("action",
          when(col("stored_id").isNull, "new")
            .when(col("stored_id") =!= col("chunk_id"), "changed")
            .otherwise("unchanged"))
        .select("url", "chunk_id", "section", "total_chunks", "action")
      val purge = deleted.select(col("url"), lit("").as("chunk_id"),
        lit("").as("section"), lit(0L).as("total_chunks"),
        lit("purge").as("action"))
      delta.unionByName(purge)
        .orderBy("url", "action").localCheckpoint(true)
    }
  }

  /** End-to-end Zendesk help-center ARTICLES ingest composition
    * (reference doc2vec.ts:1825-1854 render; fetch_articles defaults on,
    * doc2vec.ts:1525) as ONE oracle row, through the real
    * [[graft.sources.ApiSources.ingestArticles]] path: paginated JSON
    * landing area → `updated_at` watermark → article template render —
    * including the HTML-body branch, so the HTML→Markdown converter runs
    * INSIDE the composition (every 4th body is `<p>…<strong>…</strong>`)
    * — → heading-aware chunker → chunk-delta vs a prior store. The last
    * of the three API-source compositions to gain a row (issues and
    * tickets landed in round 12).
    *
    * Deterministic construction (events, id < 200): Feb-day
    * `updated_at` arithmetic shared with the issues/tickets rows;
    * id%9==0 articles arrive with null votes (rendered 0 — the
    * `.getOrElse(0)` contract); id%7==0 bodies are null (renders
    * `_No content._`, and stay unchanged vs the store); id%5==0
    * articles have no html_url (the `zendesk://article/` fallback);
    * every 3rd body carries an edit marker vs the prior-store render.
    *
    * Scale: staging is fixture-bounded; the pipeline is one json scan →
    * flatMap render+chunk → url-keyed left join, no driver data motion. */
  def ingestArticlesE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ApiSources
    graft.Scratch.within("articlese2e") { base =>
      val recs = Tables.events(s, dir).filter(col("event_id") < 200)
        .select(
          col("event_id").as("id"),
          concat(lit("Article "), col("event_type"), lit(" "),
            col("event_id")).as("title"),
          col("user_id").as("author_id"),
          (col("event_id") % 10).as("section_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .as("created_at"),
          concat(lit("2024-02-"),
            lpad(((col("event_id") % 28) + 1).cast("string"), 2, "0"),
            lit("T00:00:00Z")).as("updated_at"),
          when(col("event_id") % 9 === 0, lit(null).cast("long"))
            .otherwise(col("event_id") % 7 - 3).as("vote_sum"),
          when(col("event_id") % 9 === 0, lit(null).cast("long"))
            .otherwise(col("event_id") % 5 + 1).as("vote_count"),
          when(col("event_type") === "click",
              array(lit("faq"), lit("howto")))
            .otherwise(array().cast("array<string>")).as("label_names"),
          when(col("event_id") % 7 === 0, lit(null).cast("string"))
            .when(col("event_id") % 4 === 0,
              concat(lit("<p>Body for article "), col("event_id"),
                lit(" with <strong>bold</strong> text"),
                when(col("event_id") % 3 === 0, lit(". (edited)</p>"))
                  .otherwise(lit(".</p>"))))
            .otherwise(concat(lit("Body for article "), col("event_id"),
              when(col("event_id") % 3 === 0, lit(". (edited)"))
                .otherwise(lit(".")))).as("body"),
          when(col("event_id") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("https://help.example.com/articles/"),
              col("event_id"))).as("html_url"),
          (col("event_id") / 40).cast("int").as("page"))
        .localCheckpoint(true)
      (0 until 5).foreach { p =>
        recs.filter(col("page") === p).drop("page").coalesce(1)
          .write.mode("overwrite").json(s"$base/page-$p")
      }
      val chunks = ApiSources.ingestArticles(s, s"$base/page-*",
          "helpcenter", "1.0", updatedAfter = Some("2024-02-14T12:00:00Z"))
        .map(c => (c.url, c.chunk_id, c.section, c.total_chunks.toLong))
        .toDF("url", "chunk_id", "section", "total_chunks")
      // prior store: ids < 150 rendered through the SAME kernels from the
      // pre-edit records (what the previous sync embedded)
      val prior = Tables.events(s, dir).filter(col("event_id") < 150)
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
        .as[(Long, Long, String, String)]
        .flatMap { case (id, user, etype, iso) =>
          val a = Renderers.Article(
            id, s"Article $etype $id", user, id % 10,
            iso, "2024-02-%02dT00:00:00Z".format((id % 28) + 1),
            if (id % 9 == 0) 0L else id % 7 - 3,
            if (id % 9 == 0) 0L else id % 5 + 1,
            if (etype == "click") Seq("faq", "howto") else Seq.empty,
            if (id % 7 == 0) None
            else if (id % 4 == 0) Some(
              s"<p>Body for article $id with <strong>bold</strong> text.</p>")
            else Some(s"Body for article $id."))
          val url =
            if (id % 5 == 0) s"zendesk://article/$id"
            else s"https://help.example.com/articles/$id"
          Chunker.chunkMarkdown(Renderers.renderArticle(a),
              "helpcenter", "1.0", url)
            .map(c => (c.url, c.chunk_id))
        }.toDF("url", "stored_id")
      chunks.join(prior, Seq("url"), "left")
        .withColumn("action",
          when(col("stored_id").isNull, "new")
            .when(col("stored_id") =!= col("chunk_id"), "changed")
            .otherwise("unchanged"))
        .select("url", "chunk_id", "section", "total_chunks", "action")
        .orderBy("url").localCheckpoint(true)
    }
  }

  /** Crawl frontier: BFS over a deterministic link graph (doc i links
    * to (7i+1) mod N and (13i+5) mod N) from seed doc 0 → (url, depth).
    * Oracle: DuckDB recursive CTE with min-depth aggregation. */
  def crawlFrontier(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docCount(s, dir)
    val links = docs.select(
        concat(lit("doc://"), col("doc_id")).as("src"),
        concat(lit("doc://"), (col("doc_id") * 7 + 1) % n).as("dst"))
      .unionByName(docs.select(
        concat(lit("doc://"), col("doc_id")).as("src"),
        concat(lit("doc://"), (col("doc_id") * 13 + 5) % n).as("dst")))
    val seeds = s.createDataFrame(Seq(Tuple1("doc://0"))).toDF("url")
    Crawler.frontierFixpoint(links, seeds).orderBy("url")
  }

  /** Sitemap XML parse + index recursion (reference `parseSitemap`,
    * content-processor.ts:277-319): documents staged as four `<urlset>`
    * part sitemaps behind one `<sitemapindex>` (which also carries a
    * direct `<url>` entry, exercising the mixed-file path); every 3rd
    * url omits `<lastmod>` (→ NULL, the reference's `|| undefined`). */
  def sitemapParse(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val parts = docs
      .withColumn("part", col("doc_id") % 4)
      .withColumn("entry", concat(
        lit("<url><loc>doc://"), col("doc_id"), lit("</loc>"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit("<lastmod>2024-01-"),
            lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            lit("</lastmod>"))).otherwise(lit("")),
        lit("</url>")))
      .groupBy(col("part"))
      .agg(concat(lit("<urlset>"), concat_ws("", collect_list(col("entry"))),
        lit("</urlset>")).as("xml"))
      .select(concat(lit("sitemap://part"), col("part")).as("sitemap_url"),
        col("xml"))
    val index = s.createDataFrame(Seq((
        "sitemap://index",
        "<sitemapindex>" +
          (0 to 3).map(k => s"<sitemap><loc>sitemap://part$k</loc></sitemap>")
            .mkString +
          "</sitemapindex>" +
          "<urlset><url><loc>doc://home</loc>" +
          "<lastmod>2024-01-01</lastmod></url></urlset>")))
      .toDF("sitemap_url", "xml")
    graft.sources.Sitemap
      .resolve(s, parts.unionByName(index), "sitemap://index")
      .orderBy("url")
  }

  /** Sitemap lastmod inheritance: each url inherits the lastmod of its
    * longest matching sitemap prefix (reference
    * content-processor.ts:393-436). Prefixes broadcast; longest match
    * via ranked startswith. */
  def prefixLastmod(s: SparkSession, dir: String): DataFrame = {
    val prefixes = s.createDataFrame(
        ("doc://" +: (0 to 9).map(d => s"doc://$d")).map(p =>
          (p, s"2024-01-${10 + p.length}")))
      .toDF("prefix", "lastmod")
    val urls = Tables.documents(s, dir)
      .select(concat(lit("doc://"), col("doc_id")).as("url"))
    val w = Window.partitionBy(col("url"))
      .orderBy(length(col("prefix")).desc, col("prefix"))
    urls.join(broadcast(prefixes), col("url").startsWith(col("prefix")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("url", "prefix", "lastmod")
      .orderBy("url")
  }

  /** ETag skip layer (reference content-processor.ts:608-742): compare
    * the stored etag against the current content hash; equal → skip the
    * page without fetching. */
  def etagSkip(s: SparkSession, dir: String): DataFrame =
    etagDecisions(s, dir).orderBy("url")

  /** Unsorted per-url ETag decisions — shared by etagSkip and the
    * composed skip cascade (Sync.skipCascade), which folds the decision
    * into one wide aggregate and must not inherit a mid-plan sort. */
  private[operators] def etagDecisions(s: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val current = docs.select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      sha2(col("text"), 256).as("etag"))
    // stored etags: a third of pages unchanged, a third stale, a third new
    val stored = docs.filter(col("doc_id") % 3 =!= 2).select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      when(col("doc_id") % 3 === 0, sha2(col("text"), 256))
        .otherwise(sha2(concat(col("text"), lit("stale")), 256))
        .as("stored_etag"))
    current.join(stored, Seq("url"), "left")
      .withColumn("decision",
        when(col("stored_etag").isNull, "fetch_new")
          .when(col("stored_etag") === col("etag"), "skip")
          .otherwise("fetch_changed"))
      .select("url", "decision")
  }

  /** Sitemap-lastmod skip layer (reference content-processor.ts:579-606):
    * a page whose sitemap lastmod equals the stored value is skipped with
    * zero HTTP work; forceFullSync bypasses the layer. */
  def lastmodSkip(s: SparkSession, dir: String,
      forceFullSync: Boolean = false): DataFrame =
    lastmodDecisions(s, dir, forceFullSync).orderBy("url")

  /** Unsorted per-url lastmod decisions — shared with Sync.skipCascade. */
  private[operators] def lastmodDecisions(s: SparkSession, dir: String,
      forceFullSync: Boolean = false,
      markdownStoreUrls: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sitemap = docs.select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      concat(lit("2024-01-"), lpad((col("doc_id") % 28 + 1).cast("string"),
        2, "0")).as("lastmod"))
    // stored lastmods: stale for every 4th doc, missing for every 9th
    val stored = docs.filter(col("doc_id") % 9 =!= 0).select(
      concat(lit("doc://"), col("doc_id")).as("url"),
      when(col("doc_id") % 4 === 0, lit("2023-12-31"))
        .otherwise(concat(lit("2024-01-"),
          lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")))
        .as("stored_lastmod"))
    // markdown-store gap (content-processor.ts:586-595): a url ABSENT
    // from the markdown store re-fetches even when lastmod matches —
    // self-healing for a store that lost (or never had) the page;
    // forceFullSync takes precedence over the gap label
    val joined = sitemap.join(stored, Seq("url"), "left")
    val withStore = markdownStoreUrls match {
      case Some(st) => joined.join(
        st.select(col("url")).withColumn("in_store", lit(1L)),
        Seq("url"), "left")
      case None => joined.withColumn("in_store", lit(1L))
    }
    withStore
      .withColumn("decision",
        when(lit(forceFullSync), "fetch_forced")
          .when(col("stored_lastmod").isNull, "fetch_new")
          .when(col("stored_lastmod") === col("lastmod") &&
            col("in_store").isNull, "fetch_store_gap")
          .when(col("stored_lastmod") === col("lastmod"), "skip")
          .otherwise("fetch_changed"))
      .select("url", "decision")
  }

  /** The synthetic markdown store missing every 7th url — shared by
    * the standalone store-gap row ([[lastmodStoreGap]]) and the
    * cascade-level variant (Sync.skipCascadeStoreGap) so both oracles
    * stage the identical gap set. */
  private[operators] def storeGapStore(s: SparkSession,
      dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .select(concat(lit("doc://"), col("doc_id")).as("url"))

  /** [[lastmodSkip]] with a markdown store missing every 7th url — the
    * oracle row for the store-gap bypass the reference's e2e suite pins
    * twice (pages missing from the markdown store force-process even
    * when lastmod is unchanged, then skip once healed). */
  def lastmodStoreGap(s: SparkSession, dir: String): DataFrame =
    lastmodDecisions(s, dir, forceFullSync = false,
      markdownStoreUrls = Some(storeGapStore(s, dir))).orderBy("url")

  /** Broken-links report (reference doc2vec.ts:786-821): deduped
    * (source, target) pairs sorted by source then target. Links whose
    * target hits the synthetic 404 set (doc_id % 13 == 0) are broken. */
  def brokenLinks(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val n = docCount(s, dir)
    val links = docs.select(
        concat(lit("doc://"), col("doc_id")).as("source"),
        concat(lit("doc://"), (col("doc_id") * 7 + 1) % n).as("target"))
      .unionByName(docs.select(
        concat(lit("doc://"), col("doc_id")).as("source"),
        concat(lit("doc://"), (col("doc_id") * 13 + 5) % n).as("target")))
    val notFound = docs.filter(col("doc_id") % 13 === 0)
      .select(concat(lit("doc://"), col("doc_id")).as("target"))
    links.join(notFound, Seq("target"), "left_semi")
      .dropDuplicates("source", "target")
      .select("source", "target")
      .orderBy("source", "target")
  }

  /** Controller overlap detection (reference job-runner.ts:71-95): a
    * run is `skipped` when its config (user) still has an earlier run
    * in flight (start < running max of previous ends). Integer-µs
    * arithmetic for engine parity. */
  def overlapDetect(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("start_us", unix_micros(col("ts")))
      // floor before the integer cast: DuckDB's double→BIGINT cast
      // rounds while Spark's truncates — floor() agrees everywhere
      .withColumn("end_us",
        col("start_us") + floor(col("value") * 1000000d).cast("long"))
      .withColumn("prev_max_end", max(col("end_us")).over(w))
      .withColumn("status",
        when(col("prev_max_end").isNotNull &&
          col("start_us") < col("prev_max_end"), "skipped")
          .otherwise("run"))
      .groupBy(col("user_id"))
      .agg(count(when(col("status") === "skipped", 1)).as("n_skipped"),
        count(when(col("status") === "run", 1)).as("n_run"))
      .orderBy("user_id")
  }

  // ── Controller log pipeline (reference controller/store.ts:240-281)
  // over the events table: run_id ≅ user_id, seq ≅ event_id,
  // level ≅ event_type. Each query is one hash-partitioned aggregate or
  // window keyed on run_id — the viewer's per-run lookups become
  // partition-local work at any corpus size.

  /** Per-level line totals per run — the log viewer's filter chips
    * (countLogsByLevel, store.ts:262-271), computed for every run in
    * one groupBy instead of one query per run. */
  def logLevelCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id").as("run_id"),
        col("event_type").as("level"))
      .agg(count(lit(1)).as("n_lines"))
      .orderBy("run_id", "level")

  /** Seq to replay from so only the last `tail` lines follow: the seq
    * of the (tail+1)-th newest line, 0 when the run is shorter
    * (getTailStartSeq, store.ts:253-259) — for every run at once via a
    * descending row_number instead of OFFSET/LIMIT per run. */
  def logTailStartSeq(s: SparkSession, dir: String,
      tail: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("run_id")).orderBy(col("seq").desc)
    Tables.events(s, dir)
      .select(col("user_id").as("run_id"), col("event_id").as("seq"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("run_id"))
      .agg(coalesce(max(when(col("rn") === tail + 1, col("seq"))), lit(0L))
        .as("tail_start_seq"))
      .orderBy("run_id")
  }

  /** Daily run counts by status + duration stats — the config stats
    * page (getConfigStats daily, store.ts:285-299) for every day/status
    * at once. The average is computed in INTEGER MICROSECONDS (per-row
    * floor to long, exact BIGINT sum, integer division): a rounded
    * double avg flipped a .00005 boundary between engines at sf0.001
    * because float sum ORDER differs — per-row integerization makes
    * the aggregate order-free and bit-equal at every SF. floor (not
    * round) because its semantics are identical in every engine for
    * every sign; durations are non-negative, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree on the quotient. */
  def runStatsDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type").as("status"))
      .agg(count(lit(1)).as("n_runs"),
        expr("sum(CAST(floor(value * 1000000) AS BIGINT)) div count(1)")
          .as("avg_duration_us"))
      .orderBy("day", "status")

  /** Retention pruning (pruneOldLogs, store.ts:273-281): drop the logs
    * of runs that finished before the cutoff; reports lines pruned per
    * run (the reference returns the total rowCount — sum the column).
    * The run-end table is derived (max ts per run) and broadcast into
    * the semi-join side; the delete itself is the anti-join rewrite of
    * this same plan. */
  def logRetention(s: SparkSession, dir: String,
      cutoff: String = "2024-01-29 12:00:00"): DataFrame = {
    val finished = Tables.events(s, dir)
      .groupBy(col("user_id").as("run_id"))
      .agg(max(col("ts")).as("finished_at"))
      .filter(col("finished_at") < lit(cutoff).cast("timestamp"))
    Tables.events(s, dir)
      .select(col("user_id").as("run_id"))
      .join(broadcast(finished.select("run_id")), Seq("run_id"))
      .groupBy(col("run_id"))
      .agg(count(lit(1)).as("logs_pruned"))
      .orderBy("run_id")
  }

  /** Scheduler reconciliation (scheduler.ts:9-56) as a declarative
    * query — the decision core of the croner loop: per config, is the
    * next run due, and by how much? Config id ≅ user_id; each config's
    * interval derives deterministically from its id (5..30 min); "now"
    * is the corpus-max event time so the answer is reproducible. All
    * time math in integer microseconds (the engine-portable policy).
    *
    * Scale: one map-side-combining groupBy to the per-config last-run
    * table, then a 1-row "now" broadcast onto the ~#configs rows. */
  def scheduleReconcile(s: SparkSession, dir: String): DataFrame = {
    val last = Tables.events(s, dir)
      .groupBy(col("user_id").as("config_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"))
    val now = last.agg(max(col("last_us")).as("now_us"))
    last.crossJoin(broadcast(now))
      .withColumn("interval_min", expr("5 + (config_id % 6) * 5"))
      .withColumn("next_due_us",
        expr("last_us + interval_min * 60000000"))
      .withColumn("due", (col("next_due_us") <= col("now_us")).cast("long"))
      .withColumn("overdue_s",
        when(col("due") === 1,
          expr("(now_us - next_due_us) div 1000000")).otherwise(0L))
      .select("config_id", "interval_min", "last_us", "due", "overdue_s")
      .orderBy("config_id")
  }

  /** Config-registry reconciliation (config-registry.ts:86-261) as one
    * declarative pass: scan-vs-stored hash comparison classifies every
    * config as new / changed / unchanged / deleted (files that
    * disappeared soft-delete their record rather than vanish), invalid
    * configs stay VISIBLE carrying a parse_error (the registry must
    * show a broken file, not drop it), and a missing `name:` falls back
    * to the file basename. Membership, content drift, validity, and
    * the name fallback all derive deterministically from doc_id
    * (scanned = %11, stored = %13, drift = %10, invalid = %17,
    * nameless = %7) so the oracle reproduces every branch.
    *
    * Scale: one full-outer hash join on config id over registry-sized
    * tables; every classification is a codegen column expression. */
  def configRegistry(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scanned = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("config_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")).as("content"),
        col("source"))
      .withColumn("content_hash", sha2(col("content"), 256))
      .withColumn("parse_error",
        when(col("config_id") % 17 === 0, lit("invalid yaml"))
          .otherwise(lit(null).cast("string")))
      .withColumn("name",
        when(col("config_id") % 7 === 0,
          concat(lit("cfg_"), col("config_id")))
          .otherwise(col("source")))
      .drop("content", "source")
    val stored = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id").as("config_id"),
        sha2(col("text"), 256).as("stored_hash"))
    scanned.join(stored, Seq("config_id"), "full_outer")
      .withColumn("status",
        when(col("content_hash").isNull, lit("deleted"))
          .when(col("stored_hash").isNull, lit("new"))
          .when(col("content_hash") =!= col("stored_hash"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("config_id"),
        coalesce(col("name"), concat(lit("cfg_"), col("config_id")))
          .as("name"),
        col("status"), col("parse_error"), col("content_hash"))
      .orderBy("config_id")
  }
}
