package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Chunk
import graft.operators.Chunker

/** Staged-JSON ticket shapes (top-level for encoder codegen; `public`
  * is a Java keyword, so the JSON field is remapped to is_public). */
case class TicketCommentIn(author_id: Long, created_at: String,
    is_public: Boolean, body: String)
/** Staged-JSON help-center article shape. */
case class ArticleIn(id: Long, title: String, author_id: Long,
    section_id: Long, created_at: String, updated_at: String,
    vote_sum: Option[Long], vote_count: Option[Long],
    label_names: Option[Seq[String]], body: Option[String],
    html_url: Option[String])

case class TicketIn(id: Long, subject: String, status: String,
    priority: Option[String], ticket_type: Option[String],
    requester_id: Long, assignee_id: Option[Long], created_at: String,
    updated_at: String, tags: Option[Seq[String]],
    description: Option[String], comments: Option[Seq[TicketCommentIn]])

/** API-shaped sources (SURVEY.md §2.1): GitHub issues / Zendesk tickets
  * land as JSON-lines, are filtered by the `updated_at > watermark`
  * incremental predicate, rendered to Markdown with the reference
  * templates, and chunked. The HTTP pagination/retry machinery of the
  * reference is a client concern (it fills the JSON staging area); the
  * engine's semantics start at the staged records — which is also where
  * a 100 TB backfill starts.
  */
object ApiSources {

  import org.apache.spark.sql.types._

  /** Explicit landing-area schemas: schema-on-read, not inference. An
    * inferred `spark.read.json` costs a FULL extra pass over the staged
    * area before the query even starts (fatal at backfill scale) and
    * collapses to an empty schema on an empty landing area. Fields
    * missing from a record read as null, matching the API's optional
    * fields. */
  val IssueSchema: StructType = StructType(Seq(
    StructField("number", LongType), StructField("title", StringType),
    StructField("user_login", StringType), StructField("state", StringType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("labels", ArrayType(StringType)),
    StructField("body", StringType),
    StructField("is_pull_request", BooleanType),
    StructField("html_url", StringType)))

  val TicketSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("subject", StringType),
    StructField("status", StringType), StructField("priority", StringType),
    StructField("type", StringType),
    StructField("requester_id", LongType),
    StructField("assignee_id", LongType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("organization_id", LongType),
    StructField("tags", ArrayType(StringType)),
    StructField("description", StringType),
    StructField("comments", ArrayType(StructType(Seq(
      StructField("author_id", LongType),
      StructField("created_at", StringType),
      StructField("public", BooleanType),
      StructField("body", StringType),
      StructField("plain_body", StringType),
      StructField("html_body", StringType)))))))

  val ArticleSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("author_id", LongType),
    StructField("section_id", LongType),
    StructField("created_at", StringType),
    StructField("updated_at", StringType),
    StructField("vote_sum", LongType), StructField("vote_count", LongType),
    StructField("label_names", ArrayType(StringType)),
    StructField("body", StringType), StructField("html_url", StringType)))

  /** Staged GitHub issues (one JSON object per line) → chunk table.
    * Incremental: only issues updated after the watermark are
    * re-rendered (doc2vec.ts:258-597's `since` parameter as a filter).
    */
  def ingestIssues(spark: SparkSession, jsonPath: String,
      productName: String, version: String,
      updatedAfter: Option[String] = None): Dataset[Chunk] = {
    import spark.implicits._
    var df = spark.read.schema(IssueSchema).json(jsonPath)
    updatedAfter.foreach(w => df = df.filter(col("updated_at") > lit(w)))
    df.select(
        col("number").cast("long"), col("title"), col("user_login"),
        col("state"), col("created_at"), col("updated_at"),
        coalesce(col("labels"), array()).as("labels"),
        col("body"), coalesce(col("is_pull_request"), lit(false)),
        col("html_url"))
      .as[(Long, String, String, String, String, String,
        Seq[String], Option[String], Boolean, String)]
      .flatMap { case (num, title, author, state, created, updated,
          labels, body, isPr, url) =>
        val md = Renderers.renderIssue(Renderers.Issue(num, title, author,
          state, created, updated, labels, body, isPr, Seq.empty))
        Chunker.chunkMarkdown(md, productName, version, url)
      }
  }

  /** Resolve excluded-organization NAMES to ids against a staged orgs
    * table (reference doc2vec.ts:1694-1714): an unresolvable name FAILS
    * the run — silently skipping nothing is the reference's contract
    * (a typo must not quietly disable the exclusion). */
  def resolveExcludedOrgs(orgs: DataFrame,
      excludedNames: Seq[String]): Seq[Long] = {
    if (excludedNames.isEmpty) return Seq.empty
    val found = orgs
      .filter(col("name").isin(excludedNames: _*))
      .select(col("name"), col("id").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = excludedNames.filterNot(found.contains)
    require(missing.isEmpty,
      s"excluded organizations not resolvable: ${missing.mkString(", ")}")
    excludedNames.map(found)
  }

  /** Staged Zendesk tickets (JSON lines; comments as a nested array) →
    * chunk table with status filtering, excluded-organization drop, and
    * deleted-ticket purge list (doc2vec.ts:1540-1789 semantics:
    * `deleted` tickets produce no chunks — the caller deletes their
    * urls). Comment bodies take the reference's
    * plain_body || html_body || body preference (doc2vec.ts:1604). */
  def ingestTickets(spark: SparkSession, jsonPath: String,
      productName: String, version: String,
      statuses: Seq[String] = Seq("open", "pending", "solved", "closed"),
      includeInternal: Boolean = false,
      excludedOrgIds: Seq[Long] = Seq.empty,
      updatedAfter: Option[String] = None): (Dataset[Chunk], DataFrame) = {
    import spark.implicits._
    // incremental-export cursor (reference doc2vec.ts:1540-1567's
    // start_time): the watermark bounds the WHOLE page window first, so
    // deleted tickets inside it still surface on the purge list
    var df = spark.read.schema(TicketSchema).json(jsonPath)
    updatedAfter.foreach(w => df = df.filter(col("updated_at") > lit(w)))
    val deleted = df.filter(col("status") === "deleted")
      .select(concat(lit("zendesk://ticket/"), col("id")).as("url"))
    val orgFiltered =
      if (excludedOrgIds.isEmpty) df
      // excluded ids are a tiny dim — an isin predicate (≅ broadcast
      // anti-join) that pushes into the scan
      else df.filter(!col("organization_id").isin(excludedOrgIds: _*) ||
        col("organization_id").isNull)
    // the read schema fixes the comment struct (public/body/plain_body/
    // html_body all present, missing variants null), so the
    // body-preference coalesce composes directly — no per-row
    // normalization round-trip
    val chunks = orgFiltered
      .filter(col("status").isin(statuses: _*))
      .select(col("id").cast("long"), col("subject"), col("status"),
        col("priority"), col("type").as("ticket_type"),
        col("requester_id").cast("long"),
        col("assignee_id").cast("long"), col("created_at"),
        col("updated_at"), col("tags"), col("description"),
        expr("""transform(comments, c -> struct(
                c.author_id AS author_id, c.created_at AS created_at,
                c.public AS is_public,
                coalesce(c.plain_body, c.html_body, c.body) AS body))""")
          .as("comments"))
      .as[TicketIn]
      .flatMap { t =>
        val ticket = Renderers.Ticket(t.id, t.subject, t.status,
          t.priority, t.ticket_type, t.requester_id, t.assignee_id,
          t.created_at, t.updated_at, t.tags.getOrElse(Seq.empty),
          t.description,
          t.comments.getOrElse(Seq.empty).map(c =>
            Renderers.TicketComment(c.author_id, c.created_at,
              c.is_public, c.body)))
        Chunker.chunkMarkdown(Renderers.renderTicket(ticket, includeInternal),
          productName, version, s"zendesk://ticket/${t.id}")
      }
    (chunks, deleted)
  }

  /** Staged Zendesk help-center articles (JSON lines) → chunk table
    * through the reference article template (doc2vec.ts:1825-1854).
    * Incremental on `updated_at > watermark`; fetch_articles defaults to
    * true in the reference (doc2vec.ts:1525), so this path runs for
    * every Zendesk source unless disabled. */
  def ingestArticles(spark: SparkSession, jsonPath: String,
      productName: String, version: String,
      updatedAfter: Option[String] = None): Dataset[Chunk] = {
    import spark.implicits._
    var df = spark.read.schema(ArticleSchema).json(jsonPath)
    updatedAfter.foreach(w => df = df.filter(col("updated_at") > lit(w)))
    df.select(col("id").cast("long"), col("title"),
        col("author_id").cast("long"), col("section_id").cast("long"),
        col("created_at"), col("updated_at"),
        col("vote_sum").cast("long"), col("vote_count").cast("long"),
        col("label_names"), col("body"), col("html_url"))
      .as[ArticleIn]
      .flatMap { a =>
        val md = Renderers.renderArticle(Renderers.Article(a.id, a.title,
          a.author_id, a.section_id, a.created_at, a.updated_at,
          a.vote_sum.getOrElse(0L), a.vote_count.getOrElse(0L),
          a.label_names.getOrElse(Seq.empty), a.body))
        Chunker.chunkMarkdown(md, productName, version,
          a.html_url.getOrElse(s"zendesk://article/${a.id}"))
      }
  }
}
