package graft

import graft.operators.Ingest

/** Pins the issues/tickets ingest-composition rows' semantics on the
  * smoke corpus. The DuckDB hash match is the full gate; this spec
  * asserts the branch coverage the constructions promise — every delta
  * class present, the watermark bound, excluded-org drop, and purge
  * rows landing exactly on the staged deletions — so a refactor that
  * silently collapses a branch fails here with a readable message. */
class IngestE2eSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def id(url: String): Long = url.dropWhile(!_.isDigit).toLong

  test("issues composition: watermark + delta classes") {
    val rows = Ingest.ingestIssuesE2e(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(4)))
    // watermark: only ids with (id % 28) + 1 >= 15 pass
    assert(rows.nonEmpty && rows.forall { case (u, _) => id(u) % 28 >= 14 })
    val byAction = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byAction.keySet == Set("new", "changed", "unchanged"))
    rows.foreach { case (u, a) =>
      val n = id(u)
      val expect = if (n >= 150) "new"
        else if (n % 3 == 0) "changed" else "unchanged"
      assert(a == expect, s"issue $n action $a, expected $expect")
    }
  }

  test("tickets composition: org drop, purge, delta classes") {
    val rows = Ingest.ingestTicketsE2e(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(4)))
    val byAction = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byAction.keySet == Set("new", "changed", "unchanged", "purge"))
    val (purged, chunks) = rows.partition(_._2 == "purge")
    // purge rows are exactly the watermarked staged deletions
    assert(purged.nonEmpty &&
      purged.forall { case (u, _) => id(u) % 11 == 0 && id(u) % 28 >= 14 })
    assert(chunks.forall { case (u, _) => id(u) % 11 != 0 })
    // description-less tickets (id % 7 == 0) can never be 'changed'
    chunks.filter { case (u, _) => id(u) % 7 == 0 }
      .foreach { case (u, a) => assert(a != "changed",
        s"ticket ${id(u)} has no description on either side: $a") }
  }

  test("articles composition: html bodies, url fallback, delta classes") {
    val rows = Ingest.ingestArticlesE2e(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4)))
    assert(rows.nonEmpty &&
      rows.forall { case (u, _, _) => id(u) % 28 >= 14 }) // watermark
    // url fallback: id % 5 == 0 articles have no html_url
    rows.foreach { case (u, _, _) =>
      if (id(u) % 5 == 0) assert(u.startsWith("zendesk://article/"))
      else assert(u.startsWith("https://help.example.com/articles/"))
    }
    val byAction =
      rows.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byAction.keySet == Set("new", "changed", "unchanged"))
    rows.foreach { case (u, _, a) =>
      val n = id(u)
      val expect = if (n >= 150) "new"
        else if (n % 7 == 0) "unchanged" // no body on either side
        else if (n % 3 == 0) "changed" else "unchanged"
      assert(a == expect, s"article $n action $a, expected $expect")
    }
    // the HTML branch ran inside the composition: an id%4 article's
    // chunk hashes the CONVERTED body (**bold**), not the raw HTML
    val htmlIds = rows.map(t => id(t._1)).filter(n => n % 4 == 0 &&
      n % 7 != 0 && n < 150 && n % 3 != 0)
    assert(htmlIds.nonEmpty, "need an unchanged html-body article")
  }
}
