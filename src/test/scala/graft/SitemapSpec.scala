package graft

import graft.sources.Sitemap

class SitemapSpec extends SparkSuite(cpus = 2) {

  test("parseUrls extracts loc and optional lastmod") {
    val xml =
      """<?xml version="1.0"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url><loc> https://a/1 </loc><lastmod>2024-01-02</lastmod></url>
        |  <url><loc>https://a/2</loc></url>
        |  <url><loc>https://a/3</loc><lastmod>  </lastmod></url>
        |  <url><lastmod>2024-09-09</lastmod></url>
        |  <url><loc></loc></url>
        |</urlset>""".stripMargin
    assert(Sitemap.parseUrls(xml) == Seq(
      ("https://a/1", Some("2024-01-02")),
      ("https://a/2", None),
      ("https://a/3", None)))
  }

  test("parseNested extracts sitemap-index links only") {
    val xml =
      """<sitemapindex>
        |  <sitemap><loc>https://a/s1.xml</loc><lastmod>2024-01-01</lastmod></sitemap>
        |  <sitemap><loc>https://a/s2.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    assert(Sitemap.parseNested(xml) ==
      Seq("https://a/s1.xml", "https://a/s2.xml"))
    assert(Sitemap.parseUrls(xml).isEmpty)
  }

  test("resolve recurses through indexes; nested entries override parents") {
    import spark.implicits._
    val staged = Seq(
      ("idx",
        "<sitemapindex><sitemap><loc>child</loc></sitemap></sitemapindex>" +
        "<urlset><url><loc>u1</loc><lastmod>2024-01-01</lastmod></url>" +
        "<url><loc>u2</loc><lastmod>2024-01-01</lastmod></url></urlset>"),
      ("child",
        "<urlset><url><loc>u2</loc><lastmod>2024-06-06</lastmod></url>" +
        "<url><loc>u3</loc></url></urlset>"),
      ("unreachable", "<urlset><url><loc>u9</loc></url></urlset>"))
      .toDF("sitemap_url", "xml")
    val out = Sitemap.resolve(spark, staged, "idx")
      .orderBy("url")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      ("u1", Some("2024-01-01"), "idx", 0L),
      ("u2", Some("2024-06-06"), "child", 1L), // nested override
      ("u3", None, "child", 1L)))
  }

  test("resolve of a missing seed is empty") {
    import spark.implicits._
    val staged = Seq(("a", "<urlset/>")).toDF("sitemap_url", "xml")
    assert(Sitemap.resolve(spark, staged, "nope").count() == 0)
  }
}
