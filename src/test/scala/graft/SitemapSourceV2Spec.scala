package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

class SitemapSourceV2Spec extends SparkSuite(cpus = 2) {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("sitemaps")
    Files.writeString(d.resolve("idx.xml"),
      "<sitemapindex><sitemap><loc>part1</loc></sitemap>" +
        "<sitemap><loc>part2</loc></sitemap></sitemapindex>")
    Files.writeString(d.resolve("part1.xml"),
      "<urlset><url><loc>https://a/1</loc>" +
        "<lastmod>2024-01-01</lastmod></url>" +
        "<url><loc>https://a/2</loc></url></urlset>")
    Files.writeString(d.resolve("part2.xml"),
      "<urlset><url><loc>https://a/3</loc></url></urlset>")
    d.toString
  }

  private def read() =
    spark.read.format("graft.sources.v2.SitemapSource").load(dir)

  test("reads url entries and nested links with the fixed schema") {
    val df = read()
    assert(df.schema.fieldNames.toSeq ==
      Seq("sitemap_url", "kind", "loc", "lastmod"))
    val rows = df.orderBy("sitemap_url", "kind", "loc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3))))
    assert(rows.toSeq == Seq(
      ("idx", "nested", "part1", None),
      ("idx", "nested", "part2", None),
      ("part1", "url", "https://a/1", Some("2024-01-01")),
      ("part1", "url", "https://a/2", None),
      ("part2", "url", "https://a/3", None)))
  }

  test("one input partition per file; equality filter prunes files pre-IO") {
    assert(read().rdd.getNumPartitions == 3)
    val filtered = read().filter(col("sitemap_url") === "part1")
    // pushdown prunes to ONE file partition
    assert(filtered.rdd.getNumPartitions == 1)
    assert(filtered.count() == 2)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("pushedUrls=part1"), plan.take(1500))
  }

  test("feeds Sitemap.resolve like any staged DataFrame") {
    // connector rows -> (sitemap_url, xml)-less resolution path: group
    // url entries per sitemap for the prefix-lastmod join downstream
    val perSitemap = read().filter(col("kind") === "url")
      .groupBy("sitemap_url").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSitemap == Map("part1" -> 2L, "part2" -> 1L))
  }
}
