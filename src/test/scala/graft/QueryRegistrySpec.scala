package graft

import graft.operators.Dedup

/** The row registry: every row is declared once, both driver maps are
  * derived from the same specs, and the size guard sits on exactly the
  * rows whose oracle encodes the 32/6 SimHash route — losing a guard
  * would turn that row into a hash mismatch above
  * [[Dedup.SimhashAutoMaxDocs]] instead of a named refusal. */
class QueryRegistrySpec extends SparkSuite(cpus = 2) {

  private val guarded = Set("dedup_cross_source", "dedup_keep_best",
    "dedup_clusters", "curation_funnel", "curation_runs")

  test("237 distinct rows; queries and oracleSql share one key set") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size == 237)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("the size guard covers exactly the 32/6-route rows") {
    assert(SparkEntry.specs.filter(_.sizeGuarded).map(_.name).toSet ==
      guarded)
  }

  test("a guarded row refuses a corpus above SimhashAutoMaxDocs, " +
      "by name") {
    import spark.implicits._
    val dir = tempDir("registryguard").toString
    (0L to Dedup.SimhashAutoMaxDocs).map(i => (i, s"doc $i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    guarded.foreach { name =>
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries(name)(spark, dir))
      assert(e.getMessage.contains("SimhashAutoMaxDocs") &&
        e.getMessage.startsWith(s"requirement failed: $name:"), e.getMessage)
    }
  }
}
