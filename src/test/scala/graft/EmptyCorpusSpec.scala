package graft


/** Robustness gate: EVERY registered query must run (not throw) on an
  * empty corpus with the production schemas. A 100 TB pipeline's first
  * run, a fully-filtered partition, or a source that produced nothing
  * this sync all present exactly this input; a query that crashes on
  * zero rows is a paged operator, not an edge case. Fixtures are
  * zero-row parquet files mirroring the driver tables' schemas, built
  * once per suite run. */
class EmptyCorpusSpec extends SparkSuite {

  private lazy val emptyDir: String = {
    val src = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("sf-empty").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .coalesce(1).write.parquet(s"$base/$t.parquet")
    }
    base
  }

  test("every registered query runs on an empty corpus") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}")
        }
    }
    assert(failures.isEmpty,
      s"${failures.length} queries crash on an empty corpus:\n" +
        failures.mkString("\n"))
  }
}
