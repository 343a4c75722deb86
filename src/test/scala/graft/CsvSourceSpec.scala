package graft

import graft.sources.CsvSource

/** CSV ingest semantics beyond the oracle row: the quoted comma-bearing
  * title must survive parsing intact, and exactly the planted lines may
  * land in the corrupt group. */
class CsvSourceSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("corrupt group is exactly the planted malformed lines") {
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions._
    val planted = docs.filter(pmod(col("doc_id"), lit(13)) === 5).count()
    val out = CsvSource.scanCsv(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("_corrupt", 0L) == planted)
    assert(out.values.sum == docs.count())
  }

  test("quoted comma-bearing titles parse field-exactly") {
    import org.apache.spark.sql.functions._
    val base = tempDir("csvspec")
    CsvSource.csvLines(
      Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
        .filter(col("doc_id") === 1))
      .write.text(s"$base/in")
    val row = spark.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, title STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$base/in").collect().head
    assert(row.getAs[String]("title") == "t,1",
      "the embedded comma must stay inside the quoted field")
    assert(row.getAs[String]("_corrupt_record") == null)
  }
}
