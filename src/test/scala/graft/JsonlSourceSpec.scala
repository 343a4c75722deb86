package graft

import org.apache.spark.sql.functions._
import graft.sources.JsonlSource

/** JSONL ingest semantics beyond the oracle row: both planted
  * malformation classes (typed and structural) must quarantine, and the
  * nested struct + tag array of a good line must parse field-exactly. */
class JsonlSourceSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("corrupt group is exactly the union of both planted classes") {
    val docs = Tables.documents(spark, dir)
    val planted = docs.filter(pmod(col("doc_id"), lit(13)) === 5 ||
      pmod(col("doc_id"), lit(17)) === 3).count()
    assert(planted > 0, "fixture must plant both classes")
    val out = JsonlSource.scanJsonl(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("_corrupt", 0L) == planted)
    assert(out.values.sum == docs.count())
  }

  test("nested struct and tag array of a good line parse field-exactly") {
    val base = java.nio.file.Files.createTempDirectory("jsonlspec")
    try {
      val one = Tables.documents(spark, dir)
        .select("doc_id", "lang", "n_chars").filter(col("doc_id") === 1)
      val exp = one.collect().head
      JsonlSource.jsonLines(one).write.text(s"$base/in")
      val row = spark.read
        .schema("doc_id LONG, meta STRUCT<lang: STRING, n_chars: LONG>, " +
          "tags ARRAY<STRING>, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$base/in").collect().head
      assert(row.getAs[String]("_corrupt_record") == null)
      val meta = row.getStruct(row.fieldIndex("meta"))
      assert(meta.getAs[String]("lang") == exp.getAs[String]("lang"))
      assert(meta.getAs[Long]("n_chars") == exp.getAs[Long]("n_chars"))
      assert(row.getSeq[String](row.fieldIndex("tags")) == Seq("g0", "g1"),
        "doc_id 1 carries doc_id % 3 + 1 = 2 tags")
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  test("a type-malformed line quarantines even though its JSON is structurally valid") {
    val base = java.nio.file.Files.createTempDirectory("jsonlspec2")
    try {
      // doc_id 18 ≡ 5 (mod 13) and ≢ 3 (mod 17): typed damage only
      val one = spark.range(18, 19).toDF("doc_id")
        .withColumn("lang", lit("en")).withColumn("n_chars", lit(7L))
      JsonlSource.jsonLines(one).write.text(s"$base/in")
      val row = spark.read
        .schema("doc_id LONG, meta STRUCT<lang: STRING, n_chars: LONG>, " +
          "tags ARRAY<STRING>, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$base/in").collect().head
      assert(row.getAs[String]("_corrupt_record") != null,
        "\"xx\" in the LongType n_chars slot must trip corrupt capture")
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }
}
