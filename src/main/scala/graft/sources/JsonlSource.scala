package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** JSONL ingestion with malformed-row accounting — the other ubiquitous
  * training-data drop-zone format next to CSV ([[CsvSource]]): every
  * public LLM corpus release (C4, RedPajama, FineWeb) ships as JSONL.
  * Beyond the CSV surface this one exercises what JSON adds: a NESTED
  * struct field and an ARRAY field must parse into typed columns, and
  * two distinct malformation classes are planted — type malformation
  * (`doc_id % 13 = 5`: a string where the LongType `n_chars` belongs)
  * and structural malformation (`doc_id % 17 = 3`: the closing brace
  * cut off) — so PERMISSIVE corrupt capture is proven on both. The
  * staged fixture derives line-by-line from the documents table, so
  * the DuckDB oracle re-derives every count by ARITHMETIC while Spark
  * must actually parse: any drift in nested-field extraction, array
  * sizing, or quarantine routing fails the hash.
  *
  * Scale: the stage is a map over documents (distributed text write);
  * the read is Spark's splittable line-delimited JSON scan; the report
  * is one hash aggregate. Nothing driver-side but temp-dir keeping. */
object JsonlSource {

  /** One JSONL line per doc:
    * `{"doc_id":N,"meta":{"lang":L,"n_chars":C},"tags":[...]}` with
    * `doc_id % 3 + 1` tags; `% 13 = 5` lines carry `"xx"` in the
    * LongType n_chars slot, `% 17 = 3` lines lose the final brace
    * (a line in both classes is structurally corrupt first — the
    * truncation clips the type-damaged line). */
  private[graft] def jsonLines(docs: DataFrame): DataFrame = {
    val nChars = when(pmod(col("doc_id"), lit(13)) === 5, lit("\"xx\""))
      .otherwise(col("n_chars").cast("string"))
    val tags = concat_ws(",",
      transform(sequence(lit(0L), pmod(col("doc_id"), lit(3))),
        i => concat(lit("\"g"), i, lit("\""))))
    docs.select(col("doc_id"), concat(
        lit("{\"doc_id\":"), col("doc_id"),
        lit(",\"meta\":{\"lang\":\""), col("lang"),
        lit("\",\"n_chars\":"), nChars,
        lit("},\"tags\":["), tags, lit("]}")).as("full"))
      .select(
        when(pmod(col("doc_id"), lit(17)) === 3,
          expr("substring(full, 1, length(full) - 1)"))
          .otherwise(col("full")).as("value"))
  }

  /** Per-language ingest report over the staged JSONL: row counts plus
    * good-row-only sums (ids, nested n_chars, tag-array sizes), with
    * every corrupt capture routed to the `_corrupt` group — the
    * quarantine accounting, JSON edition. */
  def scanJsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
    graft.Scratch.within("jsonlsrc") { base =>
      jsonLines(docs).write.text(s"$base/in")
      val df = s.read
        .schema("doc_id LONG, meta STRUCT<lang: STRING, n_chars: LONG>, " +
          "tags ARRAY<STRING>, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$base/in")
      val good = col("_corrupt_record").isNull
      df.groupBy(when(good, col("meta.lang")).otherwise(lit("_corrupt"))
          .as("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(good, col("doc_id"))), lit(0L))
            .as("sum_doc_id"),
          coalesce(sum(when(good, col("meta.n_chars"))), lit(0L))
            .as("sum_chars"),
          coalesce(sum(when(good, size(col("tags")))), lit(0L))
            .as("sum_tags"))
        .orderBy("lang")
        .localCheckpoint(true)
    }
  }
}
