package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** CSV ingestion with malformed-row accounting — the format surface a
  * data-lake ingest job needs beyond parquet/json/binaryFile (the
  * reference ingests HTML/JSON APIs only; CSV is the engine-side
  * extension every tabular drop-zone demands). The staged fixture
  * derives line-by-line from the documents table (one CSV line per
  * doc, quoted comma-bearing title, every `doc_id % 13 = 5` line
  * planted with a non-numeric numeric field), so the DuckDB oracle
  * re-derives every count by ARITHMETIC while Spark must actually
  * parse: schema-on-read, PERMISSIVE mode, quoted-field handling, and
  * corrupt-record capture all feed the hash.
  *
  * Scale: the stage is a map over documents (distributed text write);
  * the read is Spark's splittable CSV scan; the report is one hash
  * aggregate. Nothing driver-side but the temp-dir bookkeeping. */
object CsvSource {

  /** Lines as one string column: `doc_id,lang,n_chars,"t,<doc_id>"`,
    * with the planted-malformed lines carrying `xx` where the LongType
    * n_chars belongs. */
  private[graft] def csvLines(docs: DataFrame): DataFrame =
    docs.select(concat(
      col("doc_id"), lit(","), col("lang"), lit(","),
      when(pmod(col("doc_id"), lit(13)) === 5, lit("xx"))
        .otherwise(col("n_chars").cast("string")),
      lit(",\"t,"), col("doc_id"), lit("\"")).as("value"))

  /** Per-language ingest report over the staged CSV: row counts plus
    * good-row-only sums (ids, chars, parsed title lengths), with every
    * corrupt capture routed to the `_corrupt` group regardless of what
    * else its line parsed — the accounting a quarantine pipeline
    * keeps. */
  def scanCsv(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
    graft.Scratch.within("csvsrc") { base =>
      csvLines(docs).write.text(s"$base/in")
      val df = s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG, title STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(s"$base/in")
      val good = col("_corrupt_record").isNull
      df.groupBy(when(good, col("lang")).otherwise(lit("_corrupt"))
          .as("lang"))
        .agg(
          count(lit(1)).as("n_rows"),
          coalesce(sum(when(good, col("doc_id"))), lit(0L))
            .as("sum_doc_id"),
          coalesce(sum(when(good, col("n_chars"))), lit(0L))
            .as("sum_chars"),
          coalesce(sum(when(good, length(col("title")))), lit(0L))
            .as("sum_title_len"))
        .orderBy("lang")
        .localCheckpoint(true)
    }
  }
}
