package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** ORC round-trip with partition pruning — the second columnar format
  * a data-lake ingest surface meets (the reference ingests HTML/JSON
  * APIs only; warehouse drop-zones deliver ORC as often as parquet,
  * and Spark ships the reader/writer built in). The staged fixture
  * writes the documents table as ORC partitioned by `lang`, with a
  * complex-typed column (the token array) riding along, then reads it
  * back through a partition-pruned, predicate-pushed scan and
  * aggregates. The DuckDB oracle computes the same aggregate from the
  * ORIGINAL parquet — so schema fidelity (longs, strings, arrays),
  * partition-column reconstruction, and filter correctness across the
  * format boundary all feed the hash.
  *
  * Scale: stage is one distributed columnar write; the read back scans
  * only the `lang=en`/`lang=fr` partition directories (pruned before
  * IO — pinned in PlanAuditSpec) with the `n_chars` predicate pushed
  * to the ORC reader; the report is one hash aggregate. */
object OrcSource {

  def scanOrc(s: SparkSession, dir: String): DataFrame = {
    // split with limit -1 keeps trailing empty tokens, matching
    // DuckDB's string_split exactly (limit 0 would drop them)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        split(col("text"), " ", -1).as("tokens"), col("lang"))
    graft.Scratch.within("orcsrc") { base =>
      docs.write.partitionBy("lang").orc(s"$base/in")
      scanStaged(s, s"$base/in").localCheckpoint(true)
    }
  }

  /** The read side alone (stage path injected) so PlanAuditSpec can
    * pin the pruned scan without re-staging. */
  private[graft] def scanStaged(s: SparkSession, path: String): DataFrame =
    // explicit schema: an empty stage (first run of an empty source)
    // has no files to infer from, and the zero-row path must behave
    // like the populated one; `lang` resolves to the partition column
    s.read.schema("doc_id LONG, source STRING, n_chars LONG, " +
        "tokens ARRAY<STRING>, lang STRING")
      .orc(path)
      .filter(col("lang").isin("en", "fr") && col("n_chars") >= 200)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(col("tokens"))).cast("long").as("sum_tokens"))
      .orderBy("lang", "source")
}
