package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Schema-evolution read surface: a long-lived drop-zone accumulates
  * parquet written by successive producer versions — columns appear
  * over time, and a reader must union the generations (per-file schema
  * merge, missing columns null-backfilled) instead of failing on the
  * oldest file. The staged fixture slices documents into three
  * producer generations with genuinely different file schemas:
  *
  *   - gen 0 (`doc_id % 3 = 0`): (doc_id, source)            — v1
  *   - gen 1 (`% 3 = 1`):        (doc_id, source, lang)      — +lang
  *   - gen 2 (`% 3 = 2`):        (doc_id, lang, n_chars)     — +n_chars,
  *     source retired
  *
  * Spark must read the mixed directory with `mergeSchema` and report
  * per-generation null accounting; the DuckDB oracle re-derives every
  * count from the documents table and the generation rules alone — a
  * reader that drops an old file, fails to backfill, or resolves
  * columns by position instead of name shifts a count.
  *
  * Scale: per-file schema merge is a footer-only planning cost;
  * the data read stays one splittable scan. At 100 TB the production
  * posture is this exact read wrapped in a catalog that pins the
  * EXPECTED superset schema (so an unexpected fourth generation fails
  * loudly instead of silently widening). */
object EvolvingSource {

  def scanEvolved(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "lang", "n_chars")
    graft.Scratch.within("evolve") { base =>
      val p = s"$base/tbl"
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select("doc_id", "source").write.parquet(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select("doc_id", "source", "lang").write.mode("append").parquet(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .select("doc_id", "lang", "n_chars").write.mode("append").parquet(p)
      val merged = s.read.option("mergeSchema", "true").parquet(p)
      merged
        .withColumn("gen", pmod(col("doc_id"), lit(3)))
        .groupBy("gen")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("source").isNull.cast("long")).as("n_source_null"),
          sum(col("lang").isNull.cast("long")).as("n_lang_null"),
          sum(col("n_chars").isNull.cast("long")).as("n_chars_null"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
          coalesce(sum(col("doc_id")), lit(0L)).as("sum_doc_id"))
        .orderBy("gen")
        .localCheckpoint(true)
    }
  }

  /** The EXPECTED schema contract of the evolved drop zone — what a
    * catalog would pin so silent widening fails loudly. */
  val ContractColumns: Seq[String] =
    Seq("doc_id", "source", "lang", "n_chars")

  /** Schema-contract enforcement — the loop [[scanEvolved]]'s scaladoc
    * promises: the same three generations PLUS a rogue fourth producer
    * (`doc_id % 3 = 0` re-exported with an extra `debug_blob` column
    * and `n_chars` widened under a different name) land in the drop
    * zone; the reader merges footers, checks the contract, and
    * produces the ENFORCEMENT report a catalog acts on — per file
    * group: rows under contract, rows carrying out-of-contract
    * columns, and which contract columns the group left null. Rows
    * with rogue columns are QUARANTINED (counted, never silently
    * projected into the contract shape), so the downstream table stays
    * exactly the contract. The oracle re-derives the accounting from
    * the generation rules. */
  def scanContract(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select("doc_id", "source", "lang", "n_chars")
    graft.Scratch.within("contract") { base =>
      val p = s"$base/tbl"
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select("doc_id", "source").write.parquet(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .select("doc_id", "source", "lang").write.mode("append").parquet(p)
      docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .select("doc_id", "lang", "n_chars").write.mode("append").parquet(p)
      // the rogue producer: re-exports gen 0 with an out-of-contract
      // column and an off-contract rename
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("source"),
          sha2(col("source"), 256).as("debug_blob"),
          col("n_chars").as("chars_total"))
        .write.mode("append").parquet(p)
      val merged = s.read.option("mergeSchema", "true").parquet(p)
      val rogue = merged.columns.filterNot(ContractColumns.contains)
        .sorted
      // a row is rogue iff ANY out-of-contract column is non-null
      val rogueFlag = rogue.map(col(_).isNotNull)
        .reduceOption(_ || _).getOrElse(lit(false))
      merged
        .withColumn("rogue", rogueFlag)
        .withColumn("gen", pmod(col("doc_id"), lit(3)))
        .groupBy("gen")
        .agg(count(lit(1)).as("n_rows"),
          sum((!col("rogue")).cast("long")).as("n_in_contract"),
          sum(col("rogue").cast("long")).as("n_quarantined"),
          coalesce(sum(when(!col("rogue"), col("doc_id"))), lit(0L))
            .as("sum_id_in_contract"))
        .withColumn("rogue_columns", lit(rogue.mkString(",")))
        .orderBy("gen")
        .localCheckpoint(true)
    }
  }
}
