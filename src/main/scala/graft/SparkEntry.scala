package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CurationQueries, Dedup, DedupQueries,
  DocPipelineQueries, GraphQueries, Ingest, IngestQueries,
  MaintenanceQueries, Relational, RelationalQueries, RetrievalQueries,
  SimilarityQueries, StatsQueries, SyncQueries, TextAnalysisQueries}
import graft.sources.{SourceQueries, StoreQueries}
import graft.streaming.StreamQueries

/** One query row, declared once next to its operators: the engine plan
  * `run` and the DuckDB SQL `oracle` it must hash-match (column names
  * identical on both sides; the driver sorts columns by name and hashes
  * values).
  *
  * @param protocol    the row runs a whole multi-query pipeline per call
  *                    (streaming syncs with checkpoints); Bench gives it
  *                    the protocol rep policy ([[Bench.repsFor]])
  * @param sizeGuarded the oracle encodes the 32/6 SimHash route, so the
  *                    registered query refuses corpora above
  *                    [[graft.operators.Dedup.SimhashAutoMaxDocs]] */
final case class QuerySpec(name: String, run: SparkEntry.Q, oracle: String,
    protocol: Boolean = false, sizeGuarded: Boolean = false)

/** Driver contract — see SURVEY.md §7. The row registry: `queries` and
  * `oracleSql` are derived from the family spec objects, so a row and
  * its oracle cannot drift apart. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3JoinAgg(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  /** Every row, in family order. */
  lazy val specs: Seq[QuerySpec] = {
    val all = Seq(RelationalQueries.specs, DocPipelineQueries.specs,
      IngestQueries.specs, DedupQueries.specs, SimilarityQueries.specs,
      StreamQueries.specs, CurationQueries.specs, SyncQueries.specs,
      TextAnalysisQueries.specs, GraphQueries.specs, RetrievalQueries.specs,
      MaintenanceQueries.specs, StatsQueries.specs, StoreQueries.specs,
      SourceQueries.specs).flatten
    val dups = all.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query rows declared twice: ${dups.mkString(", ")}")
    all
  }

  /** Size-aware oracle guard for the rows whose DuckDB SQL encodes the
    * 32/6 SimHash route: above [[Dedup.SimhashAutoMaxDocs]] the engine
    * side would size-route to the 60/3 wide kernel
    * ([[Dedup.nearDupPairsAuto]]) and the hash mismatch would be a
    * ROUTING difference, not a bug. Failing loudly here keeps oracle
    * parity honest instead of confusing (the wide chain has its own
    * row, `dedup_clusters_wide`). Verify (sf0.01 = 500 docs) and bench
    * (sf0.1 = 5,000) corpora sit under the gate. */
  private def guard3206(q: QuerySpec): Q = (s, d) => {
    val n = Ingest.docCount(s, d)
    // the "SimhashAutoMaxDocs" token is load-bearing: ScaleProbe's
    // refusal catch keys on it to render a guarded row as "refused"
    // instead of crashing the run
    require(n <= Dedup.SimhashAutoMaxDocs,
      s"${q.name}: its DuckDB oracle encodes the 32/6 route but the corpus " +
        s"has $n docs (> SimhashAutoMaxDocs=${Dedup.SimhashAutoMaxDocs}) " +
        "and the engine would route to the wide kernel — run this row " +
        "on a corpus under the gate; dedup_clusters_wide pins the wide " +
        "chain.")
    q.run(s, d)
  }

  lazy val queries: Map[String, Q] = specs.map(q =>
    q.name -> (if (q.sizeGuarded) guard3206(q) else q.run)).toMap

  lazy val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle).toMap
}
