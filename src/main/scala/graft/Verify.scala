package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Post-run correctness gate (round-14 #2a): a registered query that
    * throws, or one that somehow never executed, must be a LOUD, named,
    * nonzero-exit failure — round 14 shipped a query broken by a stale
    * read path and it silently fell out of the oracle surface (204/204
    * "green" with 205 registered). Pure so the gate is testable without
    * a session. Returns the failure report, or None when clean. */
  def gateReport(registered: Set[String], executed: Set[String],
      failed: Seq[(String, String)]): Option[String] = {
    val missing = (registered -- executed).toSeq.sorted
    if (missing.isEmpty && failed.isEmpty) None
    else Some((missing.map(n => s"NOT EXECUTED: $n") ++
      failed.sortBy(_._1).map { case (n, e) => s"FAILED: $n — $e" })
      .mkString("\n"))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local dev)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.defaultCpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] FAILED $name: ${failed(name)}")
      }
    }
    // OBSERVATIONAL executed-set: what is actually ON DISK for the
    // driver to compare (plus named failures), not loop-local
    // bookkeeping — a loop-derived set shrinks together with any
    // upstream bug that drops a query and can never flag it
    val executed = selected.keySet.filter(n =>
      new java.io.File(s"$outDir/$n").isDirectory) ++ failed.keySet
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // gate LAST so the oracle json + every healthy dump still land for
    // the driver's compare even when one row is broken — but the broken
    // row itself exits the process nonzero with a named report instead
    // of silently shrinking the oracle surface (round-14 #2a)
    gateReport(selected.keySet, executed, failed.toSeq).foreach {
      report =>
        System.err.println(
          s"[verify] CORRECTNESS GATE FAILED (${failed.size} failed)\n" +
            report)
        sys.exit(1)
    }
  }
}
