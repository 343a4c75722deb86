package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * so pushdown/broadcast/codegen can be inspected.
  * `sbt "runMain graft.Explain q2_filter_project q3_join_agg"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Explain <query-name>... " +
        "(SPARK_GRAFT_SF_DIR picks the scale factor, default sf0.01)")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      // the registered indexed-BM25 row returns a checkpoint-pinned
      // frame (an ExistingRDD scan) — additionally dump the inner
      // query-time plan so the In(term) pushdown on the postings scan
      // is auditable (r20 verdict #7)
      if (n == "q_search_bm25_indexed") {
        println("---------- inner scoring plan over the persisted " +
          "index ----------")
        graft.Scratch.within("lexidxplan") { base =>
          graft.operators.Retrieval.buildLexicalIndex(
            spark, sfDir, base.toString)
          graft.operators.Retrieval
            .bm25IndexedScoring(spark, base.toString).explain("formatted")
        }
      }
    }
    spark.stop()
  }
}
