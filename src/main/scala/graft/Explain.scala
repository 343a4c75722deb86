package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * so pushdown/broadcast/codegen can be inspected.
  * `sbt "runMain graft.Explain q2_filter_project q3_join_agg"` (no args =
  * a default audit set). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q2_filter_project", "q3_join_agg", "q8_topk",
        "q16_star_join", "doc_chunk_markdown", "dedup_embedding",
        "emb_knn_exact", "doc_get_chunks", "q_query_documentation",
        "q17_asof_custom", "sitemap_parse", "doc_pdf_lines",
        "doc_quality_filter")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      // the registered indexed-BM25 row returns a checkpoint-pinned
      // frame (an ExistingRDD scan) — additionally dump the inner
      // query-time plan so the In(term) pushdown on the postings scan
      // is auditable (r20 verdict #7)
      if (n == "q_search_bm25_indexed") {
        println("---------- inner scoring plan over the persisted " +
          "index ----------")
        val base = java.nio.file.Files.createTempDirectory("lexidxplan")
        try {
          graft.operators.Retrieval.buildLexicalIndex(
            spark, sfDir, base.toString)
          graft.operators.Retrieval
            .bm25IndexedScoring(spark, base.toString).explain("formatted")
        } finally graft.operators.Sync.deleteTree(base.toFile)
      }
    }
    spark.stop()
  }
}
