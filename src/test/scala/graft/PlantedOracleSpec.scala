package graft

import graft.operators.{Similarity, TextAnalysis}

/** Independent Scala-side derivations of the two planted-construction
  * oracle rows — the DuckDB gate re-derives the same facts in SQL (for
  * BPE it relearns the merge table itself); here the expectations come
  * from the construction rule and a hand-derived merge list, so a
  * defect would have to fool three disagreeing derivations at once. */
class PlantedOracleSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("planted Lloyd report equals the construction rule exactly") {
    val got = Similarity.clusterStatsLloydOracle(spark).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_vectors"),
        r.getAs[Long]("share_permille"), r.getAs[Long]("load_permille"),
        r.getAs[Long]("min_vec"), r.getAs[Long]("max_vec")))
    val n = Similarity.LloydPlantedN.toLong
    val byCell = (1L to n)
      .groupBy(i => Similarity.lloydPlantedCluster(i).toLong)
    val exp = (0L until 16L).map { c =>
      val ids = byCell(c)
      (c, ids.size.toLong, ids.size * 1000L / n, ids.size * 16000L / n,
        ids.min, ids.max)
    }
    assert(got.toSeq == exp)
    // the mod-37 plant is genuinely skewed — a uniform report would be
    // a much weaker oracle
    assert(got.map(_._2).distinct.length > 1, "cell counts degenerated")
  }

  test("planted BPE learns the hand-derived merge table and counts") {
    import graft.functions.BpeTokenizer
    val E = BpeTokenizer.Eow
    // training replay by hand over the sample frequencies
    // (49, 73, 100, 121, 147, 169): round winners in order
    val sample = (0L until 50L).map(TextAnalysis.bpePlantedText)
    val merges = BpeTokenizer.train(sample, 6)
    assert(merges == Vector(("c", "d"), ("a", "b"), ("cd", E), ("e", E),
      ("ab", "cd" + E), ("d", "e" + E)))
    // per-word trained token counts: ab→2 abc→3 cd→1 cde→2 de→1 abcd→1
    val t = Seq(2L, 3L, 1L, 2L, 1L, 1L)
    val got = TextAnalysis.tokenCountBpeOracle(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bpe_tokens"), r.getAs[String]("first_tokens")))
      .toMap
    (0L to 20L).foreach { id =>
      val n = (0 until 6).map(j => (id % (j + 3)) * t(j)).sum
      assert(got(id)._1 == n, s"token count of doc $id")
    }
    // doc 1 = "ab abc cd cde de abcd": first five tokens of the stream
    assert(got(1L)._2 == "ab|!|ab|c|!")
    // doc 0 composes zero words
    assert(got(0L) == ((0L, "")))
  }
}
