package graft

import org.apache.spark.sql.functions._

/** Cross-implementation property checks for the second-session kernels:
  * each operator is recomputed by an INDEPENDENT implementation (the
  * relational form the typed kernel replaced, or a naive driver-side
  * scan) on randomized corpora — agreement across implementations is
  * stronger evidence than fixture goldens. */
class RetrievalPropertySpec extends SparkSuite {

  private val vocab = Array("table", "hash", "join", "scan", "merge",
    "group", "customer", "spark", "row", "batch", "filter", "q")

  private def randomDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { i =>
      val len = 5 + rnd.nextInt(60)
      // occasional shared boilerplate run to exercise the dup path
      val words = (0 until len).map(_ => vocab(rnd.nextInt(vocab.length)))
      val text =
        if (rnd.nextInt(3) == 0)
          (words.take(len / 2) ++ Seq("shared", "boilerplate", "run",
            "of", "sufficient", "length", "for", "windows") ++
            words.drop(len / 2)).mkString(" ")
        else words.mkString(" ")
      (i, text)
    }
  }

  test("substring spans: typed kernel agrees with the relational form") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val tmp = tempDir("prop").toString
      val docs = randomDocs(seed, 30)
        .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val typed = graft.operators.Dedup.substringSpans(spark, tmp)
        .collect().toSeq

      // independent relational implementation (the pre-optimization
      // form): staged docs -> explode(sequence) windows -> md5 ->
      // nibble sample -> dup hashes -> island merge in SQL
      val W = graft.operators.Dedup.SubstrWindow
      val staged = spark.read.parquet(s"$tmp/documents.parquet")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"),
            lit(graft.operators.Dedup.SubstrBoilerplate)))
            .otherwise(col("text")).as("text"))
      staged.createOrReplaceTempView("prop_staged")
      val relational = spark.sql(
        s"""WITH wins AS (
             SELECT doc_id, CAST(start AS BIGINT) AS start,
               md5(substring(text, start + 1, $W)) AS h
             FROM (SELECT doc_id, text,
                     explode(sequence(0, length(text) - $W)) AS start
                   FROM prop_staged WHERE length(text) >= $W)),
           sel AS (SELECT * FROM wins
                   WHERE substring(h, 1, 1) IN ('0','4','8','c')),
           duph AS (SELECT h FROM sel GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
           marked AS (SELECT doc_id, start, start + $W AS e
                      FROM sel JOIN duph USING (h)),
           flagged AS (
             SELECT doc_id, start, e,
               CASE WHEN start > coalesce(max(e) OVER (
                   PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   -1) THEN 1 ELSE 0 END AS opens
             FROM marked),
           isl AS (
             SELECT doc_id, start, e,
               sum(opens) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS island
             FROM flagged)
           SELECT doc_id, min(start) AS span_start, max(e) AS span_end,
             max(e) - min(start) AS span_chars
           FROM isl GROUP BY doc_id, island
           ORDER BY doc_id, span_start""").collect().toSeq
      assert(typed == relational, s"seed $seed")
    }
  }

  test("phrase search: anchored join agrees with a naive sliding scan") {
    import spark.implicits._
    (10 to 12).foreach { seed =>
      val tmp = tempDir("propp").toString
      val raw = randomDocs(seed, 40)
      raw.map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

      val got = graft.operators.Retrieval.phraseSearch(spark, tmp, k = 1000)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
          r.getAs[Long]("n_occurrences")).toMap

      // naive driver-side scan over every doc and phrase
      val phrases = graft.operators.Retrieval.phraseQueries
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
      val expected = (for {
        (qid, ph) <- phrases.toSeq
        (docId, text) <- raw
        toks = text.split(" ")
        n = toks.sliding(ph.length)
          .count(w => w.sameElements(ph))
        if n > 0
      } yield (qid, docId) -> n.toLong).toMap
      assert(got == expected, s"seed $seed")
    }
  }
}
