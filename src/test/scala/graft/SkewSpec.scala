package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class SkewSpec extends SparkSuite {

  test("salted join equals the plain join on skewed data") {
    import spark.implicits._
    // 90% of rows share one hot key
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"key${i % 7}" else "hotkey", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hotkey", "H"), ("key0", "A"), ("key3", "B"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k"))
      .select("k", "v", "name").collect().toSet
    val salted = Skew.saltedJoin(big, small, "k", saltBuckets = 8)
      .select("k", "v", "name").collect().toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("ngram doc-frequency cap bounds postings buckets, keeps true near-dups") {
    import spark.implicits._
    import graft.operators.Dedup
    // every doc opens with the same viral 5-word boilerplate; docs 1 and
    // 2 share an identical tail, every other doc's tail is unique
    val docs = (1 to 20).map { i =>
      val tail =
        if (i <= 2) "alpha beta gamma delta epsilon"
        else s"w${i}a w${i}b w${i}c w${i}d w${i}e"
      (i.toLong, s"the quick brown fox jumps $tail")
    }.toDF("doc_id", "text")

    // uncapped: the three boilerplate shingles each post to all 20 docs
    val dfUncapped = Dedup.cappedShingles(docs, None)
      .groupBy("shingle").count()
    assert(dfUncapped.agg(max("count")).head().getLong(0) == 20L)

    // capped at 5: every surviving shingle's postings bucket is bounded
    val capped = Dedup.cappedShingles(docs, Some(5L))
    val maxDf = capped.groupBy("shingle").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDf <= 5L)

    // the true near-dup pair survives the cut (its evidence is the rare
    // shared tail, not the boilerplate), spurious pairs stay absent
    val pairs = Dedup.ngramJaccardDocs(docs, Some(5L))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // and the capped output equals the uncapped output on this corpus
    // (the boilerplate never carried enough weight to pass J >= 0.5)
    val uncappedPairs = Dedup.ngramJaccardDocs(docs, None)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncappedPairs.toSeq == pairs.toSeq)
  }

  test("cluster paths agree: driver union-find == distributed label propagation") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.simhashPairs(spark, dir)
    def collectClusters(threshold: Long) =
      Dedup.clusters(spark, dir, pairs, driverThreshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val viaUnionFind = collectClusters(Long.MaxValue)
    val viaPropagation = collectClusters(0L) // force the distributed loop
    assert(viaUnionFind.nonEmpty)
    assert(viaUnionFind.sameElements(viaPropagation))
    // canonical = min id of its cluster; singletons self-cluster
    viaUnionFind.foreach { case (doc, cluster, canon) =>
      assert(cluster <= doc)
      assert((canon == 1L) == (doc == cluster))
    }
  }

  test("MinHash Aggregator equals the per-document kernel signatures") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val kernel = Dedup.minhashSignatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val agg = Dedup.minhashSignaturesAgg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kernel.nonEmpty && kernel.sameElements(agg))
  }

  test("saltedAgg equals the direct aggregate and actually fans the partial stage") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val staged = Skew.saltedAggStats(spark, dir)
    val direct = graft.Tables.events(spark, dir)
      .withColumn("ubucket", pmod(col("user_id"), lit(10L)))
      .withColumn("c", expr("CAST(round(value * 100) AS BIGINT)"))
      .groupBy("ubucket")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum("c").as("sum_cents"), min("c").as("min_cents"),
        max("c").as("max_cents"))
      .orderBy("ubucket")
    assert(staged.collect().toSeq == direct.collect().toSeq,
      "salting must be result-invisible")
    // the partial stage really groups by (key, salt)
    val plan = staged.queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), plan.take(2000))
  }

  test("hotKeys surfaces the dominant key") {
    import spark.implicits._
    val big = (1 to 500).map(i =>
      (if (i % 5 == 0) s"k$i" else "dominant", i)).toDF("k", "v")
    val hot = Skew.hotKeys(big, "k", 1).collect()
    assert(hot.head.getString(0) == "dominant")
    assert(hot.head.getLong(1) == 400L)
  }
}
