package graft.operators

import graft.SparkSuite

/** Exactness pin for the wide SimHash kernel's adaptive m-of-n
  * compound banding: on planted signatures with pairs at Hamming
  * distance 0..3 (and decoys at 4..6), the banded join must return
  * EXACTLY the brute-force pair set — the pigeonhole argument tested,
  * not assumed. The oracle row (dedup_simhash_wide) can only plant
  * dist-0 copies (text edits cannot guarantee a Hamming bound), so
  * dist 1..3 capture lives here. */
class SimhashWideSpec extends SparkSuite {

  private def bruteForce(sigs: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb).toLong
      if d <= Dedup.SimhashWideMaxDist
    } yield (ia, ib, d)).toSet

  test("banded wide pairs == brute force on planted distances 0..6") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val mask60 = (1L << Dedup.SimhashWideBits) - 1
    def flip(sig: Long, k: Int): Long = {
      var s = sig
      // k DISTINCT positions so the planted distance is exactly k
      rnd.shuffle((0 until Dedup.SimhashWideBits).toList).take(k)
        .foreach(b => s ^= (1L << b))
      s
    }
    val base = (0 until 300).map(i =>
      (i.toLong, rnd.nextLong() & mask60))
    // partners at distance 0,1,2,3 (must be found) and 4,5,6 (must not)
    val partners = base.take(70).zipWithIndex.map { case ((id, sig), i) =>
      (1000L + id, flip(sig, i % 7))
    }
    val all = base ++ partners
    val expected = bruteForce(all)
    assert(expected.size >= 40, s"degenerate plant: ${expected.size} pairs")
    val got = Dedup
      .simhashPairsWideOf(all.toDF("doc_id", "simhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"banding missed ${(expected -- got).size} pairs / " +
        s"invented ${(got -- expected).size}")
  }

  test("adaptive banding stays exact at a larger corpus (wider keys)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val mask60 = (1L << Dedup.SimhashWideBits) - 1
    // 40k sigs pushes needBits past the n=5 tier boundary at ~64k —
    // stays n=5; the point here is exactness under real collision
    // pressure on 24-bit compound keys, plus planted near pairs
    val base = (0 until 40000).map(i => (i.toLong, rnd.nextLong() & mask60))
    val near = (0 until 50).map { i =>
      val (id, sig) = base(i * 100)
      var s = sig
      (0 until (i % 4)).foreach { _ =>
        s ^= (1L << rnd.nextInt(Dedup.SimhashWideBits))
      }
      (100000L + id, s)
    }
    val all = base ++ near
    val df = all.toDF("doc_id", "simhash").repartition(4)
    val got = Dedup.simhashPairsWideOf(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over 40k² is 1.6e9 driver comparisons — too slow; the
    // planted pairs are the ground truth here (random 60-bit sigs pair
    // spuriously with probability ~3e-14 * 8e8 ≈ 0)
    val expected = near.zipWithIndex.flatMap { case ((nid, nsig), i) =>
      val (bid, bsig) = base(i * 100)
      val d = java.lang.Long.bitCount(bsig ^ nsig).toLong
      if (d <= Dedup.SimhashWideMaxDist) Some((bid, nid, d)) else None
    }.toSet
    assert(expected.size >= 45)
    assert(got == expected,
      s"missed ${(expected -- got).size} / invented ${(got -- expected).size}")
  }

  test("nearDupPairsAuto routes 32/6 below the gate, wide above it") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val report = rows(Dedup.simhashPairs(spark, dir))
    val wide = rows(Dedup.simhashPairsWide(spark, dir))
    // forced small corpus → the 32/6 report kernel
    assert(rows(Dedup.nearDupPairsAuto(spark, dir, Some(500L))) == report)
    // forced large corpus → the 60/3 wide kernel
    assert(rows(Dedup.nearDupPairsAuto(spark, dir,
      Some(Dedup.SimhashAutoMaxDocs + 1))) == wide)
    // default: sf0.001 has 500 docs, under the 8,000-doc gate
    assert(rows(Dedup.nearDupPairsAuto(spark, dir)) == report)
  }

  test("explicit 32/6 simhashPairs refuses above the gate unless opted in") {
    val dir = "/root/testdata/sf0.001"
    val big = Dedup.SimhashAutoMaxDocs + 1
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(spark, dir, Some(big), acceptQuadratic = false)
    }
    assert(e.getMessage.contains("simhashPairsWide"))
    assert(e.getMessage.contains("nearDupPairsAuto"))
    // the escape hatch still runs (the corpus is actually tiny — only
    // the CLAIMED size trips the guard) and matches the unguarded row
    val opted = Dedup
      .simhashPairs(spark, dir, Some(big), acceptQuadratic = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(opted == base)
  }

  test("docCount cache stays bounded when a dir's data is rewritten") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_doccount").toFile
    try {
      val dir = tmp.getAbsolutePath
      def write(n: Int): Unit =
        (0 until n).map(i => (i.toLong, s"text $i", "en", "src0"))
          .toDF("doc_id", "text", "lang", "source")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      write(10)
      assert(Ingest.docCount(spark, dir) == 10L)
      // rewriting under the SAME path must refresh the count without
      // growing the cache (one entry per directory, not per version)
      Thread.sleep(1100) // mtime granularity: force a new fingerprint
      write(25)
      assert(Ingest.docCount(spark, dir) == 25L)
      assert(Ingest.docCountCacheKeys.count(_ == dir) == 1,
        "rewritten dir minted a second cache entry")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }
}
