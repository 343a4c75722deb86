package graft.operators

import graft.SparkSuite

/** Exactness pin for the SimHash band join's two layouts (the wide
  * kernel's adaptive m-of-n banding, the report kernel's 7 bands): on
  * planted signatures with pairs at Hamming distance 0..3 (and decoys
  * at 4..6), the banded join must return EXACTLY the brute-force pair
  * set — the pigeonhole argument tested, not assumed. The oracle row
  * (dedup_simhash_wide) can only plant dist-0 copies (text edits cannot
  * guarantee a Hamming bound), so dist 1..3 capture lives here, and so
  * does the value-by-value pin of the 60-bit signature, which those
  * copies match at Hamming 0 whatever the kernel computes. */
class SimhashWideSpec extends SparkSuite {

  private def bruteForce(sigs: Seq[(Long, Long)],
      maxDist: Long): Set[(Long, Long, Long)] =
    (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb).toLong
      if d <= maxDist
    } yield (ia, ib, d)).toSet

  /** Random `bits`-wide signatures, the first 70 with a partner planted
    * at distance i % (maxDist + 4): within the threshold (must be
    * found) and up to 3 past it (must not). */
  private def planted(seed: Int, bits: Int,
      maxDist: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val mask = (1L << bits) - 1
    def flip(sig: Long, k: Int): Long = {
      var s = sig
      // k DISTINCT positions so the planted distance is exactly k
      rnd.shuffle((0 until bits).toList).take(k)
        .foreach(b => s ^= (1L << b))
      s
    }
    val base = (0 until 300).map(i => (i.toLong, rnd.nextLong() & mask))
    val partners = base.take(70).zipWithIndex.map { case ((id, sig), i) =>
      (1000L + id, flip(sig, i % (maxDist.toInt + 4)))
    }
    base ++ partners
  }

  /** The kernel's rows equal the brute-force pair set, each pair once. */
  private def assertExact(got: org.apache.spark.sql.DataFrame,
      expected: Set[(Long, Long, Long)], what: String): Unit = {
    val rows = got.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = rows.map(r => (r._1, r._2))
    assert(pairs.distinct.size == pairs.size,
      s"$what: ${pairs.size - pairs.distinct.size} repeated pairs")
    assert(rows.toSet == expected,
      s"$what: banding missed ${(expected -- rows).size} pairs / " +
        s"invented ${(rows.toSet -- expected).size}")
  }

  test("banded wide pairs == brute force on planted distances 0..6") {
    import spark.implicits._
    val all = planted(1234, Dedup.SimhashWideBits, Dedup.SimhashWideMaxDist)
    val expected = bruteForce(all, Dedup.SimhashWideMaxDist)
    assert(expected.size >= 40, s"degenerate plant: ${expected.size} pairs")
    assertExact(Dedup.simhashPairsWideOf(all.toDF("doc_id", "simhash")),
      expected, "60/3")
  }

  test("wide pairs stay exact and unrepeated at every banding tier") {
    import spark.implicits._
    val all = planted(4321, Dedup.SimhashWideBits, Dedup.SimhashWideMaxDist)
    val expected = bruteForce(all, Dedup.SimhashWideMaxDist)
    // the claimed corpus size picks n = 4, 5, 6 and 10 blocks (m = 1, 2,
    // 3 and 7 blocks per band): single-block and compound bands alike
    Seq(10L, 9000L, 1000000L, 1L << 40).foreach { n =>
      assertExact(Dedup.simhashPairsWideOf(all.toDF("doc_id", "simhash"),
        docCount = Some(n)), expected, s"60/3 sized for $n docs")
    }
  }

  test("banded 32/6 pairs == brute force on planted distances 0..9") {
    import spark.implicits._
    val all = planted(5678, 32, Dedup.SimhashMaxDist)
    val expected = bruteForce(all, Dedup.SimhashMaxDist)
    assert(expected.size >= 40, s"degenerate plant: ${expected.size} pairs")
    assertExact(Dedup.simhashPairsOf(all.toDF("doc_id", "simhash")),
      expected, "32/6")
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
    // nearDupPairsAuto returns unsorted pairs; the report rows sort
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
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

  test("explicit 32/6 simhashPairs refuses above the gate") {
    import spark.implicits._
    val dir = tempDir("simhashgate").toString
    (0L to Dedup.SimhashAutoMaxDocs).map(i => (i, s"doc $i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException](Dedup.simhashPairs(spark, dir))
    assert(e.getMessage.contains("simhashPairsWide"))
    assert(e.getMessage.contains("nearDupPairsAuto"))
  }

  test("60-bit signatures equal a relational SimHash, value by value") {
    val dir = "/root/testdata/sf0.001"
    val got = Dedup.simhashOf(graft.Tables.documents(spark, dir),
        Dedup.SimhashWideBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the first 15 hex chars of each shingle's sha256, ±1 per bit over
    // the document's distinct shingles, then the sign of each bit sum
    val expected = Dedup.shingles(spark, dir)
      .selectExpr("doc_id",
        "CAST(conv(substring(sha2(shingle, 256), 1, 15), 16, 10) AS BIGINT) AS w")
      .selectExpr("doc_id", "w", "explode(sequence(0, 59)) AS b")
      .groupBy("doc_id", "b")
      .agg(org.apache.spark.sql.functions
        .expr("sum(2 * (shiftright(w, b) & 1) - 1)").as("s"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions
        .expr("sum(IF(s > 0, shiftleft(1L, b), 0L))").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.size >= 400, s"degenerate corpus: ${expected.size} docs")
    // the pin reaches the bits a 32-bit kernel cannot set
    assert(expected.values.count(_ >>> 32 != 0) > expected.size / 2)
    assert(got.keySet == expected.keySet)
    val differ = expected.keys.toSeq.filter(id => got(id) != expected(id))
    val nDiffer = differ.size
    assert(nDiffer == 0, s"of ${expected.size} signatures; (doc, kernel, " +
      s"relational): ${differ.take(3).map(id => (id, got(id), expected(id)))}")
  }

  test("docCount cache stays bounded when a dir's data is rewritten") {
    import spark.implicits._
    val dir = tempDir("graft_doccount").toString
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"text $i", "en", "src0"))
        .toDF("doc_id", "text", "lang", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(10)
    assert(Ingest.docCount(spark, dir) == 10L)
    // rewriting under the SAME path must refresh the count; the cache
    // is keyed by directory, so the refresh replaces the entry
    Thread.sleep(1100) // mtime granularity: force a new fingerprint
    write(25)
    assert(Ingest.docCount(spark, dir) == 25L)
  }
}
