package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout, Retrieval, TextAnalysis}

/** Semantics pins for the round's retrieval / layout / LM-score
  * operators, on both constructed corpora (hand-derivable answers) and
  * the sf0.001 fixture (structural invariants). */
class RetrievalLayoutSpec extends SparkSuite {

  val sf = "/root/testdata/sf0.001"

  // ── BM25 ─────────────────────────────────────────────────────────────

  test("bm25: a doc saturated in the query term outranks a longer diluted one") {
    import spark.implicits._
    val tmp = tempDir("bm25").toString
    // doc 1: short, dense in "spark"; doc 2: long, one mention; doc 3
    // has none. Under any BM25 parametrization 1 > 2 and 3 is absent.
    val docs = Seq(
      (1L, "spark spark spark join", "en", "s", 22L),
      (2L, ("filler " * 40).trim + " spark", "en", "s", 286L),
      (3L, "row scan table batch", "en", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Retrieval.bm25Search(spark, tmp)
      .filter($"query_id" === 0L).collect()
    val ranked = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id"))
    assert(ranked.head == 1L)
    assert(ranked.contains(2L) && !ranked.contains(3L))
    // scores strictly ordered and positive
    val scores = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("score"))
    assert(scores.sameElements(scores.sorted.reverse) && scores.last > 0)
  }

  test("bm25: idf punishes ubiquitous terms — rarer term dominates the sum") {
    import spark.implicits._
    val tmp = tempDir("bm25b").toString
    // "customer" appears in every doc (df=N), "query" in doc 5 only.
    val docs = (1L to 5L).map { i =>
      val t = if (i == 5L) "customer query alpha" else "customer beta gamma"
      (i, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Retrieval.bm25Search(spark, tmp)
      .filter($"query_id" === 2L).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(out.head.getAs[Long]("doc_id") == 5L)
    assert(out.head.getAs[Long]("matched_terms") == 2L)
  }

  test("persisted lexical index: term pushdown + parity with the inline row") {
    import graft.operators.Retrieval
    val tmp = tempDir("lex").toString
    Retrieval.buildLexicalIndex(spark, sf, tmp)
    // the query-time contract: a term filter reaches the postings
    // parquet scan as a pushed In-filter (row-group skipping works
    // because the build clustered postings by term)
    val probe = spark.read.parquet(s"$tmp/postings")
      .filter(col("term").isin("spark", "join"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      plan.take(2000))
    // and the persisted path scores bit-identically to the inline row
    val inline = Retrieval.bm25Search(spark, sf).collect().toSeq
    val indexed = Retrieval.bm25SearchIndexed(spark, sf).collect().toSeq
    assert(indexed == inline)
  }

  test("phrase search: order- and adjacency-sensitive, counts overlaps") {
    import spark.implicits._
    val tmp = tempDir("phr").toString
    // query 0 is the phrase "table hash"
    val docs = Seq(
      (1L, "x table hash y", "en", "s", 0L),          // 1 occurrence
      (2L, "x hash table y", "en", "s", 0L),          // reversed: none
      (3L, "table x hash", "en", "s", 0L),            // gapped: none
      (4L, "table hash z table hash", "en", "s", 0L)) // 2 occurrences
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.Retrieval.phraseSearch(spark, tmp)
      .filter($"query_id" === 0L).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_occurrences")).toMap
    assert(byDoc == Map(1L -> 1L, 4L -> 2L), s"got $byDoc")
    // rank 1 is the doc with more occurrences
    assert(out.minBy(_.getAs[Long]("rank")).getAs[Long]("doc_id") == 4L)
  }

  test("bm25 on fixture: 3 queries, k rows each, ranks contiguous") {
    val out = Retrieval.bm25Search(spark, sf).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 5L))
    }
  }

  // ── Substring-span dedup ─────────────────────────────────────────────

  test("substring spans: shared run at DIFFERENT offsets is found in both docs") {
    import spark.implicits._
    val tmp = tempDir("sub").toString
    val shared = "identical boilerplate run shared across both documents here"
    // offsets differ by 7 — stride-k sampling would miss this; the
    // content-defined mod-p sampling must not.
    val docs = Seq(
      (1L, s"aaaaaa $shared unique-tail-one-x", "en", "s", 0L),
      (2L, s"bbbbbbbbbbbbb $shared unique-tail-two-y", "en", "s", 0L),
      (3L, "completely unrelated text with no forty char overlap at all",
        "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.substringSpans(spark, tmp).collect()
    val byDoc = spans.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.contains(1L) && byDoc.contains(2L))
    assert(!byDoc.contains(3L))
    // every reported span must lie inside the shared run's extent in
    // its doc (start/end measured on the staged text), and be >= W
    val w = Dedup.SubstrWindow
    spans.filter(r => Set(1L, 2L)(r.getAs[Long]("doc_id"))).foreach { r =>
      assert(r.getAs[Long]("span_chars") >= w)
    }
  }

  test("substring spans: islands merge overlapping marks into one span") {
    import spark.implicits._
    val tmp = tempDir("sub2").toString
    // Two docs IDENTICAL for 120 chars: every sampled window in the
    // run duplicates, so per doc all marks merge into ONE span
    // covering (at least) the sampled extent — never 2+ spans inside
    // a contiguous duplicated run.
    val run = ("z " * 10) + "the exact same one hundred twenty char " +
      "prefix including several sampled windows in sequence padded out"
    val docs = Seq(
      (1L, run + " tail-a", "en", "s", 0L),
      (2L, run + " tail-b", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.substringSpans(spark, tmp).collect()
    val d1 = spans.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.length == 1, s"expected one merged span, got ${d1.toSeq}")
    assert(d1.head.getAs[Long]("span_chars") >= Dedup.SubstrWindow)
  }

  test("substring spans on fixture: planted doc_id%7 boilerplate detected") {
    val spans = Dedup.substringSpans(spark, sf).collect()
    val docs = spans.map(_.getAs[Long]("doc_id")).toSet
    // the planted suffix docs must dominate the detections
    val planted = docs.filter(_ % 7 == 0)
    assert(planted.nonEmpty)
    // spans never overlap within a doc and are all >= 1 window long
    spans.groupBy(_.getAs[Long]("doc_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Long]("span_start"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("span_end") < b.getAs[Long]("span_start"))
        case _ =>
      }
    }
  }

  test("substring delta: batch-store dup reported, batch-batch dup is not") {
    import spark.implicits._
    val tmp = tempDir("subd").toString
    val storeRun = "store boilerplate run shared with one batch document xx"
    val batchRun = "batch only duplicated run never seen in the store zzzz"
    val pad = "p" // keep ids: max=25, cut=20 → batch = 20..25
    val docs = ((1L to 19L).map { i =>
      val t = if (i == 3L) s"store doc three $storeRun tail-$i"
      else s"unique store content number $i with no shared windows $pad"
      (i, t)
    } ++ Seq(
      // NB ids 21 = 3·7 carries the operator's planted %7 boilerplate
      // (shared with store docs 7/14) — keep the batch-only twins on
      // non-multiples of 7 so their only shared run is batchRun
      20L -> s"batch doc twenty nothing shared here at all ${pad * 30}",
      21L -> s"plain batch doc twenty one with its own words ${pad * 40}",
      22L -> s"first batch twin $batchRun end-a",
      23L -> s"batch doc hitting the store $storeRun end-c",
      24L -> s"second batch twin extra prefix $batchRun end-b",
      25L -> s"final plain batch doc unlike anything else ${pad * 50}"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val delta = graft.operators.Dedup.substringSpansDelta(spark, tmp)
      .collect()
    val deltaDocs = delta.map(_.getAs[Long]("doc_id")).toSet
    // doc 23 shares a run with STORE doc 3 → must be reported
    assert(deltaDocs.contains(23L), s"got $deltaDocs")
    // docs 22/24 share a run only with EACH OTHER (both in batch) →
    // the delta pass must NOT report them (store is the only probe)
    assert(!deltaDocs.contains(22L) && !deltaDocs.contains(24L),
      s"batch-internal dup leaked into delta: $deltaDocs")
    // and everything reported is a batch doc
    assert(deltaDocs.forall(_ >= 20L))
    // the full pass DOES see the batch-batch twins — the delta's
    // exclusion is scope, not blindness
    val full = graft.operators.Dedup.substringSpans(spark, tmp)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(full.contains(22L) && full.contains(24L))
  }

  test("substring apply stats reconcile with the span rows") {
    import graft.operators.Dedup
    val spans = Dedup.substringSpans(spark, sf).collect()
    val out = Dedup.substringApplyStats(spark, sf).collect()
    val totalCut = out.map(_.getAs[Long]("cut_chars")).sum
    assert(totalCut == spans.map(_.getAs[Long]("span_chars")).sum)
    val affected = out.map(_.getAs[Long]("n_docs_affected")).sum
    assert(affected == spans.map(_.getAs[Long]("doc_id")).distinct.length)
    out.foreach { r =>
      assert(r.getAs[Long]("cut_chars") <= r.getAs[Long]("total_chars"))
      assert(r.getAs[Long]("removed_permille") ==
        r.getAs[Long]("cut_chars") * 1000 / r.getAs[Long]("total_chars"))
    }
  }

  test("streamed substring delta equals the one-shot delta on the fixture") {
    import graft.operators.Dedup
    val batch = Dedup.substringSpansDelta(spark, sf).collect().toSeq
    val stream = Dedup.substrDeltaStreamParity(spark, sf).collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty) // %7-planted docs exist in the top fifth
  }

  // ── Count-min sketch ─────────────────────────────────────────────────

  test("CMS heavy hitters: one-sided error, exact top-20, consistent arithmetic") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.cmsHeavyHitters(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_count")
      val est = r.getAs[Long]("est_count")
      assert(est >= exact, s"${r.getAs[String]("term")}: est $est < exact $exact")
      assert(r.getAs[Long]("overcount") == est - exact)
    }
    // descending exact order
    val exacts = out.map(_.getAs[Long]("exact_count"))
    assert(exacts.sameElements(exacts.sorted.reverse))
  }

  test("CMS: colliding terms inflate the estimate, min-over-rows bounds it") {
    import spark.implicits._
    val tmp = tempDir("cms").toString
    // 300 distinct rare terms spread over 256 buckets/row force
    // collisions with the two heavy terms in SOME row; the min over
    // 4 rows must still keep every estimate >= exact (one-sided).
    val rare = (1 to 300).map(i => s"rare$i").mkString(" ")
    val docs = Seq(
      (1L, ("heavy " * 50).trim, "en", "s", 0L),
      (2L, ("common " * 30).trim + " " + rare, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.cmsHeavyHitters(spark, tmp)
      .collect()
    val byTerm = out.map(r => r.getAs[String]("term") ->
      (r.getAs[Long]("exact_count"), r.getAs[Long]("est_count"))).toMap
    assert(byTerm("heavy") == ((50L, byTerm("heavy")._2)))
    assert(byTerm("heavy")._2 >= 50L && byTerm("common")._2 >= 30L)
    // sketch never undercounts any probed term
    out.foreach(r =>
      assert(r.getAs[Long]("overcount") >= 0L))
  }

  // ── Compaction planner ───────────────────────────────────────────────

  test("compaction: bins respect target except single oversized files") {
    val plan = graft.operators.Layout.compactionPlan(spark, sf).collect()
    plan.foreach { r =>
      val total = r.getAs[Long]("total_bytes")
      val n = r.getAs[Long]("n_files")
      val maxF = r.getAs[Long]("max_file_bytes")
      // next-fit guarantee: a bin exceeds target only via its LAST file;
      // equivalently total - largest-possible-overhang < target + max
      assert(n >= 1)
      assert(total < Layout.CompactionTarget + maxF,
        s"bin packs ${total}B with max file ${maxF}B")
    }
    // reconcile the bin assignment against an independent Scala replay
    // of the packing rule (bytes desc, file_id asc; bin = floor of
    // preceding cumulative bytes / target) — unlike a bins-contiguity
    // assert, this stays valid even if a future fixture contains a
    // single file >= 2x target (which legitimately SKIPS a bin index)
    val files = Tables.documents(spark, sf)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_chars")))
    val expected: Map[(String, Long), Long] =
      files.groupBy(_._1).toSeq.flatMap { case (part, fs) =>
        var cum = 0L
        fs.toSeq.sortBy { case (_, id, b) => (-b, id) }.map {
          case (_, _, b) =>
            val bin = cum / Layout.CompactionTarget
            cum += b
            (part, bin)
        }
      }.groupBy(x => x).map { case (k, xs) => k -> xs.size.toLong }
    val got = plan.map(r => (r.getAs[String]("part"), r.getAs[Long]("bin")) ->
      r.getAs[Long]("n_files")).toMap
    assert(got == expected)
  }

  // ── Z-order ──────────────────────────────────────────────────────────

  test("zorder: every file bounds BOTH dimensions to 1/8 of the domain") {
    val stats = Layout.zorderStats(spark, sf).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") <= 128)
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") <= 128)
    }
    // all rows accounted for
    val total = stats.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("zorder prune: z-layout reads exactly the slice, linear reads everything") {
    val out = Layout.zorderPruneStats(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    val lin = out("linear_time"); val zo = out("zorder")
    // same universe, same matches
    assert(lin.getAs[Long]("rows_matched") == zo.getAs[Long]("rows_matched"))
    // time-linear: every file spans the full user range → zero skipping
    assert(lin.getAs[Long]("files_kept") == lin.getAs[Long]("n_files"))
    // z-order: the aligned x-slice (one high-3-bit bucket) keeps exactly
    // 1/8 of the files and reads exactly the matching rows
    assert(zo.getAs[Long]("files_kept") * 8 == zo.getAs[Long]("n_files"))
    assert(zo.getAs[Long]("rows_read") == zo.getAs[Long]("rows_matched"))
    assert(zo.getAs[Long]("rows_read") < lin.getAs[Long]("rows_read"))
  }

  test("zorder interleave: Scala fold and generated SQL agree bit-for-bit") {
    import spark.implicits._
    // evaluate the generated DuckDB SQL string AS SPARK SQL on sample
    // points — the operators share syntax for >>, &, <<, + — and compare
    // with a reference Morton implementation.
    def morton(x: Long, y: Long): Long =
      (0 until Layout.ZBits).foldLeft(0L) { (a, i) =>
        a | (((x >> i) & 1) << (2 * i + 1)) | (((y >> i) & 1) << (2 * i))
      }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L),
      (512L, 256L), (341L, 682L))
    val df = pts.toDF("x", "y")
      .withColumn("z", expr(Layout.zInterleaveSql("x", "y")))
    df.collect().foreach { r =>
      assert(r.getAs[Long]("z") ==
        morton(r.getAs[Long]("x"), r.getAs[Long]("y")))
    }
  }

  // ── Keep-best retention ──────────────────────────────────────────────

  test("keep-best: keeper is each cluster's longest member, totals reconcile") {
    import graft.operators.Dedup
    val clusters = Dedup.simhashClusters(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cluster_id")).toMap
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_chars")).toMap
    val out = Dedup.keepBest(spark, sf).collect()
    // total membership covers the corpus exactly once
    assert(out.map(_.getAs[Long]("n_members")).sum == clusters.size)
    out.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val members = clusters.collect { case (d, c) if c == cid => d }
      val best = members.minBy(d => (-chars(d), d))
      assert(r.getAs[Long]("keeper_id") == best)
      assert(r.getAs[Long]("keeper_chars") == chars(best))
      assert(r.getAs[Long]("n_dropped") == members.size - 1)
    }
  }

  // ── Bloom prefilter ──────────────────────────────────────────────────

  test("bloom prefilter: zero false negatives, fp rate in the designed band") {
    val out = graft.operators.Sync.bloomPrefilterStats(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // every true member MUST bloom-pass (no false negatives — the
      // property that makes bloom-negative skippable without a lookup)
      assert(r.getAs[Long]("n_bloom_pass") >=
        r.getAs[Long]("n_members"))
      assert(r.getAs[Long]("n_bloom_pass") ==
        r.getAs[Long]("n_members") + r.getAs[Long]("n_false_positives"))
    }
    // aggregate fp rate must sit well below the exact-check break-even
    val fp = out.map(_.getAs[Long]("n_false_positives")).sum
    val nonMembers = out.map(r =>
      r.getAs[Long]("n_candidates") - r.getAs[Long]("n_members")).sum
    assert(fp * 1000 <= nonMembers * 100,
      s"fp rate ${fp}/$nonMembers exceeds 10%")
  }

  // ── IVF recall calibration ───────────────────────────────────────────

  test("ivf recall: bounded permille; probing ALL cells recovers exact recall") {
    import graft.operators.Similarity
    val partial = Similarity.ivfRecall(spark, sf).collect()
    assert(partial.length == 5)
    partial.foreach { r =>
      val p = r.getAs[Long]("recall_permille")
      assert(p >= 0 && p <= 1000)
      assert(p == r.getAs[Long]("n_overlap") * 100)
    }
    // nprobe = nlist ⇒ the candidate set is the whole corpus ⇒ the ANN
    // top-10 IS the exact top-10 ⇒ recall exactly 1000 for every query
    val full = Similarity.ivfRecall(spark, sf,
      nprobe = Similarity.IvfNlist).collect()
    assert(full.forall(_.getAs[Long]("recall_permille") == 1000L),
      full.mkString(","))
  }

  test("mrl recall: bounded permille; full-width prefix recovers exact recall") {
    import graft.operators.Similarity
    val partial = Similarity.mrlRecall(spark, sf).collect()
    assert(partial.length == 5)
    partial.foreach { r =>
      val p = r.getAs[Long]("recall_permille")
      assert(p >= 0 && p <= 1000)
      assert(p == r.getAs[Long]("n_overlap") * 100)
    }
    // prefix = full dimensionality ⇒ truncated cosine IS the full
    // cosine ⇒ recall exactly 1000 for every query
    val dims = graft.Tables.embeddings(spark, sf)
      .selectExpr("size(embedding)").head().getInt(0)
    val full = Similarity.mrlRecall(spark, sf, prefixDims = dims).collect()
    assert(full.forall(_.getAs[Long]("recall_permille") == 1000L),
      full.mkString(","))
  }

  test("bq recall: bounded permille; corpus-wide shortlist recovers exact recall") {
    import graft.operators.Similarity
    val partial = Similarity.bqRecall(spark, sf).collect()
    assert(partial.length == 5)
    partial.foreach { r =>
      val p = r.getAs[Long]("recall_permille")
      assert(p >= 0 && p <= 1000)
      assert(p == r.getAs[Long]("n_overlap") * 100)
    }
    // shortlist = corpus ⇒ the rerank sees every vector ⇒ the BQ
    // top-10 IS the exact top-10 ⇒ recall exactly 1000
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    val full = Similarity.bqRecall(spark, sf, shortlist = n).collect()
    assert(full.forall(_.getAs[Long]("recall_permille") == 1000L),
      full.mkString(","))
  }

  test("hilbert curve: unit-step adjacency (the property Morton lacks); prune dominates") {
    import graft.operators.Layout
    // the defining Hilbert property: consecutive distances are
    // manhattan-adjacent cells — invert a sample of the curve and walk
    val n = 1 << Layout.ZBits
    val inv = new java.util.HashMap[Long, (Long, Long)]()
    // sample a contiguous d-range by scanning a grid band
    for (x <- 0L until 64L; y <- 0L until 64L)
      inv.put(Layout.hilbertD(x, y), (x, y))
    var adjacentChecked = 0
    val it = inv.keySet().iterator()
    while (it.hasNext) {
      val d = it.next()
      if (inv.containsKey(d + 1)) {
        val (x1, y1) = inv.get(d)
        val (x2, y2) = inv.get(d + 1)
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"d=$d: ($x1,$y1) -> ($x2,$y2) is not a unit step")
        adjacentChecked += 1
      }
    }
    assert(adjacentChecked > 1000, "the sampled band must cover steps")
    // first quadrant order of the classic curve
    assert(Layout.hilbertD(0, 0) == 0)
    // distinctness over the sampled square (a bijection on the grid)
    assert(inv.size() == 64 * 64)
    // and the row's headline claim: hilbert prunes at least as well
    val rows = Layout.hilbertPruneStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("hilbert").getLong(2) <= rows("zorder").getLong(2),
      "hilbert files_kept must not exceed zorder's")
    assert(rows("zorder").getLong(2) < rows("linear_time").getLong(2))
    assert(rows.values.map(_.getLong(4)).toSet.size == 1,
      "rows_matched is layout-invariant")
  }

  test("ivf rebalance report: occupancy identities and split rule") {
    import graft.operators.Similarity
    val rows = Similarity.ivfRebalanceReport(spark, sf).collect()
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_after")).sum == n,
      "every vector lands in exactly one cell")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_after") >= r.getAs[Long]("n_before"))
      val split = r.getAs[Long]("needs_split") == 1L
      val rule = r.getAs[Long]("n_after") * Similarity.IvfNlist > 2 * n
      assert(split == rule, s"split flag must be the >2x-mean rule: $r")
      if (r.getAs[Long]("n_before") > 0) {
        val g = r.getAs[Long]("growth_permille")
        val expected = (r.getAs[Long]("n_after") - r.getAs[Long]("n_before")) *
          1000 / r.getAs[Long]("n_before")
        assert(g == expected)
      } else assert(r.isNullAt(r.fieldIndex("growth_permille")))
    }
  }

  test("pq recall: bounded permille; corpus-wide shortlist recovers exact") {
    import graft.operators.Similarity
    val partial = Similarity.pqRecall(spark, sf).collect()
    assert(partial.length == 1)
    val p = partial.head.getAs[Long]("recall_permille")
    assert(p >= 0 && p <= 1000)
    assert(p == partial.head.getAs[Long]("n_overlap") * 100)
    // shortlist ≥ corpus ⇒ the rerank scans everything ⇒ the PQ top-10
    // IS the exact top-10 ⇒ recall exactly 1000
    val n = graft.Tables.embeddings(spark, sf).count().toInt
    val full = Similarity.pqRecall(spark, sf, shortlist = n).collect()
    assert(full.head.getAs[Long]("recall_permille") == 1000L,
      full.mkString(","))
  }

  // ── Bigram LM score ──────────────────────────────────────────────────

  test("ngram LM: scrambled doc scores more surprising than fluent twin") {
    import spark.implicits._
    val tmp = tempDir("lm").toString
    // 8 fluent docs repeat the same word order; doc 9 uses the same
    // words in a transition order seen nowhere else.
    val fluent = "alpha beta gamma delta alpha beta gamma delta"
    val docs = ((1L to 8L).map(i => (i, fluent, "en", "s", 0L)) :+
      (9L, "delta beta alpha gamma delta gamma beta alpha", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextAnalysis.ngramLm(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lm_score_micro"))
      .toMap
    assert(out(9L) > out(1L),
      s"scrambled ${out(9L)} should exceed fluent ${out(1L)}")
    // fluent docs all share one score
    assert((1L to 8L).map(out).toSet.size == 1)
  }

  // ── Hybrid RRF fusion ────────────────────────────────────────────────

  test("hybrid RRF: fusion arithmetic reconciles against the two rank lists") {
    import graft.operators.Retrieval
    val bm = Retrieval.bm25Search(spark, sf, Retrieval.HybridDepth).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("rank")).toMap
    val out = Retrieval.hybridSearch(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val d = r.getAs[Long]("doc_id")
      val rrf = r.getAs[Long]("rrf_micro")
      val inB = r.getAs[Long]("in_bm25") == 1L
      // membership flag must agree with the standalone bm25 list, and
      // the bm25 contribution must be exactly 1e6/(60+brank)
      assert(inB == bm.contains((q, d)))
      val bPart = bm.get((q, d)).map(rk => 1000000L / (60 + rk)).getOrElse(0L)
      val vPart = rrf - bPart
      assert(vPart == 0L || (vPart >= 1000000L / 80 && vPart <= 1000000L / 61),
        s"vec contribution $vPart out of top-20 RRF range")
    }
    // ranks contiguous per query
    out.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted
        .sameElements(1L to rows.length))
    }
  }

  // ── Salted skew join ─────────────────────────────────────────────────

  test("salted skew-join row equals the plain unsalted join+aggregate") {
    val ev = Tables.events(spark, sf)
      .withColumn("ubucket", pmod(col("user_id"), lit(10L)))
    val dim = spark.range(0, 10)
      .select(col("id").as("ubucket"), (col("id") * 3 + 1).as("weight"))
    val plain = ev.join(dim, "ubucket")
      .groupBy("ubucket")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("weight")), 2).as("sum_weighted"))
      .orderBy("ubucket").collect().toSeq
    val salted = graft.operators.Skew.saltedJoinStats(spark, sf)
      .collect().toSeq
    assert(salted == plain)
  }

  test("ngram LM on fixture: every doc scored, scores >= 1e6") {
    val out = TextAnalysis.ngramLm(spark, sf).collect()
    assert(out.length ==
      Tables.documents(spark, sf).filter(size(split(col("text"), " ")) >= 2)
        .count())
    out.foreach(r => assert(r.getAs[Long]("lm_score_micro") >= 1000000L))
  }
}
