package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Similarity}

/** Semantic invariants for the dataset-curation operators (the oracle
  * gate checks exact values at sf0.01; these pin the properties that
  * must survive ANY corpus). Runs at sf0.001. */
class CurationSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("spanDedup: kept counts bounded; untouched docs rehash to their original text") {
    val out = Curation.spanDedup(spark, dir)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val joined = out.join(docs, "doc_id")
      .withColumn("orig_hash", sha2(col("text"), 256))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nSpans, nKept) = (r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"))
      assert(nKept >= 0 && nKept <= nSpans, s"doc ${r.getAs[Long]("doc_id")}")
      // a doc whose every span survived reassembles to its exact text
      if (nKept == nSpans)
        assert(r.getAs[String]("kept_hash") == r.getAs[String]("orig_hash"),
          s"doc ${r.getAs[Long]("doc_id")} reassembly drifted")
    }
    // global keep-first: total kept spans == distinct spans in the corpus
    val distinctSpans = Curation.spanDedup(spark, dir)
      .agg(sum("n_kept")).first().getLong(0)
    val expected = docs
      .selectExpr(s"""explode(transform(
          sequence(0, CAST((size(split(text,' ')) + ${Curation.SpanWords - 1})
                           div ${Curation.SpanWords} AS INT) - 1),
          j -> concat_ws(' ', slice(split(text,' '),
                                    j * ${Curation.SpanWords} + 1,
                                    ${Curation.SpanWords})))) AS span""")
      .distinct().count()
    assert(distinctSpans == expected)
  }

  test("spanDedupDelta: drop reasons partition the span count; incoming docs only") {
    val rows = Curation.spanDedupDelta(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 3 == 0, "stored doc leaked into output")
      assert(r.getAs[Long]("n_spans") ==
        r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped_stored") +
          r.getAs[Long]("n_dropped_dup"),
        s"drop reasons don't partition doc ${r.getAs[Long]("doc_id")}")
    }
  }

  test("decontaminate: flags only train docs, with positive overlap counts") {
    Curation.decontaminate(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 != 0, "eval doc leaked into output")
      assert(r.getAs[Long]("n_shared_ngrams") >= 1)
    }
  }

  test("repetitionSignals: permille ranges and keep-rule consistency") {
    val rows = Curation.repetitionSignals(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top = r.getAs[Long]("top_bigram_permille")
      val dst = r.getAs[Long]("distinct_bigram_permille")
      assert(top >= 0 && top <= 1000)
      assert(dst >= 0 && dst <= 1000)
      assert(r.getAs[Boolean]("keep") == (top <= 60))
      assert(r.getAs[Long]("n_distinct_bigrams") <= r.getAs[Long]("n_bigrams"))
    }
  }

  test("domainMixture: weights are a permille partition of the corpus") {
    val rows = Curation.domainMixture(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("weight_permille")).sum
    // floor rounding loses < 1 permille per source
    assert(total <= 1000 && total > 1000 - rows.length,
      s"sum of weights $total over ${rows.length} sources")
  }

  test("stratifiedSample: deterministic, rate-respecting, content-free") {
    val a = Curation.stratifiedSample(spark, dir).collect()
    val b = Curation.stratifiedSample(spark, dir).collect()
    assert(a.map(_.getAs[Long]("doc_id")).toSeq ==
      b.map(_.getAs[Long]("doc_id")).toSeq, "sample not deterministic")
    a.foreach(r => assert(
      r.getAs[Long]("bucket") < r.getAs[Long]("rate_permille")))
  }

  test("packSequences: per-source offsets are contiguous and seq spans sane") {
    val rows = Curation.packSequences(spark, dir).collect()
      .groupBy(_.getAs[String]("source"))
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("start_off") == off, "offset gap in packing")
        off += r.getAs[Long]("n_tokens")
        assert(r.getAs[Long]("seq_first") <= r.getAs[Long]("seq_last"))
        assert(r.getAs[Long]("n_seqs") ==
          r.getAs[Long]("seq_last") - r.getAs[Long]("seq_first") + 1)
      }
    }
  }

  test("blocklistFilter: density math consistent, both keep classes occur") {
    val rows = Curation.blocklistFilter(spark, dir).collect()
    assert(rows.length == Tables.documents(spark, dir).count())
    rows.foreach { r =>
      val (w, bad, pm) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("bad_hits"), r.getAs[Long]("bad_permille"))
      assert(bad <= w)
      assert(pm == bad * 1000 / w)
      assert(r.getAs[Long]("keep") ==
        (if (pm < Curation.BlockMaxPermille) 1L else 0L))
    }
    assert(rows.map(_.getAs[Long]("keep")).distinct.length == 2,
      "threshold must actually split the corpus")
  }

  test("funnel fed from persisted stage outputs equals the recomputing form") {
    import graft.operators.Dedup
    val base = tempDir("funnelstage")
    val pairsDir = base.resolve("simhash_pairs").toString
    val contamDir = base.resolve("contaminated").toString
    // the pipeline owner's flow: stage outputs persisted once...
    Dedup.simhashPairs(spark, dir).write.parquet(pairsDir)
    Curation.decontaminate(spark, dir).write.parquet(contamDir)
    // ...then every funnel report run joins the stored id sets instead
    // of re-deriving SimHash bands + the n-gram contamination join
    val fed = Curation.funnel(spark, dir,
      nearDupPairs = Some(spark.read.parquet(pairsDir)),
      contamination = Some(spark.read.parquet(contamDir)))
    val recomputed = Curation.funnel(spark, dir)
    assert(fed.collect().toSeq == recomputed.collect().toSeq)
    // the fed plan must not contain the SimHash banding machinery:
    // its only exchanges are the two id-set joins + the global agg
    val plan = fed.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"),
      "fed funnel should not re-derive SimHash bands:\n" + plan.take(2000))
  }

  test("curationRuns: provenance reconciles with the funnel; recordRun stages it") {
    val runs = Curation.curationRuns(spark, dir).collect()
    val stages = Curation.funnel(spark, dir).collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens")))
    assert(runs.length == 5)
    // one run id across all stages, content-derived (16 hex chars)
    val ids = runs.map(_.getAs[String]("run_id")).distinct
    assert(ids.length == 1 && ids.head.matches("[0-9a-f]{16}"))
    // each stage's in = previous stage's out; dropped = in - out
    runs.sortBy(_.getAs[String]("stage")).zipWithIndex.foreach {
      case (r, i) =>
        val (in, out, dropped) = (r.getAs[Long]("docs_in"),
          r.getAs[Long]("docs_out"), r.getAs[Long]("docs_dropped"))
        assert(out == stages(i)._2)
        assert(in == (if (i == 0) stages(0)._2 else stages(i - 1)._2))
        assert(dropped == in - out)
        assert(r.getAs[Long]("tokens_out") == stages(i)._3)
    }
    // the durable channel: two recorded runs of the same corpus share
    // the run id AND the write is idempotent — re-recording overwrites
    // the run's partition instead of appending duplicate stage rows
    val table = tempDir("curruns").resolve("curation_runs").toString
    val id1 = Curation.recordRun(spark, dir, table)
    val id2 = Curation.recordRun(spark, dir, table)
    assert(id1 == ids.head && id2 == id1)
    val stored = spark.read.parquet(table)
    assert(stored.count() == 5)
    assert(stored.select("run_id").distinct().count() == 1)
    // a run with different injected stage inputs (here: no near-dup
    // pairs at all) changes downstream counts -> distinct run id, and
    // its partition coexists with the first run's
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("doc_b", org.apache.spark.sql.types.LongType))
    val id3 = Curation.recordRun(spark, dir, table, nearDupPairs = Some(empty))
    assert(id3 != id1)
    val stored2 = spark.read.parquet(table)
    assert(stored2.count() == 10)
    assert(stored2.select("run_id").distinct().count() == 2)
    // run_id is a DATA column typed STRING — partitioning is on the
    // "r-"-prefixed run_part, so partition-value type inference can
    // never reinterpret an all-digit id as LONG/DECIMAL on read
    assert(stored2.schema("run_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(stored2.select("run_part").distinct().collect()
      .forall(_.getString(0).startsWith("r-")))
    // latest-run equality filter against the returned string id works
    assert(stored2.filter(col("run_id") === id3).count() == 5)
  }

  test("staged funnel inputs: Auto path is content-identical to recompute") {
    import graft.streaming.StageCache
    def plan(): String = Curation.funnelAuto(spark, dir)
      .queryExecution.optimizedPlan.toString.toLowerCase
    val recomputedFunnel = Curation.funnel(spark, dir).collect().toSeq
    val recomputedRuns = Curation.curationRuns(spark, dir).collect().toSeq
    sys.props(StageCache.Prop) = tempDir("graftcache").toString
    try {
      // the first report stages both inputs; the later ones read them
      val cachedFunnel = Curation.funnelAuto(spark, dir).collect().toSeq
      val cachedRuns = Curation.curationRunsAuto(spark, dir).collect().toSeq
      assert(cachedFunnel == recomputedFunnel)
      assert(cachedRuns == recomputedRuns)
      // and the cached plan really skips the SimHash banding recompute
      assert(!plan().contains("posexplode"),
        "staged funnel should not re-derive SimHash bands:\n" + plan().take(2000))
    } finally sys.props.remove(StageCache.Prop)
    // with the property cleared, Auto falls back to recompute
    assert(plan().contains("posexplode"))
    assert(Curation.funnelAuto(spark, dir).collect().toSeq == recomputedFunnel)
  }

  test("mixtureEpochs: cap respected, planned tokens track the target") {
    val rows = Curation.mixtureEpochs(spark, dir).collect()
    assert(rows.nonEmpty)
    val grand = rows.map(_.getAs[Long]("src_tokens")).sum
    rows.foreach { r =>
      val (src, tgt, ep, planned) = (r.getAs[Long]("src_tokens"),
        r.getAs[Long]("target_tokens"), r.getAs[Long]("epochs_permille"),
        r.getAs[Long]("planned_tokens"))
      assert(tgt == grand * Curation.MixtureBudgetFactor / rows.length)
      assert(ep <= Curation.MaxEpochsPermille && ep > 0)
      assert(planned == src * ep / 1000)
      // uncapped sources land within rounding of the target share
      if (ep < Curation.MaxEpochsPermille)
        assert(planned <= tgt && planned >= tgt - src / 1000 - 1)
    }
  }

  test("lengthHistogram: buckets partition the corpus, coverage reaches 1000 permille") {
    val rows = Curation.lengthHistogram(spark, dir).collect()
    val n = Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    val cums = rows.map(_.getAs[Long]("cum_docs"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a < b })
    assert(cums.last == n)
    assert(rows.last.getAs[Long]("cum_permille") == 1000L)
    rows.foreach { r =>
      // every doc in a bucket has len in [bucket*W, (bucket+1)*W)
      val (b, nd, tc) = (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_chars"))
      assert(tc >= b * Curation.HistBucketChars * nd)
      assert(tc < (b + 1) * Curation.HistBucketChars * nd)
    }
  }

  test("tokenBudgetSample: exact prefix cutoff — under budget, and the next doc would breach it") {
    val rows = Curation.tokenBudgetSample(spark, dir).collect()
    assert(rows.nonEmpty)
    // independent per-source recompute of the hash-ordered prefix walk
    val docs = Tables.documents(spark, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
      .withColumn("bucket", Curation.shaBucket(col("doc_id")))
      .select("source", "doc_id", "bucket", "tok")
      .collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (src, rs) =>
        src -> rs.sortBy(r =>
          (r.getAs[Long]("bucket"), r.getAs[Long]("doc_id")))
          .map(_.getAs[Long]("tok")).toList
      }
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val (nDocs, kept, cut) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("tokens_kept"), r.getAs[Long]("cum_at_cut"))
      assert(kept == cut, s"$src: running sum at the cut must equal the kept total")
      assert(kept <= Curation.TokenBudget, s"$src breaches the budget")
      assert(r.getAs[Long]("fill_permille") == kept * 1000 / Curation.TokenBudget)
      val toks = docs(src)
      if (nDocs < toks.length)
        assert(kept + toks(nDocs.toInt) > Curation.TokenBudget,
          s"$src: cutoff is not maximal — the next hash-ordered doc still fits")
      else assert(kept == toks.sum, s"$src: kept everything but totals drift")
    }
  }

  test("quantizeInt8: codes span 0..255 and hit both range endpoints") {
    val rows = Similarity.quantizeInt8(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getAs[String]("codes").split(",").map(_.toInt)
      assert(codes.length == 64)
      assert(codes.forall(c => c >= 0 && c <= 255))
      if (r.getAs[Double]("vmax") > r.getAs[Double]("vmin")) {
        assert(codes.contains(0), "vmin dimension must map to code 0")
        assert(codes.contains(255), "vmax dimension must map to code 255")
      }
    }
  }
}
