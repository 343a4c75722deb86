package graft


/** Locks in the plan shapes the round-2 rewrites bought: these queries
  * hash-match the oracle regardless, but at 100 TB their PLANS are the
  * difference between working and melting down — so the shapes are
  * asserted, not just eyeballed in PLANS.md. */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("the PDF decode rows are per-row kernels: no mid-plan shuffle") {
    // the only Exchange each row may plan is the final orderBy's range
    // partitioning — fixture build + decode must stay a map over the
    // documents scan (a hashpartitioning Exchange would mean the
    // kernel grew a join/groupBy it does not need)
    Seq("doc_pdf_crypt", "doc_pdf_cid", "doc_word_lines").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q: ${p.take(3000)}")
    }
  }

  test("the media codec rows are per-row kernels: no mid-plan shuffle") {
    // same contract as the PDF rows: encode + REAL decode (PNG/GIF/
    // BMP/baseline/color/progressive JPEG) + resample stay a map over
    // the documents scan; the only allowed Exchange is the final
    // orderBy's range partitioning
    Seq("doc_png_resize", "doc_gif_resize", "doc_bmp_resize",
      "doc_jpeg_resize", "doc_jpeg_color", "doc_jpeg_prog",
      "doc_mp4_demux", "doc_avi_frames", "doc_avi_rgb", "doc_avi_delta",
      "doc_audio_resample", "src_scan_warc", "ingest_warc_e2e",
      "src_warc_quarantine", "src_scan_wet")
      .foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q: ${p.take(3000)}")
    }
  }

  test("layout_warc_cdx pins broadcast on the CDX-index side and " +
      "never shuffles the archives") {
    // record-level pruned access: the url-filtered CDX selection is
    // k-row metadata and must broadcast onto the archive rows — a
    // SortMergeJoin here would shuffle every archive's bytes to pair
    // them with their own index entries
    val df = SparkEntry.queries("layout_warc_cdx")(spark, dir)
    df.collect() // judge the AQE-final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("layout_warc_cdx_gz is file-native: seek fetch over the k-row " +
      "CDX selection, no join, no content column") {
    // r20: the compressed-seek row reads archives off the FILESYSTEM —
    // the CDX selection maps straight to open+seek+read, so there is
    // no archive-bytes join side at all (the r19 shape broadcast the
    // index onto a whole-archive content column, re-inheriting the
    // 2 GiB binaryFile cap)
    val df = SparkEntry.queries("layout_warc_cdx_gz")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("MapPartitions"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("content"), p.take(3000))
  }

  test("the batch archive compositions route through the V2 connector " +
      "with type pushdown and body-column pruning") {
    // r19 verdict task 3: ingest_warc_e2e and src_scan_wet must plan a
    // WarcScan (the streaming, content-column-free entry), with the
    // warc_type equality pushed into the record walk and the checksum
    // columns pruned away (the body IS consumed, the checksum is not)
    val ingest = SparkEntry.queries("ingest_warc_e2e")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(ingest.contains("WarcScan"), ingest.take(3000))
    assert(ingest.contains("pushedTypes=response"), ingest.take(3000))
    assert(!ingest.contains("body_checksum"), ingest.take(3000))
    val wet = SparkEntry.queries("src_scan_wet")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(wet.contains("WarcScan"), wet.take(3000))
    assert(wet.contains("pushedTypes=conversion"), wet.take(3000))
    assert(!wet.contains("body_checksum"), wet.take(3000))
  }

  test("sync_warc_revisit joins revisit records to the digest store " +
      "hash-to-hash, no cartesian") {
    val p = planOf("sync_warc_revisit")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("dedup_minhash_delta broadcasts the batch, never shuffles the store") {
    // the incremental-dedup scale contract: the corpus-side triples
    // stream map-side through a BroadcastHashJoin (the batch delta is
    // the broadcast side); a SortMergeJoin would mean the whole store
    // shuffles on every daily ingest. Executed first so AQE's FINAL
    // plan is judged (the static plan conservatively stages the tiny
    // verdict left-join as SMJ before runtime stats arrive).
    val df = SparkEntry.queries("dedup_minhash_delta")(spark, dir)
    df.collect()
    // judge only the final adaptive plan (toString appends the initial
    // pre-AQE plan, which legitimately stages tiny joins as SMJ)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("dedup_simhash_wide_delta broadcasts the batch bands") {
    // the wide kernel's incremental contract, same as the minhash
    // delta: the corpus-side banded rows stream map-side through a
    // BroadcastHashJoin; judged on the final adaptive plan
    val df = SparkEntry.queries("dedup_simhash_wide_delta")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), p.take(500))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("dedup_embedding has no cartesian / nested-loop join") {
    val p = planOf("dedup_embedding")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("doc_get_chunks pushes the doc filter into the parquet scan") {
    val p = planOf("doc_get_chunks")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(doc_id,42)"),
      p.take(2000))
  }

  test("q_query_documentation serves top-4 via TakeOrderedAndProject") {
    val p = planOf("q_query_documentation")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q17_asof_custom plans the custom AsOfJoin exec") {
    val p = planOf("q17_asof_custom")
    assert(p.contains("AsOfJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("ctl_log_tail_seq reuses one exchange for window + aggregate") {
    // row_number partitions by run_id and the groupBy keys on run_id:
    // the aggregate must ride the window's hash partitioning, not add
    // a second shuffle of the events table
    val p = planOf("ctl_log_tail_seq")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${p.take(3000)}")
  }

  test("ctl_log_retention broadcasts the run-end dimension") {
    val p = planOf("ctl_log_retention")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("sync_metadata_exclusion has no cartesian join") {
    val p = planOf("sync_metadata_exclusion")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("emb_ann_ivf touches no KMeans/MLlib stage (pure arithmetic quantizer)") {
    val p = planOf("emb_ann_ivf")
    assert(!p.toLowerCase.contains("kmeans"), p.take(2000))
  }

  test("q2 filters reach the lineitem scan") {
    val p = planOf("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(2000))
  }

  test("doc_sample_stratified is shuffle-free (pure scan-side filter)") {
    // the whole point of hash-bucket sampling: at 100 TB the sample is
    // selected during the scan — no aggregation, no join, no hash
    // exchange (the trailing orderBy is output ordering, not a shuffle
    // of grouped state)
    val p = planOf("doc_sample_stratified")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("dedup_decontaminate broadcasts the eval n-grams") {
    // the train side (100 TB at scale) must never shuffle before the
    // overlap join — only the tiny eval side moves
    val p = planOf("dedup_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, // eval distinct + final per-doc count, nothing else
      s"$exchanges exchanges:\n${p.take(3000)}")
  }

  test("dedup_spans shuffles exactly twice (span hash, then doc)") {
    val p = planOf("dedup_spans")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"$exchanges exchanges:\n${p.take(3000)}")
  }

  test("doc_shard_shuffle sorts per shard, never a global window") {
    // the training-order shuffle's scale contract: the rank window
    // partitions by shard (one hash exchange + per-shard sort);
    // a single-partition window would serialize the corpus sort
    val p = planOf("doc_shard_shuffle")
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    assert(p.contains("hashpartitioning(shard"), p.take(3000))
  }

  test("curation_shards_e2e composes without a single-partition stage") {
    // gate scan-side; dedup window on content hash; shuffle rank and
    // manifest on the shard exchange — nothing funnels through one
    // partition
    val p = planOf("curation_shards_e2e")
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
    assert(p.contains("hashpartitioning(shard"), p.take(3000))
  }

  test("doc_pack_sequences never plans a single-partition window") {
    // packing partitions by the shard key; a global prefix-sum window
    // (Exchange SinglePartition) would serialize the whole corpus
    // through one task at 100 TB
    val p = planOf("doc_pack_sequences")
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("doc_sample_balanced broadcasts the derived rate table onto the scan") {
    // the stats pass may shuffle its 20-row aggregates; the document
    // scan itself must meet the rates via broadcast, never sort-merge
    val p = planOf("doc_sample_balanced")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("emb_quantize_int8 is a zero-shuffle per-row map") {
    val p = planOf("emb_quantize_int8")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_blocklist_filter is a zero-shuffle scan pass") {
    val p = planOf("doc_blocklist_filter")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("doc_length_histogram windows over the aggregate, not the corpus") {
    // the only SinglePartition exchange allowed is the one carrying
    // histogram buckets into the cumulative window — it must sit ABOVE
    // the bucket aggregation in the plan (i.e. the corpus has already
    // collapsed); the document scan itself must shuffle once (the
    // groupBy(bucket) partials)
    val p = planOf("doc_length_histogram")
    val agg = p.indexOf("HashAggregate")
    val single = p.indexOf("Exchange SinglePartition")
    assert(agg >= 0 && single >= 0, p.take(3000))
    assert(single < p.lastIndexOf("HashAggregate"),
      s"single-partition exchange below every aggregate:\n${p.take(3000)}")
  }

  test("doc_mixture_epochs broadcasts the 1-row totals") {
    val p = planOf("doc_mixture_epochs")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("emb_ann_range joins bands hash-to-hash, never nested-loop") {
    val p = planOf("emb_ann_range")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q28_grouping_sets expands in ONE aggregation pass (single shuffle)") {
    val p = planOf("q28_grouping_sets")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${p.take(3000)}")
  }

  test("q29_pivot aggregates, never joins per pivot value") {
    // Spark's pivot is a two-level aggregate: per-(flag,status)
    // partials, then pivotfirst per flag — both exchanges carry only
    // group rows. The failure shape to guard against is a join (or
    // scan) per pivot value.
    val p = planOf("q29_pivot")
    assert(!p.contains("Join"), p.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(3000)}")
    assert("FileScan".r.findAllIn(p).length == 1, p.take(3000))
  }

  test("q30_activity_islands shuffles on user_id only (no global window)") {
    val p = planOf("q30_activity_islands")
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("src_scan_filters is a zero-shuffle scan pass") {
    // the decision cascade is pure codegen column logic over one scan;
    // only the final orderBy may range-partition
    val p = planOf("src_scan_filters")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("ctl_config_registry is one hash join, no cartesian") {
    val p = planOf("ctl_config_registry")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("dedup_minhash_calib joins hash-to-hash, never nested-loop or cartesian") {
    val p = planOf("dedup_minhash_calib")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("dedup_cross_source: no cartesian; aggregate collapses to source pairs") {
    val p = planOf("dedup_cross_source")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("curation_runs windows over the 5-row funnel aggregate, not documents") {
    // the lag/first windows must sit ABOVE the funnel's single global
    // aggregate in the plan: by the time any Window runs, the corpus
    // has collapsed to the 5 stage rows
    val p = planOf("curation_runs")
    val win = p.indexOf("Window")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(win >= 0, p.take(3000))
    assert(win < lastAgg,
      s"a Window sits below the stage aggregate:\n${p.take(3000)}")
  }

  test("dedup_simhash_wide: banded equi-join, no cartesian/nested-loop") {
    // the wide kernel's whole point is that candidates come from a
    // compound-key hash join — a cartesian or nested-loop here would
    // mean the adaptive banding silently degenerated to all-pairs
    val p = planOf("dedup_simhash_wide")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no equi-join found in the wide-pair plan:\n${p.take(3000)}")
  }

  test("dedup_clusters_wide: no cartesian anywhere in the scale chain") {
    val p = planOf("dedup_clusters_wide")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("ingest_tabs is a zero-shuffle per-row map (plus the final sort)") {
    // the full tab-flattening cascade is a typed map over the scan —
    // the only exchange allowed is the rangepartitioning of the
    // result ORDER BY, never a hash shuffle of page content
    val p = planOf("ingest_tabs")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("doc_chunk_code is a zero-shuffle per-row chunker (plus final sort)") {
    val p = planOf("doc_chunk_code")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("multimodal rows are zero-shuffle per-row kernels (plus final sort)") {
    // resize/feature-diagnostics are per-payload maps, frame sampling
    // is a per-payload flatMap fan-out — none of them may plan a hash
    // shuffle; the only Exchange allowed is the result ORDER BY's
    // range partitioning. At 100 TB of media this is the difference
    // between a scan-speed pass and a corpus shuffle.
    Seq("doc_media_resize", "doc_frame_sample", "doc_media_features")
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("Exchange hashpartitioning"),
          s"$q: ${p.take(3000)}")
      }
  }

  test("nearDupPairsAuto keeps the banded equi-join shape on BOTH routes") {
    Seq(Some(100L), Some(graft.operators.Dedup.SimhashAutoMaxDocs + 1))
      .foreach { size =>
        val p = graft.operators.Dedup.nearDupPairsAuto(spark, dir, size)
          .queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"), s"$size: ${p.take(2000)}")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$size: ${p.take(2000)}")
      }
  }

  test("q_search_bm25 prunes the token stream with a BROADCAST term filter") {
    // the scale contract: the explode output joins the broadcast query
    // terms BEFORE any aggregate, so the shuffled postings are
    // O(matched), not O(corpus tokens); every scoring join broadcasts
    val p = planOf("q_search_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_search_phrase prunes postings with broadcast terms, no self-join chain") {
    // the anchored intersection is ONE join + one aggregate whatever
    // the phrase length — a per-word self-join chain would smell as
    // multiple SortMergeJoins
    val p = planOf("q_search_phrase")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dedup_substring never plans a pairwise join") {
    // duplicated windows are found by one hash aggregate on the window
    // hash and joined back by key — all-pairs would be a cartesian
    val p = planOf("dedup_substring")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("store_compaction is one partition-window pass (single hash exchange)") {
    val p = planOf("store_compaction")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx: ${p.take(3000)}")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("layout_zorder assigns files by fixed-width z-range: no global sort window") {
    // file ids come from zkey bits, NOT a global row_number — a Window
    // in this plan would mean a single-partition sort at 100 TB
    val p = planOf("layout_zorder")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("dedup_substring_delta broadcasts the batch windows") {
    // same incremental contract as the minhash/simhash deltas: the
    // store-side window stream flows map-side through a
    // BroadcastHashJoin (batch is the broadcast side); judged on the
    // final adaptive plan
    val df = SparkEntry.queries("dedup_substring_delta")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("doc_heavy_hitters_cms: distributed top-k, bounded-state sketch join") {
    // the exact top-20 must come from per-partition heaps
    // (TakeOrderedAndProject), not a single-partition window; the
    // sketch probe joins by (row, bucket) key — never nested-loop
    val p = planOf("doc_heavy_hitters_cms")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q31_salted_skew_join joins on the composite (key, salt)") {
    // the salt column must reach the join keys — that is what fans a
    // hot key across reducers; and salting must not degrade the join
    // to a cartesian
    val p = planOf("q31_salted_skew_join")
    assert(p.contains("__salt"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("doc_ngram_lm forms bigrams from the array: no per-doc window shuffle") {
    // adjacent-pair transform on the token array replaces the lead()
    // window — the plan must not exchange the token stream by doc_id
    // just to pair neighbors
    val p = planOf("doc_ngram_lm")
    assert(!p.contains("Window"), p.take(3000))
  }

  test("graph_components_delta never shuffles the label table") {
    // the incremental contract: both endpoint-label probes and the
    // final relabel keep the delta side broadcast — a SortMergeJoin
    // would mean the corpus-sized label state exchanges on every
    // daily delta
    val df = SparkEntry.queries("graph_components_delta")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("mv_incremental recomputes min/max via a broadcast semi-join") {
    // the incremental-MV scale contract: the maintained base table is
    // only read for delete-affected groups, semi-joined to a
    // broadcast key set — a shuffled semi-join would mean every daily
    // refresh exchanges the base table on the group key
    val df = SparkEntry.queries("mv_incremental")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), p.take(3000))
  }

  test("stats_quantile_sketch never globally sorts the corpus") {
    // the exact side rank-selects inside the histogram-located bucket:
    // the only window sorts run per-probe over bucket members, and the
    // histogram cumsum runs over the ≤257-row aggregate — a
    // single-partition window over the raw values would be the global
    // sort the sketch exists to avoid
    val p = planOf("stats_quantile_sketch")
    assert(!p.contains("Sort [v#"), p.take(3000)) // no bare global sort
    assert(p.contains("BroadcastExchange"), // stats + located buckets ride broadcasts
      p.take(3000))
  }

  test("doc_audio_levels is a zero-shuffle per-row codec (plus final sort)") {
    val p = planOf("doc_audio_levels")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("curation_token_budget: one hash exchange on source feeds the running sum") {
    val p = planOf("curation_token_budget")
    assert(p.contains("hashpartitioning(source"), p.take(3000))
    // the window must be per-source, never single-partition (the final
    // orderBy is range-partitioned, so any SinglePartition exchange in
    // the plan would be the window collapsing to one reducer)
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q33_salted_agg fans partials on (key, salt) and broadcasts the distinct counts") {
    val df = SparkEntry.queries("q33_salted_agg")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("__salt"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q34_sql_correlated decorrelates every subquery into joins") {
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti, scalar aggregates →
    // aggregate-then-join; a surviving per-row subquery node would be
    // the O(rows × probe) shape decorrelation exists to prevent
    val p = planOf("q34_sql_correlated")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.toLowerCase.contains("scalarsubquery("), p.take(3000))
  }

  test("stats_table_profile scans are column-pruned to the profiled column") {
    // each per-column aggregate must push a one-column ReadSchema into
    // its parquet scan — a profile that drags full rows through the
    // NDV shuffle reads the whole table once per column at 100 TB.
    // Audited on the pre-materialization stage: the production path
    // checkpoints it (so the rollup + join reuse one execution), which
    // truncates the lineage this evidence lives in.
    val p = graft.operators.Stats.perColumnStats(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_returnflag:string>"),
      p.take(4000))
    assert(p.contains("ReadSchema: struct<n_name:string>"), p.take(4000))
  }

  test("orc scan prunes lang partitions and pushes the n_chars filter") {
    import org.apache.spark.sql.functions.{col, split}
    // the src_scan_orc read side: of 5 lang partition dirs only the 2
    // selected ones may reach IO, and the row-level predicate must be
    // pushed to the ORC reader rather than filtered post-scan
    val base = java.nio.file.Files.createTempDirectory("orcplan")
    try {
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          split(col("text"), " ", -1).as("tokens"), col("lang"))
        .write.partitionBy("lang").orc(s"$base/in")
      // the scan stage alone (same read+filter the full query plans;
      // the aggregate on top would wrap the plan in AQE and hide the
      // FileSourceScanExec from collectLeaves)
      val df = spark.read.orc(s"$base/in")
        .filter(col("lang").isin("en", "fr") && col("n_chars") >= 200)
      df.count()
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.getOrElse(fail("no FileSourceScanExec in the plan"))
      val pf = scan.partitionFilters.mkString(";")
      assert(pf.contains("lang"),
        s"lang must reach the scan's PartitionFilters: $pf")
      assert(scan.selectedPartitions.partitionCount == 2,
        s"expected 2 pruned lang partitions, scanned " +
          s"${scan.selectedPartitions.partitionCount}")
      assert(scan.metadata.get("PushedFilters").exists(
          _.contains("GreaterThanOrEqual(n_chars,200)")),
        s"n_chars predicate not pushed: ${scan.metadata.get("PushedFilters")}")
    } finally graft.operators.Sync.deleteTree(base.toFile)
  }

  test("emb_knn_rewrite: the optimizer rule prunes the index scan to " +
      "nprobe cell partitions") {
    // SURVEY §4 item 3's plan evidence: the user-level query is a plain
    // ORDER BY cosine DESC LIMIT k — no cell column anywhere — yet the
    // physical index scan must carry the injected quantizer predicate
    // in PartitionFilters and read at most nprobe of nlist partitions
    // the scan stage alone (the rank window on top wraps the plan in
    // AQE and hides the FileSourceScanExec from collectLeaves — same
    // technique as the ORC pin)
    val df = graft.operators.Similarity.knnRewriteScan(spark, dir)
      .getOrElse(fail("non-empty corpus must yield a scan"))
    df.count()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(
              _.contains("graft_knn_rewrite_idx")) => f
      }.getOrElse(fail("no index FileSourceScanExec in the plan"))
    assert(scan.partitionFilters.mkString(";").contains("cell"),
      s"cell not in PartitionFilters: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount <=
        graft.operators.Similarity.IvfNprobe,
      s"scanned ${scan.selectedPartitions.partitionCount} cells, " +
        s"nprobe is ${graft.operators.Similarity.IvfNprobe}")
  }

  test("chunk store prunes to one (product_name, version) partition pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 2 products × 3 versions: a collection-scoped read (SURVEY §1.3)
    // must prune to ONE of the six partition directories at planning
    // time — at one-table-many-versions scale, a store partitioned by
    // product alone rescans every version's files for each query
    val tmp = java.nio.file.Files.createTempDirectory("prune").toString +
      "/chunks"
    val rows = for (p <- Seq("alpha", "beta"); v <- Seq("1.0", "2.0", "3.0");
                    i <- 0 until 4)
      yield (s"doc://$p/$v/$i", p, v, s"c$p$v$i", s"content $i")
    graft.sources.ChunkStore.write(
      rows.toDF("url", "product_name", "version", "chunk_id", "content"),
      tmp)
    val scoped = graft.sources.ChunkStore.read(spark, tmp)
      .filter(col("product_name") === "alpha" && col("version") === "2.0")
    assert(scoped.count() == 4)
    val scan = scoped.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in the plan"))
    val pf = scan.partitionFilters.mkString(";")
    assert(pf.contains("product_name") && pf.contains("version"),
      s"both partition columns must reach the scan's PartitionFilters: $pf")
    // the pruning evidence itself: the scan selected exactly the one
    // partition directory's files, not all six
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
    graft.operators.Sync.deleteTree(
      new java.io.File(tmp).getParentFile)
  }
}
