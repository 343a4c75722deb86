package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Dataset-curation operators for large-scale pretraining pipelines —
  * the layer between raw ingested documents and the training mixture:
  * global span-level dedup (C4-style, Raffel et al. 2020 §2.2),
  * benchmark decontamination (GPT-3 appendix C n-gram overlap),
  * repetition-based quality signals (Gopher, Rae et al. 2021 §A1.1),
  * per-domain mixture statistics, deterministic stratified sampling
  * (the mixture-weight executor), and sequence packing (concat-and-chunk
  * as in GPT pretraining).
  *
  * Scale design (100 TB):
  *   - span dedup: ONE shuffle keyed by span hash (the window) + one by
  *     doc_id (reassembly) — the minimum for a global keep-first rule;
  *     nothing is ever collected to the driver.
  *   - decontamination: eval-set n-grams are tiny relative to the train
  *     corpus by construction, so the overlap join broadcasts the eval
  *     side — the 100 TB train side is never shuffled (plan-asserted).
  *   - repetition/quality: explode + partial-aggregating groupBy keyed by
  *     doc — map-side combine absorbs the per-gram fan-out.
  *   - stratified sampling: a pure scan-side filter on a content-free
  *     hash — ZERO shuffle, no sort, resumable and deterministic across
  *     reruns/retries (plan-asserted shuffle-free).
  *   - packing: windowed prefix-sum PARTITIONED BY the shard key
  *     (source), never a global single-partition window.
  *
  * All hashes derive from sha256 hex prefixes so the DuckDB oracle
  * reproduces them exactly; ratios use integer permille arithmetic.
  */
object Curation {

  /** Words per dedup span (non-overlapping word windows). */
  val SpanWords = 10

  /** Decontamination n-gram order (13 in GPT-3's appendix C; 4 here so
    * the ~55-word synthetic docs actually exhibit overlap). */
  val ContamN = 4

  /** Sequence length (est. BPE tokens) for packing. */
  val SeqLen = 1024L

  private def ws(c: Column): Column = split(c, " ")

  /** Global span-level deduplication, the C4 rule lifted to a corpus
    * without newlines: each document is cut into non-overlapping
    * [[SpanWords]]-word spans; every span keeps only its FIRST occurrence
    * corpus-wide (first = smallest (doc_id, position)); documents are
    * reassembled from their surviving spans. Emits per-doc span counts
    * and the sha256 of the reassembled text (empty string when nothing
    * survives, matching the oracle's coalesce).
    *
    * Reference analog: the chunk-hash skip (doc2vec.ts:1606-1639)
    * dedups within a URL; this is the corpus-global generalization a
    * pretraining pipeline needs. */
  /** (doc_id, pos, span, h): the non-overlapping word spans of each
    * document with their sha256-prefix hashes. */
  private[graft] def spansOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
              sequence(0, CAST((size(split(text,' ')) + ${SpanWords - 1})
                               div $SpanWords AS INT) - 1),
              j -> concat_ws(' ', slice(split(text,' '),
                                        j * $SpanWords + 1, $SpanWords)))"""))
        .as(Seq("pos", "span")))
      .withColumn("h",
        conv(substring(sha2(col("span"), 256), 1, 14), 16, 10).cast("long"))

  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val spans = spansOf(docs)
    // keep-first: rank occurrences of each distinct span by document
    // order; rank 1 survives. Shuffle is keyed by the span hash, so each
    // reducer sees one span's occurrence list — no global sort.
    val ranked = spans.withColumn("rn",
      row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
    ranked
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sha2(array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("pos"), col("span"))))),
          x => x.getField("span")), " "), 256).as("kept_hash"))
      .orderBy("doc_id")
  }

  /** Incremental span dedup — [[spanDedup]] for the continuous-crawl
    * case: an INCOMING batch (doc_id % 3 == 0 stands in for the new
    * crawl) is deduped against the span-hash index of the STORED
    * corpus (the rest), plus keep-first within the batch itself. Per
    * incoming doc: spans dropped because the stored index already has
    * them, spans dropped as within-batch later duplicates, spans kept.
    *
    * Scale: the stored side reduces to DISTINCT HASHES (8 bytes a
    * span — an index, not the corpus); the marker join and the
    * keep-first window both key on the span hash, so one
    * hash-partitioning serves both and only the incoming batch ever
    * carries text. This is the reference's chunk-hash skip
    * (doc2vec.ts:1606-1639) promoted to corpus scope. */
  def spanDedupDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val stored = spansOf(docs.filter(col("doc_id") % 3 =!= 0))
      .select("h").distinct().withColumn("in_stored", lit(1L))
    val incoming = spansOf(docs.filter(col("doc_id") % 3 === 0))
    val rn = row_number().over(
      Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos")))
    incoming
      .join(stored, Seq("h"), "left")
      .withColumn("rn", rn)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("in_stored").isNotNull, 1L).otherwise(0L))
          .as("n_dropped_stored"),
        sum(when(col("in_stored").isNull && col("rn") > 1, 1L)
          .otherwise(0L)).as("n_dropped_dup"),
        sum(when(col("in_stored").isNull && col("rn") === 1, 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word-[[ContamN]]-gram with the held-out evaluation slice (doc_id
    * divisible by 97 stands in for the benchmark set). Emits one row per
    * contaminated train doc with its distinct-shared-n-gram count — the
    * GPT-3 appendix-C rule (13-grams there, scaled to this corpus's
    * ~55-word docs).
    *
    * Scale: the eval set is small by construction (benchmarks are MBs,
    * the corpus is TBs), so its distinct n-grams BROADCAST; the train
    * side stays map-side only until the final per-doc count — asserted
    * shuffle-shape in PlanAuditSpec. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    def grams(df: DataFrame): DataFrame = df
      .filter(size(ws(col("text"))) >= ContamN) // sequence(0, <0) descends
      .select(col("doc_id"), explode(array_distinct(expr(
        s"""transform(sequence(0, size(split(text,' ')) - $ContamN),
              i -> concat_ws(' ', slice(split(text,' '), i + 1, $ContamN)))""")))
        .as("gram"))
    val eval  = grams(docs.filter(col("doc_id") % 97 === 0))
      .select("gram").distinct()
    val train = grams(docs.filter(col("doc_id") % 97 =!= 0))
    train
      .join(broadcast(eval), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals: fraction of word-bigram
    * occurrences claimed by the single most frequent bigram (top-bigram
    * coverage) and bigram vocabulary diversity, in integer permille; the
    * keep rule mirrors Gopher's "top 2-gram fraction" cut (0.20 there;
    * 0.06 here so both branches are exercised on this low-repetition
    * synthetic corpus). One explode + one map-side-combining groupBy
    * per doc. */
  def repetitionSignals(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val bigrams = docs
      .filter(size(ws(col("text"))) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(split(text,' ')) - 2),
             i -> concat_ws(' ', slice(split(text,' '), i + 1, 2)))"""))
        .as("gram"))
    bigrams
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_c"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("n_distinct_bigrams"),
        expr("top_c * 1000 div n_bigrams").as("top_bigram_permille"),
        expr("n_distinct_bigrams * 1000 div n_bigrams")
          .as("distinct_bigram_permille"),
        (expr("top_c * 1000 div n_bigrams") <= 60).as("keep"))
      .orderBy("doc_id")
  }

  /** Per-domain mixture statistics: document counts, total estimated
    * tokens, language spread, and each domain's token share of the
    * corpus in permille — the table a mixture-weight tuner reads. The
    * grand total is a one-row aggregate broadcast into the per-domain
    * rows (never a second scan). Token estimate = (chars+3) div 4, the
    * reference's ~4-chars/token embedding-cap rule (doc2vec.ts:2002). */
  def domainMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
    val perSource = docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"))
    val total = docs.agg(sum(col("tok")).as("grand_total"))
    perSource
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("total_tokens"), col("n_langs"),
        expr("total_tokens * 1000 div grand_total").as("weight_permille"))
      .orderBy("source")
  }

  /** The deterministic sampling bucket: sha256 of the salted doc id →
    * 0..999. Content-free, so re-runs, retries, the streaming gate
    * (CurationStream), and other engines select the SAME sample — the
    * single definition both batch and streaming paths share (salt,
    * prefix length, and modulus must never diverge between them). */
  private[graft] def shaBucket(docId: Column): Column =
    conv(substring(sha2(concat(lit("smp:"),
      docId.cast("string")), 256), 1, 12), 16, 10)
      .cast("long") % 1000

  /** Per-source token budget of [[tokenBudgetSample]]. */
  val TokenBudget = 10000L

  /** Exact token-budget sampling — the third mixture executor next to
    * rate-based ([[stratifiedSample]]) and min-balanced
    * ([[balancedSample]]): each source keeps documents in
    * deterministic hash order ([[shaBucket]], doc_id tie-break) until
    * its cumulative token count reaches [[TokenBudget]] — how a
    * training-set assembly hits an exact per-source budget instead of
    * an expected rate. Sources whose corpus undershoots the budget
    * keep everything (fill < 1000‰); a source whose first hash-ordered
    * document alone exceeds it keeps nothing and drops from the
    * report, matching the oracle.
    *
    * Scale: one hash exchange on source + per-source sort for the
    * running sum — heavier than the scan-side rate filter, and
    * sort-skewed by the largest source; the 100 TB variant first caps
    * the sorted set with a rate-estimate prefilter (a stratified pass
    * at ~2x the budget's expected rate), which keeps this exact
    * cutoff while sorting only the survivors. */
  def tokenBudgetSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
      .withColumn("bucket", shaBucket(col("doc_id")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("bucket"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_tok", sum(col("tok")).over(w))
      .filter(col("cum_tok") <= TokenBudget)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tokens_kept"),
        max(col("cum_tok")).as("cum_at_cut"),
        max(col("bucket")).as("last_bucket"))
      .withColumn("budget", lit(TokenBudget))
      .withColumn("fill_permille",
        expr(s"tokens_kept * 1000 div $TokenBudget"))
      .orderBy("source")
  }

  /** Shard count of [[shardShuffle]] — 32 at test scale; a 100 TB run
    * raises it so each shard's sort fits an executor (the shape is
    * shard-count-invariant: one hash exchange + per-shard sort). */
  val ShuffleShards = 32

  /** The salted training-order shuffle key — the ONE definition
    * [[shardShuffle]] and [[trainingShards]] share (and the DuckDB
    * oracles mirror): a salt or prefix-width change applied to a
    * single copy would silently de-correlate the standalone row from
    * the composed job's order. */
  private def shuffleKey: Column =
    conv(substring(sha2(concat(lit("shuf:"),
      col("doc_id").cast("string")), 256), 1, 12), 16, 10)
      .cast("long")

  /** Deterministic global training-order shuffle — the hash-sort
    * permutation every pretraining pipeline runs before packing:
    * position = sort rank of sha256("shuf:" || doc_id), sharded so the
    * sort is per-shard parallel (PARTITION BY shard, never a global
    * single-partition sort — same discipline as [[packSequences]]).
    * Content-free and seeded by the salt alone, so re-runs, other
    * engines, and the DuckDB oracle produce the SAME permutation;
    * hash ties (birthday-real at corpus scale) break by doc_id on both
    * sides. Epoch variants re-salt (\"shuf:e2:\" …) rather than
    * re-shuffle in place. */
  def shardShuffle(s: SparkSession, dir: String,
      nShards: Int = ShuffleShards): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), shuffleKey.as("shuffle_key"))
      .withColumn("shard", (col("shuffle_key") % nShards).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("shuffle_key"), col("doc_id"))).cast("long"))
      .select("doc_id", "shard", "pos", "shuffle_key")
      .orderBy("shard", "pos")
  }

  /** The daily "prepare training shards" composition — the job a
    * pipeline owner actually schedules, as ONE oracled row: quality
    * gate ([[TextAnalysis.qualityKeep]], the shared rule) → exact
    * keep-first dedup (lowest doc_id per content sha, `dedup_exact`'s
    * rule as a window instead of an aggregate so the text rides
    * through) → deterministic hash shuffle ([[shardShuffle]]'s salted
    * key) → per-shard packing manifest at `seqLen` tokens (the
    * funnel's (len+3)/4 token estimate). Output: one all-integer
    * manifest row per shard (doc/token/sequence counts + head/tail
    * docs in training order). Every stage is also oracle-checked
    * standalone; this row pins their COMPOSITION — the gap class the
    * round-11 tab bug taught us hides between green layers.
    *
    * Scale: gate and token estimate are scan-side; the dedup window
    * and the shuffle rank are each one hash exchange (content-hash,
    * then shard) with per-partition sorts; the manifest reuses the
    * shard exchange. No global sort, no driver state. */
  def trainingShards(s: SparkSession, dir: String,
      nShards: Int = ShuffleShards, seqLen: Long = 2048L): DataFrame = {
    val gated = Tables.documents(s, dir)
      .filter(TextAnalysis.qualityKeep)
    val kept = gated
      .withColumn("keeper", min(col("doc_id")).over(
        Window.partitionBy(sha2(col("text"), 256))))
      .filter(col("doc_id") === col("keeper"))
    val sharded = kept
      .select(col("doc_id"),
        expr("(length(text) + 3) div 4").cast("long").as("tok"),
        shuffleKey.as("k"))
      .withColumn("shard", (col("k") % nShards).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id")))
        .cast("long"))
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min_by(col("doc_id"), col("pos")).as("head_doc"),
        max_by(col("doc_id"), col("pos")).as("tail_doc"))
      .withColumn("n_seqs", expr(s"(n_tokens - 1) div $seqLen + 1"))
      .select("shard", "n_docs", "n_tokens", "n_seqs", "head_doc",
        "tail_doc")
      .orderBy("shard")
  }

  /** Total parse of the source shard index: non-srcN names extract ''
    * → sentinel 9999 → the default rate branch, identically in Spark
    * and the oracle (a bare CAST is NULL in Spark but an ERROR in
    * DuckDB). */
  private def srcIdx: Column = expr(
    "CAST(coalesce(nullif(regexp_extract(source, 'src([0-9]+)', 1), ''), '9999') AS INT)")

  /** The configured per-source sampling rate (‰): src0-4 → 800,
    * src5-14 → 300, everything else → 100. The single definition
    * [[stratifiedSample]] and [[funnel]] share — the funnel must count
    * exactly what the sampler would keep. */
  private[graft] def configuredRate: Column =
    when(srcIdx < 5, 800L).when(srcIdx < 15, 300L).otherwise(100L)

  /** Deterministic stratified sampling — the mixture-weight executor:
    * each source keeps rate‰ of its documents ([[configuredRate]]),
    * selected by a sha256 bucket of the doc id ([[shaBucket]]). Pure
    * scan-side filter: ZERO shuffle (plan-asserted). */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("rate_permille", configuredRate)
      .withColumn("bucket", shaBucket(col("doc_id")))
      .filter(col("bucket") < col("rate_permille"))
      .select("doc_id", "source", "rate_permille", "bucket")
      .orderBy("doc_id")

  /** Balanced sampling — [[stratifiedSample]] with the rates DERIVED
    * from the corpus instead of configured: every source downsamples
    * to the smallest source's token count (rate‰ = min_tokens·1000
    * div source_tokens, so the smallest source keeps everything),
    * closing the mixture-control loop from [[domainMixture]].
    *
    * Scale: one stats pass (two-level agg + 1-row min broadcast), then
    * the 20-row rate table BROADCASTS onto the document scan — the
    * 100 TB side is filtered in place, never shuffled
    * (plan-asserted). */
  def balancedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
    val perSource = docs.groupBy(col("source"))
      .agg(sum(col("tok")).as("src_tokens"))
    val minTok = perSource.agg(min(col("src_tokens")).as("min_tokens"))
    val rates = perSource.crossJoin(broadcast(minTok))
      .select(col("source"),
        least(lit(1000L), expr("min_tokens * 1000 div src_tokens"))
          .as("rate_permille"))
    docs
      .join(broadcast(rates), "source")
      .withColumn("bucket", shaBucket(col("doc_id")))
      .filter(col("bucket") < col("rate_permille"))
      .select("doc_id", "source", "rate_permille", "bucket")
      .orderBy("doc_id")
  }

  /** The curation FUNNEL: one report row per pipeline stage with the
    * surviving document and token counts after cumulative application
    * of quality filtering → near-duplicate removal (SimHash pairs,
    * larger doc of each pair drops) → benchmark decontamination (the
    * eval slice and everything overlapping it) → stratified sampling.
    * This is the end-to-end composition of the individually-verified
    * stages — the one table a pipeline owner actually watches.
    *
    * Scale: per-doc flags are computed in ONE pass (the near-dup and
    * contamination id sets arrive as left joins); the five stage totals
    * come from a single conditional aggregation unpivoted with stack —
    * no per-stage rescans.
    *
    * At 100 TB a pipeline owner feeds the funnel from the PERSISTED
    * stage outputs instead of re-deriving both candidate sets per
    * report run: pass `nearDupPairs` (any frame with a `doc_b` column,
    * e.g. a stored [[Dedup.simhashPairs]] result) and/or `contamination`
    * (any frame with a `doc_id` column, e.g. a stored [[decontaminate]]
    * result) and the funnel becomes one scan plus two id-set joins —
    * no SimHash banding, no n-gram broadcast. The recompute default is
    * the size-routed [[Dedup.nearDupPairsAuto]]: 32/6 report pairs up
    * to [[Dedup.SimhashAutoMaxDocs]] docs (the oracle regime), the
    * measured-linear wide kernel above it. */
  def funnel(s: SparkSession, dir: String,
      nearDupPairs: Option[DataFrame] = None,
      contamination: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
    val nearDup = nearDupPairs.getOrElse(Dedup.nearDupPairsAuto(s, dir))
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    val contam = contamination.getOrElse(decontaminate(s, dir))
      .select("doc_id").withColumn("is_contam", lit(1L))
    val flags = docs
      .join(nearDup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("q", TextAnalysis.qualityKeep)
      .withColumn("d", col("is_dup").isNull)
      .withColumn("c",
        col("is_contam").isNotNull || col("doc_id") % 97 === 0)
      .withColumn("smp", shaBucket(col("doc_id")) < configuredRate)
    flags
      .agg(
        count(lit(1)).as("d1"), sum(col("tok")).as("t1"),
        sum(when(col("q"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("q"), col("tok")).otherwise(0L)).as("t2"),
        sum(when(col("q") && col("d"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("q") && col("d"), col("tok")).otherwise(0L)).as("t3"),
        sum(when(col("q") && col("d") && !col("c"), 1L).otherwise(0L))
          .as("d4"),
        sum(when(col("q") && col("d") && !col("c"), col("tok"))
          .otherwise(0L)).as("t4"),
        sum(when(col("q") && col("d") && !col("c") && col("smp"), 1L)
          .otherwise(0L)).as("d5"),
        sum(when(col("q") && col("d") && !col("c") && col("smp"),
          col("tok")).otherwise(0L)).as("t5"))
      .selectExpr(
        """stack(5,
             '1_ingested', d1, t1,
             '2_quality', d2, t2,
             '3_near_dedup', d3, t3,
             '4_decontaminated', d4, t4,
             '5_sampled', d5, t5) AS (stage, n_docs, n_tokens)""")
      .orderBy("stage")
  }

  /** The funnel's two expensive candidate sets — the size-routed
    * near-dup pairs and the decontamination ids — read from their
    * [[graft.streaming.StageCache]] stage, keyed by the corpus dir and
    * its fingerprint, when a stage cache is set: the first report stages
    * them and every later one joins the stored id sets, as a pipeline
    * owner feeds the funnel from stored stage outputs. With no cache
    * (the Verify / oracle path) both are None and the report
    * recomputes; it is content-identical either way. */
  private def stagedInputs(s: SparkSession,
      dir: String): (Option[DataFrame], Option[DataFrame]) =
    graft.streaming.StageCache
      .staged(s"funnel_${graft.streaming.StageCache.dirKey(dir)}") { d =>
        Dedup.nearDupPairsAuto(s, dir).write.parquet(s"$d/neardup_pairs")
        decontaminate(s, dir).write.parquet(s"$d/contamination")
      } match {
      case Some(d) => (Some(s.read.parquet(s"$d/neardup_pairs")),
        Some(s.read.parquet(s"$d/contamination")))
      case None => (None, None)
    }

  /** [[funnel]] on the staged inputs when a stage cache is set, else
    * recomputed. */
  def funnelAuto(s: SparkSession, dir: String): DataFrame = {
    val (pairs, contam) = stagedInputs(s, dir)
    funnel(s, dir, pairs, contam)
  }

  /** [[curationRuns]] with the same staged-input resolution. */
  def curationRunsAuto(s: SparkSession, dir: String): DataFrame = {
    val (pairs, contam) = stagedInputs(s, dir)
    curationRuns(s, dir, pairs, contam)
  }

  /** Per-stage provenance of one curation run — [[funnel]] recast as
    * the run-stats table a pipeline owner stores next to the data
    * (mirroring the sync layer's SourceRunStats): every row carries a
    * `run_id` plus in/out/dropped doc and token counts for its stage.
    * The run id is CONTENT-derived (sha-256 over EVERY stage's
    * doc/token totals, first 16 hex chars), so re-reporting the same
    * corpus joins the same run instead of minting a new identity per
    * invocation, while a run with different injected dedup/contamination
    * inputs — which change downstream counts but not the ingested
    * totals — gets a distinct id. The id is reproducible in SQL, which
    * keeps this oracle-checkable.
    * Like [[funnel]], precomputed stage outputs can be injected.
    *
    * Scale: everything below the funnel's single conditional aggregate
    * operates on the 5-row stage table; the windows are windows over
    * that AGGREGATE, never over documents. */
  def curationRuns(s: SparkSession, dir: String,
      nearDupPairs: Option[DataFrame] = None,
      contamination: Option[DataFrame] = None): DataFrame = {
    val stages = funnel(s, dir, nearDupPairs, contamination)
    val w = Window.orderBy("stage")
    val all = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stages
      .withColumn("docs_in",
        coalesce(lag(col("n_docs"), 1).over(w), col("n_docs")))
      .withColumn("tokens_in",
        coalesce(lag(col("n_tokens"), 1).over(w), col("n_tokens")))
      .withColumn("run_id",
        substring(sha2(concat_ws(":", lit("curation"),
          array_join(sort_array(collect_list(concat_ws("=",
            col("stage"), col("n_docs"), col("n_tokens"))).over(all)),
            ",")), 256), 1, 16))
      .select(col("run_id"), col("stage"),
        col("docs_in"), col("n_docs").as("docs_out"),
        (col("docs_in") - col("n_docs")).as("docs_dropped"),
        col("tokens_in"), col("n_tokens").as("tokens_out"),
        (col("tokens_in") - col("n_tokens")).as("tokens_dropped"))
      .orderBy("stage")
  }

  /** Durable provenance channel: record one run's stage rows into the
    * `curation_runs` table (parquet directory partitioned by
    * `run_part` = "r-" + run_id). Returns the run id. The write is
    * IDEMPOTENT: dynamic partition overwrite replaces exactly this
    * run's partition, so re-invoking on the same corpus (same
    * content-derived id) rewrites rather than appends duplicate
    * (run_id, stage) rows, while runs of other corpora stay untouched.
    *
    * The partition value is the PREFIXED `run_part`, not `run_id`
    * itself: Spark's partition-value type inference would reinterpret
    * an all-digit (or digits+'e') 16-hex id as LONG/DECIMAL on read,
    * silently changing its type so equality filters against the
    * returned string id match nothing. The "r-" prefix is
    * unambiguously non-numeric, and `run_id` survives as a typed
    * STRING data column inside the files. The read side is plain
    * `spark.read.parquet` + a latest-run filter on `run_id`, exactly
    * how the controller queries consume SourceRunStats. */
  def recordRun(s: SparkSession, dir: String, tablePath: String,
      nearDupPairs: Option[DataFrame] = None,
      contamination: Option[DataFrame] = None): String = {
    val rows = curationRuns(s, dir, nearDupPairs, contamination)
    rows.withColumn("run_part", concat(lit("r-"), col("run_id")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_part").parquet(tablePath)
    rows.select("run_id").head().getString(0)
  }

  /** Sequence packing (concat-and-chunk): documents are laid end-to-end
    * in doc_id order WITHIN each source shard and cut every [[SeqLen]]
    * estimated tokens; each doc reports its token offset and the
    * [first, last] training-sequence indices it lands in. The prefix sum
    * is a window PARTITIONED BY source — per-shard packing, exactly how
    * a 1000-executor job packs without a global single-partition sort. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        expr(s"(end_off - n_tokens) div $SeqLen").as("seq_first"),
        expr(s"(end_off - 1) div $SeqLen").as("seq_last"),
        (expr(s"(end_off - 1) div $SeqLen")
          - expr(s"(end_off - n_tokens) div $SeqLen") + 1L).as("n_seqs"))
      .orderBy("doc_id")
  }

  /** Blocklisted terms for [[blocklistFilter]] (C4 drops any page
    * containing a "bad word"; the density variant below is what
    * survives contact with real corpora, where a single incidental hit
    * shouldn't kill a long document). */
  val Blocklist: Seq[String] = Seq("slow", "legacy", "deprecated")

  /** Keep a document while blocklist hits stay under this density. */
  val BlockMaxPermille = 30L

  /** C4-style blocklist filter, density form: count blocklisted words
    * per document and keep while the per-word density stays under
    * [[BlockMaxPermille]]‰. One codegen-friendly pass over the scan —
    * zero shuffle, like the other per-doc quality gates. */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("w", ws(col("text")))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("bad_hits",
        size(filter(col("w"), x => x.isInCollection(Blocklist)))
          .cast("long"))
      .withColumn("bad_permille", expr("bad_hits * 1000 div n_words"))
      .withColumn("keep",
        (col("bad_permille") < BlockMaxPermille).cast("long"))
      .select("doc_id", "n_words", "bad_hits", "bad_permille", "keep")
      .orderBy("doc_id")

  /** Token budget as a multiple of the corpus size for
    * [[mixtureEpochs]] (2× ≈ the "train for more tokens than you
    * have" regime where mixture epoch planning matters). */
  val MixtureBudgetFactor = 2L

  /** Upsampling cap: no source repeats more than 5 epochs (quality
    * degrades past a few repetitions — Muennighoff et al. 2023). */
  val MaxEpochsPermille = 5000L

  /** Mixture epoch planner — the UPSAMPLING complement of
    * [[balancedSample]]'s downsampler: given a token budget of
    * [[MixtureBudgetFactor]]× the corpus and an equal target share per
    * source, how many epochs (permille) of each source does the
    * training mixture take? Capped at [[MaxEpochsPermille]] so small
    * sources aren't repeated into memorization.
    *
    * Scale: one map-side-combining groupBy(source) over the corpus,
    * then all arithmetic happens on the ~#sources-row aggregate with a
    * 1-row totals broadcast — the 100 TB side is touched once. */
  def mixtureEpochs(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .withColumn("tok", expr("CAST((length(text) + 3) div 4 AS BIGINT)"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("src_tokens"))
    val totals = perSource.agg(
      sum(col("src_tokens")).as("grand_total"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("target_tokens",
        expr(s"grand_total * $MixtureBudgetFactor div n_sources"))
      .withColumn("epochs_permille",
        // nullif: an all-empty source (0 est. tokens) must yield a
        // defined NULL-ratio in BOTH engines, not a DuckDB div-by-zero
        // crash (least skips the NULL identically on both sides)
        least(lit(MaxEpochsPermille),
          expr("target_tokens * 1000 div nullif(src_tokens, 0)")))
      .withColumn("planned_tokens",
        expr("src_tokens * epochs_permille div 1000"))
      .select("source", "src_tokens", "target_tokens", "epochs_permille",
        "planned_tokens")
      .orderBy("source")
  }

  /** Histogram bucket width (chars) for [[lengthHistogram]]. */
  val HistBucketChars = 64L

  /** Document-length histogram with cumulative coverage — the
    * distribution a curator reads before picking length cutoffs and
    * [[SeqLen]] (what fraction of docs fit one sequence?).
    *
    * Scale: the corpus collapses through ONE map-side-combining
    * groupBy(bucket) into a ~hundreds-row histogram; the ordered
    * cumulative window then runs over that AGGREGATE, so its single
    * partition holds histogram rows, never documents. */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(s, dir)
      .withColumn("len", expr("CAST(length(text) AS BIGINT)"))
      .groupBy(expr(s"len div $HistBucketChars").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_chars"))
    val w = Window.orderBy(col("bucket"))
    hist
      .crossJoin(broadcast(hist.agg(sum(col("n_docs")).as("grand_docs"))))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_permille", expr("cum_docs * 1000 div grand_docs"))
      .select("bucket", "n_docs", "total_chars", "cum_docs", "cum_permille")
      .orderBy("bucket")
  }
}
