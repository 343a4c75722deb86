package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Keyword (lexical) retrieval over the documents corpus: an
  * inverted-index BM25 top-k. The reference's retrieval surface is
  * vector-only (mcp/src/server.ts:448-474); a production RAG store at
  * 100 TB pairs that with a lexical index for hybrid search, so BM25 is
  * part of the engine's first-class query surface.
  *
  * Scale design (100 TB):
  *   - the inverted index (term → tf postings) is ONE hash shuffle of
  *     the exploded token stream, with map-side partial aggregation;
  *     document frequency is a second, much smaller aggregate over the
  *     postings themselves (one row per (doc, term), not per token).
  *   - the query set is tiny and BROADCAST to the postings — scoring is
  *     a map-side semi-join: shuffle ∝ matched postings, never corpus².
  *   - the final top-k per query is a window over only the scored
  *     (query, doc) pairs that share a term with the query.
  *
  * Cross-engine determinism: BM25's k1=1.2 / b=0.75 tf saturation is
  * rationalized to pure BIGINT arithmetic (below) and the log-idf is
  * replaced by its Robertson–Spärck-Jones ratio argument, scaled:
  *
  *   idf_scaled     = ((2N - 2df + 1) * 1e6) div (2df + 1)
  *   tfpart_micro   = (44*A*tf*1e6) div (20*A*tf + 6*A + 18*dl)
  *                    -- == 1e6 * tf*(k1+1) / (tf + k1*(1-b+b*dl/A))
  *                    -- with k1=6/5, b=3/4, avgdl truncated to A=S div N
  *   score          = Σ_terms idf_scaled * tfpart_micro div 1e6
  *
  * The linear idf ratio is monotone in df PER TERM (a rarer term always
  * outweighs a commoner one), but it weights rare terms more
  * aggressively than log-idf, so MULTI-term totals can order documents
  * differently than textbook BM25 — this engine's scoring function is
  * the linear-idf variant, chosen because every score is an exact
  * integer identical in DuckDB (log cannot be made bit-stable across
  * engines).
  *
  * Overflow envelope: the binding term is the score product
  * idf_scaled (≈ 0.67e6·N at df=1) × tfpart_micro (≤ 2.2e6) ≈
  * 1.5e12·N — inside Long up to N ≈ 6e6 documents. Beyond that a
  * deployment drops the per-factor scale to 1e3 or lifts the product
  * into DECIMAL(38,0) (Spark and DuckDB both support it), keeping the
  * same rational form. The tfpart numerator 44·A·tf·1e6 binds later
  * (A ≤ ~1e5 chars, tf ≤ dl keeps it ≤ ~1e17).
  */
object Retrieval {

  /** The fixed benchmark query set: (query_id, term). */
  val benchQueries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "join",
    1L -> "vector", 1L -> "hash", 1L -> "scan",
    2L -> "customer", 2L -> "query")

  /** BM25 top-k over documents for [[benchQueries]].
    *
    * The broadcast term filter sits BELOW the tf/df aggregates: only
    * query-term token occurrences are ever shuffled, so the expensive
    * path costs O(matched postings), not O(corpus tokens) — and the df
    * table collapses to ≤ |query terms| rows, letting every scoring
    * join broadcast. The corpus pass that remains is the 2-column
    * stats aggregate (N, Σdl). A persisted deployment would
    * pre-materialize postings/df/dl as bucketed tables and skip both
    * scans at query time; the per-query plan shape is the same. */
  def bm25Search(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))

    // Corpus stats: N docs, A = truncated average doc length.
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avg_dl"))

    val queries = benchQueries.toDF("query_id", "term")
    val qterms = queries.select("term").distinct()

    // Matched postings only: the broadcast hash join prunes the token
    // stream map-side before any shuffle; dl rides along (functionally
    // determined by doc_id, so the grouping stays one aggregate).
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qterms), "term")
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

    // Document frequency per query term: aggregates the matched
    // postings (one row per (doc, term)) — ≤ |query terms| output rows.
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))

    scoreBm25(tf, df, stats, queries, k)
  }

  /** The one scoring pipeline both BM25 entries share — inline
    * ([[bm25Search]]) and persisted-index ([[bm25SearchIndexed]])
    * inputs must score identically or their shared oracle catches it. */
  private def scoreBm25(tf: DataFrame, df: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    tf
      .join(broadcast(queries), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_scaled",
        expr("((2*n_docs - 2*df + 1) * 1000000L) div (2*df + 1)"))
      .withColumn("tfpart_micro",
        expr("(44*avg_dl*tf*1000000L) div (20*avg_dl*tf + 6*avg_dl + 18*dl)"))
      .withColumn("term_score", expr("idf_scaled * tfpart_micro div 1000000L"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).as("matched_terms"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("matched_terms"), col("score"))
      .orderBy("query_id", "rank")

  /** Persist the lexical index [[bm25Search]] derives inline: postings
    * (doc_id, dl, term, tf) clustered by term so a term-filtered query
    * scan skips row groups, document frequencies, and the 1-row corpus
    * stats. This is the build-once path of a 100 TB deployment — the
    * corpus is scanned exactly once here; every query afterwards
    * touches only its own terms' postings ([[bm25SearchIndexed]]). */
  def buildLexicalIndex(s: SparkSession, dir: String,
      indexDir: String): Unit = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val postings = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    // cluster by term: min/max row-group stats then prune term filters
    postings.repartition(col("term")).sortWithinPartitions("term")
      .write.parquet(s"$indexDir/postings")
    // ONE corpus scan for the whole build (guide §1.2): df and stats
    // derive from the postings just written — re-deriving each from
    // the docs table scanned+exploded the corpus three times. Every
    // doc appears in the postings (split() yields >= 1 token even for
    // empty text) and dl is functionally determined by doc_id, so
    // n_docs = |distinct doc_id| and sum_dl over one row per doc are
    // the same aggregates the corpus pass produced.
    val written = s.read.parquet(s"$indexDir/postings")
    written.groupBy("term").agg(count(lit(1)).as("df"))
      .write.parquet(s"$indexDir/df")
    written.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs"), expr("sum_dl div n_docs").as("avg_dl"))
      .write.parquet(s"$indexDir/stats")
  }

  /** BM25 over a PERSISTED index — identical scoring arithmetic and
    * output as [[bm25Search]] (the two rows share one oracle), but the
    * only corpus-shaped input is the postings scan, and the query
    * terms are LITERALS so the In-filter pushes into that scan
    * (plan-audited): at 100 TB a query reads its terms' row groups,
    * not the corpus. Builds into a temp dir here (the oracle-row
    * form); a deployment calls [[buildLexicalIndex]] once. */
  def bm25SearchIndexed(s: SparkSession, dir: String,
      k: Int = 5): DataFrame =
    graft.Scratch.within("lexidx") { base =>
      buildLexicalIndex(s, dir, base.toString)
      bm25IndexedScoring(s, base.toString, k).localCheckpoint(true)
    }

  /** The query-time half of [[bm25SearchIndexed]], split out so the
    * plan auditor (graft.Explain / PlanAuditSpec) can show the
    * `In(term, ...)` pushdown on the postings scan — the registered
    * row returns a checkpoint-pinned frame, which hides the scan. */
  private[graft] def bm25IndexedScoring(s: SparkSession,
      indexDir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val terms = benchQueries.map(_._2).distinct
    val tf = s.read.parquet(s"$indexDir/postings")
      .filter(col("term").isin(terms: _*))
    val df = s.read.parquet(s"$indexDir/df")
      .filter(col("term").isin(terms: _*))
    val stats = s.read.parquet(s"$indexDir/stats")
    val queries = benchQueries.toDF("query_id", "term")
    scoreBm25(tf, df, stats, queries, k)
  }

  /** The fixed phrase-query set: (query_id, 0-based term index, term).
    * Flattened for broadcast; phrase length = max index + 1 per query. */
  val phraseQueries: Seq[(Long, Int, String)] = Seq(
    (0L, 0, "table"), (0L, 1, "hash"),
    (1L, 0, "customer"), (1L, 1, "join"),
    (2L, 0, "merge"), (2L, 1, "group"))

  /** Exact-phrase search over a POSITIONAL inverted index — the
    * capability BM25's bag-of-words index can't express: "customer
    * join" must match only adjacent occurrences in order. The classic
    * positional-postings intersection runs as ONE anchored join: each
    * matched posting proposes the phrase start `anchor = pos - idx`
    * (its position minus its index within the phrase), and an anchor
    * where ALL phrase terms landed (count(distinct idx) = phrase
    * length) is one occurrence. Works for any phrase length with a
    * single join and a single aggregate — no per-word self-join chain.
    *
    * Scale: the broadcast term filter prunes the positional postings
    * map-side before any shuffle (the [[bm25Search]] contract); the
    * anchor aggregate is a hash aggregate over matched postings only.
    * Top-k per query by occurrence count (count desc, doc_id). */
  def phraseSearch(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val phrases = phraseQueries.toDF("query_id", "idx", "term")
    val phraseLen = phraseQueries.groupBy(_._1)
      .map { case (q, xs) => (q, xs.map(_._2).max + 1) }
      .toSeq.toDF("query_id", "phrase_len")

    val postings = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "term")

    val anchors = postings
      .join(broadcast(phrases), "term")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("idx")).as("anchor"), col("idx"))
      .groupBy("query_id", "doc_id", "anchor")
      .agg(countDistinct(col("idx")).as("n_terms"))
      .join(broadcast(phraseLen), "query_id")
      .filter(col("n_terms") === col("phrase_len"))

    anchors
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("n_occurrences").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_occurrences"))
      .orderBy("query_id", "rank")
  }

  /** Depth of each per-modality candidate list feeding [[hybridSearch]]. */
  val HybridDepth = 20

  /** Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    * (Cormack et al. 2009, the standard fusion in production hybrid
    * search): the BM25 top-[[HybridDepth]] and the cosine-KNN
    * top-[[HybridDepth]] (query vector = the query's own stored
    * embedding, ids 0-2 ≅ [[benchQueries]] ids; corpus = ids ≥ 5,
    * mirroring the exact-KNN row) fuse by
    *
    *   rrf_micro = Σ_lists 1e6 div (60 + rank_in_list)
    *
    * — integer arithmetic, k=60 per the paper. A doc absent from one
    * list simply contributes nothing (full outer join). This is a
    * COMPOSITION row: both inputs have standalone oracle rows
    * (`q_search_bm25`, `emb_knn_exact`); this row pins the fusion seam.
    *
    * Scale: both candidate lists are top-k per query — the fusion
    * full-outer join touches ≤ 2·k·|queries| rows regardless of corpus
    * size; everything upstream inherits the per-modality scale designs.
    */
  def hybridSearch(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val bm25 = bm25Search(s, dir, HybridDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("brank"))

    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("doc_id"), col("embedding").as("cv"))
    val cosine = expr(
      "dot_f(qv, cv) / (sqrt(dot_f(qv, qv)) * sqrt(dot_f(cv, cv)))")
    val vec = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", cosine)
      .withColumn("vrank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .filter(col("vrank") <= HybridDepth)
      .select(col("query_id"), col("doc_id"), col("vrank"))

    bm25.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000L div (60 + brank)"), lit(0L)) +
          coalesce(expr("1000000L div (60 + vrank)"), lit(0L)))
      .withColumn("in_bm25", col("brank").isNotNull.cast("long"))
      .withColumn("in_vec", col("vrank").isNotNull.cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_micro"), col("in_bm25"), col("in_vec"))
      .orderBy("query_id", "rank")
  }
}
