package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines
  * (builder-prompt requirement: language-ID, quality scoring, token
  * counting, document fingerprinting). All are per-document column
  * expressions — zero shuffle except the fingerprint window (partitioned
  * by doc, so it stays within a partition after one hash-partitioning by
  * doc_id). Everything stays inside whole-stage codegen: no UDFs.
  *
  * Cross-engine determinism: counts are integers; ratios are rounded;
  * hashes derive from sha256 hex prefixes (identical in DuckDB).
  */
object TextAnalysis {

  // Marker stopword sets for the n-gram/stopword language heuristic.
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "it"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "des"))

  private def words(c: Column): Column = split(c, " ")

  private def hits(c: Column, lang: String): Column =
    size(filter(words(c), w => array_contains(
      array(markers(lang).map(lit): _*), w)))

  /** Language identification by stopword-marker scoring with a fixed
    * priority tie-break (en > es > de > fr; no hits → "und"). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("en_hits", hits(col("text"), "en").cast("long"))
      .withColumn("es_hits", hits(col("text"), "es").cast("long"))
      .withColumn("de_hits", hits(col("text"), "de").cast("long"))
      .withColumn("fr_hits", hits(col("text"), "fr").cast("long"))
    val best = greatest(col("en_hits"), col("es_hits"), col("de_hits"),
      col("fr_hits"))
    d.withColumn("predicted_lang",
        when(best === 0, "und")
          .when(col("en_hits") === best, "en")
          .when(col("es_hits") === best, "es")
          .when(col("de_hits") === best, "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("en_hits"), col("es_hits"),
        col("de_hits"), col("fr_hits"), col("predicted_lang"),
        (col("predicted_lang") === col("lang")).as("matches_label"))
      .orderBy("doc_id")
  }

  /** The quality keep rule over a raw `text` column — the single
    * definition [[qualityScore]] and Curation.funnel share. Sizes cast
    * to long BEFORE the ×1000 (Int arithmetic would wrap negative on a
    * >2M-distinct-word document while the BIGINT oracle stays
    * correct). */
  private[graft] def qualityKeep: Column = expr(
    """size(split(text,' ')) >= 20 AND length(text) >= 100 AND
       CAST(size(array_distinct(split(text,' '))) AS BIGINT) * 1000
         div size(split(text,' ')) >= 300""")

  /** Quality scoring: length / vocabulary-diversity / stopword-density
    * signals with an integer-arithmetic keep rule (engine-portable;
    * the keep column is definitionally [[qualityKeep]] phrased over
    * this method's intermediate columns). */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_words", size(words(col("text"))).cast("long"))
      .withColumn("n_distinct_words",
        size(array_distinct(words(col("text")))).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("stop_hits", hits(col("text"), "en").cast("long"))
      .withColumn("avg_word_len",
        round(col("n_chars").cast("double") / col("n_words"), 4))
      .withColumn("distinct_permille",
        expr("n_distinct_words * 1000 div n_words")) // integer division
      .withColumn("keep",
        col("n_words") >= 20 && col("n_chars") >= 100 &&
          col("distinct_permille") >= 300)
      .select("doc_id", "n_words", "n_distinct_words", "n_chars",
        "stop_hits", "avg_word_len", "distinct_permille", "keep")
      .orderBy("doc_id")

  /** Gopher-style quality-filter cascade (Rae et al. 2021, §A1.1,
    * adapted to integer engine-portable arithmetic; the line-structure
    * rules are omitted — this corpus is single-line): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio, required
    * stopwords. Emits keep + the FIRST failing rule as drop_reason —
    * the shape a 100 TB pretraining filter wants (filter + audit
    * column in one codegen pass, zero shuffle). */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    Tables.documents(s, dir)
      // deterministic perturbations so every cascade branch is exercised
      // on the synthetic corpus: every 13th doc gains one 1000-char word
      // (mean-word-length breach), every 10th a '#' run ≥ words/10
      // (symbol-ratio breach)
      .withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" "), expr("repeat('x', 1000)")))
          .when(col("doc_id") % 10 === 0,
            concat(col("text"), expr(
              "repeat(' #', CAST(size(split(text, ' ')) div 10 AS INT) + 1)")))
          .otherwise(col("text")))
      .withColumn("n_words", size(words(col("text"))).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      // letters = chars minus the single-space separators
      .withColumn("letters", col("n_chars") - (col("n_words") - 1))
      .withColumn("hash_cnt",
        (col("n_chars") - length(regexp_replace(col("text"), "#", "")))
          .cast("long"))
      .withColumn("ellipsis_cnt",
        expr("CAST((n_chars - length(replace(text, '...', ''))) div 3 AS BIGINT)"))
      .withColumn("stop_present",
        size(filter(array(required.map(lit): _*),
          w => array_contains(words(col("text")), w))).cast("long"))
      .withColumn("drop_reason",
        when(col("n_words") < 30 || col("n_words") > 100000, "word_count")
          .when(col("letters") < col("n_words") * 3 ||
            col("letters") > col("n_words") * 10, "mean_word_length")
          .when((col("hash_cnt") + col("ellipsis_cnt")) * 10 >
            col("n_words"), "symbol_ratio")
          .when(col("stop_present") < 1, "stopword_absence")
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("drop_reason").isNull.cast("long"))
      .select("doc_id", "n_words", "letters", "hash_cnt", "ellipsis_cnt",
        "stop_present", "drop_reason", "keep")
      .orderBy("doc_id")
  }

  /** PII scrubbing (builder-prompt training-data hygiene): redact
    * emails and IPv4 literals with typed placeholders and emit per-doc
    * audit counts + the scrubbed-content hash — one codegen pass, zero
    * shuffle. Patterns stay in the RE2 ∩ java.util.regex dialect so the
    * DuckDB oracle applies the identical automaton. Deterministic
    * injections (every 5th doc an email, every 7th an IP) make both
    * redaction branches observable on the synthetic corpus. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    Tables.documents(s, dir)
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" from 10.0."), col("doc_id") % 256,
            lit(".") , col("doc_id") % 100))
          .otherwise(col("text")))
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("text"), lit(ip), lit(0)))
          .cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), email, "[EMAIL]"),
          ip, "[IP]"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        sha2(col("scrubbed"), 256).as("scrubbed_hash"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens, a BPE-ish ~4-chars/token
    * estimate (the reference's embedding-cap rule, doc2vec.ts:2002-2008),
    * and regex word tokens. */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("ws_tokens", size(words(col("text"))).cast("long"))
      .withColumn("est_bpe_tokens",
        ceil(length(col("text")).cast("double") / 4).cast("long"))
      .withColumn("alpha_tokens",
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .cast("long"))
      .withColumn("over_embed_cap", length(col("text")) > 32764)
      .select("doc_id", "ws_tokens", "est_bpe_tokens", "alpha_tokens",
        "over_embed_cap")
      .orderBy("doc_id")

  /** REAL BPE token counting: merges trained once on a deterministic
    * driver-side sample (doc_id < 50 — tokenizer training is a bounded
    * one-time artifact, the standard practice), encoding distributed as
    * a per-partition kernel with the merge table riding the closure and
    * the rank map + word cache built once per partition. Declared
    * no-oracle (BPE's iterative greedy merge isn't SQL-expressible);
    * the companion BpeTokenizerSpec pins train/encode/decode semantics
    * instead. */
  def tokenCountBpe(s: SparkSession, dir: String,
      numMerges: Int = 200): DataFrame = {
    import s.implicits._
    import graft.functions.BpeTokenizer
    val sample = Tables.documents(s, dir)
      .filter(col("doc_id") < 50).orderBy("doc_id")
      .select("text").as[String].collect()
    val merges = BpeTokenizer.train(sample.toSeq, numMerges)
    bpeEncodeCounts(
      Tables.documents(s, dir).select("doc_id", "text").as[(Long, String)],
      merges)
      .orderBy("doc_id")
  }

  /** Distributed BPE encode+count kernel shared by [[tokenCountBpe]]
    * and [[tokenCountBpeOracle]]: the merge table rides the closure
    * like a broadcast; rank map and word cache are built once per
    * partition. */
  private def bpeEncodeCounts(
      docs: org.apache.spark.sql.Dataset[(Long, String)],
      merges: Vector[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.mapPartitions { it =>
      val rank = merges.iterator.zipWithIndex.toMap
      // size-capped (BpeTokenizer.CacheCap): the Zipf head is the
      // win; unbounded growth over a wide vocabulary is a heap leak
      val cache = scala.collection.mutable
        .HashMap.empty[String, Vector[String]]
      it.map { case (id, text) =>
        var n = 0L
        val first = Vector.newBuilder[String]
        text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
          val toks = graft.functions.BpeTokenizer
            .encodeWordCached(w, rank, cache)
          if (n < 5) first ++= toks.take(5 - n.toInt)
          n += toks.length
        }
        (id, n, first.result().take(5).mkString("|"))
      }
    }.toDF("doc_id", "n_bpe_tokens", "first_tokens")
  }

  /** The 6-word vocabulary of the ORACLE-CHECKED BPE row: planted so
    * the full train→encode pipeline has an independent DuckDB
    * derivation (word j repeats `doc_id % (j+3)` times per document,
    * giving sample frequencies 49/73/100/121/147/169 over doc_id<50 —
    * chosen so every training round has a strictly unique best pair and
    * the tie-break never decides). */
  val BpeOracleWords: Vector[String] =
    Vector("ab", "abc", "cd", "cde", "de", "abcd")

  /** Deterministic text of one planted document: word j of
    * [[BpeOracleWords]] repeated `id % (j+3)` times, space-joined. */
  private[graft] def bpePlantedText(id: Long): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < BpeOracleWords.length) {
      var k = (id % (j + 3)).toInt
      while (k > 0) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(BpeOracleWords(j)); k -= 1
      }
      j += 1
    }
    sb.toString
  }

  /** REAL BPE train→encode, end-to-end oracle-checked: texts are
    * composed from [[BpeOracleWords]] by doc_id arithmetic, so the
    * DuckDB oracle RELEARNS the merge table itself (six unrolled rounds
    * of weighted pair-count → argmax → left-to-right rewrite over a
    * bracketed symbol encoding — `replace` on `[a][b]` is exactly the
    * trainer's single non-overlapping pass) and re-derives every
    * per-document token count and head tokens independently. Any defect
    * in pair counting, tie-breaking, merge application, or the encoder
    * (for in-vocabulary words encode ≡ training replay: a merge's
    * components always form at earlier ranks) shifts the counts and
    * fails the hash. The end-of-word sentinel prints as '!' (it is a
    * live symbol in 4 of the 6 learned merges). Real-corpus BPE at 200
    * merges stays available as [[tokenCountBpe]], semantics pinned in
    * BpeTokenizerSpec/BpePropertySpec. */
  def tokenCountBpeOracle(s: SparkSession, dir: String,
      numMerges: Int = 6): DataFrame = {
    import s.implicits._
    import graft.functions.BpeTokenizer
    val sampleIds = Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val merges = BpeTokenizer.train(sampleIds.map(bpePlantedText), numMerges)
    val docs = Tables.documents(s, dir).select("doc_id").as[Long]
      .map(id => (id, bpePlantedText(id)))
    bpeEncodeCounts(docs, merges)
      .withColumn("first_tokens",
        translate(col("first_tokens"), BpeTokenizer.Eow, "!"))
      .orderBy("doc_id")
  }

  /** Quality-classifier distillation plumbing (FineWeb-style: train a
    * model to mimic a heuristic gate, then run the cheap model at
    * corpus scale), pinned end-to-end by a planted-margin oracle row —
    * the MLlib CLASSIFICATION surface, as `emb_ann_mllib` pins the LSH
    * surface. The training set derives from the documents table's ids:
    * for each id, a symmetric pair of points at ±margin along the
    * (1,1,1) axis (margins 0.5–3.0, orthogonal noise in the
    * (1,-1,0)-plane), so the data is linearly separable and any fitted
    * separator has positive (1,1,1)-component. The 16 probes sit at
    * ±(41..56) along that axis — one to two orders of magnitude
    * outside the margin band — so their predicted labels are
    * construction-certain for ANY model that fit the training data at
    * all: a broken assembler, a diverged fit, or a mangled prediction
    * column flips a probe. Training on a bounded derived set is the
    * standard shape (classifiers train on samples; INFERENCE is the
    * corpus-scale pass, here a zero-shuffle map). */
  def qualityModelProbes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    // BOUNDED training sample (the doc_id < 50 rule every trainer row
    // here uses): ids 0..49 already cover all margin (i%6) and noise
    // (i%7) residues, so the fit is corpus-size-invariant — training
    // on samples is the point of distillation; inference is the
    // corpus-scale pass
    val ids = Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select("doc_id").as[Long]
    val emptySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("probe_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("predicted_keep",
        org.apache.spark.sql.types.LongType)))
    if (ids.take(1).isEmpty)
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
    val raw = ids.flatMap { i =>
      val m = 0.5 + (i % 6) * 0.5
      val o = ((i % 7) - 3) * 0.3
      Seq((1.0, m + o, m - o, m), (0.0, -m + o, -m - o, -m))
    }.toDF("label", "f1", "f2", "f3")
    val assembler = new VectorAssembler()
      .setInputCols(Array("f1", "f2", "f3")).setOutputCol("features")
    val model = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01)
      .fit(assembler.transform(raw))
    val probes = (1 to 16).map { j =>
      val c = (40 + j).toDouble * (if (j % 2 == 1) 1 else -1)
      (j.toLong, c, c, c)
    }.toDF("probe_id", "f1", "f2", "f3")
    model.transform(assembler.transform(probes))
      .select(col("probe_id"),
        col("prediction").cast("long").as("predicted_keep"))
      .orderBy("probe_id")
  }

  /** Keyword extraction: top-3 terms per document by a tf/df relevance
    * score. Shapes exactly like distributed TF-IDF — per-doc term
    * frequencies (map-side combinable groupBy), corpus document
    * frequencies (second partial-agg groupBy), a hash join on the term
    * key (shuffle ∝ postings, never per-doc fan-in), and a per-doc
    * window for the top-k. Scoring is the integer ratio
    * tf·1e6 div df — rank-equivalent to tf·idf under any monotone
    * idf for a fixed corpus size, and exactly reproducible in SQL
    * (ln() differs in final ulps across engines; an integer score
    * cannot). */
  def keywords(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "df", "score")
      .orderBy("doc_id", "rank")
  }

  /** Document fingerprinting by winnowing: k-gram (k=8) rolling hashes
    * (sha256-prefix integers), window (w=4) minima, distinct minima form
    * the fingerprint set. Standard winnowing as in Schleimer et al.
    * (SIGMOD'03), with a cross-engine-deterministic hash.
    *
    * Computed as a per-document typed kernel in one pass — the
    * relational form exploded one row PER CHARACTER through a
    * partition-by-doc window and a grouped aggregation (O(chars) rows
    * shuffled twice) for arithmetic that is local to each document.
    * Output is bit-identical to the SQL oracle's window formulation. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val w = 4
    Tables.documents(s, dir)
      .select("doc_id", "text").as[(Long, String)]
      .map { case (docId, text) =>
        // gram i (1-based like the SQL `sequence(1, len-k+1)`) is
        // text.substring(i-1, i-1+k); a doc shorter than k yields one
        // truncated gram, matching SQL substring semantics
        val n = math.max(1, text.length - (k - 1))
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          val gram = text.substring(i, math.min(text.length, i + k))
          hs(i) = graft.functions.TextUtil.sha256Prefix(gram, 48)
          i += 1
        }
        val minima = scala.collection.mutable.SortedSet.empty[Long]
        i = 0
        while (i < n) {
          var m = hs(i)
          var j = i + 1
          val end = math.min(n, i + w)
          while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
          minima += m
          i += 1
        }
        (docId, minima.size.toLong, minima.mkString(","))
      }
      .toDF("doc_id", "n_fingerprints", "fp_sig")
      .orderBy("doc_id")
  }

  /** Corpus-bigram language-model fluency score — the CCNet/Gopher-style
    * quality signal the heuristic gate (length/punct ratios) can't see:
    * a document whose word transitions are IMPROBABLE under the corpus
    * LM reads as noise even when its surface stats look fine.
    *
    * The LM is trained on the corpus itself in one pass: unigram counts
    * c1(w) and bigram counts c2(w1,w2) over consecutive word pairs.
    * Per-bigram surprise is the scaled inverse conditional probability
    *
    *   surprise_micro(w1,w2) = (c1_left(w1) * 1e6) div c2(w1,w2)
    *
    * (c1_left counts w1 as a LEFT context, i.e. over bigrams, so the
    * ratio is an exact 1/P(w2|w1) — always ≥ 1e6); the document score
    * is the truncated mean over its bigrams, a perplexity surrogate in
    * pure BIGINT arithmetic (log-free, so DuckDB reproduces every bit).
    *
    * Scale: training is ONE hash aggregate over the bigram stream
    * (map-side partial); scoring re-joins each doc's bigrams to the
    * count tables by key — shuffle ∝ corpus tokens, never pairs. At
    * 100 TB the count tables get a DF floor (drop hapax bigrams) and
    * the join broadcasts the surviving model, exactly like the n-gram
    * Jaccard index's DF cap. */
  /** Count-min-sketch rows (d) and buckets per row (w) for
    * [[cmsHeavyHitters]]: ε ≈ e/w ≈ 1%, δ ≈ e^-d ≈ 2%. */
  val CmsRows = 4
  val CmsWidth = 256

  /** Count-min-sketch heavy hitters with one-sided-error calibration —
    * the bounded-state frequency sketch a 100 TB token stream needs
    * when the exact term dictionary no longer fits: d×w counters
    * (hash-bucketed sums), point estimate = min over the d rows. The
    * row reports the sketch estimate NEXT TO the exact count for the
    * exact top-20 terms, so the one-sided error contract (est ≥ exact,
    * overcount bounded by colliding mass) is itself oracle-checked —
    * the same estimate-vs-exact shape as the MinHash calibration row.
    *
    * Scale: the sketch build is one hash aggregate over d× the token
    * stream with map-side partials collapsing each partition to ≤ d·w
    * rows — the shuffle is O(partitions·d·w), independent of corpus
    * size; the probe side is 20 terms. Bucket hashes are md5-prefix
    * integers, bit-identical in DuckDB. */
  def cmsHeavyHitters(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))

    val bucket = expr(
      s"""cast(conv(substring(md5(concat(cast(r as string), ':', term)),
          1, 8), 16, 10) as bigint) % $CmsWidth""")

    val sketch = toks
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsRows - 1))).as("r"))
      .withColumn("b", bucket)
      .groupBy("r", "b")
      .agg(count(lit(1)).as("cnt"))

    // orderBy+limit → TakeOrderedAndProject: per-partition top-k heaps
    // merged on the driver, no single-partition window over the
    // dictionary.
    val top = toks.groupBy("term")
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("term"))
      .limit(topK)

    top
      .select(col("term"), col("exact_count"),
        explode(sequence(lit(0), lit(CmsRows - 1))).as("r"))
      .withColumn("b", bucket)
      .join(sketch, Seq("r", "b"))
      .groupBy("term", "exact_count")
      .agg(min(col("cnt")).as("est_count"))
      .select(col("term"), col("exact_count"), col("est_count"),
        (col("est_count") - col("exact_count")).as("overcount"))
      .orderBy(col("exact_count").desc, col("term"))
  }

  def ngramLm(s: SparkSession, dir: String): DataFrame = {
    // Bigrams come straight off the token ARRAY (adjacent-pair
    // transform + explode) — zero shuffle; a lead() window would
    // exchange the whole token stream by doc_id just to pair
    // neighbors the array already holds. The size>=2 guard keeps
    // sequence() ascending (sequence(1,0) would step DOWN).
    val bigrams = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
           i -> named_struct('w1', toks[i-1], 'w2', toks[i]))""")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    // Enrich the MODEL with the unigram totals first (model-sized join
    // — |c2| rows vs |c1| rows), then hit the token stream exactly
    // once. Joining the stream to c2 and then AGAIN to c1 shuffled the
    // corpus-sized bigram stream twice; the r13 probe put doc_ngram_lm
    // at 0.75→3.27 s from 3x→10x with the model-join side driving the
    // tail (each replica mints a disjoint vocabulary, so |c2| grows
    // ~linearly with the corpus). Pre-scoring the model also lets AQE
    // broadcast ONE enriched table; at 100 TB the documented DF floor
    // (drop hapax bigrams) is what keeps that table broadcastable.
    val model = c2.join(c1, Seq("w1"))
      .withColumn("surprise_micro", expr("(c1 * 1000000L) div c2"))
      .select("w1", "w2", "surprise_micro")

    bigrams
      .join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(surprise_micro) div count(1)").as("lm_score_micro"))
      .orderBy("doc_id")
  }
}
