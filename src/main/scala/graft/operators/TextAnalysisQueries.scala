package graft.operators

import graft.QuerySpec

/** The text-analysis rows: language id, quality, PII, token counts,
  * keywords and n-gram models; one [[graft.QuerySpec]] per row. */
object TextAnalysisQueries {
  /** One unrolled BPE training round for the `doc_token_bpe` oracle:
    * weighted adjacent-pair count over the bracketed symbol strings →
    * argmax (count desc, then pair lexicographic — BpeTokenizer.train's
    * exact tie-break, though the planted frequencies make every round's
    * best pair strictly unique) → one left-to-right non-overlapping
    * rewrite (`replace` on the `[a][b]` form IS that pass: brackets make
    * multi-char symbols unambiguous and adjacent matches share no
    * delimiter). MATERIALIZED is load-bearing: inlined, the six chained
    * rounds re-evaluate each other combinatorially. */
  private def bpeRoundSql(k: Int): String = {
    val prev = if (k == 1) "freqs" else s"s${k - 1}"
    s"""pairs$k AS MATERIALIZED (
           SELECT toks[i] AS a, toks[i + 1] AS b, SUM(freq) AS cnt
           FROM (SELECT freq,
                   regexp_extract_all(syms, '\\[([^\\]]*)\\]', 1) AS toks
                 FROM $prev WHERE freq > 0),
                UNNEST(range(1, len(toks))) AS u(i)
           GROUP BY 1, 2),
         best$k AS MATERIALIZED (
           SELECT a, b FROM pairs$k ORDER BY cnt DESC, a, b LIMIT 1),
         s$k AS MATERIALIZED (
           SELECT f.word, f.m, f.freq,
             replace(f.syms,
               '[' || COALESCE(b.a, '') || '][' || COALESCE(b.b, '') || ']',
               '[' || COALESCE(b.a, '') || COALESCE(b.b, '') || ']') AS syms
           FROM $prev f LEFT JOIN best$k b ON TRUE)"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("doc_langid", TextAnalysis.langId(_, _),
      """WITH h AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text,' '), w ->
               list_contains(['the','a','and','of','to','is','in','it'], w)))
               AS BIGINT) AS en_hits,
             CAST(len(list_filter(string_split(text,' '), w ->
               list_contains(['el','la','los','de','que','y','un','es'], w)))
               AS BIGINT) AS es_hits,
             CAST(len(list_filter(string_split(text,' '), w ->
               list_contains(['der','die','das','und','ist','ein','zu','nicht'], w)))
               AS BIGINT) AS de_hits,
             CAST(len(list_filter(string_split(text,' '), w ->
               list_contains(['le','la','les','et','est','une','que','des'], w)))
               AS BIGINT) AS fr_hits
           FROM documents)
         SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
           CASE WHEN greatest(en_hits,es_hits,de_hits,fr_hits)=0 THEN 'und'
                WHEN en_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'en'
                WHEN es_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'es'
                WHEN de_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'de'
                ELSE 'fr' END AS predicted_lang,
           (CASE WHEN greatest(en_hits,es_hits,de_hits,fr_hits)=0 THEN 'und'
                WHEN en_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'en'
                WHEN es_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'es'
                WHEN de_hits = greatest(en_hits,es_hits,de_hits,fr_hits) THEN 'de'
                ELSE 'fr' END) = lang AS matches_label
         FROM h ORDER BY doc_id"""),
    QuerySpec("doc_quality", TextAnalysis.qualityScore(_, _),
      """SELECT doc_id,
           CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
             AS n_distinct_words,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split(text,' '), w ->
             list_contains(['the','a','and','of','to','is','in','it'], w)))
             AS BIGINT) AS stop_hits,
           round(CAST(length(text) AS DOUBLE) /
             len(string_split(text,' ')), 4) AS avg_word_len,
           CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) * 1000
             // CAST(len(string_split(text,' ')) AS BIGINT)
             AS distinct_permille,
           (len(string_split(text,' ')) >= 20 AND length(text) >= 100 AND
            (CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) * 1000
             // CAST(len(string_split(text,' ')) AS BIGINT)) >= 300) AS keep
         FROM documents ORDER BY doc_id"""),
    QuerySpec("doc_quality_filter", TextAnalysis.qualityFilter(_, _),
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' ' || repeat('x', 1000)
                  WHEN doc_id % 10 = 0 THEN text ||
                    repeat(' #', len(string_split(text, ' ')) // 10 + 1)
                  ELSE text END AS text
           FROM documents),
         m AS (
           SELECT doc_id, text, string_split(text, ' ') AS ws,
             CAST(length(text) AS BIGINT) AS n_chars
           FROM t),
         x AS (
           SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             n_chars - (CAST(len(ws) AS BIGINT) - 1) AS letters,
             CAST(n_chars - length(replace(text, '#', '')) AS BIGINT)
               AS hash_cnt,
             CAST((n_chars - length(replace(text, '...', ''))) // 3
               AS BIGINT) AS ellipsis_cnt,
             CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END)
               AS BIGINT) AS stop_present
           FROM m),
         r AS (
           SELECT *,
             CASE WHEN n_words < 30 OR n_words > 100000 THEN 'word_count'
                  WHEN letters < n_words * 3 OR letters > n_words * 10
                    THEN 'mean_word_length'
                  WHEN (hash_cnt + ellipsis_cnt) * 10 > n_words
                    THEN 'symbol_ratio'
                  WHEN stop_present < 1 THEN 'stopword_absence'
                  ELSE NULL END AS drop_reason
           FROM x)
         SELECT doc_id, n_words, letters, hash_cnt, ellipsis_cnt,
           stop_present, drop_reason,
           CAST(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS keep
         FROM r ORDER BY doc_id"""),
    QuerySpec("doc_pii_redact", TextAnalysis.piiRedact(_, _),
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               (CASE WHEN doc_id % 5 = 0
                     THEN text || ' contact user' || doc_id || '@example.com'
                     ELSE text END)
               || ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
             WHEN doc_id % 5 = 0
               THEN text || ' contact user' || doc_id || '@example.com'
             ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
             AS n_ips,
           sha256(regexp_replace(regexp_replace(text,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'))
             AS scrubbed_hash
         FROM t ORDER BY doc_id"""),
    QuerySpec("doc_token_count", TextAnalysis.tokenCount(_, _),
      """SELECT doc_id,
           CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
           CAST(ceil(CAST(length(text) AS DOUBLE)/4) AS BIGINT)
             AS est_bpe_tokens,
           CAST(len(regexp_extract_all(text,'[a-z]+')) AS BIGINT)
             AS alpha_tokens,
           (length(text) > 32764) AS over_embed_cap
         FROM documents ORDER BY doc_id"""),
    QuerySpec("doc_fingerprint", TextAnalysis.fingerprint(_, _),
      """WITH grams AS (
           SELECT doc_id,
             unnest(range(1, greatest(1, length(text)-7)+1)) AS i, text
           FROM documents
         ), hashed AS (
           SELECT doc_id, i,
             ('0x'||substr(sha256(substring(text, CAST(i AS INT), 8)),1,12))::BIGINT AS h
           FROM grams
         ), wins AS (
           SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
           FROM hashed)
         SELECT doc_id,
           CAST(count(DISTINCT win_min) AS BIGINT) AS n_fingerprints,
           array_to_string(list_sort(list_distinct(list(win_min))), ',')
             AS fp_sig
         FROM wins GROUP BY doc_id ORDER BY doc_id"""),
    QuerySpec("doc_keywords", TextAnalysis.keywords(_, _),
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                    FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1,2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
             (tf.tf * 1000000) // df.df AS score
           FROM tf JOIN df USING (term)),
         ranked AS (
           SELECT doc_id, term, tf, df, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, term) AS rank
           FROM scored)
         SELECT doc_id, rank, term, tf, df, score FROM ranked
         WHERE rank <= 3 ORDER BY doc_id, rank"""),
    // full oracle since r13: planted 6-word construction whose merge
    // table DuckDB RELEARNS in six unrolled SQL training rounds
    // an INDEPENDENT BPE implementation in SQL: relearn the merge
    // table from the planted construction (word j of BpeOracleWords
    // repeats doc_id % (j+3) times per document; training sample =
    // doc_id < 50, the entry's rule), then re-derive each document's
    // token stream — for in-vocabulary words encode ≡ training replay,
    // since a merge's components always form at earlier ranks. '!' is
    // the end-of-word sentinel (the Spark side prints it as '!' too).
    QuerySpec("doc_token_bpe", TextAnalysis.tokenCountBpeOracle(_, _),
      s"""WITH sample AS (SELECT doc_id FROM documents WHERE doc_id < 50),
         w0 AS (
           SELECT * FROM (VALUES
             ('ab',   '[a][b][!]',       3),
             ('abc',  '[a][b][c][!]',    4),
             ('cd',   '[c][d][!]',       5),
             ('cde',  '[c][d][e][!]',    6),
             ('de',   '[d][e][!]',       7),
             ('abcd', '[a][b][c][d][!]', 8)) AS t(word, syms, m)),
         freqs AS MATERIALIZED (
           SELECT w.word, w.syms, w.m,
             (SELECT COALESCE(SUM(doc_id % w.m), 0) FROM sample) AS freq
           FROM w0 w),
         ${(1 to 6).map(bpeRoundSql).mkString(",\n         ")},
         final AS (
           SELECT m, regexp_extract_all(syms, '\\[([^\\]]*)\\]', 1) AS toks
           FROM s6),
         per_doc AS (
           SELECT d.doc_id,
             flatten(list(
               flatten(list_transform(
                 range(CAST(d.doc_id % f.m AS INT)), x -> f.toks))
               ORDER BY f.m)) AS toks
           FROM documents d CROSS JOIN final f
           GROUP BY d.doc_id)
         SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
           COALESCE(array_to_string(toks[1:5], '|'), '') AS first_tokens
         FROM per_doc ORDER BY doc_id"""),
    // planted-margin classifier probes: odd probes sit at +(41..56)
    // along the training separator's axis, even at the negative — far
    // outside the 0.5-3.0 margin band, so any model that fit the
    // planted training data classifies them by construction. Empty
    // corpus → empty on both sides.
    QuerySpec("doc_quality_model", TextAnalysis.qualityModelProbes(_, _),
      """SELECT CAST(j AS BIGINT) AS probe_id,
           CAST(j % 2 AS BIGINT) AS predicted_keep
         FROM (SELECT unnest(range(1, 17)) AS j)
         WHERE EXISTS (SELECT 1 FROM documents WHERE doc_id < 50)
         ORDER BY probe_id"""),
    // Count-min-sketch heavy hitters calibrated against exact counts —
    // see TextAnalysis.cmsHeavyHitters scaladoc.
    QuerySpec("doc_heavy_hitters_cms", TextAnalysis.cmsHeavyHitters(_, _),
      s"""WITH tok AS (SELECT unnest(string_split(text,' ')) AS term
                      FROM documents),
         rows0 AS (SELECT term,
             unnest(range(0, ${TextAnalysis.CmsRows})) AS r FROM tok),
         rb AS (SELECT r,
             ('0x'||substr(md5(CAST(r AS VARCHAR)||':'||term), 1, 8))::BIGINT
               % ${TextAnalysis.CmsWidth} AS b
           FROM rows0),
         sketch AS (SELECT r, b, count(*) AS cnt FROM rb GROUP BY 1, 2),
         exact AS (SELECT term, count(*) AS exact_count FROM tok
                   GROUP BY 1),
         top AS (SELECT term, exact_count FROM exact
                 ORDER BY exact_count DESC, term LIMIT 20),
         cand AS (SELECT term, exact_count,
             unnest(range(0, ${TextAnalysis.CmsRows})) AS r FROM top),
         cb AS (SELECT term, exact_count, r,
             ('0x'||substr(md5(CAST(r AS VARCHAR)||':'||term), 1, 8))::BIGINT
               % ${TextAnalysis.CmsWidth} AS b
           FROM cand),
         est AS (SELECT term, exact_count, min(cnt) AS est_count
                 FROM cb JOIN sketch USING (r, b) GROUP BY 1, 2)
         SELECT term, exact_count, est_count,
           est_count - exact_count AS overcount
         FROM est ORDER BY exact_count DESC, term"""),
    // Corpus-bigram LM surprise score (scaled inverse conditional
    // probability, truncated mean) — see TextAnalysis.ngramLm scaladoc.
    QuerySpec("doc_ngram_lm", TextAnalysis.ngramLm(_, _),
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks
                    FROM documents),
         b0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                FROM d),
         bg AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                  toks[CAST(i + 1 AS INT)] AS w2 FROM b0),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
                FROM c2 GROUP BY 1),
         sc AS (SELECT bg.doc_id, (c1.c1 * 1000000) // c2.c2 AS surprise
                FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
         SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(surprise) // count(*) AS BIGINT) AS lm_score_micro
         FROM sc GROUP BY doc_id ORDER BY doc_id""")
  )
}
