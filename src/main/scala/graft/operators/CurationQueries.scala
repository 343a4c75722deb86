package graft.operators

import graft.QuerySpec

/** The dataset-curation rows: span dedup, decontamination, sampling,
  * packing, sharding and the curation funnel; one [[graft.QuerySpec]] per
  * row. */
object CurationQueries {
  /** Shared funnel pipeline CTEs (quality/simhash-dup/contamination/
    * sample flags folded to the per-stage `fun` table) — the base of
    * both the curation_funnel and curation_runs oracles. */
  private val funnelCtes: String =
    s"""WITH d AS (SELECT doc_id, source, text, (length(text)+3)//4 AS tok
                    FROM documents),
         ws AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
                WHERE len(string_split(text,' ')) >= 3),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, len(w)-1),
                  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS shingle
                FROM ws),
         x AS (SELECT doc_id,
                 ('0x'||substr(sha256(shingle),1,8))::BIGINT AS w32 FROM sh),
         bits AS (SELECT unnest(range(0,32)) AS b),
         sgn AS (SELECT doc_id, b, sum(2*((w32 >> b) & 1) - 1) AS s0
                 FROM x CROSS JOIN bits GROUP BY 1,2),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s0 > 0 THEN (1::BIGINT << b)
                            ELSE 0 END) AS BIGINT) AS simhash
                 FROM sgn GROUP BY 1),
         dup AS (SELECT DISTINCT b.doc_id
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimhashMaxDist}),
         cw AS (SELECT doc_id, string_split(text,' ') AS ws2
                FROM documents
                WHERE len(string_split(text,' ')) >= 4),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(0, len(ws2)-3),
                 i -> array_to_string(ws2[i+1 : i+4], ' ')))) AS gram
               FROM cw),
         ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         ct AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (gram)
                WHERE doc_id % 97 <> 0),
         f AS (SELECT d.doc_id, d.tok,
                 (len(string_split(d.text,' ')) >= 20 AND
                  length(d.text) >= 100 AND
                  (CAST(len(list_distinct(string_split(d.text,' ')))
                     AS BIGINT) * 1000
                   // CAST(len(string_split(d.text,' ')) AS BIGINT))
                    >= 300) AS q,
                 (dup.doc_id IS NULL) AS dk,
                 (ct.doc_id IS NOT NULL OR d.doc_id % 97 = 0) AS c,
                 (('0x'||substr(sha256('smp:'||d.doc_id),1,12))::BIGINT
                    % 1000 <
                  CASE WHEN CAST(coalesce(nullif(regexp_extract(d.source,
                         'src([0-9]+)',1),''),'9999') AS INT) < 5 THEN 800
                       WHEN CAST(coalesce(nullif(regexp_extract(d.source,
                         'src([0-9]+)',1),''),'9999') AS INT) < 15 THEN 300
                       ELSE 100 END) AS smp
               FROM d LEFT JOIN dup ON d.doc_id = dup.doc_id
                      LEFT JOIN ct ON d.doc_id = ct.doc_id),
         agg AS (SELECT
           count(*) AS d1, CAST(sum(tok) AS BIGINT) AS t1,
           CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           CAST(sum(CASE WHEN q THEN tok ELSE 0 END) AS BIGINT) AS t2,
           CAST(sum(CASE WHEN q AND dk THEN 1 ELSE 0 END) AS BIGINT) AS d3,
           CAST(sum(CASE WHEN q AND dk THEN tok ELSE 0 END) AS BIGINT) AS t3,
           CAST(sum(CASE WHEN q AND dk AND NOT c THEN 1 ELSE 0 END)
             AS BIGINT) AS d4,
           CAST(sum(CASE WHEN q AND dk AND NOT c THEN tok ELSE 0 END)
             AS BIGINT) AS t4,
           CAST(sum(CASE WHEN q AND dk AND NOT c AND smp THEN 1 ELSE 0 END)
             AS BIGINT) AS d5,
           CAST(sum(CASE WHEN q AND dk AND NOT c AND smp THEN tok
             ELSE 0 END) AS BIGINT) AS t5
          FROM f),
         fun AS (
           SELECT '1_ingested' AS stage, d1 AS n_docs, t1 AS n_tokens FROM agg
           UNION ALL SELECT '2_quality', d2, t2 FROM agg
           UNION ALL SELECT '3_near_dedup', d3, t3 FROM agg
           UNION ALL SELECT '4_decontaminated', d4, t4 FROM agg
           UNION ALL SELECT '5_sampled', d5, t5 FROM agg)"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_spans", Curation.spanDedup(_, _),
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
                     FROM documents),
         p AS (SELECT doc_id, ws,
                 unnest(range((len(ws)+${Curation.SpanWords - 1})
                              //${Curation.SpanWords})) AS pos
               FROM w),
         segs AS (SELECT doc_id, pos,
                    array_to_string(ws[pos*${Curation.SpanWords}+1 :
                      pos*${Curation.SpanWords}+${Curation.SpanWords}],
                      ' ') AS span
                  FROM p),
         h AS (SELECT doc_id, pos, span,
                 ('0x'||substr(sha256(span),1,14))::BIGINT AS h FROM segs),
         r AS (SELECT doc_id, pos, span,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, pos) AS rn
               FROM h)
         SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN rn=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           sha256(coalesce(string_agg(CASE WHEN rn=1 THEN span END,
             ' ' ORDER BY pos), '')) AS kept_hash
         FROM r GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("dedup_spans_delta", Curation.spanDedupDelta(_, _),
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
                     FROM documents),
         p AS (SELECT doc_id, ws,
                 unnest(range((len(ws)+${Curation.SpanWords - 1})
                              //${Curation.SpanWords})) AS pos
               FROM w),
         segs AS (SELECT doc_id, pos,
                    array_to_string(ws[pos*${Curation.SpanWords}+1 :
                      pos*${Curation.SpanWords}+${Curation.SpanWords}],
                      ' ') AS span
                  FROM p),
         hs AS (SELECT doc_id, pos,
                  ('0x'||substr(sha256(span),1,14))::BIGINT AS h
                FROM segs),
         stored AS (SELECT DISTINCT h FROM hs WHERE doc_id % 3 <> 0),
         inc AS (SELECT doc_id, pos, h FROM hs WHERE doc_id % 3 = 0),
         r AS (SELECT i.doc_id, i.pos,
                 (s.h IS NOT NULL) AS in_stored,
                 row_number() OVER (PARTITION BY i.h
                   ORDER BY i.doc_id, i.pos) AS rn
               FROM inc i LEFT JOIN stored s ON i.h = s.h)
         SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN in_stored THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_stored,
           CAST(sum(CASE WHEN NOT in_stored AND rn > 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped_dup,
           CAST(sum(CASE WHEN NOT in_stored AND rn = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept
         FROM r GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("dedup_decontaminate", Curation.decontaminate(_, _),
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
                     FROM documents
                     WHERE len(string_split(text,' ')) >= ${Curation.ContamN}),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                 range(0, len(ws)-${Curation.ContamN - 1}),
                 i -> array_to_string(ws[i+1 : i+${Curation.ContamN}],
                   ' ')))) AS gram
               FROM w),
         e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         t AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
         SELECT doc_id, count(*) AS n_shared_ngrams
         FROM t JOIN e USING (gram) GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("doc_rep_ngrams", Curation.repetitionSignals(_, _),
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
                    FROM documents
                    WHERE len(string_split(text,' ')) >= 2),
         g AS (SELECT doc_id, unnest(list_transform(range(0, len(ws)-1),
                 i -> array_to_string(ws[i+1 : i+2], ' '))) AS gram
               FROM w),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1,2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct_bigrams,
           (max(c) * 1000) // CAST(sum(c) AS BIGINT)
             AS top_bigram_permille,
           (count(*) * 1000) // CAST(sum(c) AS BIGINT)
             AS distinct_bigram_permille,
           ((max(c) * 1000) // CAST(sum(c) AS BIGINT)) <= 60 AS keep
         FROM c GROUP BY 1 ORDER BY doc_id"""),
    QuerySpec("doc_domain_stats", Curation.domainMixture(_, _),
      """WITH d AS (SELECT source, lang, (length(text)+3)//4 AS tok
                    FROM documents),
         p AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(tok) AS BIGINT) AS total_tokens,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
               FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(tok) AS BIGINT) AS grand_total FROM d)
         SELECT source, n_docs, total_tokens, n_langs,
           (total_tokens * 1000) // grand_total AS weight_permille
         FROM p CROSS JOIN t ORDER BY source"""),
    QuerySpec("doc_sample_stratified", Curation.stratifiedSample(_, _),
      """WITH ix AS (SELECT doc_id, source,
           CAST(coalesce(nullif(
             regexp_extract(source, 'src([0-9]+)', 1), ''), '9999') AS INT)
             AS src_idx
         FROM documents),
         x AS (SELECT doc_id, source,
           CAST(CASE WHEN src_idx < 5 THEN 800
                     WHEN src_idx < 15 THEN 300
                     ELSE 100 END AS BIGINT) AS rate_permille,
           ('0x'||substr(sha256('smp:'||doc_id),1,12))::BIGINT % 1000
             AS bucket
         FROM ix)
         SELECT doc_id, source, rate_permille, bucket FROM x
         WHERE bucket < rate_permille ORDER BY doc_id"""),
    QuerySpec("doc_pack_sequences", Curation.packSequences(_, _),
      s"""WITH d AS (SELECT doc_id, source, (length(text)+3)//4 AS n_tokens
                     FROM documents),
         w AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY doc_id) AS BIGINT) AS end_off
               FROM d)
         SELECT doc_id, source, n_tokens,
           end_off - n_tokens AS start_off,
           (end_off - n_tokens) // ${Curation.SeqLen} AS seq_first,
           (end_off - 1) // ${Curation.SeqLen} AS seq_last,
           (end_off - 1) // ${Curation.SeqLen}
             - (end_off - n_tokens) // ${Curation.SeqLen} + 1 AS n_seqs
         FROM w ORDER BY doc_id"""),
    // the hash-sort global shuffle: position = per-shard sort rank of
    // the salted sha key; ties break by doc_id on both sides
    QuerySpec("doc_shard_shuffle", Curation.shardShuffle(_, _),
      s"""WITH k AS (SELECT doc_id,
           ('0x'||substr(sha256('shuf:'||doc_id),1,12))::BIGINT
             AS shuffle_key
         FROM documents)
         SELECT doc_id,
           CAST(shuffle_key % ${Curation.ShuffleShards} AS BIGINT)
             AS shard,
           CAST(row_number() OVER (
             PARTITION BY shuffle_key % ${Curation.ShuffleShards}
             ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos,
           shuffle_key
         FROM k ORDER BY shard, pos"""),
    // the composed daily shard-prep job: gate -> exact keep-first
    // dedup -> hash shuffle -> per-shard packing manifest, re-derived
    // end to end (each stage also has its own standalone row)
    QuerySpec("curation_shards_e2e", Curation.trainingShards(_, _),
      s"""WITH gated AS (
           SELECT doc_id, text FROM documents
           WHERE len(string_split(text,' ')) >= 20
             AND length(text) >= 100
             AND (CAST(len(list_distinct(string_split(text,' ')))
                    AS BIGINT) * 1000
                  // CAST(len(string_split(text,' ')) AS BIGINT)) >= 300),
         kept AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
               min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper
             FROM gated) WHERE doc_id = keeper),
         sharded AS (
           SELECT doc_id, (length(text)+3)//4 AS tok,
             ('0x'||substr(sha256('shuf:'||doc_id),1,12))::BIGINT AS k
           FROM kept),
         p AS (
           SELECT doc_id, tok, k % ${Curation.ShuffleShards} AS shard,
             row_number() OVER (PARTITION BY k % ${Curation.ShuffleShards}
               ORDER BY k, doc_id) AS pos
           FROM sharded)
         SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST((SUM(tok) - 1) // 2048 + 1 AS BIGINT) AS n_seqs,
           CAST(min_by(doc_id, pos) AS BIGINT) AS head_doc,
           CAST(max_by(doc_id, pos) AS BIGINT) AS tail_doc
         FROM p GROUP BY shard ORDER BY shard"""),
    QuerySpec("curation_funnel", Curation.funnelAuto(_, _),
      (funnelCtes +
      "\nSELECT stage, n_docs, n_tokens FROM fun ORDER BY stage"),
      sizeGuarded = true),
    QuerySpec("curation_runs", Curation.curationRunsAuto(_, _),
      (funnelCtes + """
      , prov AS (SELECT stage, n_docs, n_tokens,
           coalesce(lag(n_docs) OVER (ORDER BY stage), n_docs) AS docs_in,
           coalesce(lag(n_tokens) OVER (ORDER BY stage), n_tokens)
             AS tokens_in,
           array_to_string(list_sort(
             list(stage||'='||n_docs||'='||n_tokens) OVER
               (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)), ',') AS sig
         FROM fun)
      SELECT substr(sha256('curation:'||sig),1,16)
          AS run_id,
        stage, docs_in, n_docs AS docs_out,
        docs_in - n_docs AS docs_dropped,
        tokens_in, n_tokens AS tokens_out,
        tokens_in - n_tokens AS tokens_dropped
      FROM prov ORDER BY stage"""),
      sizeGuarded = true),
    QuerySpec("doc_sample_balanced", Curation.balancedSample(_, _),
      """WITH d AS (SELECT doc_id, source, (length(text)+3)//4 AS tok
                    FROM documents),
         p AS (SELECT source, CAST(sum(tok) AS BIGINT) AS src_tokens
               FROM d GROUP BY 1),
         m AS (SELECT min(src_tokens) AS min_tokens FROM p),
         rates AS (SELECT source,
             least(1000, (min_tokens * 1000) // src_tokens)
               AS rate_permille
           FROM p CROSS JOIN m),
         x AS (SELECT d.doc_id, d.source, r.rate_permille,
             ('0x'||substr(sha256('smp:'||d.doc_id),1,12))::BIGINT % 1000
               AS bucket
           FROM d JOIN rates r ON d.source = r.source)
         SELECT doc_id, source, rate_permille, bucket FROM x
         WHERE bucket < rate_permille ORDER BY doc_id"""),
    // Exact token-budget assembly: per source, documents in sha-bucket
    // order until the cumulative token count reaches the budget — the
    // running-sum cutoff is re-derived with the identical window.
    QuerySpec("curation_token_budget", Curation.tokenBudgetSample(_, _),
      s"""WITH d AS (SELECT doc_id, source,
             CAST((length(text)+3)//4 AS BIGINT) AS tok,
             ('0x'||substr(sha256('smp:'||doc_id),1,12))::BIGINT % 1000
               AS bucket
           FROM documents),
         c AS (SELECT source, tok, bucket,
             sum(tok) OVER (PARTITION BY source ORDER BY bucket, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tok
           FROM d)
         SELECT source, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tokens_kept,
           CAST(max(cum_tok) AS BIGINT) AS cum_at_cut,
           CAST(max(bucket) AS BIGINT) AS last_bucket,
           CAST(${graft.operators.Curation.TokenBudget} AS BIGINT)
             AS budget,
           CAST(sum(tok) * 1000 //
             ${graft.operators.Curation.TokenBudget} AS BIGINT)
             AS fill_permille
         FROM c WHERE cum_tok <= ${graft.operators.Curation.TokenBudget}
         GROUP BY 1 ORDER BY source"""),
    QuerySpec("doc_blocklist_filter", Curation.blocklistFilter(_, _),
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS w
                     FROM documents),
         x AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                 CAST(len(list_filter(w, t -> t IN
                   (${Curation.Blocklist.map(b => s"'$b'").mkString(",")})))
                   AS BIGINT) AS bad_hits
               FROM d)
         SELECT doc_id, n_words, bad_hits,
           (bad_hits * 1000) // n_words AS bad_permille,
           CAST(CASE WHEN (bad_hits * 1000) // n_words
                  < ${Curation.BlockMaxPermille} THEN 1 ELSE 0 END
             AS BIGINT) AS keep
         FROM x ORDER BY doc_id"""),
    QuerySpec("doc_mixture_epochs", Curation.mixtureEpochs(_, _),
      s"""WITH d AS (SELECT source, (length(text)+3)//4 AS tok
                     FROM documents),
         p AS (SELECT source, CAST(sum(tok) AS BIGINT) AS src_tokens
               FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS grand_total,
                 CAST(count(*) AS BIGINT) AS n_sources FROM p),
         e AS (SELECT source, src_tokens,
                 (grand_total * ${Curation.MixtureBudgetFactor})
                   // n_sources AS target_tokens
               FROM p CROSS JOIN t),
         f AS (SELECT source, src_tokens, target_tokens,
                 least(${Curation.MaxEpochsPermille},
                   (target_tokens * 1000) // nullif(src_tokens, 0))
                   AS epochs_permille
               FROM e)
         SELECT source, src_tokens, target_tokens, epochs_permille,
           (src_tokens * epochs_permille) // 1000 AS planned_tokens
         FROM f ORDER BY source"""),
    QuerySpec("doc_length_histogram", Curation.lengthHistogram(_, _),
      s"""WITH d AS (SELECT CAST(length(text) AS BIGINT) AS len
                     FROM documents),
         h AS (SELECT len // ${Curation.HistBucketChars} AS bucket,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len) AS BIGINT) AS total_chars
               FROM d GROUP BY 1),
         g AS (SELECT CAST(sum(n_docs) AS BIGINT) AS grand_docs FROM h),
         c AS (SELECT bucket, n_docs, total_chars,
                 CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT)
                   AS cum_docs, grand_docs
               FROM h CROSS JOIN g)
         SELECT bucket, n_docs, total_chars, cum_docs,
           (cum_docs * 1000) // grand_docs AS cum_permille
         FROM c ORDER BY bucket""")
  )
}
