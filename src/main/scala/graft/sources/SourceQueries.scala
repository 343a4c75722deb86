package graft.sources

import graft.QuerySpec

/** The source-connector rows: local directory and S3 scans, CSV/ORC/JSONL,
  * schema evolution, robots.txt and crawl politeness; one
  * [[graft.QuerySpec]] per row. */
object SourceQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("src_scan_filters", LocalDirectory.scanFilters(_, _),
      """WITH l AS (
           SELECT source || '/f' || doc_id ||
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS path,
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS ext,
             CAST(n_chars AS BIGINT) AS size,
             CAST(doc_id * 60000 AS BIGINT) AS mod_ms
           FROM documents)
         SELECT path, ext, size, mod_ms,
           CASE WHEN size > 500 THEN 'skip_size'
                WHEN ext NOT IN ('.py','.go','.md') THEN 'skip_not_included'
                WHEN ext IN ('.md') THEN 'skip_excluded'
                WHEN mod_ms <= 120*60000 THEN 'skip_mtime'
                ELSE 'kept' END AS decision
         FROM l ORDER BY path"""),
    // the incremental scan: the kept cascade SEMI-JOINED to the run's
    // changed-file (git diff) list — doc_id % 4 IN (0,1)
    QuerySpec("src_scan_allowed", LocalDirectory.scanAllowed(_, _),
      """WITH l AS (
           SELECT doc_id,
             source || '/f' || doc_id ||
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS path,
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS ext,
             CAST(n_chars AS BIGINT) AS size,
             CAST(doc_id * 60000 AS BIGINT) AS mod_ms
           FROM documents)
         SELECT path, ext, size, mod_ms
         FROM l
         WHERE size <= 500 AND ext IN ('.py','.go')
           AND mod_ms > 120*60000
           AND doc_id % 4 < 2
         ORDER BY path"""),
    // the S3 source composition: the reference's own decision order
    // (folder -> excluded -> not-included -> mtime -> size), metadata()
    // product/version indirection, url rewrite, and the deletion diff
    // in which mtime/size-skipped objects still count as present
    QuerySpec("src_scan_s3", LocalDirectory.scanS3(_, _),
      """WITH l AS (
           SELECT doc_id, n_chars,
             CASE WHEN lang='en' THEN '.py' WHEN lang='es' THEN '.go'
                  WHEN lang='de' THEN '.rs' WHEN lang='fr' THEN '.ts'
                  ELSE '.md' END AS ext
           FROM documents),
         listing AS (
           SELECT doc_id, ext,
             CASE WHEN doc_id % 23 = 0 THEN 'docs/d' || doc_id || '/'
                  ELSE 'docs/f' || doc_id || ext END AS key,
             CAST(n_chars AS BIGINT) AS size,
             CAST(doc_id * 60000 AS BIGINT) AS mod_ms
           FROM l),
         cls AS (
           SELECT *,
             CASE WHEN key LIKE '%/' THEN 'skip_folder'
                  WHEN ext IN ('.md','.rs') THEN 'skip_excluded'
                  WHEN ext NOT IN ('.py','.go') THEN 'skip_not_included'
                  WHEN mod_ms <= 120*60000 THEN 'skip_mtime'
                  WHEN size > 500 THEN 'skip_size'
                  ELSE 'kept' END AS decision
           FROM listing),
         live AS (
           SELECT key, decision, size, mod_ms,
             CASE WHEN decision = 'kept'
                  THEN 'https://docs.example.com/' || substr(key, 6)
             END AS url,
             CASE WHEN decision = 'kept'
                  THEN CASE WHEN doc_id % 5 <> 0 THEN 'prod_' || (doc_id % 3)
                            ELSE '' END
             END AS product_name,
             CASE WHEN decision = 'kept'
                  THEN CASE WHEN doc_id % 11 <> 0 THEN 'v' || (doc_id % 7)
                            ELSE '' END
             END AS version
           FROM cls),
         prev AS (
           SELECT 'docs/f' || doc_id || ext AS key
           FROM l WHERE doc_id % 4 <> 3
           UNION ALL
           SELECT 'docs/gone' || doc_id || '.py' AS key
           FROM l WHERE doc_id % 29 = 0),
         deleted AS (
           SELECT p.key, 'deleted' AS decision,
             CAST(NULL AS BIGINT) AS size, CAST(NULL AS BIGINT) AS mod_ms,
             'https://docs.example.com/' || substr(p.key, 6) AS url,
             CAST(NULL AS VARCHAR) AS product_name,
             CAST(NULL AS VARCHAR) AS version
           FROM prev p
           WHERE NOT EXISTS (SELECT 1 FROM cls c
             WHERE c.key = p.key
               AND c.decision IN ('kept','skip_mtime','skip_size')))
         SELECT key, decision, size, mod_ms, url, product_name, version
         FROM live
         UNION ALL
         SELECT key, decision, size, mod_ms, url, product_name, version
         FROM deleted
         ORDER BY key, decision"""),
    // robots.txt evaluation: the engine PARSES the staged per-domain
    // robots text (group selection incl. a poisoned `*` group,
    // longest-match precedence, Allow tie-break); the oracle
    // re-derives every verdict as pure prefix arithmetic.
    QuerySpec("crawl_robots", RobotsTxt.robotsReport(_, _),
      """WITH d AS (SELECT doc_id, doc_id % 20 AS domain,
             CAST(doc_id AS VARCHAR) AS ds,
             CAST((doc_id % 20) % 10 AS VARCHAR) AS f,
             CAST((doc_id % 20 + 3) % 10 AS VARCHAR) AS g
           FROM documents),
         v AS (SELECT domain, doc_id,
             NOT (starts_with(ds, f) AND NOT starts_with(ds, f || g))
               AS allowed
           FROM d)
         SELECT domain, count(*) AS n_urls,
           CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_allowed,
           CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
             AS n_blocked,
           CAST(COALESCE(sum(CASE WHEN NOT allowed THEN doc_id END), 0)
             AS BIGINT) AS sum_id_blocked
         FROM v GROUP BY 1 ORDER BY domain"""),
    // Politeness token bucket: the engine walks per-URL ranks; the
    // oracle derives the same aggregates in CLOSED FORM (n over burst
    // B at delay D: makespan = max(0, n-B)·D, total wait =
    // D·(n-B)(n-B+1)/2) — two independent derivations of the contract.
    QuerySpec("crawl_politeness", Crawler.politenessSchedule(_, _),
      {
      import graft.sources.Crawler.{PolitenessBurst => B,
        PolitenessDelayMs => D}
      s"""WITH d AS (SELECT doc_id % 20 AS domain, count(*) AS n
             FROM documents GROUP BY 1),
         x AS (SELECT domain, n,
             CASE WHEN n > $B THEN n - $B ELSE 0 END AS q FROM d)
         SELECT domain, CAST(n AS BIGINT) AS n_urls,
           CAST(CASE WHEN n < $B THEN n ELSE $B END AS BIGINT)
             AS n_immediate,
           CAST(q * $D AS BIGINT) AS makespan_ms,
           CAST(q * (q + 1) * $D // 2 AS BIGINT) AS total_wait_ms
         FROM x ORDER BY domain"""
    }),
    QuerySpec("src_scan_csv", CsvSource.scanCsv(_, _),
      """WITH base AS (
           SELECT doc_id, lang, n_chars,
             CASE WHEN doc_id % 13 = 5 THEN '_corrupt' ELSE lang END
               AS grp,
             doc_id % 13 <> 5 AS good
           FROM documents)
         SELECT grp AS lang, count(*) AS n_rows,
           CAST(COALESCE(sum(CASE WHEN good THEN doc_id END), 0)
             AS BIGINT) AS sum_doc_id,
           CAST(COALESCE(sum(CASE WHEN good THEN n_chars END), 0)
             AS BIGINT) AS sum_chars,
           CAST(COALESCE(sum(CASE WHEN good
             THEN 2 + length(CAST(doc_id AS VARCHAR)) END), 0)
             AS BIGINT) AS sum_title_len
         FROM base GROUP BY 1 ORDER BY lang"""),
    // CSV ingest accounting: Spark PARSES the staged lines (schema-on-
    // read, quoted commas, PERMISSIVE corrupt capture); the oracle
    // re-derives every count by arithmetic from documents — a parse
    // that shifts a column, loses a quoted comma, or misroutes a
    // malformed line changes a sum and fails the hash. Good-row-only
    // sums keep the row independent of which FIELDS of a malformed
    // line the parser salvages (version-specific behavior).
    // ORC round-trip: Spark stages documents as lang-partitioned ORC
    // (token array riding along) and reads back through a pruned,
    // pushed-down scan; the oracle computes the same aggregate from
    // the ORIGINAL parquet, so format fidelity feeds the hash
    QuerySpec("src_scan_orc", OrcSource.scanOrc(_, _),
      """SELECT lang, source, count(*) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             AS sum_tokens
         FROM documents
         WHERE lang IN ('en', 'fr') AND n_chars >= 200
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // JSONL ingest accounting: Spark PARSES the staged lines (nested
    // struct, string array, two planted malformation classes — typed
    // and structural); the oracle re-derives every count by arithmetic
    // from documents. Nested-field extraction, array sizing, and
    // quarantine routing all feed the hash; good-row-only sums keep
    // the row independent of what the parser salvages from a corrupt
    // line.
    QuerySpec("src_scan_jsonl", JsonlSource.scanJsonl(_, _),
      """WITH base AS (
           SELECT doc_id, lang, n_chars,
             CASE WHEN doc_id % 13 = 5 OR doc_id % 17 = 3
               THEN '_corrupt' ELSE lang END AS grp,
             doc_id % 13 <> 5 AND doc_id % 17 <> 3 AS good
           FROM documents)
         SELECT grp AS lang, count(*) AS n_rows,
           CAST(COALESCE(sum(CASE WHEN good THEN doc_id END), 0)
             AS BIGINT) AS sum_doc_id,
           CAST(COALESCE(sum(CASE WHEN good THEN n_chars END), 0)
             AS BIGINT) AS sum_chars,
           CAST(COALESCE(sum(CASE WHEN good THEN doc_id % 3 + 1 END), 0)
             AS BIGINT) AS sum_tags
         FROM base GROUP BY 1 ORDER BY lang"""),
    // Schema-evolution read: Spark must merge three producer
    // generations' file schemas and null-backfill retired/not-yet-born
    // columns; the oracle re-derives the per-generation null
    // accounting from the documents table and the generation rules
    // alone.
    QuerySpec("src_scan_evolution", EvolvingSource.scanEvolved(_, _),
      """WITH g AS (SELECT doc_id % 3 AS gen, doc_id, source, lang,
             n_chars FROM documents)
         SELECT gen, count(*) AS n_rows,
           CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_source_null,
           CAST(sum(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_null,
           CAST(sum(CASE WHEN gen <> 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_chars_null,
           CAST(COALESCE(sum(CASE WHEN gen = 2 THEN n_chars END), 0)
             AS BIGINT) AS sum_chars,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         FROM g GROUP BY 1 ORDER BY gen"""),
    // Schema-contract enforcement: a rogue fourth producer's rows are
    // quarantined (any out-of-contract column non-null), never
    // silently projected into the contract shape.
    QuerySpec("src_scan_contract", EvolvingSource.scanContract(_, _),
      """WITH d AS (SELECT doc_id, doc_id % 3 AS gen FROM documents)
         SELECT gen,
           CAST(count(*) * CASE WHEN gen = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS n_rows,
           count(*) AS n_in_contract,
           CAST(count(*) * CASE WHEN gen = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_quarantined,
           CAST(sum(doc_id) AS BIGINT) AS sum_id_in_contract,
           'chars_total,debug_blob' AS rogue_columns
         FROM d GROUP BY gen ORDER BY gen""")
  )
}
