package graft.operators

import graft.QuerySpec

/** The ingest and control-plane rows: HTML/page ingest, API renderers,
  * crawl frontier, sitemap and skip layers, run logs and notifications; one
  * [[graft.QuerySpec]] per row. */
object IngestQueries {
  val specs: Seq[QuerySpec] = Seq(
    // the tab-flattening contract: even docs' first tab claims the
    // SECOND panel via aria-controls, so the second tab's positional
    // fallback injects nothing; odd docs match positionally (the
    // second label empty — and thus uninjected — for doc_id % 5 = 0)
    QuerySpec("ingest_tabs", Ingest.ingestTabs(_, _),
      """SELECT 'doc://'||doc_id AS url, md AS markdown,
           sha256(md) AS md_hash
         FROM (SELECT doc_id,
           '# '||source||' tabs'||chr(10)||chr(10)||
           (CASE
              WHEN doc_id % 2 = 0 THEN
                trim(substring(text, 1, 40))||chr(10)||chr(10)||
                '**Overview '||lang||':**'||chr(10)||chr(10)||
                'More on '||doc_id
              WHEN doc_id % 5 = 0 THEN
                '**Overview '||lang||':**'||chr(10)||chr(10)||
                trim(substring(text, 1, 40))||chr(10)||chr(10)||
                'More on '||doc_id
              ELSE
                '**Overview '||lang||':**'||chr(10)||chr(10)||
                trim(substring(text, 1, 40))||chr(10)||chr(10)||
                '**Advanced:**'||chr(10)||chr(10)||
                'More on '||doc_id
            END) AS md
           FROM documents) t
         ORDER BY url"""),
    // the url kernels checked against an ARITHMETIC expectation: the
    // canonical string, variant count (3 per doc in the pair group),
    // and the eligibility decision table (png ineligible, pdf flagged)
    // are all reconstructed from doc_id arithmetic, never by rerunning
    // the normalization
    QuerySpec("crawl_url_dedup", Ingest.urlCanonicalDedup(_, _),
      """WITH grp AS (
           SELECT doc_id // 2 AS g, count(*) AS nd,
             min(doc_id) AS first_doc
           FROM documents GROUP BY 1)
         SELECT
           'https://docs.example.com/p' || g ||
             CASE g % 5 WHEN 0 THEN '.pdf' WHEN 1 THEN '.html'
                        WHEN 2 THEN '' WHEN 3 THEN '.png'
                        ELSE '/' END AS canonical_url,
           CAST(nd * 3 AS BIGINT) AS n_variants,
           first_doc,
           CAST(CASE WHEN g % 5 = 3 THEN 0 ELSE 1 END AS BIGINT)
             AS should_process,
           CAST(CASE WHEN g % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_pdf
         FROM grp ORDER BY canonical_url"""),
    // Link rel=next + Retry-After through the production parsers,
    // checked against the staged decision table: %5∈{0,1,2} carry a
    // next link (quoted / unquoted / second-member forms), %4 rotates
    // numeric seconds / sub-second floor (→1000) / HTTP-date 40 s out
    // / unparseable (→ -1)
    QuerySpec("ingest_api_headers", Ingest.parseApiHeaders(_, _),
      """SELECT event_id,
           CASE WHEN event_id % 5 IN (0, 1, 2)
                THEN 'https://api.example.com/items?page=' || (event_id + 1)
                ELSE '' END AS next_url,
           CAST(CASE event_id % 4
                  WHEN 0 THEN (event_id % 30 + 1) * 1000
                  WHEN 1 THEN 1000
                  WHEN 2 THEN 40000
                  ELSE -1 END AS BIGINT) AS retry_ms
         FROM events WHERE event_id < 500 ORDER BY event_id"""),
    // RFC 3986 href resolution reconstructed arithmetically: absolute,
    // root-relative, document-relative (+query), ../ traversal, and
    // protocol-relative, with the query-stripped prefix alongside
    QuerySpec("crawl_link_resolve", Ingest.resolveLinks(_, _),
      """SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'https://other.example.com/abs' || doc_id
             WHEN 1 THEN 'https://docs.example.com/root' || doc_id
                         || '.html'
             WHEN 2 THEN 'https://docs.example.com/guide' || doc_id
                         || '/sib' || doc_id || '.html?v=2'
             WHEN 3 THEN 'https://docs.example.com/up' || doc_id || '/'
             ELSE 'https://cdn.example.com/p' || doc_id || '.js'
           END AS resolved_url,
           CASE doc_id % 5
             WHEN 0 THEN 'https://other.example.com/abs' || doc_id
             WHEN 1 THEN 'https://docs.example.com/root' || doc_id
                         || '.html'
             WHEN 2 THEN 'https://docs.example.com/guide' || doc_id
                         || '/sib' || doc_id || '.html'
             WHEN 3 THEN 'https://docs.example.com/up' || doc_id || '/'
             ELSE 'https://cdn.example.com/p' || doc_id || '.js'
           END AS url_prefix
         FROM documents ORDER BY doc_id"""),
    QuerySpec("ingest_html", Ingest.ingestHtml(_, _),
      """SELECT 'doc://'||doc_id AS url, CAST(0 AS BIGINT) AS chunk_index,
         CAST(1 AS BIGINT) AS total_chunks, lang AS section,
         sha256(content) AS chunk_id, content
         FROM (SELECT *,
           '[Topic: '||source||' > '||lang||']'||chr(10)||
           '# '||source||chr(10)||chr(10)||
           '## '||lang||chr(10)||chr(10)||text AS content
           FROM documents) t
         ORDER BY url, chunk_index"""),
    QuerySpec("ingest_page", Ingest.ingestPage(_, _),
      """SELECT 'doc://'||doc_id AS url, md AS markdown,
           '/home,/about,doc://next' AS links_csv,
           CAST(3 AS BIGINT) AS n_links, sha256(md) AS md_hash
         FROM (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN '# '||source||' guide'
                 ELSE '# Site' END)
           ||chr(10)||chr(10)||'## '||lang||chr(10)||chr(10)||
           trim(text||' [Next](doc://next)') AS md
           FROM documents) t
         ORDER BY url"""),
    QuerySpec("ingest_render_issue", Ingest.renderIssues(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS d
           FROM events WHERE event_id < 100),
         md AS (
           SELECT id,
             '# ' || (CASE WHEN id % 5 = 0 THEN 'PR' ELSE 'Issue' END) ||
             ' #' || id || ': Event ' || etype || ' ' || id ||
             chr(10) || chr(10) ||
             '- **Type:** ' ||
               (CASE WHEN id % 5 = 0 THEN 'Pull request' ELSE 'Issue' END) ||
               chr(10) ||
             '- **Author:** user' || user_id || chr(10) ||
             '- **State:** ' ||
               (CASE WHEN etype='error' THEN 'closed' ELSE 'open' END) ||
               chr(10) ||
             '- **Created on:** ' || d || chr(10) ||
             '- **Updated on:** ' || d || chr(10) ||
             '- **Labels:** ' ||
               (CASE WHEN etype='click' THEN '`ui`, `p1`' ELSE 'None' END) ||
               chr(10) || chr(10) ||
             '## Description' || chr(10) || chr(10) ||
             'Body for event ' || id || '.' || chr(10) || chr(10) ||
             '## Comments' || chr(10) || chr(10) ||
             '_No comments._' || chr(10) AS markdown
           FROM e)
         SELECT id AS issue_id, markdown, sha256(markdown) AS md_hash
         FROM md ORDER BY issue_id"""),
    QuerySpec("ingest_render_article", Ingest.renderArticles(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS d
           FROM events WHERE event_id < 100),
         md AS (
           SELECT id,
             '# Article ' || etype || ' ' || id || chr(10) || chr(10) ||
             '- **Author:** ' || user_id || chr(10) ||
             '- **Section:** ' || (id % 7) || chr(10) ||
             '- **Created:** ' || d || chr(10) ||
             '- **Updated:** ' || d || chr(10) ||
             '- **Vote Sum:** ' || (id % 11 - 3) || chr(10) ||
             '- **Vote Count:** ' || (id % 11) || chr(10) ||
             (CASE WHEN etype='click'
                   THEN '- **Labels:** `howto`, `faq`' || chr(10)
                   ELSE '' END) ||
             chr(10) || '## Content' || chr(10) || chr(10) ||
             (CASE WHEN id % 7 = 0 THEN '_No content._'
                   ELSE 'Article body for event ' || id || '.' END) ||
             chr(10) AS markdown
           FROM e)
         SELECT id AS article_id, markdown, sha256(markdown) AS md_hash
         FROM md ORDER BY article_id"""),
    QuerySpec("ingest_render_ticket", Ingest.renderTickets(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS d
           FROM events WHERE event_id < 100),
         md AS (
           SELECT id,
             '# Ticket #' || id || ': Ticket ' || etype || ' ' || id ||
               chr(10) || chr(10) ||
             '- **Status:** ' ||
               (CASE WHEN etype='error' THEN 'open' ELSE 'solved' END) ||
               chr(10) ||
             '- **Priority:** ' ||
               (CASE WHEN id % 3 = 0 THEN 'None'
                     WHEN id % 2 = 0 THEN 'high' ELSE 'low' END) ||
               chr(10) ||
             '- **Type:** ' ||
               (CASE WHEN etype='error' THEN 'incident' ELSE 'None' END) ||
               chr(10) ||
             '- **Requester:** ' || user_id || chr(10) ||
             '- **Assignee:** ' ||
               (CASE WHEN id % 4 = 0 THEN 'Unassigned'
                     ELSE CAST(user_id + 1 AS VARCHAR) END) || chr(10) ||
             '- **Created:** ' || d || chr(10) ||
             '- **Updated:** ' || d || chr(10) ||
             (CASE WHEN etype='click'
                   THEN '- **Tags:** `ui`, `bug`' || chr(10)
                   ELSE '' END) ||
             chr(10) || '## Description' || chr(10) || chr(10) ||
             (CASE WHEN id % 7 = 0 THEN '_No description._'
                   ELSE 'Ticket description ' || id || '.' END) ||
             chr(10) || chr(10) ||
             '## Comments' || chr(10) || chr(10) ||
             '### ' || (user_id + 1000) || ' - ' || d ||
               chr(10) || chr(10) ||
             (CASE WHEN id % 5 = 0 THEN '_No content._'
                   ELSE 'Reply for ticket ' || id || '.' END) ||
             chr(10) || chr(10) || '---' || chr(10) || chr(10) AS markdown
           FROM e)
         SELECT id AS ticket_id, markdown, sha256(markdown) AS md_hash
         FROM md ORDER BY ticket_id"""),
    QuerySpec("ingest_issues_e2e", Ingest.ingestIssuesE2e(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS dc,
             '2024-02-' ||
               lpad(CAST((event_id % 28) + 1 AS VARCHAR), 2, '0') AS ud
           FROM events WHERE event_id < 200),
         m AS (
           SELECT id, ud,
             (CASE WHEN id % 5 = 0 THEN 'PR' ELSE 'Issue' END) ||
               ' #' || id || ': Event ' || etype || ' ' || id AS h1,
             '- **Type:** ' ||
               (CASE WHEN id % 5 = 0 THEN 'Pull request' ELSE 'Issue' END) ||
               chr(10) ||
             '- **Author:** user' || user_id || chr(10) ||
             '- **State:** ' ||
               (CASE WHEN etype = 'error' THEN 'closed' ELSE 'open' END) ||
               chr(10) ||
             '- **Created on:** ' || dc || chr(10) ||
             '- **Updated on:** ' ||
               strftime(ud::TIMESTAMP, '%a %b %d %Y') || chr(10) ||
             '- **Labels:** ' ||
               (CASE WHEN etype = 'click' THEN '`ui`, `p1`' ELSE 'None' END) ||
               chr(10) || chr(10) ||
             '## Description' || chr(10) || chr(10) ||
             'Body for event ' || id AS stem,
             chr(10) || chr(10) || '## Comments' || chr(10) || chr(10) ||
               '_No comments._' AS tail
           FROM e),
         c AS (
           SELECT id, ud, 'github://issues/' || id AS url, h1,
             sha256('[Topic: ' || h1 || ']' || chr(10) ||
               '# ' || h1 || chr(10) || chr(10) || stem ||
               (CASE WHEN id % 3 = 0 THEN '. (edited)' ELSE '.' END) ||
               tail) AS chunk_id,
             sha256('[Topic: ' || h1 || ']' || chr(10) ||
               '# ' || h1 || chr(10) || chr(10) || stem || '.' || tail)
               AS prior_id
           FROM m)
         SELECT url, chunk_id, h1 AS section,
           CAST(1 AS BIGINT) AS total_chunks,
           CASE WHEN id >= 150 THEN 'new'
                WHEN prior_id <> chunk_id THEN 'changed'
                ELSE 'unchanged' END AS action
         FROM c
         WHERE ud || 'T00:00:00Z' > '2024-02-14T12:00:00Z'
         ORDER BY url""",
      protocol = true),
    QuerySpec("ingest_tickets_e2e", Ingest.ingestTicketsE2e(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id AS u, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS dc,
             '2024-02-' ||
               lpad(CAST((event_id % 28) + 1 AS VARCHAR), 2, '0') AS ud
           FROM events WHERE event_id < 200),
         w AS (
           SELECT * FROM e
           WHERE ud || 'T00:00:00Z' > '2024-02-14T12:00:00Z'),
         m AS (
           SELECT id,
             'Ticket #' || id || ': Ticket ' || etype || ' ' || id AS h1,
             CAST(u + 1000 AS VARCHAR) || ' - ' || dc AS ch,
             '- **Status:** ' ||
               (CASE WHEN etype = 'error' THEN 'open' ELSE 'solved' END) ||
               chr(10) ||
             '- **Priority:** ' ||
               (CASE WHEN id % 3 = 0 THEN 'None'
                     WHEN id % 2 = 0 THEN 'high' ELSE 'low' END) ||
               chr(10) ||
             '- **Type:** ' ||
               (CASE WHEN etype = 'error' THEN 'incident' ELSE 'None' END) ||
               chr(10) ||
             '- **Requester:** ' || u || chr(10) ||
             '- **Assignee:** ' ||
               (CASE WHEN id % 4 = 0 THEN 'Unassigned'
                     ELSE CAST(u + 1 AS VARCHAR) END) || chr(10) ||
             '- **Created:** ' || dc || chr(10) ||
             '- **Updated:** ' ||
               strftime(ud::TIMESTAMP, '%a %b %d %Y') || chr(10) ||
             (CASE WHEN etype = 'click'
                   THEN '- **Tags:** `ui`, `bug`' || chr(10)
                   ELSE '' END) ||
             chr(10) || '## Description' || chr(10) || chr(10) AS head,
             chr(10) || chr(10) || '## Comments' || chr(10) || chr(10) ||
               '### ' || (u + 1000) || ' - ' || dc || chr(10) || chr(10) ||
               (CASE WHEN id % 4 = 0
                     THEN 'Plain reply for ticket ' || id || '.'
                     WHEN id % 5 = 0 THEN '_No content._'
                     ELSE 'Reply for ticket ' || id || '.' END) ||
               chr(10) || chr(10) || '---' AS tail
           FROM w
           WHERE id % 11 <> 0
             AND NOT (id % 6 <> 0 AND u % 25 IN (3, 7))),
         c AS (
           SELECT id, 'zendesk://ticket/' || id AS url, h1, ch,
             sha256('[Topic: ' || h1 || ' > Comments > ' || ch || ']' ||
               chr(10) || '# ' || h1 || chr(10) || chr(10) || head ||
               (CASE WHEN id % 7 = 0 THEN '_No description._'
                     ELSE 'Ticket description ' || id ||
                       (CASE WHEN id % 3 = 0 THEN '. (edited)'
                             ELSE '.' END) END) || tail) AS chunk_id,
             sha256('[Topic: ' || h1 || ' > Comments > ' || ch || ']' ||
               chr(10) || '# ' || h1 || chr(10) || chr(10) || head ||
               (CASE WHEN id % 7 = 0 THEN '_No description._'
                     ELSE 'Ticket description ' || id || '.' END) ||
               tail) AS prior_id
           FROM m)
         SELECT url, chunk_id, ch AS section,
           CAST(1 AS BIGINT) AS total_chunks,
           CASE WHEN id >= 150 THEN 'new'
                WHEN prior_id <> chunk_id THEN 'changed'
                ELSE 'unchanged' END AS action
         FROM c
         UNION ALL
         SELECT 'zendesk://ticket/' || id, '', '',
           CAST(0 AS BIGINT), 'purge'
         FROM w WHERE id % 11 = 0
         ORDER BY url, action""",
      protocol = true),
    QuerySpec("ingest_articles_e2e", Ingest.ingestArticlesE2e(_, _),
      """WITH e AS (
           SELECT event_id AS id, user_id AS u, event_type AS etype,
             strftime(ts::TIMESTAMP, '%a %b %d %Y') AS dc,
             '2024-02-' ||
               lpad(CAST((event_id % 28) + 1 AS VARCHAR), 2, '0') AS ud
           FROM events WHERE event_id < 200),
         w AS (
           SELECT * FROM e
           WHERE ud || 'T00:00:00Z' > '2024-02-14T12:00:00Z'),
         m AS (
           SELECT id, 'Article ' || etype || ' ' || id AS t,
             '- **Author:** ' || u || chr(10) ||
             '- **Section:** ' || (id % 10) || chr(10) ||
             '- **Created:** ' || dc || chr(10) ||
             '- **Updated:** ' ||
               strftime(ud::TIMESTAMP, '%a %b %d %Y') || chr(10) ||
             '- **Vote Sum:** ' ||
               (CASE WHEN id % 9 = 0 THEN 0 ELSE id % 7 - 3 END) ||
               chr(10) ||
             '- **Vote Count:** ' ||
               (CASE WHEN id % 9 = 0 THEN 0 ELSE id % 5 + 1 END) ||
               chr(10) ||
             (CASE WHEN etype = 'click'
                   THEN '- **Labels:** `faq`, `howto`' || chr(10)
                   ELSE '' END) ||
             chr(10) || '## Content' || chr(10) || chr(10) AS head,
             CASE WHEN id % 7 = 0 THEN '_No content._'
                  WHEN id % 4 = 0
                    THEN 'Body for article ' || id || ' with **bold** text'
                  ELSE 'Body for article ' || id END AS stem
           FROM w),
         c AS (
           SELECT id,
             CASE WHEN id % 5 = 0 THEN 'zendesk://article/' || id
                  ELSE 'https://help.example.com/articles/' || id
                  END AS url,
             t,
             sha256('[Topic: ' || t || ' > Content]' || chr(10) ||
               '# ' || t || chr(10) || chr(10) || head || stem ||
               (CASE WHEN id % 7 = 0 THEN ''
                     WHEN id % 3 = 0 THEN '. (edited)'
                     ELSE '.' END)) AS chunk_id,
             sha256('[Topic: ' || t || ' > Content]' || chr(10) ||
               '# ' || t || chr(10) || chr(10) || head || stem ||
               (CASE WHEN id % 7 = 0 THEN '' ELSE '.' END)) AS prior_id
           FROM m)
         SELECT url, chunk_id, 'Content' AS section,
           CAST(1 AS BIGINT) AS total_chunks,
           CASE WHEN id >= 150 THEN 'new'
                WHEN prior_id <> chunk_id THEN 'changed'
                ELSE 'unchanged' END AS action
         FROM c ORDER BY url""",
      protocol = true),
    QuerySpec("crawl_frontier", Ingest.crawlFrontier(_, _),
      """WITH RECURSIVE
         edges AS (
           SELECT 'doc://'||doc_id AS src,
             'doc://'||((doc_id*7+1) % (SELECT count(*) FROM documents))
               AS dst
           FROM documents
           UNION ALL
           SELECT 'doc://'||doc_id,
             'doc://'||((doc_id*13+5) % (SELECT count(*) FROM documents))
           FROM documents),
         bfs AS (
           SELECT 'doc://0' AS url, 0 AS depth
           UNION
           SELECT e.dst, b.depth + 1
           FROM bfs b JOIN edges e ON e.src = b.url
           WHERE b.depth < 25)
         SELECT url, CAST(min(depth) AS BIGINT) AS depth
         FROM bfs GROUP BY 1 ORDER BY url"""),
    QuerySpec("sitemap_prefix_lastmod", Ingest.prefixLastmod(_, _),
      """WITH prefixes(prefix, lastmod) AS (VALUES
           ('doc://','2024-01-16'),
           ('doc://0','2024-01-17'),('doc://1','2024-01-17'),
           ('doc://2','2024-01-17'),('doc://3','2024-01-17'),
           ('doc://4','2024-01-17'),('doc://5','2024-01-17'),
           ('doc://6','2024-01-17'),('doc://7','2024-01-17'),
           ('doc://8','2024-01-17'),('doc://9','2024-01-17')),
         urls AS (SELECT 'doc://'||doc_id AS url FROM documents),
         ranked AS (
           SELECT url, prefix, lastmod,
             row_number() OVER (PARTITION BY url
               ORDER BY length(prefix) DESC, prefix) AS rn
           FROM urls JOIN prefixes ON url LIKE prefix||'%')
         SELECT url, prefix, lastmod FROM ranked WHERE rn = 1
         ORDER BY url"""),
    QuerySpec("sitemap_parse", Ingest.sitemapParse(_, _),
      """WITH u AS (
           SELECT 'doc://home' AS url, '2024-01-01' AS lastmod,
             'sitemap://index' AS sitemap_url, CAST(0 AS BIGINT) AS depth
           UNION ALL
           SELECT 'doc://'||doc_id,
             CASE WHEN doc_id % 3 = 0 THEN NULL
                  ELSE '2024-01-'||
                    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END,
             'sitemap://part'||(doc_id % 4),
             CAST(1 AS BIGINT)
           FROM documents)
         SELECT url, lastmod, sitemap_url, depth FROM u ORDER BY url"""),
    QuerySpec("sync_etag_skip", Ingest.etagSkip(_, _),
      """WITH current AS (
           SELECT 'doc://'||doc_id AS url, sha256(text) AS etag, doc_id
           FROM documents),
         stored AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 3 = 0 THEN sha256(text)
                  ELSE sha256(text||'stale') END AS stored_etag
           FROM documents WHERE doc_id % 3 <> 2)
         SELECT c.url,
           CASE WHEN s.stored_etag IS NULL THEN 'fetch_new'
                WHEN s.stored_etag = c.etag THEN 'skip'
                ELSE 'fetch_changed' END AS decision
         FROM current c LEFT JOIN stored s ON c.url = s.url
         ORDER BY c.url"""),
    QuerySpec("sync_lastmod_skip", Ingest.lastmodSkip(_, _),
      """WITH sitemap AS (
           SELECT 'doc://'||doc_id AS url,
             '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS lastmod
           FROM documents),
         stored AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 4 = 0 THEN '2023-12-31'
                  ELSE '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
             END AS stored_lastmod
           FROM documents WHERE doc_id % 9 <> 0)
         SELECT s.url,
           CASE WHEN t.stored_lastmod IS NULL THEN 'fetch_new'
                WHEN t.stored_lastmod = s.lastmod THEN 'skip'
                ELSE 'fetch_changed' END AS decision
         FROM sitemap s LEFT JOIN stored t ON s.url = t.url
         ORDER BY s.url"""),
    QuerySpec("sync_lastmod_storegap", Ingest.lastmodStoreGap(_, _),
      """WITH sitemap AS (
           SELECT 'doc://'||doc_id AS url,
             '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS lastmod
           FROM documents),
         stored AS (
           SELECT 'doc://'||doc_id AS url,
             CASE WHEN doc_id % 4 = 0 THEN '2023-12-31'
                  ELSE '2024-01-'||lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
             END AS stored_lastmod
           FROM documents WHERE doc_id % 9 <> 0),
         mdstore AS (
           SELECT 'doc://'||doc_id AS url FROM documents
           WHERE doc_id % 7 <> 0)
         SELECT s.url,
           CASE WHEN t.stored_lastmod IS NULL THEN 'fetch_new'
                WHEN t.stored_lastmod = s.lastmod AND m.url IS NULL
                  THEN 'fetch_store_gap'
                WHEN t.stored_lastmod = s.lastmod THEN 'skip'
                ELSE 'fetch_changed' END AS decision
         FROM sitemap s LEFT JOIN stored t ON s.url = t.url
                        LEFT JOIN mdstore m ON s.url = m.url
         ORDER BY s.url"""),
    QuerySpec("crawl_broken_links", Ingest.brokenLinks(_, _),
      """WITH links AS (
           SELECT 'doc://'||doc_id AS source,
             'doc://'||((doc_id*7+1) % (SELECT count(*) FROM documents))
               AS target
           FROM documents
           UNION ALL
           SELECT 'doc://'||doc_id,
             'doc://'||((doc_id*13+5) % (SELECT count(*) FROM documents))
           FROM documents),
         notfound AS (
           SELECT 'doc://'||doc_id AS target FROM documents
           WHERE doc_id % 13 = 0)
         SELECT DISTINCT source, target
         FROM links WHERE target IN (SELECT target FROM notfound)
         ORDER BY source, target"""),
    QuerySpec("ctl_overlap_detect", Ingest.overlapDetect(_, _),
      """WITH r AS (
           SELECT event_id, user_id,
             epoch_us(ts::TIMESTAMP) AS start_us,
             epoch_us(ts::TIMESTAMP)
               + CAST(floor(value*1000000) AS BIGINT) AS end_us
           FROM events),
         marked AS (
           SELECT user_id,
             CASE WHEN max(end_us) OVER
                 (PARTITION BY user_id ORDER BY start_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 IS NOT NULL
               AND start_us < max(end_us) OVER
                 (PARTITION BY user_id ORDER BY start_us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 'skipped' ELSE 'run' END AS status
           FROM r)
         SELECT user_id,
           count(*) FILTER (WHERE status='skipped') AS n_skipped,
           count(*) FILTER (WHERE status='run') AS n_run
         FROM marked GROUP BY 1 ORDER BY user_id"""),
    QuerySpec("ctl_log_level_counts", Ingest.logLevelCounts(_, _),
      """SELECT user_id AS run_id, event_type AS level,
           count(*) AS n_lines
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("ctl_log_tail_seq", Ingest.logTailStartSeq(_, _),
      """WITH r AS (
           SELECT user_id AS run_id, event_id AS seq,
             row_number() OVER (PARTITION BY user_id
               ORDER BY event_id DESC) AS rn
           FROM events)
         SELECT run_id,
           coalesce(max(seq) FILTER (WHERE rn = 21), 0) AS tail_start_seq
         FROM r GROUP BY 1 ORDER BY 1"""),
    QuerySpec("ctl_log_retention", Ingest.logRetention(_, _),
      """WITH fin AS (
           SELECT user_id AS run_id, max(ts) AS finished_at
           FROM events GROUP BY 1)
         SELECT e.user_id AS run_id, count(*) AS logs_pruned
         FROM events e JOIN fin f ON e.user_id = f.run_id
         WHERE f.finished_at < TIMESTAMP '2024-01-29 12:00:00'
         GROUP BY 1 ORDER BY 1"""),
    QuerySpec("ctl_run_stats", Ingest.runStatsDaily(_, _),
      """SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
           event_type AS status, count(*) AS n_runs,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) // count(*)
             AS BIGINT) AS avg_duration_us
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("ctl_schedule_reconcile", Ingest.scheduleReconcile(_, _),
      """WITH last AS (
           SELECT user_id AS config_id,
             CAST(max(epoch_us(ts::TIMESTAMP)) AS BIGINT) AS last_us
           FROM events GROUP BY 1),
         n AS (SELECT max(last_us) AS now_us FROM last),
         x AS (SELECT config_id, last_us,
                 5 + (config_id % 6) * 5 AS interval_min,
                 last_us + (5 + (config_id % 6) * 5) * 60000000
                   AS next_due_us,
                 now_us
               FROM last CROSS JOIN n)
         SELECT config_id, CAST(interval_min AS BIGINT) AS interval_min,
           last_us,
           CAST(CASE WHEN next_due_us <= now_us THEN 1 ELSE 0 END
             AS BIGINT) AS due,
           CAST(CASE WHEN next_due_us <= now_us
             THEN (now_us - next_due_us) // 1000000 ELSE 0 END
             AS BIGINT) AS overdue_s
         FROM x ORDER BY config_id"""),
    QuerySpec("ctl_config_registry", Ingest.configRegistry(_, _),
      """WITH scanned AS (
           SELECT doc_id AS config_id,
             sha256(CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
                         ELSE text END) AS content_hash,
             CASE WHEN doc_id % 17 = 0 THEN 'invalid yaml' END
               AS parse_error,
             CASE WHEN doc_id % 7 = 0 THEN 'cfg_' || doc_id
                  ELSE source END AS name
           FROM documents WHERE doc_id % 11 <> 0),
         stored AS (
           SELECT doc_id AS config_id, sha256(text) AS stored_hash
           FROM documents WHERE doc_id % 13 <> 0)
         SELECT coalesce(sc.config_id, st.config_id) AS config_id,
           coalesce(sc.name,
             'cfg_' || coalesce(sc.config_id, st.config_id)) AS name,
           CASE WHEN sc.content_hash IS NULL THEN 'deleted'
                WHEN st.stored_hash IS NULL THEN 'new'
                WHEN sc.content_hash <> st.stored_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           sc.parse_error, sc.content_hash
         FROM scanned sc FULL OUTER JOIN stored st
           ON sc.config_id = st.config_id
         ORDER BY config_id"""),
    QuerySpec("ctl_notify", Notifier.notifyReport(_, _),
      """WITH runs AS (
           SELECT doc_id AS id,
             CASE doc_id % 5 WHEN 0 THEN 'succeeded' WHEN 1 THEN 'failed'
               WHEN 2 THEN 'canceled' WHEN 3 THEN 'skipped'
               ELSE 'running' END AS status,
             'cfg_'||(doc_id % 7) AS cfg,
             CASE WHEN doc_id % 2 = 0 THEN 'all' ELSE 'failures' END
               AS mode,
             CASE WHEN doc_id % 2 = 0 THEN 'schedule' ELSE 'manual' END
               AS trig,
             (doc_id % 6 < 3) AS has_url,
             (doc_id % 9 <> 0) AS has_dur,
             (doc_id * 7919) % 8000 AS dur_s,
             doc_id % 3 AS warn, doc_id % 2 AS err,
             doc_id % 20 AS n_src
           FROM documents WHERE doc_id < 60),
         srcs AS (
           SELECT id, unnest(range(0, n_src)) AS j FROM runs),
         srcs2 AS (
           SELECT id, j, 'prod_'||j AS product,
             ((id + j) % 3 = 0) AS failed,
             CASE WHEN (id + j) % 2 = 0 THEN 'boom_'||j END AS serr
           FROM srcs),
         fails AS (
           SELECT id, j, product, coalesce(serr, 'failed') AS emsg,
             row_number() OVER (PARTITION BY id ORDER BY j) AS rk,
             count(*) OVER (PARTITION BY id) AS total
           FROM srcs2 WHERE failed),
         fail_agg AS (
           SELECT id, max(total) AS n_failed,
             string_agg(
               CASE WHEN rk <= 5 THEN '• *'||product||'*: '||emsg END,
               chr(10) ORDER BY rk) AS shown
           FROM fails GROUP BY id),
         assembled AS (
           SELECT r.*, coalesce(f.n_failed, 0) AS n_failed, f.shown,
             CASE r.status WHEN 'succeeded' THEN '✅'
               WHEN 'failed' THEN '❌' ELSE '⚠️' END AS emoji,
             CASE r.status WHEN 'canceled' THEN 'was canceled'
               ELSE r.status END AS verb,
             CASE WHEN r.status IN ('failed','canceled') AND r.id % 4 = 0
               THEN 'exit code '||(r.id % 3) END AS rerr
           FROM runs r LEFT JOIN fail_agg f ON f.id = r.id),
         payload AS (
           SELECT id, mode, status,
             (status IN ('succeeded','failed','canceled')
               AND NOT (mode = 'failures' AND status = 'succeeded'))
               AS notified,
             emoji||' doc2vec sync *'||cfg||'* '||verb||
               CASE WHEN has_url
                 THEN ' — <https://ctl.example.com/runs/'||id
                   ||'|view run #'||id||'>'
                 ELSE ' (run #'||id||')' END
             || CASE WHEN n_src > 0
                  THEN chr(10)||(n_src - n_failed)||'/'||n_src
                    ||' sources ok' ELSE '' END
             || CASE WHEN n_failed > 0 THEN chr(10)||shown||
                  CASE WHEN n_failed > 5
                    THEN chr(10)||'• …and '||(n_failed - 5)
                      ||' more'
                    ELSE '' END
                ELSE '' END
             || CASE WHEN rerr IS NOT NULL AND n_failed = 0
                  THEN chr(10)||rerr ELSE '' END AS body,
             'doc2vec sync '||cfg||' '||verb AS fallback,
             'trigger: '||trig
             || CASE WHEN has_dur THEN ' · duration: '||
                  CASE WHEN dur_s < 60 THEN dur_s||'s'
                    WHEN dur_s // 60 < 60
                      THEN (dur_s // 60)||'m '||(dur_s % 60)||'s'
                    ELSE (dur_s // 3600)||'h '||((dur_s // 60) % 60)||'m'
                  END
                ELSE '' END
             || CASE WHEN warn > 0 THEN ' · warnings: '||warn
                ELSE '' END
             || CASE WHEN err > 0 THEN ' · errors: '||err
                ELSE '' END AS meta
           FROM assembled)
         SELECT id AS run_id, mode AS notify_mode, status,
           CAST(notified AS VARCHAR) AS notified,
           CASE WHEN notified THEN fallback ELSE '' END AS fallback,
           CASE WHEN notified THEN body ELSE '' END AS body,
           CASE WHEN notified THEN meta ELSE '' END AS meta
         FROM payload ORDER BY run_id""")
  )
}
