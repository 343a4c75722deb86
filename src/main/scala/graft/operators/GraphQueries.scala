package graft.operators

import graft.QuerySpec

/** The link-graph rows: PageRank, shortest paths, degrees, components and
  * triangles; one [[graft.QuerySpec]] per row. */
object GraphQueries {
  /** Shared full-recompute oracle for graph_components and its
    * incremental form: min-reachable-node labelling over the hub
    * overlay edges via a recursive CTE. */
  private lazy val graphComponentsOracleSql: String =
    s"""WITH RECURSIVE
       p AS (SELECT doc_id//2 AS a, doc_id AS b FROM documents
             WHERE doc_id % ${graft.operators.Graph.HubEvery} = 0
               AND doc_id > 0),
       edges AS (SELECT a AS s, b AS d FROM p
                 UNION ALL SELECT b, a FROM p),
       reach AS (
         SELECT doc_id AS start, doc_id AS node FROM documents
         UNION
         SELECT r.start, e.d FROM reach r JOIN edges e ON e.s = r.node)
       SELECT start AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id,
         CAST(CASE WHEN start = min(node) THEN 1 ELSE 0 END AS BIGINT)
           AS is_canonical
       FROM reach GROUP BY 1 ORDER BY 1"""

  /** Oracle of `graph_sssp`: the id-space weighted link graph plus
    * [[graft.operators.Graph.SsspRounds]] unrolled relaxation rounds
    * (recursive CTEs can't aggregate in the recursive term; unrolling
    * is exact), every constant interpolated from the Graph object so
    * the two sides cannot drift. */
  private def ssspOracleSql: String = {
    import graft.operators.Graph._
    val rounds = (1 to SsspRounds).map { k =>
      s"""d$k AS (SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM d${k - 1}
           UNION ALL
           SELECT e.dst, d.dist + e.w FROM d${k - 1} d
             JOIN ed e ON d.node = e.src) GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       ed AS (
         SELECT src, dst, 1 + (3 * src + dst) % $SsspWeightMod AS w
         FROM (
           SELECT doc_id AS src,
             (doc_id*$LinkMulA+$LinkAddA) % (SELECT n FROM nn) AS dst
           FROM documents
           UNION
           SELECT doc_id,
             (doc_id*$LinkMulB+$LinkAddB) % (SELECT n FROM nn)
           FROM documents
           UNION
           SELECT doc_id, doc_id//2
           FROM documents WHERE doc_id % $HubEvery = 0)),
       d0 AS (SELECT CAST($SsspSource AS BIGINT) AS node,
           CAST(0 AS BIGINT) AS dist
         FROM documents WHERE doc_id = $SsspSource),
       $rounds
       SELECT 'doc://'||node AS url, CAST(dist AS BIGINT) AS dist
       FROM d$SsspRounds ORDER BY url"""
  }

  /** Shared WITH-header for the link-graph oracles — node list + the
    * synthetic edge relation with Graph's affine-map constants
    * interpolated, so the oracle can't drift from the implementation
    * when a parameter changes. Ends mid-WITH: callers append their own
    * CTEs and the final SELECT. */
  private val graphCteHeader: String = {
    import graft.operators.Graph._
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       nodes AS (SELECT 'doc://'||doc_id AS url FROM documents),
       edges AS (
         SELECT 'doc://'||doc_id AS src,
           'doc://'||((doc_id*$LinkMulA+$LinkAddA) % (SELECT n FROM nn))
             AS dst
         FROM documents
         UNION
         SELECT 'doc://'||doc_id,
           'doc://'||((doc_id*$LinkMulB+$LinkAddB) % (SELECT n FROM nn))
         FROM documents
         UNION
         SELECT 'doc://'||doc_id, 'doc://'||(doc_id//2)
         FROM documents WHERE doc_id % $HubEvery = 0),
       """
  }

  /** 10 unrolled integer-PageRank iterations (recursive CTEs can't
    * aggregate in the recursive term; unrolling is exact and cheap).
    * With sinks, every SinkEvery-th page loses its out-edges and each
    * round redistributes the dangling mass Σr_sinks div n — the same
    * integer arithmetic as Graph.pageRank. */
  private def pagerankIterCtes(withSinks: Boolean): String = {
    import graft.operators.Graph.{Scale, DampNum, SinkEvery}
    val edgesPr =
      if (withSinks)
        s"""sinks AS (SELECT 'doc://'||doc_id AS url FROM documents
             WHERE doc_id % $SinkEvery = 0),
           e_pr AS (SELECT e.src, e.dst FROM edges e
             WHERE e.src NOT IN (SELECT url FROM sinks)),"""
      else "e_pr AS (SELECT src, dst FROM edges),"
    val iters = (1 to 10).map { i =>
      val p = i - 1
      val dangCte =
        if (withSinks)
          s"""d$p AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT)
               // (SELECT n FROM nn) AS dm
               FROM r$p WHERE url IN (SELECT url FROM sinks)),
             """
        else ""
      val dangTerm = if (withSinks) s" + (SELECT dm FROM d$p)" else ""
      // MATERIALIZED: with sinks each r$p is referenced twice (contrib
      // join + dangling-mass aggregate); DuckDB inlines CTEs by default,
      // which re-evaluates the whole chain per reference — exponential
      // over 10 unrolled iterations
      val mat = if (withSinks) "MATERIALIZED " else ""
      s"""${dangCte}r$i AS $mat(
         SELECT n.url,
           (SELECT (15 * $Scale // 100) // n FROM nn)
           + ($DampNum * (coalesce(c.contrib, 0)$dangTerm)) // 100 AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS url,
             CAST(sum(r$p.r // d.deg) AS BIGINT) AS contrib
           FROM r$p JOIN e_pr e ON r$p.url = e.src
                    JOIN deg d ON d.src = e.src
           GROUP BY 1) c ON n.url = c.url)"""
    }.mkString(",\n")
    s"""$edgesPr
       deg AS (SELECT src, count(*) AS deg FROM e_pr GROUP BY 1),
       r0 AS (SELECT url, $Scale // (SELECT n FROM nn) AS r FROM nodes),
       $iters"""
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_pagerank", Graph.pageRank(_, _),
      (graphCteHeader +
      pagerankIterCtes(withSinks = false) +
      "\nSELECT url, r FROM r10 ORDER BY r DESC, url LIMIT 20")),
    // Bounded-hop weighted SSSP: 8 unrolled Bellman-Ford relaxations
    // over the id-space link graph with the deterministic weight rule
    // — all-integer, so distances hash-match exactly.
    QuerySpec("graph_sssp", Graph.sssp(_, _),
      ssspOracleSql),
    QuerySpec("graph_pagerank_sink",
      Graph.pageRank(_, _, sinkEvery = Graph.SinkEvery),
      (graphCteHeader +
      pagerankIterCtes(withSinks = true) +
      "\nSELECT url, r FROM r10 ORDER BY r DESC, url LIMIT 20")),
    QuerySpec("graph_degree", Graph.degreeStats(_, _),
      (graphCteHeader +
      """o AS (SELECT src, count(*) AS c FROM edges GROUP BY 1),
         i AS (SELECT dst, count(*) AS c FROM edges GROUP BY 1)
         SELECT nodes.url, CAST(coalesce(o.c, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg
         FROM nodes LEFT JOIN o ON o.src = nodes.url
                    LEFT JOIN i ON i.dst = nodes.url
         ORDER BY url""")),
    QuerySpec("graph_components", Graph.components(_, _),
      graphComponentsOracleSql),
    // the incremental path (quotient-graph merge over yesterday's
    // labels) must land the IDENTICAL labelling as full recompute —
    // one shared oracle, so a wrong quotient merge or a label left
    // stale hash-mismatches
    QuerySpec("graph_components_delta", Graph.componentsDelta(_, _),
      graphComponentsOracleSql),
    QuerySpec("graph_triangles", Graph.triangleStats(_, _),
      (graphCteHeader +
      """und AS (SELECT DISTINCT least(src,dst) AS u, greatest(src,dst) AS v
                 FROM edges WHERE least(src,dst) < greatest(src,dst)),
         tri AS (SELECT count(*) AS triangles
                 FROM und a JOIN und b ON a.v = b.u
                      JOIN und c ON a.u = c.u AND b.v = c.v),
         deg AS (SELECT x, count(*) AS deg FROM
                   (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
                 GROUP BY 1),
         w AS (SELECT CAST(sum(deg*(deg-1)//2) AS BIGINT) AS wedges
               FROM deg),
         ne AS (SELECT count(*) AS n_edges FROM und)
         SELECT (SELECT n FROM nn) AS n_nodes, n_edges, triangles, wedges,
           (3000 * triangles) // nullif(wedges, 0) AS clustering_permille
         FROM tri CROSS JOIN ne CROSS JOIN w"""))
  )
}
