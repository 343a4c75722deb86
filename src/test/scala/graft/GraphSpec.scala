package graft

import graft.operators.Graph

/** Integer PageRank invariants at sf0.001. */
class GraphSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("pageRank: top-20 is positive, non-increasing, differentiated, deterministic") {
    val a = Graph.pageRank(spark, dir).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("r")))
    assert(a.length == 20)
    assert(a.forall(_._2 > 0))
    assert(a.sliding(2).forall {
      case Array((_, r1), (_, r2)) => r1 >= r2
      case _ => true
    }, "ranks must be non-increasing")
    // the hub overlay must actually differentiate authority
    assert(a.map(_._2).distinct.length > 5, s"ranks look uniform: ${a.toSeq}")
    val b = Graph.pageRank(spark, dir).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("r")))
    assert(a.toSeq == b.toSeq, "pageRank must be deterministic")
  }

  test("pageRank with sinks matches a driver-side integer reference") {
    val n = graft.Tables.documents(spark, dir).count()
    val got = Graph.pageRank(spark, dir, sinkEvery = Graph.SinkEvery)
      .collect().map(r => (r.getAs[String]("url"), r.getAs[Long]("r")))
    // driver-side replica of the integer recurrence, dangling term incl.
    val edges = (0L until n).flatMap { i =>
      Seq(i -> ((i * Graph.LinkMulA + Graph.LinkAddA) % n),
        i -> ((i * Graph.LinkMulB + Graph.LinkAddB) % n)) ++
        (if (i % Graph.HubEvery == 0) Seq(i -> (i / 2)) else Nil)
    }.distinct.filter { case (src, _) => src % Graph.SinkEvery != 0 }
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val sinks = (0L until n).filterNot(out.contains)
    assert(sinks.nonEmpty, "sink variant must actually have sinks")
    val base = (15L * Graph.Scale / 100) / n
    var r = Array.fill(n.toInt)(Graph.Scale / n)
    for (_ <- 1 to 10) {
      val contrib = Array.fill(n.toInt)(0L)
      edges.foreach { case (s, d) =>
        contrib(d.toInt) += r(s.toInt) / out(s) }
      val dm = sinks.map(i => r(i.toInt)).sum / n
      r = Array.tabulate(n.toInt)(i =>
        base + (Graph.DampNum * (contrib(i) + dm)) / 100)
    }
    val exp = (0L until n).map(i => (s"doc://$i", r(i.toInt)))
      .sortBy { case (u, rank) => (-rank, u) }.take(20)
    assert(got.toSeq == exp, "sink PageRank must match the reference")
  }

  test("degreeStats: every node present, degree identities hold") {
    val n = graft.Tables.documents(spark, dir).count()
    val rows = Graph.degreeStats(spark, dir).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Long]("out_deg"),
        r.getAs[Long]("in_deg")))
    assert(rows.length == n)
    // each node emits its 2 affine links (+1 hub link for id%3==0),
    // minus any collisions the edge-distinct absorbs
    assert(rows.forall { case (_, o, _) => o >= 1 && o <= 3 })
    // reference degrees from a driver-side rebuild of the edge set
    val edges = (0L until n).flatMap { i =>
      Seq(i -> ((i * Graph.LinkMulA + Graph.LinkAddA) % n),
        i -> ((i * Graph.LinkMulB + Graph.LinkAddB) % n)) ++
        (if (i % Graph.HubEvery == 0) Seq(i -> (i / 2)) else Nil)
    }.distinct
    val expOut = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expIn = edges.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    rows.foreach { case (url, o, in) =>
      val id = url.stripPrefix("doc://").toLong
      assert(o == expOut.getOrElse(id, 0L), s"out_deg mismatch at $url")
      assert(in == expIn.getOrElse(id, 0L), s"in_deg mismatch at $url")
    }
  }

  test("components: forest labelling matches a driver-side union-find") {
    val n = graft.Tables.documents(spark, dir).count()
    val labels = Graph.components(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .toMap
    assert(labels.size == n)
    // reference union-find over the same i -- i div 2 forest
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r); r
    }
    (1L until n).filter(_ % 3 == 0).foreach { i =>
      val (a, b) = (find(i / 2), find(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    (0L until n).foreach { i =>
      assert(labels(i) == find(i), s"doc $i labelled ${labels(i)}")
    }
    // a forest's component count is nodes minus edges
    val edges = (1L until n).count(_ % 3 == 0)
    assert(labels.values.toSet.size == n - edges)
  }

  test("triangleStats matches a driver-side brute-force count") {
    val row = Graph.triangleStats(spark, dir).collect().head
    val (nEdges, tri, wedges) = (row.getAs[Long]("n_edges"),
      row.getAs[Long]("triangles"), row.getAs[Long]("wedges"))
    // brute-force over the same canonical edge set
    val n = graft.Tables.documents(spark, dir).count()
    val und = (0L until n).flatMap { i =>
      Seq((s"doc://$i", s"doc://${(i * 7 + 1) % n}"),
        (s"doc://$i", s"doc://${(i * 13 + 5) % n}")) ++
        (if (i % 3 == 0) Seq((s"doc://$i", s"doc://${i / 2}")) else Nil)
    }.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a < b }.distinct
    assert(nEdges == und.length)
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val bruteTri = und.map { case (u, v) =>
      (adj.getOrElse(u, Set.empty) & adj.getOrElse(v, Set.empty)).size.toLong
    }.sum
    assert(tri == bruteTri, s"expected $bruteTri triangles, got $tri")
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map(_._2.size.toLong)
    assert(wedges == deg.map(d => d * (d - 1) / 2).sum)
    assert(row.getAs[Long]("clustering_permille") == 3000 * tri / wedges)
  }

  test("pageRank top-20 mass is sane (bounded by total, above uniform floor)") {
    // integer division only ever LOSES mass, so the top-20 sum must
    // stay below Scale; and top pages can't fall below half the
    // uniform share (they are by definition above-average)
    val n = graft.Tables.documents(spark, dir).count()
    val top = Graph.pageRank(spark, dir, iters = 3)
      .collect().map(_.getAs[Long]("r")).sum
    assert(top <= Graph.Scale, "top-20 mass cannot exceed total mass")
    assert(top >= 20L * (Graph.Scale / n) / 2,
      "top-20 mass implausibly small")
  }

  test("componentsDelta equals full recompute and does real merge work") {
    import org.apache.spark.sql.functions._
    val full = Graph.components(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val inc = Graph.componentsDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(inc == full)
    // the construction must not be vacuous: yesterday's labelling
    // (pre-cut edges only) has to differ from the final one, i.e. the
    // delta edges genuinely merge previously-distinct components
    val maxId = graft.Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId * 4 / 5
    val oldPairs = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % Graph.HubEvery === 0 && col("doc_id") > 0)
      .select(expr("doc_id div 2").as("doc_a"), col("doc_id").as("doc_b"))
      .filter(col("doc_b") < cut)
    val old = graft.operators.Dedup.clusters(spark, dir, oldPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val changed = old.count { case (id, lab) => full(id) != lab }
    assert(changed > 0, "delta edges merged nothing — vacuous fixture")
  }

  test("sssp matches an independent driver-side Bellman-Ford, hop for hop") {
    val got = Graph.sssp(spark, dir).collect()
      .map(r => r.getString(0).stripPrefix("doc://").toLong ->
        r.getLong(1)).toMap
    assert(got(Graph.SsspSource) == 0L)
    // independent reconstruction: plain Scala arrays, same rounds
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    val n = docs.length.toLong
    val edges = docs.flatMap { i =>
      val base = Seq(i -> ((i * Graph.LinkMulA + Graph.LinkAddA) % n),
        i -> ((i * Graph.LinkMulB + Graph.LinkAddB) % n))
      (if (i % Graph.HubEvery == 0) base :+ (i -> (i / 2)) else base)
    }.distinct.map { case (s, d) =>
      (s, d, 1L + (3 * s + d) % Graph.SsspWeightMod)
    }
    var dist = Map(Graph.SsspSource -> 0L)
    for (_ <- 1 to Graph.SsspRounds) {
      val relaxed = edges.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => d -> (ds + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    assert(got == dist, "engine distances must equal the reference walk")
    // non-vacuous: weighted distances differentiate beyond hop counts
    assert(got.values.toSet.size > Graph.SsspRounds,
      "weights must spread distances beyond pure hop depth")
  }
}
