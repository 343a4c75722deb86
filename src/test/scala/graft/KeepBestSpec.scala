package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort, Window => WindowNode}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The keep-best keeper is one aggregate over the cluster members that
  * `clustersOf` labels. It must pick exactly what the window keeper it
  * replaced picked (kept below as the reference), on both cluster
  * routes: the driver union-find and, with `driverThreshold = 0`, the
  * distributed label propagation. */
class KeepBestSpec extends SparkSuite {

  /** The window keeper `keepBest` used before the aggregate. */
  private def referenceKeepers(comp: DataFrame, sized: DataFrame): DataFrame = {
    val joined = comp.join(sized, "doc_id")
    val keepers = joined
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("n_chars").as("keeper_chars"))
    comp.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .join(keepers, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("keeper_id"),
        col("keeper_chars"), (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  private val Min = Long.MinValue
  private val Max = Long.MaxValue

  /** (name, (doc_id, n_chars) rows, (doc_a, doc_b) pairs). */
  private val cases: Seq[(String, Seq[(Long, Option[Long])], Seq[(Long, Long)])] = Seq(
    ("ties on n_chars", Seq(1L -> Some(10L), 2L -> Some(10L),
      3L -> Some(10L), 4L -> Some(9L), 5L -> Some(12L), 6L -> Some(12L)),
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 6L)),
    ("null n_chars", Seq(1L -> None, 2L -> Some(3L), 3L -> None,
      4L -> None, 5L -> Some(0L), 6L -> None),
      Seq(1L -> 2L, 3L -> 4L, 5L -> 6L)),
    ("duplicate doc_ids", Seq(1L -> Some(5L), 1L -> Some(9L),
      2L -> Some(7L), 3L -> Some(4L), 3L -> Some(4L), 4L -> Some(1L)),
      Seq(1L -> 2L, 3L -> 4L)),
    ("extreme ids", Seq(Min -> Some(5L), -1L -> Some(5L), 0L -> Some(5L),
      Max -> Some(5L), 7L -> Some(2L), (Max - 1) -> Some(8L)),
      Seq(Min -> Max, -1L -> 0L, 0L -> Max, 7L -> (Max - 1))),
    ("all singletons", Seq(1L -> Some(3L), 2L -> Some(3L), 3L -> None),
      Seq.empty),
    ("empty documents", Seq.empty, Seq.empty))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  for ((name, docs, pairs) <- cases; threshold <- Seq(1000000L, 0L)) {
    val route = if (threshold == 0L) "distributed" else "driver"
    test(s"keeper aggregate == window keeper: $name ($route route)") {
      import spark.implicits._
      val sized = docs.toDF("doc_id", "n_chars")
      val pairDf = pairs.toDF("doc_a", "doc_b")
      val got = Dedup.keepersOf(Dedup.clustersOf(sized, pairDf, threshold))
      val comp = Dedup.clustersOf(sized.select("doc_id"), pairDf, threshold)
        .select("doc_id", "cluster_id")
      val want = referenceKeepers(comp, sized)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(rows(got) == rows(want))
      if (docs.nonEmpty)
        assert(got.agg(sum("n_members")).head().getLong(0) == docs.size)
    }
  }

  test("clustersOf carries the vertex columns, one row per vertex row") {
    import spark.implicits._
    val sized = Seq((1L, Some(4L), "a"), (1L, Some(6L), "b"),
      (2L, None, "c"), (3L, Some(1L), "d"))
      .toDF("doc_id", "n_chars", "tag")
    val pairs = Seq(1L -> 2L, 2L -> 9L).toDF("doc_a", "doc_b")
    Seq(1000000L, 0L).foreach { threshold =>
      val out = Dedup.clustersOf(sized, pairs, threshold)
      assert(out.columns.toSeq ==
        Seq("doc_id", "cluster_id", "is_canonical", "n_chars", "tag"))
      // pair endpoint 9 is not a vertex and gets no row on either route
      assert(rows(out.orderBy("tag")) == Seq(
        Seq(1L, 1L, 1L, 4L, "a"), Seq(1L, 1L, 1L, 6L, "b"),
        Seq(2L, 1L, 0L, null, "c"), Seq(3L, 3L, 1L, 1L, "d")),
        s"threshold $threshold")
    }
  }

  test("both routes label through pair endpoints outside the vertex frame") {
    import spark.implicits._
    // 1 ~ 9 ~ 10 ~ 3 and 5 ~ 2, 7 ~ 8: only 1, 3, 4, 5, 6, 8 are vertices;
    // a component's label is its least node, vertex or not
    val vertices = Seq(1L, 3L, 4L, 5L, 6L, 8L).toDF("doc_id")
    val pairs = Seq(1L -> 9L, 9L -> 10L, 10L -> 3L, 5L -> 2L, 7L -> 8L)
      .toDF("doc_a", "doc_b")
    val want = Seq(Seq(1L, 1L, 1L), Seq(3L, 1L, 0L), Seq(4L, 4L, 1L),
      Seq(5L, 2L, 0L), Seq(6L, 6L, 1L), Seq(8L, 7L, 0L))
    Seq(1000000L, 0L).foreach { threshold =>
      assert(rows(Dedup.clustersOf(vertices, pairs, threshold)
        .orderBy("doc_id")) == want, s"threshold $threshold")
    }
  }

  private def nodes(p: LogicalPlan)(pf: PartialFunction[LogicalPlan, Unit]) =
    p.collect { case n if pf.isDefinedAt(n) => n }

  test("plan: keepBest has no Window and scans documents once") {
    val dir = "/root/testdata/sf0.001"
    val p = Dedup.keepBest(spark, dir).queryExecution.optimizedPlan
    assert(nodes(p) { case _: WindowNode => }.isEmpty, p.treeString)
    assert(nodes(p) { case _: LogicalRelation => }.size == 1, p.treeString)
    assert(nodes(p) { case _: Aggregate => }.size == 1, p.treeString)
  }

  test("plan: the pair kernels have no aggregate and no sort") {
    import spark.implicits._
    val sigs = Seq((1L, 5L), (2L, 7L), (3L, 5L)).toDF("doc_id", "simhash")
    val kernels = Seq(
      "32/6" -> Dedup.simhashPairsOf(sigs),
      "60/3" -> Dedup.simhashPairsWideOf(sigs),
      "auto 32/6" -> Dedup.nearDupPairsAuto(spark, "/root/testdata/sf0.001",
        Some(100L)),
      "auto 60/3" -> Dedup.nearDupPairsAuto(spark, "/root/testdata/sf0.001",
        Some(Dedup.SimhashAutoMaxDocs + 1)))
    kernels.foreach { case (name, df) =>
      val p = df.queryExecution.optimizedPlan
      assert(nodes(p) { case _: Aggregate => }.isEmpty, s"$name: ${p.treeString}")
      assert(nodes(p) { case _: Sort => }.isEmpty, s"$name: ${p.treeString}")
    }
  }
}
