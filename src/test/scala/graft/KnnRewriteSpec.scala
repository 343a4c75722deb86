package graft

import org.apache.spark.sql.functions._

/** The KnnIvfRewrite optimizer rule (SURVEY §4 optional-Catalyst item
  * 3): a declarative `ORDER BY cosine DESC LIMIT k` over an IVF index
  * table with a manifest is rewritten onto the index's cell partitions;
  * the guard rails (manifest opt-in, limit-only, descending-only,
  * idempotency under the fixed-point batch) are pinned as hard as the
  * happy path. */
class KnnRewriteSpec extends SparkSuite(cpus = 2) {

  override def afterAll(): Unit = {
    graft.plans.KnnIndexRegistry.clear()
    super.afterAll()
  }

  private lazy val tmp = tempDir("knnspec")
  private lazy val idx = tmp.resolve("ivf").toString
  private val rnd = new scala.util.Random(7)
  private lazy val rows = (0 until 100).map { i =>
    (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 4)
  }
  private lazy val seeds =
    (0 until 4).map(_ => Array.fill(8)(rnd.nextFloat())).toArray

  private def setUp(): Unit = {
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    graft.plans.KnnIvfRewrite.register(spark)
    if (!new java.io.File(idx).exists()) {
      rows.toDF("vec_id", "embedding", "cell")
        .write.partitionBy("cell").parquet(idx)
    }
    graft.plans.KnnIndexRegistry.writeManifest(idx, seeds, 2)
  }

  private def cosSql(qv: Array[Float]): String = {
    val q = qv.map(v => s"CAST('$v' AS FLOAT)").mkString("array(", ",", ")")
    s"dot_f($q, embedding) / (sqrt(dot_f($q, $q))" +
      s" * sqrt(dot_f(embedding, embedding)))"
  }

  private def knnQuery(k: Int) = {
    setUp()
    spark.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(k)
  }

  test("the rewrite fires: cell partition filter injected, result " +
      "equals the explicit prune") {
    val df = knnQuery(5)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("cell#\\d+ IN \\(".r.findFirstIn(opt).isDefined,
      s"no injected cell filter in:\n$opt")
    // the physical scan prunes to nprobe=2 of 4 cell partitions
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec"))
    assert(scan.partitionFilters.mkString(";").contains("cell"),
      s"cell not in PartitionFilters: ${scan.partitionFilters}")
    df.count() // materialize so selectedPartitions resolves
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 probed cells, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
    // semantics: identical to explicitly filtering the probed cells
    val cells = graft.operators.Similarity
      .topCells(rows.head._2, seeds, 2)
    val expected = spark.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = df.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expected)
  }

  test("guard rails: no limit, ascending, unregistered path, huge k — " +
      "all leave the plan exact") {
    setUp()
    // the injected predicate, not the relation's own `cell` output
    // column (which appears in every plan string over the index)
    def hasCellFilter(df: org.apache.spark.sql.DataFrame): Boolean =
      "cell#\\d+ IN \\(".r
        .findFirstIn(df.queryExecution.optimizedPlan.toString).isDefined
    // no limit: pruning would change the full sorted result
    assert(!hasCellFilter(spark.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .select("vec_id")))
    // ascending first key is not a similarity top-k
    assert(!hasCellFilter(spark.read.parquet(idx)
      .orderBy(expr(cosSql(rows.head._2)).asc).limit(5)
      .select("vec_id")))
    // k beyond MaxK stands down
    assert(!hasCellFilter(spark.read.parquet(idx)
      .orderBy(expr(cosSql(rows.head._2)).desc)
      .limit(graft.plans.KnnIvfRewrite.MaxK + 1).select("vec_id")))
    // an unregistered sibling copy of the same data never rewrites
    val other = tmp.resolve("unregistered").toString
    spark.read.parquet(idx).write.mode("overwrite")
      .partitionBy("cell").parquet(other)
    assert(!hasCellFilter(spark.read.parquet(other)
      .orderBy(expr(cosSql(rows.head._2)).desc).limit(5)
      .select("vec_id")))
  }

  test("idempotent under the fixed-point batch: exactly one injected " +
      "filter") {
    val opt = knnQuery(5).queryExecution.optimizedPlan.toString
    val n = "cell#\\d+ IN \\(".r.findAllIn(opt).length
    assert(n == 1, s"expected exactly one IN filter, got $n in:\n$opt")
  }

  test("a registered scan under a join never rewrites: pruning below " +
      "a non-row-preserving node would distort the sorted values") {
    setUp()
    import spark.implicits._
    val weights = Seq((0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0))
      .toDF("cell", "w")
    val df = spark.read.parquet(idx)
      .join(weights, "cell")
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5)
      .select("vec_id")
    val opt = df.queryExecution.optimizedPlan.toString
    assert("cell#\\d+ IN \\(".r.findFirstIn(opt).isEmpty,
      s"rewrite fired under a join:\n$opt")
    // and the result is the exact top-k over the full joined corpus
    val exact = rows.filter(_._1 != -1)
      .sortBy { case (_, v, _) => -cosine(rows.head._2, v) }
      .take(5).map(_._1)
    assert(df.collect().map(_.getLong(0)).toSeq == exact.toSeq)
  }

  test("a Long-typed cell column rewrites with Long literals and " +
      "still prunes to nprobe partitions") {
    setUp()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType)))
    val df = spark.read.schema(schema).parquet(idx)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).select("vec_id")
    val opt = df.queryExecution.optimizedPlan.toString
    assert("cell#\\d+L IN \\(".r.findFirstIn(opt).isDefined,
      s"no Long-typed cell filter in:\n$opt")
    val cells = graft.operators.Similarity
      .topCells(rows.head._2, seeds, 2)
    val expected = spark.read.schema(schema).parquet(idx)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(df.collect().map(_.getLong(0)).toSeq == expected)
  }

  test("durability: a brand-new session with an EMPTY registry recovers " +
      "the quantizer from the on-disk manifest and still rewrites") {
    setUp()
    graft.plans.KnnIndexRegistry.clear() // simulate process restart
    val s2 = spark.newSession()
    graft.functions.VectorExprs.register(s2)
    graft.plans.KnnIvfRewrite.register(s2)
    val df = s2.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5)
    val opt = df.queryExecution.optimizedPlan.toString
    assert("cell#\\d+ IN \\(".r.findFirstIn(opt).isDefined,
      s"manifest-recovered rewrite did not fire:\n$opt")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec"))
    df.count()
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 probed cells, scanned " +
        s"${scan.selectedPartitions.partitionCount}")
    // bit-exact seed round-trip: the recovered quantizer ranks the
    // SAME cells, so the result equals the in-memory-registered path
    val cells = graft.operators.Similarity
      .topCells(rows.head._2, seeds, 2)
    val expected = s2.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .filter(col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(df.select("vec_id").collect().map(_.getLong(0)).toSeq
      == expected)
  }

  test("a corrupt manifest degrades to the exact scan — never a wrong " +
      "answer, never a crash") {
    setUp()
    val broken = tmp.resolve("broken").toString
    spark.read.parquet(idx).write.mode("overwrite")
      .partitionBy("cell").parquet(broken)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(broken,
        graft.plans.KnnIndexRegistry.ManifestName),
      "graft-knn-manifest v1\nnprobe=garbage\n".getBytes)
    graft.plans.KnnIndexRegistry.clear()
    val df = spark.read.parquet(broken)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).select("vec_id")
    assert("cell#\\d+ IN \\(".r
      .findFirstIn(df.queryExecution.optimizedPlan.toString).isEmpty)
    // exact top-k over the full corpus
    val exact = rows.sortBy { case (_, v, _) => -cosine(rows.head._2, v) }
      .take(5).map(_._1)
    assert(df.collect().map(_.getLong(0)).toSeq == exact.toSeq)
    graft.plans.KnnIndexRegistry.clear()
  }

  test("a manifest rewritten by another writer is seen by the next " +
      "rewrite") {
    import org.apache.spark.sql.catalyst.expressions.In
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // the cell ids of the injected partition filter
    def injectedCells(): Set[Int] = spark.read.parquet(idx)
      .filter(col("vec_id") =!= 0)
      .orderBy(expr(cosSql(rows.head._2)).desc, col("vec_id"))
      .limit(5).queryExecution.optimizedPlan.collect { case f: Filter =>
        f.condition.collect {
          case In(a, lits) if a.references.exists(_.name == "cell") =>
            lits.map(_.eval().toString.toInt)
        }.flatten
      }.flatten.toSet
    setUp()
    assert(injectedCells() ==
      graft.operators.Similarity.topCells(rows.head._2, seeds, 2).toSet)
    // another session or JVM rebuilds the quantizer: new seeds, and
    // nprobe 2 → 10, so the manifest's length changes even within one
    // modification-time tick
    val rebuilt = (0 until 6).map(_ => Array.fill(8)(rnd.nextFloat())).toArray
    graft.plans.KnnIndexRegistry.writeManifest(idx, rebuilt, 10)
    assert(injectedCells() ==
      graft.operators.Similarity.topCells(rows.head._2, rebuilt, 10).toSet)
    assert(injectedCells().size == 6)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }
}
