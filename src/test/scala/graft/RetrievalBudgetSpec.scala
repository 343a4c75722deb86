package graft

import org.apache.spark.sql.functions._
import graft.operators.{DocPipeline, Similarity, Sync}
import graft.sources.ChunkStore

/** Job budget of the retrieval calls. A probe's first call on a build
  * runs at most one job, which reads the build's rows into the index
  * handle, and every later probe of that build runs no job and one SQL
  * execution, the collect of its local answer frame. A store read runs
  * no job. A page lookup's first call on a store snapshot runs at most
  * one job, which reads the snapshot's rows into its handle, and every
  * later one runs no job and one SQL execution. The Spark page plan,
  * which answers every other frame and every snapshot over the memory
  * rule, runs at most two jobs, store read included. A call that gains
  * a job (a schema-inference job, a sort's sampling job, a second pass
  * over the index or the store, a warm probe or page that reads files
  * again) fails here. */
class RetrievalBudgetSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val jobs = new JobCount(spark.sparkContext)
  private lazy val executions = new ExecutionCount(spark)

  private lazy val index: String = {
    val idx = tempDir("budgetivf").resolve("ivf").toString
    Similarity.buildIvfIndex(spark, dir, idx)
    idx
  }

  private lazy val store: String = {
    val base = tempDir("budgetstore")
    val docs = Tables.documents(spark, dir).orderBy("doc_id").limit(40)
      .select(concat(lit("doc://"), col("doc_id")).as("url"), col("text"))
    val root = base.resolve("store").toString
    Sync.syncRun(spark, docs, root, base.resolve("state").toString, 1L)
      .collect()
    root
  }

  private def query(id: Long): Array[Float] = {
    import spark.implicits._
    Tables.embeddings(spark, dir).filter(col("vec_id") === id)
      .select("embedding").as[Array[Float]].head()
  }

  test("a probe runs at most one job on a fresh build and none on a loaded one") {
    val (q0, q1, q2) = (query(0L), query(1L), query(2L))
    val idx = index
    var rows = 0
    val cold = jobs.of { rows = Similarity.probeIvf(spark, idx, q0).collect().length }
    assert(cold <= 1, s"the first probe ran $cold jobs")
    assert(rows == 10)
    assert(jobs.of { rows = Similarity.probeIvf(spark, idx, q1).collect().length } == 0)
    assert(rows == 10)
    assert(executions.of { rows = Similarity.probeIvf(spark, idx, q2).collect().length } == 1)
    assert(rows == 10)
  }

  test("readLatest runs no job") {
    val root = store
    assert(jobs.of { ChunkStore.readLatest(spark, root).get } == 0)
  }

  test("a page lookup runs at most one job on a fresh snapshot and none on a loaded one") {
    val root = store
    val top = ChunkStore.readLatest(spark, root).get
      .groupBy("url").count().orderBy(col("count").desc, col("url"))
      .head()
    val url = top.getString(0)
    assert(top.getLong(1) >= 3)
    var page = Array.empty[org.apache.spark.sql.Row]
    def lookup(range: (Int, Int)): Unit = page = DocPipeline.getChunksFromStore(
      ChunkStore.readLatest(spark, root).get, url, Some(range)).collect()
    val cold = jobs.of(lookup((0, 2)))
    assert(cold <= 1, s"the first page lookup ran $cold jobs")
    assert(page.nonEmpty &&
      page.map(_.getAs[Int]("chunk_index")).toSeq == page.indices)
    assert(jobs.of(lookup((1, 2))) == 0)
    assert(page.map(_.getAs[Int]("chunk_index")).toSeq == Seq(1, 2))
    assert(executions.of(lookup((0, 1))) == 1)
    assert(page.map(_.getAs[Int]("chunk_index")).toSeq == Seq(0, 1))
  }

  test("a page lookup, store read included, runs at most two jobs") {
    val root = store
    val url = ChunkStore.readLatest(spark, root).get
      .groupBy("url").count().orderBy(col("count").desc, col("url"))
      .head().getString(0)
    var page = Array.empty[org.apache.spark.sql.Row]
    val n = jobs.of {
      // a projection of the handle's frame takes the Spark page plan
      val stored = ChunkStore.readLatest(spark, root).get
      val projected = stored.select(stored.columns.map(col): _*)
      assert(ChunkStore.residentPage(projected, url, Some((0, 2))).isEmpty)
      page = DocPipeline.getChunksFromStore(projected, url, Some((0, 2))).collect()
    }
    assert(n <= 2, s"page lookup ran $n jobs")
    assert(page.nonEmpty &&
      page.map(_.getAs[Int]("chunk_index")).toSeq == page.indices)
  }
}
