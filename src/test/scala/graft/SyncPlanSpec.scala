package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}
import graft.operators.Sync

/** Pins the plan shapes of `Sync.syncRun`'s three pinned stages, read
  * from the executed plans of its localCheckpoint calls: chunking is a
  * narrow map (no Exchange, no Window), and the embed stage reads
  * reusable embeddings only through a broadcast semi-join on the
  * processed urls, so no chunk_id dedup runs over the whole store. */
class SyncPlanSpec extends SparkSuite with AdaptiveSparkPlanHelper
    with Eventually {

  private def docs(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("url", "text")
  }

  private val corpus = (1 to 6).map { i =>
    s"doc://$i" -> (s"Document $i. " * 40)
  }

  /** Executed plans of the localCheckpoint calls one syncRun makes, in
    * call order (the listener bus delivers events in order). */
  private def checkpointPlans(run: => Unit): Seq[SparkPlan] = {
    val seen = ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += name -> qe.executedPlan }
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        ()
    }
    spark.listenerManager.register(listener)
    // a marker action after the run: once it is seen, so are the run's
    try {
      run
      spark.range(1).collect()
      eventually(timeout(Span(30, Seconds))) {
        assert(seen.synchronized(seen.exists(_._1 == "collect")))
      }
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
      .collect { case ("localCheckpoint", p) => p }
  }

  private def stage(plans: Seq[SparkPlan], i: Int): SparkPlan = {
    assert(plans.size == 3,
      s"syncRun must pin exactly chunk, diff and embed: ${plans.size} pins")
    plans(i)
  }

  test("the chunk stage is a narrow map: no Exchange, no Window") {
    val base = java.nio.file.Files.createTempDirectory("syncplan1")
    val plans = checkpointPlans {
      Sync.syncRun(spark, docs(corpus: _*), base.resolve("store").toString,
        base.resolve("state").toString, runId = 1).collect()
    }
    val chunk = stage(plans, 0)
    assert(collect(chunk) { case e: ShuffleExchangeLike => e }.isEmpty,
      chunk.treeString)
    assert(collect(chunk) { case w: WindowExec => w }.isEmpty,
      chunk.treeString)
    Sync.deleteTree(base.toFile)
  }

  test("the embed stage reads the store only under a semi-join on url") {
    val base = java.nio.file.Files.createTempDirectory("syncplan2")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    Sync.syncRun(spark, docs(corpus: _*), store, state, runId = 1).collect()
    val edited = corpus.updated(2, "doc://3" -> (corpus(2)._2 + " edited"))
    val plans = checkpointPlans {
      Sync.syncRun(spark, docs(edited: _*), store, state, runId = 2)
        .collect()
    }
    val embed = stage(plans, 2)
    val scans = collect(embed) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"the resync must read the store\n${embed.treeString}")
    // every path from the store scan up to the chunk_id dedup passes a
    // broadcast LeftSemi join keyed on url
    val aggs = collect(embed) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, embed.treeString)
    for (a <- aggs; s <- collect(a) { case f: FileSourceScanExec => f }) {
      val semis = collect(a) {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi &&
            j.leftKeys.exists(_.references.exists(_.name == "url")) &&
            find(j.left)(_ eq s).isDefined => j
      }
      assert(semis.nonEmpty,
        s"store scan reaches the dedup without a url semi-join\n" +
          embed.treeString)
    }
    Sync.deleteTree(base.toFile)
  }
}
