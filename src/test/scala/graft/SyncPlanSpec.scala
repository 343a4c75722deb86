package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, In,
  InSet, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}
import graft.operators.Sync

/** Pins the plan shapes of `Sync.syncRun`'s three pinned stages, read
  * from the executed plans of its localCheckpoint calls: chunking is a
  * narrow map (no Exchange, no Window), and the embed stage of an
  * incremental run reads reusable embeddings only through a filter on
  * the processed urls at the store scan, so no chunk_id dedup runs over
  * the whole store. */
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
    val base = tempDir("syncplan1")
    val plans = checkpointPlans {
      Sync.syncRun(spark, docs(corpus: _*), base.resolve("store").toString,
        base.resolve("state").toString, runId = 1).collect()
    }
    val chunk = stage(plans, 0)
    assert(collect(chunk) { case e: ShuffleExchangeLike => e }.isEmpty,
      chunk.treeString)
    assert(collect(chunk) { case w: WindowExec => w }.isEmpty,
      chunk.treeString)
  }

  test("the embed stage reads the store only through a url filter") {
    val base = tempDir("syncplan2")
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
    // every store scan under the chunk_id dedup is filtered to the
    // processed urls (a membership test on url, pushed to the scan)
    val aggs = collect(embed) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, embed.treeString)
    def onUrl(e: Expression) = e.references.exists(_.name == "url")
    for (a <- aggs; s <- collect(a) { case f: FileSourceScanExec => f })
      assert(s.dataFilters.exists(_.exists {
          case In(v, _) => onUrl(v)
          case InSet(v, _) => onUrl(v)
          case EqualTo(v, _: Literal) => onUrl(v)
          case _ => false
        }), s"store scan reaches the dedup without a url filter\n" +
        embed.treeString)
  }
}
