package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.{EventStream, StageCache}

/** The staged-replay harness shared by the `stream_*` rows: how many
  * micro-batches each row crosses, that its result columns do not
  * depend on the corpus being empty, and that a run which throws
  * leaves no work or staging dir behind. */
class StreamReplaySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private val streamRows =
    SparkEntry.queries.toSeq.filter(_._1.startsWith("stream_")).sortBy(_._1)

  /** Counts `QueryProgressEvent`s per query run on the context listener
    * bus, which every protocol session (`newSession()`) shares. Each
    * session has its own StreamingQueryManager, so a listener on
    * `spark.streams` would miss their queries. */
  private object Progress extends SparkListener {
    val started = new CopyOnWriteArrayList[UUID]()
    val ended = ConcurrentHashMap.newKeySet[UUID]()
    val counts = new ConcurrentHashMap[UUID, Int]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: QueryStartedEvent => started.add(q.runId)
      case p: QueryProgressEvent => counts.merge(p.progress.runId, 1, _ + _)
      case t: QueryTerminatedEvent => ended.add(t.runId)
      case _ =>
    }

    /** Progress events of each run `f` starts, in start order. A run's
      * terminated event follows all its progress events on the bus. */
    def during(f: => Unit): Seq[Int] = {
      started.clear()
      f
      val deadline = System.currentTimeMillis() + 30000
      while (!started.asScala.forall(ended.contains) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      started.asScala.toSeq.map(counts.getOrDefault(_, 0))
    }
  }

  /** Each stream row at sf0.001: micro-batches per run, result schema. */
  private lazy val runs: Map[String, (Seq[Int], Seq[(String, String)])] = {
    spark.sparkContext.addSparkListener(Progress)
    try streamRows.map { case (name, fn) =>
      var schema = Seq.empty[(String, String)]
      val batches = Progress.during {
        val df = fn(spark, dir)
        df.count()
        schema = df.schema.map(f => f.name -> f.dataType.simpleString)
      }
      name -> (batches, schema)
    }.toMap
    finally spark.sparkContext.removeSparkListener(Progress)
  }

  test("every replayed stream row keeps its micro-batch count") {
    val expected = Map(
      "batch" -> Seq(4), "delete" -> Seq(4, 2), "resync" -> Seq(2, 2),
      "window" -> Seq(6), "session" -> Seq(6), "rocksdb" -> Seq(6),
      "state" -> Seq(4), "tws" -> Seq(4), "join" -> Seq(4),
      "semi_join" -> Seq(4), "enrich" -> Seq(4), "outer_join" -> Seq(7),
      "full_outer_join" -> Seq(7), "right_outer_join" -> Seq(7),
      "dedup" -> Seq(4), "late" -> Seq(6), "curate" -> Seq(4),
      "ivf" -> Seq(2), "kmv" -> Seq(2), "mv" -> Seq(2), "purge" -> Seq(2),
      "substr" -> Seq(2), "txn" -> Seq(3))
      .map { case (k, v) => s"stream_${k}_parity" -> v }
    assert(expected.keySet.subsetOf(runs.keySet))
    val got = expected.keys.toSeq.sorted.map(k => k -> runs(k)._1)
    assert(got == expected.toSeq.sortBy(_._1))
  }

  test("every stream row has the same columns and types on an empty " +
      "corpus as on sf0.001") {
    val empty = EmptyCorpus.stage(spark, tempDir("sf-empty"))
    val emptySchemas = streamRows.map { case (name, fn) =>
      name -> fn(spark, empty.toString).schema
        .map(f => f.name -> f.dataType.simpleString)
    }
    assert(emptySchemas.size == 25)
    val diffs = emptySchemas.filter { case (n, s) => s != runs(n)._2 }
    assert(diffs.isEmpty, diffs.map { case (n, s) =>
      s"$n: empty $s vs ${runs(n)._2}" }.mkString("\n"))
  }

  /** Harness dirs (work dirs, uncached stagings) now under the scratch
    * root, where every harness dir is made. */
  private def harnessDirs(): Set[String] =
    Option(Scratch.root.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("replay") || n.startsWith("graftstage"))
      .toSet

  test("the leak check sees a harness dir while it lives, not after") {
    val seen = Scratch.within("replay")(_ => harnessDirs())
    assert(seen.size == 1 && (seen -- harnessDirs()).size == 1)
  }

  private def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
      .getMessage

  test("a run that throws after the query starts leaves no work or " +
      "staging dir") {
    assert(!sys.props.contains(StageCache.Prop))
    val boom = udf { (u: Long) =>
      if (u > Long.MinValue) throw new IllegalStateException("boom"); u }
    val throwing = Seq(
      // the query fails inside a micro-batch
      EventStream.EventRow(EventStream.Slices, rocksdb = false,
        _.select(boom(col("user_id")).as("u")), identity),
      // the query drains, then the read-back throws
      EventStream.EventRow(EventStream.Flush, rocksdb = false,
        EventStream.windowedCounts,
        _ => throw new IllegalStateException("boom")))
    throwing.foreach { row =>
      val before = harnessDirs()
      val e = intercept[Exception](EventStream.replayEvents(spark, dir, row))
      assert(rootMessage(e).contains("boom"))
      assert((harnessDirs() -- before).isEmpty,
        s"left behind: ${harnessDirs() -- before}")
    }
  }

  test("a staging build that throws leaves no work or staging dir") {
    assert(!sys.props.contains(StageCache.Prop))
    val before = harnessDirs()
    val row = EventStream.EventRow(
      EventStream.Plan("boom", Seq("in0"), { (events, base) =>
        events.write.parquet(s"$base/in0")
        throw new IllegalStateException("boom")
      }), rocksdb = false, identity, identity)
    val e = intercept[Exception](EventStream.replayEvents(spark, dir, row))
    assert(rootMessage(e).contains("boom"))
    assert((harnessDirs() -- before).isEmpty,
      s"left behind: ${harnessDirs() -- before}")
  }
}
