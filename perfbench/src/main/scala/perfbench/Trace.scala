package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. Times are epoch microseconds; `parent` is the
  * id of the span that caused this one (0 for the root), and every span
  * of one run shares `traceId`. `counts` are taken at the same
  * boundaries as the times. */
final case class Span(id: Long, parent: Long, traceId: String, kind: String,
    name: String, startUs: Long, endUs: Long, counts: Map[String, Double]) {
  def durUs: Long = endUs - startUs
}

/** Spans around the benchmark's own calls into the engine, plus the
  * Spark executions and jobs those calls run, attributed to the engine
  * layer whose code issued them. One SparkListener feeds it: SQL
  * execution start/end (call site; at the end, the QueryExecution a
  * QueryExecutionListener would get, but tied to its execution id, which
  * the listener callback lacks), jobs, stages and tasks. Everything stays
  * in memory until [[finish]]; nothing is written while timing. */
final class Trace(spark: SparkSession) {

  val traceId: String = java.util.UUID.randomUUID().toString
  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = baseUs + System.nanoTime() / 1000

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List(0L)
  private var nextId = 1L

  /** Time `f` as a benchmark span, nested under the open one. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.head
    open = id :: open
    val t0 = nowUs
    try f finally {
      spans += Span(id, parent, traceId, "bench", name, t0, nowUs, Map.empty)
      open = open.tail
    }
  }

  // ── Spark side: filled from the listener bus thread ──────────────────
  import Trace._

  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.LinkedHashMap.empty[Long, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.HashMap.empty[Long, PlanStats]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.time, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.endMs = s.time)
        PerfbenchAccess.queryExecution(s).foreach(qe => plans(s.executionId) = planStats(qe))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(j.jobId.toLong) = Job(j.jobId, exec, j.time, j.stageIds)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId.toLong).foreach(_.endMs = j.time)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = Stage(i.submissionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, i.numTasks)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      tasks += Task(t.stageId, t.taskInfo.launchTime, t.taskInfo.finishTime,
        !t.taskInfo.successful)
  }

  /** Planning time and plan row counts of a finished execution. */
  private def planStats(qe: QueryExecution): PlanStats = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val rows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var files = 0L
    var root = -1L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        p.metrics.get("numOutputRows").foreach { m =>
          rows(p.nodeName) += m.value
          if (root < 0) root = m.value
        }
        p match {
          case f: FileSourceScanExec =>
            f.metrics.get("numFiles").foreach(m => files += m.value)
          case _ =>
        }
        p.children.foreach(walk)
    }
    scala.util.Try(walk(qe.executedPlan))
    PlanStats(planning, rows.toMap, files, root)
  }

  spark.sparkContext.addSparkListener(listener)

  /** Drain the listener bus and unregister; afterwards the recorded
    * data is complete and stable. */
  def finish(): Unit = {
    PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** All spans: benchmark spans, then one per Spark execution (parent =
    * the innermost benchmark span containing its start) and one per job
    * (parent = its execution). Execution names are engine layers. */
  def allSpans: Seq[Span] = {
    val bench = spans.toSeq.sortBy(_.startUs)
    def enclosing(us: Long): Option[Span] =
      bench.filter(s => s.startUs <= us && us <= s.endUs).sortBy(_.durUs).headOption
    val done = execs.values.toSeq.filter(_.endMs >= 0)
    val sites = done.map(e => e.id -> Layers.site(e.details)).toMap
    val allSites = sites.values.flatten.toSeq
    val execSpans = done.map { e =>
      val parent = enclosing(e.startMs * 1000)
      val ps = plans.get(e.id)
      val counts = Map("planning_ms" -> ps.map(_.planningMs).getOrElse(0.0),
        "files" -> ps.map(_.files.toDouble).getOrElse(0.0),
        "root_rows" -> ps.map(_.rootRows.toDouble).getOrElse(0.0)) ++
        ps.toSeq.flatMap(_.rows.map { case (k, v) => s"rows.$k" -> v.toDouble })
      Span(1000000L + e.id, parent.map(_.id).getOrElse(0L), traceId, "exec",
        Layers.name(sites(e.id), parent.map(_.name).getOrElse(""), allSites),
        e.startMs * 1000, e.endMs * 1000, counts)
    }
    val jobSpans = jobs.values.toSeq.filter(_.endMs >= 0).map { j =>
      val st = j.stages.flatMap(stages.get)
      Span(2000000L + j.id, if (j.exec >= 0) 1000000L + j.exec else 0L,
        traceId, "job", s"job${j.id}", j.startMs * 1000, j.endMs * 1000,
        Map("tasks" -> st.map(_.tasks).sum.toDouble))
    }
    bench ++ execSpans ++ jobSpans
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Trace.union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Spark runtime totals over [fromUs, toUs]: stages and tasks that
    * started inside the window. */
  def sparkTotals(fromUs: Long, toUs: Long): Map[String, Double] = {
    def in(ms: Long) = ms * 1000 >= fromUs && ms * 1000 <= toUs
    val st = stages.values.filter(s => in(s.startMs)).toSeq
    val tk = tasks.filter(t => in(t.startMs)).toSeq
    val durs = tk.filterNot(_.failed).groupBy(_.stage)
      .map { case (_, ts) => ts.map(t => (t.endMs - t.startMs).toDouble) }
    val skew = durs.filter(_.size >= 2).map { d =>
      d.max / math.max(1.0, Stats.median(d)) }
    val busy = Trace.union(tk.map(t => (t.startMs * 1000, t.endMs * 1000)))
    val js = jobs.values.filter(j => in(j.startMs)).toSeq
    val planning = execs.values.filter(e => in(e.startMs))
      .flatMap(e => plans.get(e.id)).map(_.planningMs).sum
    Map(
      "spark.planning_ms" -> planning,
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> tk.size.toDouble,
      "spark.failed_tasks" -> tk.count(_.failed).toDouble,
      "spark.executor_run_s" -> st.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.driver_serial_s" -> (toUs - fromUs - busy) / 1e6,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> st.map(_.input).sum.toDouble,
      "spark.output_bytes" -> st.map(_.output).sum.toDouble,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }

  /** Shuffle bytes written by the stages of the given executions. */
  def shuffleWriteOf(execIds: Set[Long]): Double =
    jobs.values.filter(j => execIds(j.exec)).flatMap(_.stages).toSeq.distinct
      .flatMap(stages.get).map(_.shuffleWrite).sum.toDouble

  def jobCountOf(execIds: Set[Long]): Int = jobs.values.count(j => execIds(j.exec))

  def writeJson(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfTimes(all)
    val lines = all.map { s =>
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString(",")
      s"""{"trace_id":${Json.str(s.traceId)},"id":${s.id},"parent":${s.parent},""" +
        s""""kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${self(s.id)},"counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Trace {
  private[perfbench] final case class Exec(id: Long, startMs: Long, details: String,
      var endMs: Long = -1)
  private[perfbench] final case class Job(id: Long, exec: Long, startMs: Long,
      stages: Seq[Int], var endMs: Long = -1)
  private[perfbench] final case class Stage(startMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      input: Long, output: Long, tasks: Int)
  private[perfbench] final case class Task(stage: Int, startMs: Long, endMs: Long,
      failed: Boolean)
  /** Plan-side numbers of one execution: planning ms; per physical
    * operator name, summed `numOutputRows`; scanned files; and the rows
    * out of the topmost operator that counts them. */
  private[perfbench] final case class PlanStats(planningMs: Double, rows: Map[String, Long],
      files: Long, rootRows: Long)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Maps a Spark execution to the engine layer that issued it, from its
  * call site (`SparkListenerSQLExecutionStart.details`, the long-form
  * stack of the action). The innermost `graft.` frame names the layer;
  * where one engine function runs several layers' actions, the API call
  * and the order of the checkpoint call sites in the source tell them
  * apart (`Sync.syncRun` checkpoints chunks, then the url diff, then the
  * embedded rows). Actions issued by the benchmark itself take the name
  * of the benchmark span that made them. */
object Layers {

  final case class Site(method: String, line: Int, checkpoint: Boolean)

  private val Frame = """\s*(graft\.[\w.$]+)\(\w+\.scala:(\d+)\)""".r

  def site(details: String): Option[Site] = {
    val lines = Option(details).getOrElse("").split("\n").toSeq
    val ckpt = lines.headOption.exists(_.toLowerCase.contains("checkpoint"))
    lines.collectFirst { case Frame(m, l) => Site(m, l.toInt, ckpt) }
  }

  /** Layer names for all executions of a run at once, so that checkpoint
    * ranks are taken over every call site the run saw. */
  def name(s: Option[Site], benchSpan: String, all: Seq[Site]): String = {
    def ckptLines(suffix: String) =
      all.filter(x => x.checkpoint && x.method.endsWith(suffix)).map(_.line).distinct.sorted
    s match {
      case None => benchSpan
      case Some(Site(m, line, ckpt)) =>
        if (m.endsWith("Sync$.syncRun"))
          if (!ckpt) "sync.embed"
          else Seq("sync.chunk", "sync.diff", "sync.embed")
            .lift(ckptLines("Sync$.syncRun").indexOf(line)).getOrElse("sync.embed")
        else if (m.contains("ChunkStore$.writeVersion")) "store.write"
        else if (m.contains("ChunkStore$")) "store.read"
        else if (m.contains("SyncState$")) "sync.state"
        else if (m.contains("Similarity$.probeIvf") || m.contains("Similarity$.indexSeeds")) "ivf.probe"
        else if (m.contains("Similarity$")) "ivf.build"
        else if (m.contains("Dedup$.simhashPairsWideOf"))
          if (ckpt) "dedup.signature" else "dedup.pairs"
        else if (m.contains("Dedup$.clustersOf"))
          if (ckpt && ckptLines("Dedup$.clustersOf").headOption.contains(line)) "dedup.pairs"
          else "dedup.cluster"
        else if (m.contains("Dedup$") || m.contains("Ingest$.docCount")) "dedup.pairs"
        else m.stripPrefix("graft.")
    }
  }
}
