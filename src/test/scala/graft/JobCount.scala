package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code runs, by job group, on
  * the context's listener bus. */
final class JobCount(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Int]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(byGroup.merge(_, 1, _ + _))

  private def inGroup[T](g: String)(f: => T): T = {
    sc.setJobGroup(g, g)
    try f finally sc.clearJobGroup()
  }

  /** The jobs `f` starts. A barrier job runs after `f`: the bus delivers
    * job starts in order, so once the barrier's start has arrived, so
    * has every start of `f`'s jobs. */
  def of(f: => Unit): Int = {
    val n = seq.incrementAndGet()
    val (group, barrier) = (s"jobcount-$n", s"jobcount-$n-barrier")
    sc.addSparkListener(this)
    try {
      inGroup(group)(f)
      inGroup(barrier)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!byGroup.containsKey(barrier) &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(byGroup.containsKey(barrier), "listener bus did not drain")
      byGroup.getOrDefault(group, 0)
    } finally sc.removeSparkListener(this)
  }
}

/** Counts the SQL executions a block of driver code runs in a session,
  * on its `QueryExecutionListener` bus. A marker action runs before and
  * after the block: the bus delivers executions in order, so the ones
  * between the two markers are the block's. */
final class ExecutionCount(spark: org.apache.spark.sql.SparkSession)
    extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.execution.QueryExecution

  private val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()

  def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
  def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)

  private def marker(): QueryExecution = {
    val d = spark.range(1)
    d.collect()
    d.queryExecution
  }

  /** The executions delivered before `m`, `m` taken off the queue. */
  private def until(m: QueryExecution): Int = {
    val next = () => seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    var n = 0
    var qe = next()
    while (qe != null && !qe.eq(m)) { n += 1; qe = next() }
    assert(qe != null, "listener bus did not drain")
    n
  }

  /** The SQL executions `f` runs. */
  def of(f: => Unit): Int = {
    spark.listenerManager.register(this)
    try {
      until(marker())
      f
      until(marker())
    } finally spark.listenerManager.unregister(this)
  }
}
