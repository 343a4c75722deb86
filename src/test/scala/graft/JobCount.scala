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
