package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Base of every suite that needs Spark: one lazy session per suite
  * from [[GraftSession.local]], stopped in `afterAll`, so the tests run
  * the SQL and filesystem configuration the entry points run. `conf`
  * adds suite-specific settings, such as a warehouse dir. */
abstract class SparkSuite(cpus: Int = 4, conf: Seq[(String, String)] = Nil)
    extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(cpus, conf: _*)

  override def afterAll(): Unit = spark.stop()
}
