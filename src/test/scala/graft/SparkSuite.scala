package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Base of every suite that needs Spark: one lazy session per suite
  * from [[GraftSession.local]], stopped in `afterAll`, so the tests run
  * the SQL and filesystem configuration the entry points run. `conf`
  * adds suite-specific settings, such as a warehouse dir. Directories
  * from [[tempDir]] are [[Scratch]] dirs, deleted in `afterAll`, after
  * the session stops. */
abstract class SparkSuite(cpus: Int = 4, conf: Seq[(String, String)] = Nil)
    extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(cpus, conf: _*)

  private val tempDirs =
    scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  /** A fresh temp directory, deleted when the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = Scratch.held(prefix)
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try spark.stop()
    finally tempDirs.foreach(Scratch.delete)
}
