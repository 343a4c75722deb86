package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}

/** Pins every setting [[GraftSession.local]] applies: removing one from
  * the factory fails a case here. The odd core count keeps the
  * shuffle-partition check from passing on a coincidental default. */
class GraftSessionSpec extends SparkSuite(cpus = 3) {

  // build.sbt hands the test JVM -Dspark.sql.session.timeZone=UTC, which
  // SparkConf would pick up on its own; a non-UTC value while the
  // session is built leaves the factory as the only source of UTC
  override def beforeAll(): Unit = {
    val key = "spark.sql.session.timeZone"
    val prior = sys.props.get(key)
    sys.props(key) = "America/Los_Angeles"
    try spark.sparkContext
    finally prior match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  test("local[cpus] with one shuffle partition per core") {
    assert(spark.sparkContext.master == "local[3]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
  }

  test("UTC session time zone and nanos-as-long parquet timestamps") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("the file:// AbstractFileSystem is RawLocalFs") {
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.AbstractFileSystem.file.impl") ==
      "org.apache.hadoop.fs.local.RawLocalFs")
  }

  test("AQE and its skew-join split are on without being pinned") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("a local FileSystem write leaves no .crc sidecar") {
    val dir = Files.createTempDirectory("graftsession")
    try {
      val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new Path(dir.resolve("part").toUri))
      try out.write("x".getBytes("UTF-8")) finally out.close()
      assert(Files.exists(dir.resolve("part")))
      assert(dir.toFile.list().toSeq == Seq("part"))
    } finally graft.operators.Sync.deleteTree(dir.toFile)
  }

  test("a second call returns the active session") {
    assert(GraftSession.local(3) eq spark)
  }
}

/** `spark.sql.extensions=graft.GraftExtensions` alone is enough for SQL
  * to resolve `dot_f`: the session never calls `VectorExprs.register`. */
class GraftExtensionsSpec extends SparkSuite(cpus = 2,
    conf = Seq("spark.sql.extensions" -> classOf[GraftExtensions].getName)) {

  test("dot_f resolves in SQL through the extension") {
    val d = spark.sql("SELECT dot_f(CAST(array(1, 2) AS array<float>), " +
      "CAST(array(3, 4) AS array<float>)) AS d").head().getDouble(0)
    assert(d == 11.0)
  }
}
