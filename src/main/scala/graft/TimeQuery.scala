package graft

/** Dev tool: time named SparkEntry queries N times each under the same
  * session/caching conditions the bench uses (warmup action, streaming
  * StageCache active, curation cache staged when the row needs it).
  * Exists for regression adjudication — the round-14 verdict flagged
  * `stream_join_parity` drifting 5.9→10.6 s across three one-rep
  * readings, undecidable without a repeated-measures run; the full
  * bench can't re-rep one row in isolation.
  *
  * Usage: runMain graft.TimeQuery <queryName>[,<queryName>...] [nReps=6]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val n = if (args.length > 1) args(1).toInt else 6
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.defaultCpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()
    // shutdown hook (matching the bench's pattern) so a crashed run
    // cleans up too, and the props don't leak into a later session in
    // the same JVM (r15 ADVICE: curation_* invocations leaked the
    // curation temp dir and left both props set)
    val cacheRoot = java.nio.file.Files
      .createTempDirectory("graft_timeq_streams")
    sys.props(graft.streaming.StageCache.Prop) = cacheRoot.toString
    val curationCache: Option[java.nio.file.Path] =
      if (names.exists(_.startsWith("curation_"))) {
        val c = java.nio.file.Files.createTempDirectory("graft_timeq_cache")
        graft.operators.Curation.stageFunnelInputs(spark, sfDir, c.toString)
        sys.props(graft.operators.Curation.CacheProp) = c.toString
        Some(c)
      } else None
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      graft.operators.Sync.deleteTree(cacheRoot.toFile)
      curationCache.foreach(c => graft.operators.Sync.deleteTree(c.toFile))
      sys.props.remove(graft.streaming.StageCache.Prop)
      sys.props.remove(graft.operators.Curation.CacheProp)
    }))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (0 until n + 1).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val tag = if (i == 0) "warmup" else s"rep$i"
        println(f"[timequery] $name $tag%-7s ${dt}%8.3f s")
        dt
      }.drop(1)
      println(f"[timequery] $name median ${Bench.median(times)}%.3f min ${times.min}%.3f max ${times.max}%.3f")
    }
    spark.stop()
  }
}
