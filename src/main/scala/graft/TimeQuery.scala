package graft

/** Dev tool: time named SparkEntry queries N times each under the same
  * session/caching conditions the bench uses (warmup action, StageCache
  * active for the streaming inputs and the curation funnel's stages).
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
    // a held scratch dir, as in the bench: it goes with the scratch
    // root at JVM exit, after a crashed run too
    sys.props(graft.streaming.StageCache.Prop) =
      Scratch.held("graft_timeq_streams").toString
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
