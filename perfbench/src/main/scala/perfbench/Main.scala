package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result line to `--result`:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --result <file> [--commit <sha>]
  * }}}
  *
  * With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the per-layer ones, and the span file and the overhead against the
  * untraced run of the same workload and seed (when one is on disk) go
  * to the stamped result file under `<work>/results`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val nproc = Runtime.getRuntime.availableProcessors
    require(cores >= 1 && cores <= nproc, s"--cores $cores exceeds nproc $nproc")
    val work = new File(a("work")).getAbsoluteFile
    val runDir = new File(work, s"$workload-$seed-${ProcessHandle.current.pid}")
    val results = new File(work, "results")
    results.mkdirs()

    val stealAtStart = stealSeconds
    val spark = session(cores, new File(runDir, "spark-local"))
    Workloads.progress("session up")
    val out = new Outcome
    try {
      val settings = Settings(spark, seed, seconds, runDir, None)
      // untimed warm-up pass; its outcome is discarded
      Workloads.run(workload, settings.copy(warm = true, work = new File(runDir, "warm")),
        new Outcome)
      Workloads.del(new File(runDir, "warm"))
      val trace = if (traced) Some(new Trace(spark)) else None
      Workloads.run(workload, settings.copy(trace = trace), out)
      out.layers("ops.failed_ratio") = (out.failed.toDouble / out.attempted, "ratio")
      out.layers("jvm.peak_rss_mb") = (peakRssMb, "MB")
      trace.foreach(t => sparkLayers(t, out, results, workload, seed))
    } finally {
      spark.stop()
      Workloads.del(runDir)
    }

    out.stamp ++= Seq("workload" -> workload, "seed" -> seed.toString,
      "cores" -> cores.toString, "nproc" -> nproc.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "commit" -> a.getOrElse("commit", "unknown"),
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "host_steal_s" -> f"${stealSeconds - stealAtStart}%.2f")
    Workloads.progress("done")
    out.problems.foreach(p => System.err.println(s"check failed: $p"))
    val metrics = if (traced) out.layers else out.e2e
    val line = Json.obj(Seq(
      "correct" -> out.problems.isEmpty.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val overhead = if (!traced) Nil else traceOverhead(results, workload, seed, out)
    val stamped = Json.obj(Seq(
      "stamp" -> Json.obj(out.stamp.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "problems" -> out.problems.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(out.e2e.toSeq.map { case (k, (v, _)) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(out.layers.toSeq.map { case (k, (v, _)) => k -> Json.num(v) }),
      "trace_overhead" -> Json.obj(overhead)) ++ Seq("result" -> line))
    Files.write(new File(results, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json").toPath,
      stamped.getBytes(UTF_8))
    Files.write(new File(a("result")).toPath, line.getBytes(UTF_8))
  }

  def session(cores: Int, localDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getPath)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LocalFsTuning.disableLocalCrc(s)
    s
  }

  /** CPU time the hypervisor gave to others while this machine's vCPUs
    * wanted it (the `steal` column of `/proc/stat`), summed over all
    * vCPUs: the main source of run-to-run noise on a shared host. */
  def stealSeconds: Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+")(8).toDouble / 100 finally f.close()
  }.getOrElse(0.0)

  /** `VmHWM` (peak resident set) of this JVM, in MB. */
  def peakRssMb: Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    val line = try f.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally f.close()
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Per-layer metrics from the trace: layer times and counts over the
    * measured loop, per timed operation. */
  private def sparkLayers(t: Trace, out: Outcome, results: File,
      workload: String, seed: Long): Unit = {
    t.finish()
    val all = t.allSpans
    val measure = all.find(s => s.kind == "bench" && s.name == "measure").get
    def within(w: Span)(s: Span) = s.startUs >= w.startUs && s.endUs <= w.endUs
    val inMeasure = within(measure) _
    val execs = all.filter(s => s.kind == "exec" && inMeasure(s))
    val ops = math.max(1, out.stamp("timed_ops").toInt).toDouble
    def layer(n: String) = execs.filter(_.name == n)
    def execSecs(n: String) =
      Trace.union(layer(n).map(s => (s.startUs, s.endUs))) / 1e6 / ops
    // a layer's time is the union of its spans: Spark executions named
    // after it and benchmark spans around direct calls into it
    def secs(n: String) = Trace.union(all.filter(s => s.name == n && inMeasure(s) &&
      s.kind != "job").map(s => (s.startUs, s.endUs))) / 1e6 / ops
    // the full ingest of the last (warm) set-up repetition, where there is one
    val ingest = all.filter(s => s.kind == "bench" && s.name == "ingest").sortBy(_.startUs).lastOption
    def ingestSecs(n: String) = ingest.fold(0.0)(w =>
      all.filter(s => s.kind == "exec" && s.name == n && within(w)(s)).map(_.durUs).sum / 1e6)
    def count(n: String, k: String) = layer(n).map(_.counts.getOrElse(k, 0.0)).sum
    def rows(n: String, prefix: String) = layer(n).map(_.counts.collect {
      case (k, v) if k.startsWith(s"rows.$prefix") => v }.sum).sum
    val benchCount = (n: String) => all.count(s => s.kind == "bench" && s.name == n && inMeasure(s))
    val probes = math.max(1, benchCount("ivf.probe")).toDouble
    val pages = math.max(1, benchCount("page.lookup")).toDouble
    val candidates = rows("dedup.pairs", "SortMergeJoin") + rows("dedup.pairs", "BroadcastHashJoin")
    val pairExecs = layer("dedup.pairs").filter(_.counts.getOrElse("root_rows", 0.0) > 0)
      .filter(e => e.counts.keys.exists(_.contains("Join")))
    val outPairs = pairExecs.map(_.counts("root_rows")).sum
    val ids = (n: String) => layer(n).map(_.id - 1000000L).toSet
    val spark = t.sparkTotals(measure.startUs, measure.endUs)
    val l = out.layers
    def put(k: String, v: Double, unit: String) = if (!l.contains(k)) l(k) = (v, unit)
    put("ingest.sync_s", ingest.fold(0.0)(_.durUs / 1e6), "s")
    put("ingest.chunk_s", ingestSecs("sync.chunk"), "s")
    put("ingest.embed_s", ingestSecs("sync.embed"), "s")
    put("ingest.store_write_s", ingestSecs("store.write"), "s")
    put("sync.chunk_s", secs("sync.chunk"), "s")
    put("sync.chunks_in", 0, "count")
    put("sync.diff_s", secs("sync.diff"), "s")
    put("sync.diff_shuffle_bytes", t.shuffleWriteOf(ids("sync.diff")) / ops, "bytes")
    put("sync.embed_s", secs("sync.embed"), "s")
    put("sync.chunks_embedded", 0, "count")
    put("sync.embed_reuse_ratio", 0, "ratio")
    put("store.write_s", secs("store.write"), "s")
    put("store.bytes_written", 0, "bytes")
    put("store.write_amplification", 0, "ratio")
    put("store.read_s", secs("store.read"), "s")
    put("store.versions_on_disk", 0, "count")
    put("store.bytes_per_input_byte", 0, "ratio")
    put("ivf.build_s", 0, "s")
    put("ivf.probe_ms_p50", 0, "ms")
    put("ivf.files_scanned_per_query", count("ivf.probe", "files") / probes, "count")
    put("ivf.candidates_per_query", rows("ivf.probe", "Scan") / probes, "count")
    put("ivf.recall_at_10", 0, "ratio")
    put("query.ms_p80", 0, "ms")
    put("page.lookup_ms_p50", 0, "ms")
    put("page.rows_scanned_per_query", rows("page.lookup", "Scan") / pages, "count")
    put("dedup.signature_s", secs("dedup.signature"), "s")
    put("dedup.pairs_s", secs("dedup.pairs"), "s")
    put("dedup.candidate_pairs", candidates / ops, "count")
    put("dedup.pair_precision", if (candidates > 0) outPairs / candidates else 0, "ratio")
    put("dedup.cluster_s", secs("dedup.cluster"), "s")
    put("dedup.cluster_jobs", t.jobCountOf(ids("dedup.cluster")) / ops, "count")
    // keepBest's last step (keeper window and join) runs in the
    // benchmark's own collect()
    put("dedup.keeper_s", execSecs("dedup.keep_best"), "s")
    put("dedup.planted_recall", 0, "ratio")
    put("spark.jobs", spark("spark.jobs"), "count")
    put("spark.jobs_per_op", spark("spark.jobs") / ops, "count")
    Seq("spark.planning_ms" -> "ms", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.driver_serial_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.failed_tasks" -> "count").foreach { case (k, u) => put(k, spark(k) / ops, u) }
    put("spark.task_skew", spark("spark.task_skew"), "ratio")
    put("embed.us_per_chunk", 0, "us")
    put("embed.zero_norm_vectors", 0, "count")
    put("trace.op_s_p50", Stats.median(out.opTimes), "s")
    t.writeJson(new File(results, s"$workload-seed$seed-spans.jsonl").toPath, all)
  }

  /** Traced minus untraced, as a share of the untraced value, for every
    * end-to-end metric of the untraced result of the same workload and
    * seed found on disk. */
  private def traceOverhead(results: File, workload: String, seed: Long,
      out: Outcome): Seq[(String, String)] = {
    val f = new File(results, s"$workload-seed$seed-trace0.json")
    if (!f.exists) return Nil
    val text = new String(Files.readAllBytes(f.toPath), UTF_8)
    out.e2e.toSeq.flatMap { case (k, (v, _)) =>
      s""""${java.util.regex.Pattern.quote(k)}":(-?[0-9.eE+-]+)""".r
        .findFirstMatchIn(text.substring(text.indexOf("\"end_to_end\"")))
        .map(_.group(1).toDouble).filter(_ != 0).map { base =>
          System.err.println(f"trace overhead $k: traced $v%.4f vs untraced $base%.4f")
          k -> Json.num((v - base) / base)
        }
    }
  }
}
