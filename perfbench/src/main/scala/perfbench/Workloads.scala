package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.functions.Embedder
import graft.operators.{Dedup, DocPipeline, Similarity, Sync}
import graft.sources.ChunkStore

/** What one run reports: attempts, failures, output-check verdict, the
  * end-to-end metrics and, in a traced run, the per-layer metrics. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val stamp = mutable.LinkedHashMap.empty[String, String]
  /** Wall seconds of each successful timed operation. */
  var opTimes: Seq[Double] = Nil
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
}

/** `warm` marks the untimed warm-up pass: one set-up and one call of the
  * timed operation, at full size, so that it warms exactly the code the
  * measured passes run. */
/** Wall and JVM CPU seconds of one timed call. */
final case class Cost(wall: Double, cpu: Double)

final case class Settings(spark: SparkSession, seed: Long, seconds: Int,
    work: File, trace: Option[Trace], warm: Boolean = false)

/** The workloads. A run first passes through its workload once, untimed
  * and unchecked, to warm the JVM up. Then it sets up (timed as `setup_s`,
  * repeated [[Workloads.SetupReps]] times, median reported), runs its
  * timed operation in a closed loop for the run's seconds, and checks
  * outputs untimed. Every timed call produces its full result: counters,
  * pages and rows are collected, and syncs write the store. */
object Workloads {

  val SetupReps = 3
  val MinOps = 3
  /** keepBest's first call after set-up rewrote the corpus pays one-off
    * costs (the doc count is cached per table fingerprint), so dedup needs
    * enough calls that the median never lands on it. */
  val DedupMinOps = 5
  /** Hard stop for the timed loop, whatever its minimum sample count. */
  val MaxLoopSeconds = 100.0

  /** Corpus sizes: small enough that every run fits the benchmark's time
    * budget; the dedup corpus stays above `Dedup.SimhashAutoMaxDocs` so
    * keepBest takes the wide (scale) kernel. */
  val IngestDocs = 2000
  val RetrievalDocs = 2500
  val DedupDocs = 9000
  /** Successful queries a run needs at least, so that p80 has ten
    * samples beyond it. */
  val MinQueries = 50
  val ProbeShare = 0.7
  /** Quality floors, far below the values measured on these corpora
    * (about 0.9 and 0.35): they fail a run on a collapse, not a drift. */
  val MinIvfRecall = 0.5
  val MinPlantedRecall = 0.15

  val names = Seq("incremental_resync", "retrieval_mix", "dedup_curate")

  def run(name: String, st: Settings, out: Outcome): Unit = name match {
    case "incremental_resync" => incrementalResync(st, out)
    case "retrieval_mix" => retrievalMix(st, out)
    case "dedup_curate" => dedupCurate(st, out)
  }

  // ── shared helpers ───────────────────────────────────────────────────

  def progress(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  private def secondsOf[T](f: => T): (T, Double) = {
    val (r, c) = costOf(f)
    (r, c.wall)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall seconds and this JVM's CPU seconds (all threads, JIT and GC
    * included) spent in `f`. */
  private def costOf[T](f: => T): (T, Cost) = {
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    val r = f
    (r, Cost((System.nanoTime() - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }

  private def medianOf(cs: Seq[Cost]): Cost =
    Cost(Stats.median(cs.map(_.wall)), Stats.median(cs.map(_.cpu)))

  private def span[T](st: Settings, name: String)(f: => T): T =
    st.trace.fold(f)(_.span(name)(f))

  /** Run `setup` [[SetupReps]] times; report the median as `setup_s` and
    * keep the last result. */
  private def timedSetup[T](st: Settings, out: Outcome)(setup: Int => T): T = {
    var last: Option[T] = None
    val reps = if (st.warm) 1 else SetupReps
    val times = (0 until reps).map { rep =>
      val (r, t) = secondsOf(span(st, "setup")(setup(rep)))
      last = Some(r); t
    }
    out.e2e("setup_s") = (Stats.median(times), "s")
    progress(f"${if (st.warm) "warm-up " else ""}setup x$reps: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    last.get
  }

  /** Closed loop: call `op` until the run's seconds are spent and at
    * least `minOk` calls succeeded (bounded by [[MaxLoopSeconds]]). `op`
    * returns the cost of its timed part; its untimed preparation and
    * clean-up stay outside that. A call that throws is counted as failed
    * and never timed as a success. */
  private def loop(st: Settings, out: Outcome, minOk: Int)(op: Int => Cost)
      : Seq[Cost] = {
    val costs = mutable.ArrayBuffer.empty[Cost]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    val (seconds, atLeast) = if (st.warm) (0, 1) else (st.seconds, minOk)
    span(st, "measure") {
      while ((elapsed < seconds || costs.size < atLeast) && elapsed < MaxLoopSeconds) {
        out.attempted += 1
        try costs += op(i)
        catch { case e: Exception => out.failed += 1; failure(out, e) }
        i += 1
      }
    }
    progress(f"${if (st.warm) "warm-up " else ""}measured ${costs.size} ok + ${out.failed} failed ops in $elapsed%.1f s" +
      (if (costs.size <= 10) costs.map(c => f"${c.wall}%.2f/${c.cpu}%.2f").mkString(": ", " ", " s wall/cpu") else ""))
    out.stamp("timed_ops") = costs.size.toString
    out.opTimes = costs.map(_.wall).toSeq
    reportOp(out, medianOf(costs.toSeq))
    costs.toSeq
  }

  /** The per-call metrics: wall (end-to-end) and JVM CPU (per-layer). */
  private def reportOp(out: Outcome, c: Cost): Unit = {
    out.e2e("op_ms_p50") = (c.wall * 1e3, "ms")
    out.layers("cpu.op_ms_p50") = (c.cpu * 1e3, "ms")
  }

  /** Docs per second of a whole-corpus pass: per wall second (end-to-end)
    * and per JVM CPU second (per-layer). */
  private def reportDocs(out: Outcome, n: Int, c: Cost): Unit = {
    out.e2e("docs_per_s") = (n / c.wall, "docs/s")
    out.layers("cpu.docs_per_s") = (n / c.cpu, "docs/s")
  }

  /** Counts a failure in the result file's stamp, by error class. */
  private def failure(out: Outcome, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    val key = "error." + "\\[([A-Z_]+)\\]".r.findFirstMatchIn(msg)
      .map(_.group(1)).getOrElse(e.getClass.getSimpleName)
    out.stamp(key) = (out.stamp.get(key).map(_.toInt).getOrElse(0) + 1).toString
  }

  private def writeCorpus(st: Settings, ds: Seq[Doc], path: File): DataFrame = {
    import st.spark.implicits._
    ds.map(d => (d.url, d.text)).toDF("url", "text")
      .write.mode("overwrite").parquet(path.getPath)
    st.spark.read.parquet(path.getPath)
  }

  def del(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(del))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  private def versionsOn(root: File): Int =
    Option(root.listFiles()).map(_.count(d => d.isDirectory && d.getName.matches("v\\d+")))
      .getOrElse(0)

  /** One syncRun, its counters collected (the full result). */
  private def syncOnce(st: Settings, incoming: DataFrame, root: File,
      runId: Long): Row =
    span(st, "sync.run") {
      Sync.syncRun(st.spark, incoming, new File(root, "store").getPath,
        new File(root, "state").getPath, runId).collect().head
    }

  private def storeKeys(st: Settings, root: File): Set[(String, Int, String)] = {
    import st.spark.implicits._
    ChunkStore.readLatest(st.spark, new File(root, "store").getPath).get
      .select("url", "chunk_index", "chunk_id").as[(String, Int, String)]
      .collect().toSet
  }

  private def expectedKeys(ds: Seq[Doc]): Set[(String, Int, String)] =
    ds.flatMap(d => Corpus.chunks(d).map { case (i, id, _) => (d.url, i, id) }).toSet

  private def counter(r: Row, f: String): Long = r.getAs[Long](f)

  /** Driver-side embed cost on up to 2,000 sampled chunks (median of
    * five passes), in µs per chunk. */
  private def embedMicros(ds: Seq[Doc]): Double = {
    val sample = ds.iterator.flatMap(d => Corpus.chunks(d).map(_._3)).take(2000).toIndexedSeq
    Stats.median((1 to 5).map { _ =>
      val (_, t) = secondsOf(sample.foreach(Embedder.embed))
      t * 1e6 / sample.size
    })
  }

  private def zeroNorms(ds: Seq[Doc]): Int =
    ds.iterator.flatMap(d => Corpus.chunks(d)).count { case (_, _, c) =>
      Embedder.embed(c).forall(_ == 0f)
    }

  /** Embedder metrics over the workload's corpus, in traced runs. */
  private def chunkLayers(st: Settings, out: Outcome, ds: Seq[Doc]): Unit =
    if (st.trace.isDefined) {
      out.layers("embed.us_per_chunk") = (embedMicros(ds), "us")
      out.layers("embed.zero_norm_vectors") = (zeroNorms(ds).toDouble, "count")
    }

  // ── incremental_resync ───────────────────────────────────────────────

  /** Set-up is the full ingest: the corpus synced into an empty store
    * (its sync time gives `docs_per_s`). The timed loop then syncs one
    * seeded mutation per call. */
  private def incrementalResync(st: Settings, out: Outcome): Unit = {
    val n = IngestDocs
    val base = new File(st.work, "resync")
    out.stamp("timed_action") = "Sync.syncRun writes a store version; counters collect()ed"
    val ingestCosts = mutable.ArrayBuffer.empty[Cost]
    val (corpus0, root, ingest) = timedSetup(st, out) { rep =>
      val ds = Corpus.generate(st.seed, n)
      val root = new File(base, s"setup$rep")
      del(root)
      val incoming = writeCorpus(st, ds, new File(root, "corpus0"))
      val (r, c) = costOf(span(st, "ingest")(syncOnce(st, incoming, root, 0)))
      ingestCosts += c
      (ds, root, r)
    }
    val chunkRows = corpus0.map(d => Corpus.chunks(d).size.toLong).sum
    out.check(counter(ingest, "items_new") == n && counter(ingest, "items_updated") == 0 &&
      counter(ingest, "items_deleted") == 0 && counter(ingest, "chunks_embedded") == chunkRows,
      s"ingest counters $ingest, expected $n new docs and $chunkRows embedded chunks")
    out.check(storeKeys(st, root) == expectedKeys(corpus0),
      "ingested store differs from the chunking of the corpus")
    reportDocs(out, n, medianOf(ingestCosts.toSeq))
    out.stamp("corpus_docs") = n.toString
    out.stamp("corpus_text_bytes") = Corpus.textBytes(corpus0).toString
    var cur = corpus0
    var storeBytesAfterTwo = 0L
    var bytesBase = 1L
    val written = mutable.ArrayBuffer.empty[Double]
    val changedBytes = mutable.ArrayBuffer.empty[Double]
    var processedRows, embeddedRows = 0L
    val costs = loop(st, out, MinOps) { i =>
      val (next, mut) = Corpus.mutate(st.seed, i + 1, cur)
      val corpusDir = new File(root, s"corpus${i + 1}")
      val incoming = writeCorpus(st, next, corpusDir)
      val before = bytesUnder(new File(root, "store"))
      cur = next
      val (r, t) = costOf(syncOnce(st, incoming, root, i + 1L))
      val after = bytesUnder(new File(root, "store"))
      del(new File(root, s"corpus$i"))
      out.check(counter(r, "items_new") == mut.added.size &&
        counter(r, "items_updated") == mut.edited.size &&
        counter(r, "items_deleted") == mut.deleted.size &&
        !r.getAs[Boolean]("force_full_sync"),
        s"resync ${i + 1} counters $r, planted new=${mut.added.size} " +
          s"updated=${mut.edited.size} deleted=${mut.deleted.size}")
      written += (after - before).toDouble
      changedBytes += Corpus.textBytes(mut.edited ++ mut.added).toDouble
      processedRows += (mut.edited ++ mut.added).map(d => Corpus.chunks(d).size).sum
      embeddedRows += counter(r, "chunks_embedded")
      if (i == 1) { storeBytesAfterTwo = after; bytesBase = Corpus.textBytes(next) }
      t
    }
    if (st.warm) return
    // the final store must equal a from-scratch sync of the final corpus
    val fresh = new File(base, "fresh")
    syncOnce(st, writeCorpus(st, cur, new File(fresh, "corpus")), fresh, 0)
    out.check(storeKeys(st, root) == storeKeys(st, fresh),
      "resynced store differs from a from-scratch sync of the final corpus")
    val ops = costs.size.toDouble
    out.layers("store.bytes_per_input_byte") = (storeBytesAfterTwo.toDouble / bytesBase, "ratio")
    out.layers("sync.chunks_in") =
      (cur.map(d => Corpus.chunks(d).size.toLong).sum.toDouble, "count")
    out.layers("sync.chunks_embedded") = (embeddedRows / ops, "count")
    out.layers("sync.embed_reuse_ratio") =
      (1.0 - embeddedRows.toDouble / math.max(1L, processedRows), "ratio")
    out.layers("store.bytes_written") = (Stats.median(written.toSeq), "bytes")
    out.layers("store.write_amplification") =
      (written.sum / math.max(1.0, changedBytes.sum), "ratio")
    out.layers("store.versions_on_disk") = (versionsOn(new File(root, "store")).toDouble, "count")
    chunkLayers(st, out, cur)
  }

  // ── retrieval_mix ────────────────────────────────────────────────────

  private def retrievalMix(st: Settings, out: Outcome): Unit = {
    import st.spark.implicits._
    val n = RetrievalDocs
    val base = new File(st.work, "retrieval")
    out.stamp("timed_action") =
      "probeIvf(k=10).collect() / getChunksFromStore(readLatest).collect()"
    val buildTimes = mutable.ArrayBuffer.empty[Double]
    val ingestCosts = mutable.ArrayBuffer.empty[Cost]
    val (corpus, root, index, rows) = timedSetup(st, out) { rep =>
      val ds = Corpus.generate(st.seed, n)
      val root = new File(base, s"setup$rep")
      del(root)
      val incoming = writeCorpus(st, ds, new File(root, "corpus"))
      ingestCosts += costOf(span(st, "ingest")(syncOnce(st, incoming, root, 0)))._2
      // the IVF index is built over the store's chunk embeddings, one
      // vec_id per chunk in (url, chunk_index) order
      val stored = ChunkStore.readLatest(st.spark, new File(root, "store").getPath).get
        .select("url", "chunk_index", "chunk_id", "content", "embedding")
        .as[(String, Int, String, String, Array[Float])].collect()
        .sortBy(r => (r._1, r._2))
      val embDir = new File(root, "vectors")
      stored.zipWithIndex.map { case (r, i) => (i.toLong, 0, r._5) }.toSeq
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(new File(embDir, "embeddings.parquet").getPath)
      val index = new File(root, "ivf").getPath
      buildTimes += secondsOf(span(st, "ivf.build") {
        Similarity.buildIvfIndex(st.spark, embDir.getPath, index)
      })._2
      (ds, root, index, stored)
    }
    val textBytes = Corpus.textBytes(corpus)
    out.stamp("corpus_docs") = n.toString
    out.stamp("corpus_text_bytes") = textBytes.toString
    reportDocs(out, n, medianOf(ingestCosts.toSeq))
    val storePath = new File(root, "store").getPath
    out.layers("store.bytes_per_input_byte") =
      (bytesUnder(new File(storePath)).toDouble / textBytes, "ratio")
    val byUrl = rows.groupBy(_._1)
    val urls = byUrl.keys.toIndexedSeq.sorted
    val g = new Corpus.Gen(st.seed ^ 0x5eed5eedL)
    val probes = mutable.ArrayBuffer.empty[(Array[Float], Seq[Long])]
    val pages = mutable.ArrayBuffer.empty[(String, Int, Seq[(Int, String, String)])]
    val probeCosts, pageCosts = mutable.ArrayBuffer.empty[Cost]
    val costs = loop(st, out, MinQueries) { _ =>
      if (g.rng.nextDouble() < ProbeShare) {
        val text = excerpt(g, corpus)
        val (ids, t) = costOf(span(st, "ivf.probe") {
          val q = Embedder.embed(text)
          (q, Similarity.probeIvf(st.spark, index, q, k = 10).collect().map(_.getLong(0)).toSeq)
        })
        probes += ids; probeCosts += t
        t
      } else {
        val url = urls(g.rng.nextInt(urls.size))
        val from = g.rng.nextInt(byUrl(url).size)
        val (page, t) = costOf(span(st, "page.lookup") {
          val store = span(st, "store.read")(ChunkStore.readLatest(st.spark, storePath).get)
          DocPipeline.getChunksFromStore(store, url, Some((from, from + 2))).select("chunk_index", "chunk_id", "content")
            .as[(Int, String, String)].collect().toSeq
        })
        pages += ((url, from, page)); pageCosts += t
        t
      }
    }
    if (st.warm) return
    // checks: every page equals that url's store rows in the range; a
    // probe returns 10 distinct stored vectors
    pages.foreach { case (url, from, page) =>
      val want = byUrl(url).filter(r => r._2 >= from && r._2 <= from + 2)
        .sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq
      out.check(page == want, s"page $url[$from..${from + 2}] differs from the store")
    }
    val vecs = rows.map(_._5)
    probes.foreach { case (_, ids) =>
      out.check(ids.size == 10 && ids.distinct.size == 10 && ids.forall(i => i >= 0 && i < vecs.length),
        s"probe returned ids $ids")
    }
    val nonFailures = out.stamp.keys.filter(k => k.startsWith("error.") && k != "error.DIVIDE_BY_ZERO")
    out.check(nonFailures.isEmpty, s"unexpected failures: ${nonFailures.mkString(",")}")
    out.check(pageCosts.nonEmpty && probeCosts.nonEmpty, "both query kinds must succeed at least once")
    // the mix's median latency: each call kind weighted by its planned
    // share, so that the share of probes lost to failures (a property of
    // the seed's index layout) does not move it
    val (probe, page) = (medianOf(probeCosts.toSeq), medianOf(pageCosts.toSeq))
    reportOp(out, Cost(ProbeShare * probe.wall + (1 - ProbeShare) * page.wall,
      ProbeShare * probe.cpu + (1 - ProbeShare) * page.cpu))
    val recall = recallAt10(vecs, probes.toSeq)
    out.check(recall >= MinIvfRecall, f"ivf recall@10 $recall%.3f below $MinIvfRecall")
    out.layers("query.ms_p80") = (Stats.percentile(costs.map(_.wall * 1e3), 80), "ms")
    out.layers("ivf.recall_at_10") = (recall, "ratio")
    out.layers("ivf.build_s") = (Stats.median(buildTimes.toSeq), "s")
    out.layers("ivf.probe_ms_p50") = (probe.wall * 1e3, "ms")
    out.layers("page.lookup_ms_p50") = (page.wall * 1e3, "ms")
    out.layers("store.versions_on_disk") = (versionsOn(new File(storePath)).toDouble, "count")
    chunkLayers(st, out, corpus)
  }

  /** A query text: 6 to 20 consecutive words of a random doc. */
  private def excerpt(g: Corpus.Gen, ds: IndexedSeq[Doc]): String = {
    val w = ds(g.rng.nextInt(ds.size)).text.split(' ')
    val k = math.min(w.length, 6 + g.rng.nextInt(15))
    val from = g.rng.nextInt(w.length - k + 1)
    w.slice(from, from + k).mkString(" ")
  }

  /** Mean overlap of each probe's ids with the exact cosine top-10 over
    * every stored vector, computed on the driver (zero vectors have no
    * direction and are left out). */
  private def recallAt10(vecs: Array[Array[Float]],
      probes: Seq[(Array[Float], Seq[Long])]): Double = {
    val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    val hits = probes.map { case (q, ids) =>
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      val exact = vecs.indices.filter(norms(_) > 0).map { i =>
        var d = 0.0; var k = 0
        while (k < q.length) { d += q(k).toDouble * vecs(i)(k); k += 1 }
        (d / (qn * norms(i)), i.toLong)
      }.sortBy { case (c, i) => (-c, i) }.take(10).map(_._2).toSet
      ids.count(exact).toDouble / 10
    }
    if (hits.isEmpty) 0.0 else hits.sum / hits.size
  }

  // ── dedup_curate ─────────────────────────────────────────────────────

  private def dedupCurate(st: Settings, out: Outcome): Unit = {
    import st.spark.implicits._
    val n = DedupDocs
    val dir = new File(st.work, "dedup")
    out.stamp("timed_action") = "Dedup.keepBest(dir).collect()"
    val corpus = timedSetup(st, out) { _ =>
      val c = Corpus.dedupCorpus(st.seed, n)
      c.docs.map(d => (d.id, d.text, "en", "synthetic", d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
      c
    }
    out.stamp("corpus_docs") = n.toString
    out.stamp("corpus_text_bytes") = Corpus.textBytes(corpus.docs).toString
    out.stamp("planted_copies") = corpus.planted.size.toString
    var last: Seq[(Long, Long, Long, Long)] = Nil
    val costs = loop(st, out, DedupMinOps) { _ =>
      val (r, t) = costOf(span(st, "dedup.keep_best") {
        Dedup.keepBest(st.spark, dir.getPath)
          .select("cluster_id", "n_members", "keeper_id", "keeper_chars")
          .as[(Long, Long, Long, Long)].collect().toSeq
      })
      last = r
      t
    }
    if (st.warm) return
    // checks: membership from the cluster layer under keepBest
    val member = Dedup.simhashClusters(st.spark, dir.getPath)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val len = corpus.docs.map(d => d.id -> d.text.length.toLong).toMap
    out.check(last.map(_._2).sum == n, s"sum of n_members ${last.map(_._2).sum} != $n docs")
    val clusters = member.groupBy(_._2).map { case (c, ms) => c -> ms.keys.toSeq }
    last.foreach { case (c, size, keeper, chars) =>
      val ms = clusters.getOrElse(c, Nil)
      val best = ms.sortBy(id => (-len(id), id)).headOption
      out.check(ms.size == size && best.contains(keeper) && len(keeper) == chars,
        s"cluster $c: keeper $keeper is not its longest member ${best.getOrElse(-1)}")
    }
    val recall = corpus.planted.count { case (c, o) => member.get(c) == member.get(o) }
      .toDouble / corpus.planted.size
    out.check(recall >= MinPlantedRecall, f"planted recall $recall%.3f below $MinPlantedRecall")
    reportDocs(out, n, medianOf(costs))
    out.layers("dedup.planted_recall") = (recall, "ratio")
    chunkLayers(st, out, corpus.docs)
  }
}
