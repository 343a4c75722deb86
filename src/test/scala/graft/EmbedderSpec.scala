package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Embedder

class EmbedderSpec extends AnyFunSuite {

  test("deterministic: same text same vector") {
    val a = Embedder.embed("the quick brown fox")
    val b = Embedder.embed("the quick brown fox")
    assert(a.sameElements(b))
  }

  test("unit norm for non-empty text") {
    val v = Embedder.embed("some words here for a vector")
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-6)
  }

  test("empty text embeds to the zero vector") {
    assert(Embedder.embed("").forall(_ == 0f))
    assert(Embedder.embed("   ").forall(_ == 0f))
  }

  test("dimension is fixed") {
    assert(Embedder.embed("x").length == Embedder.Dim)
  }

  test("accumulator counts token multiplicity") {
    val once = Embedder.accumulate("hello")
    val twice = Embedder.accumulate("hello hello")
    assert(twice.map(math.abs).sum == 2 * once.map(math.abs).sum)
  }

  test("truncation cap applies before hashing (reference 32764-char net)") {
    val word = "tok "
    val longText = word * 20000 // 80k chars
    val capped = longText.substring(0, Embedder.MaxChars)
    assert(Embedder.accumulate(longText)
      .sameElements(Embedder.accumulate(capped)))
  }

  test("similar texts are closer than dissimilar ones") {
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val base = Embedder.embed("spark query engine with columnar scans")
    val near = Embedder.embed("spark query engine with columnar scans extra")
    val far = Embedder.embed("completely unrelated words about cooking pasta")
    assert(cos(base, near) > cos(base, far))
  }
}

class ServiceEmbedderSpec extends SparkSuite(cpus = 2) {
  import graft.functions.ServiceEmbedder
  import graft.functions.ServiceEmbedder._

  test("batches embed; poison batch skips with empty vectors; truncation net") {
    import spark.implicits._
    val transport: Transport = texts =>
      if (texts.exists(_.contains("poison"))) Failed("boom")
      else Vectors(texts.map(t =>
        Array(t.length.toFloat, if (t.isEmpty) 0f else t.head.toFloat)))
    val in = Seq(
      (1L, "alpha"), (2L, "beta"),
      (3L, "gamma"), (4L, "poison pill"),
      (5L, "x" * (graft.functions.Embedder.MaxChars + 50))).toDS()
      .repartition(1) // single partition: batch grouping deterministic
    val out = ServiceEmbedder.embedBatched(spark, in, transport,
        batchSize = 2, sleep = _ => ())
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        r.getBoolean(2))).sortBy(_._1)
    assert(out(0) == ((1L, List(5f, 'a'.toFloat), true)))
    // batch (3,4): poison fails the CALL -> whole batch skipped-but-visible
    assert(!out(2)._3 && out(2)._2.isEmpty)
    assert(!out(3)._3 && out(3)._2.isEmpty)
    // truncation net applied before the call
    assert(out(4)._2.head == graft.functions.Embedder.MaxChars.toFloat)
    assert(out(4)._3)
  }

  test("rate-limited batch retries with the server delay (floored at 1s)") {
    import spark.implicits._
    val in = Seq((7L, "eventually fine")).toDS().repartition(1)
    // transport rate-limits on the first call of each JVM-global epoch
    ServiceEmbedderState.calls.set(0)
    ServiceEmbedderState.slept.set(0)
    val transport: Transport = texts =>
      if (ServiceEmbedderState.calls.getAndIncrement() == 0)
        RateLimited(5000L)
      else Vectors(texts.map(t => Array(t.length.toFloat)))
    val out = ServiceEmbedder.embedBatched(spark, in, transport,
        batchSize = 4,
        sleep = ms => { ServiceEmbedderState.slept.addAndGet(ms); () })
      .collect()
    assert(out.length == 1 && out.head.getBoolean(2))
    assert(ServiceEmbedderState.slept.get() == 5000L)
    // retries exhausted -> skip
    ServiceEmbedderState.calls.set(0)
    val alwaysLimited: Transport = _ => RateLimited(10L)
    val skipped = ServiceEmbedder.embedBatched(spark, in, alwaysLimited,
        batchSize = 4, maxRetries = 2,
        sleep = ms => { ServiceEmbedderState.slept.addAndGet(ms); () })
      .collect()
    assert(!skipped.head.getBoolean(2))
    // the 10ms reply floors to the reference's 1s minimum, twice
    assert(ServiceEmbedderState.slept.get() == 5000L + 2000L)
  }

  test("concurrency pipelines calls but emits in submission order") {
    import spark.implicits._
    val in = (1L to 40L).map(i => (i, s"text$i")).toDS().repartition(1)
    ServiceEmbedderState.inFlight.set(0)
    ServiceEmbedderState.maxInFlight.set(0)
    // early batches are SLOW, late batches fast — completion order is
    // the reverse of submission order, so any order leak shows up
    val transport: Transport = texts => {
      val cur = ServiceEmbedderState.inFlight.incrementAndGet()
      ServiceEmbedderState.maxInFlight.updateAndGet(m => math.max(m, cur))
      val id = texts.head.stripPrefix("text").toLong
      Thread.sleep(if (id <= 8) 60L else 1L)
      ServiceEmbedderState.inFlight.decrementAndGet()
      Vectors(texts.map(t => Array(t.length.toFloat,
        t.stripPrefix("text").toFloat)))
    }
    val conc = ServiceEmbedder.embedBatched(spark, in, transport,
        batchSize = 2, concurrency = 4, sleep = _ => ())
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        r.getBoolean(2)))
    // rows come out in exact submission (= input) order...
    assert(conc.map(_._1).toSeq == (1L to 40L),
      s"order leaked: ${conc.map(_._1).toSeq}")
    // ...and are byte-identical to the serial path
    val serial = ServiceEmbedder.embedBatched(spark, in, transport,
        batchSize = 2, concurrency = 1, sleep = _ => ())
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList,
        r.getBoolean(2)))
    assert(conc.toSeq == serial.toSeq)
    // the pipeline actually overlapped calls, bounded by `concurrency`
    assert(ServiceEmbedderState.maxInFlight.get() > 1,
      "no calls ever overlapped — pipeline is serial")
    assert(ServiceEmbedderState.maxInFlight.get() <= 4,
      s"in-flight bound exceeded: ${ServiceEmbedderState.maxInFlight.get()}")
  }

  test("retry/skip contract unchanged under concurrency") {
    import spark.implicits._
    val in = (1L to 6L).map(i => (i, s"t$i")).toDS().repartition(1)
    ServiceEmbedderState.slept.set(0)
    val alwaysLimited: Transport = _ => RateLimited(10L)
    val out = ServiceEmbedder.embedBatched(spark, in, alwaysLimited,
        batchSize = 2, maxRetries = 2, concurrency = 3,
        sleep = ms => { ServiceEmbedderState.slept.addAndGet(ms); () })
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == (1L to 6L))
    assert(out.forall(!_._2), "rate-limit exhaustion must skip, not fail")
    // 3 batches x 2 retries x 1s floor, regardless of pipelining
    assert(ServiceEmbedderState.slept.get() == 6000L)
  }

  test("transportFactory confines each instance to one worker thread") {
    import spark.implicits._
    val in = (1L to 40L).map(i => (i, s"text$i")).toDS().repartition(1)
    ServiceEmbedderState.factoryBuilds.set(0)
    ServiceEmbedderState.crossThreadUse.set(false)
    // a deliberately thread-UNSAFE transport: records its owning thread
    // on first use and flags any call from a different thread
    val factory: () => Transport = () => {
      ServiceEmbedderState.factoryBuilds.incrementAndGet()
      var owner: Thread = null
      texts => {
        if (owner == null) owner = Thread.currentThread()
        else if (owner ne Thread.currentThread())
          ServiceEmbedderState.crossThreadUse.set(true)
        Thread.sleep(2L)
        Vectors(texts.map(t => Array(t.length.toFloat)))
      }
    }
    val out = ServiceEmbedder.embedBatched(spark, in,
        transport = _ => Failed("factory should win"),
        batchSize = 2, concurrency = 4, sleep = _ => (),
        transportFactory = Some(factory))
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(out.map(_._1).toSeq == (1L to 40L))
    assert(out.forall(_._2), "factory transport must be used, not the dummy")
    val builds = ServiceEmbedderState.factoryBuilds.get()
    assert(builds >= 1 && builds <= 4, s"one instance per thread: $builds")
    assert(!ServiceEmbedderState.crossThreadUse.get(),
      "a factory-built transport was shared across threads")
  }

  test("releaseTransport disposes every factory-built instance at task end") {
    import spark.implicits._
    val in = (1L to 20L).map(i => (i, s"text$i")).toDS().repartition(2)
    ServiceEmbedderState.factoryBuilds.set(0)
    ServiceEmbedderState.releases.set(0)
    val factory: () => Transport = () => {
      ServiceEmbedderState.factoryBuilds.incrementAndGet()
      texts => Vectors(texts.map(t => Array(t.length.toFloat)))
    }
    val out = ServiceEmbedder.embedBatched(spark, in,
        transport = _ => Failed("factory should win"),
        batchSize = 3, concurrency = 2, sleep = _ => (),
        transportFactory = Some(factory),
        releaseTransport =
          _ => { ServiceEmbedderState.releases.incrementAndGet(); () })
      .collect()
    assert(out.length == 20)
    val builds = ServiceEmbedderState.releases.get()
    assert(builds == ServiceEmbedderState.factoryBuilds.get(),
      s"every built instance must be released exactly once: " +
        s"built=${ServiceEmbedderState.factoryBuilds.get()} released=$builds")
    assert(builds >= 1, "factory transport was never built")
  }
}

/** JVM-global mutable state for the service-embedder tests (executor
  * threads share the JVM in local mode). */
object ServiceEmbedderState {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val slept = new java.util.concurrent.atomic.AtomicLong(0L)
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val factoryBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
  val crossThreadUse = new java.util.concurrent.atomic.AtomicBoolean(false)
  val releases = new java.util.concurrent.atomic.AtomicInteger(0)
}
