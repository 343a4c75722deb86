package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{DocPipeline, Similarity, Sync}
import graft.sources.ChunkStore

/** `Similarity.probeIvf` against the plan it replaced
  * ([[IvfReference]]: crossJoin, `dot_f` cosine, global sort), bit for
  * bit, on both of its paths: the rows a build keeps resident in its
  * index handle, and the per-partition top-k kernel over the files of a
  * build over the memory rule (`Similarity.probeFiles`, called
  * directly). Also the loaded index handle and store reads against
  * rebuilds and deletes. */
class IvfProbeSpec extends SparkSuite {
  import IvfProbeSpec.Built
  import Similarity.{IvfNlist, IvfNprobe}
  import graft.plans.KnnIndexRegistry

  private val dir = "/root/testdata/sf0.001"

  private lazy val sfIndex: Built = {
    val idx = tempDir("ivfprobe").resolve("ivf").toString
    Similarity.buildIvfIndex(spark, dir, idx)
    Built(idx, IvfReference.indexSeeds(spark, dir, Similarity.IvfLloydIters))
  }

  private lazy val sfVecs: Map[Long, Array[Float]] = {
    import spark.implicits._
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
  }

  /** An index over `vecs`, built with the raw seed quantizer (the
    * vectors with ids 1..16). */
  private def build(vecs: Seq[(Long, Array[Float])],
      at: Option[String] = None): Built = {
    import spark.implicits._
    val base = tempDir("ivfvecs")
    vecs.map { case (id, v) => (id, 0, v) }.toDF("vec_id", "label", "embedding")
      .repartition(3).write.parquet(base.resolve("embeddings.parquet").toString)
    val idx = at.getOrElse(base.resolve("ivf").toString)
    Similarity.buildIvfIndex(spark, base.toString, idx, lloydIters = 0)
    Built(idx, IvfReference.indexSeeds(spark, base.toString))
  }

  private def gaussian(seed: Int, n: Int): IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(n)(Array.fill(graft.functions.Embedder.Dim)(
      rnd.nextGaussian().toFloat))
  }

  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  /** The rows of the probe from files, the path of a build over the
    * memory rule, as [[bits]] gives them. */
  private def fileBits(idx: String, q: Array[Float], k: Int, nprobe: Int,
      excludeId: Option[Long]): Seq[(Long, Long)] = {
    val e = KnnIndexRegistry.probeEntry(spark, idx).get
    if (k <= 0) Nil
    else Similarity.probeFiles(spark, e, Similarity.topCells(q, e.seeds,
        nprobe).toSeq, q, k, excludeId).toSeq
      .map { case (id, c) => (id, java.lang.Double.doubleToRawLongBits(c)) }
  }

  /** Whether the build at `idx` is resident: asking for its rows does
    * not call the loader. */
  private def isResident(idx: String): Boolean = {
    val e = KnnIndexRegistry.probeEntry(spark, idx).get
    try KnnIndexRegistry.resident(idx, e)(
      throw new NoSuchElementException(s"$idx is not resident")).isDefined
    catch { case _: NoSuchElementException => false }
  }

  /** The probe's rows equal the reference plan's, in order and bit for
    * bit, from the resident rows and from the files; returns them. */
  private def parity(idx: Built, q: Array[Float], k: Int = 10,
      nprobe: Int = IvfNprobe, excludeId: Option[Long] = None): Seq[(Long, Long)] = {
    val got = Similarity.probeIvf(spark, idx.path, q, k, nprobe, excludeId)
    assert(got.columns.toSeq == Seq("vec_id", "cosine"))
    val want = bits(IvfReference.probeIvf(spark, idx.path, idx.seeds, q, k,
      nprobe, excludeId))
    assert(bits(got) == want)
    assert(fileBits(idx.path, q, k, nprobe, excludeId) == want)
    want
  }

  test("kernel equals the reference plan on the sf0.001 index") {
    (0L until 5L).foreach { q =>
      assert(parity(sfIndex, sfVecs(q)).size == 10)
    }
  }

  test("kernel equals the reference plan with excludeId") {
    (0L until 5L).foreach { q =>
      val rows = parity(sfIndex, sfVecs(q), excludeId = Some(q))
      assert(rows.size == 10 && !rows.exists(_._1 == q))
    }
  }

  test("kernel equals the reference plan with nprobe = IvfNlist") {
    (0L until 3L).foreach { q =>
      assert(parity(sfIndex, sfVecs(q), k = 25, nprobe = IvfNlist).size == 25)
    }
  }

  test("kernel equals the reference plan on tied cosines of duplicate vectors") {
    val base = gaussian(5, 30)
    // every vector twice (ids i and 100 + i), and vector 3 four times
    val vecs = base.indices.map(i => i.toLong -> base(i)) ++
      base.indices.map(i => (100L + i) -> base(i).clone()) ++
      Seq(200L -> base(3).clone(), 201L -> base(3).clone())
    val idx = build(vecs)
    val rows = parity(idx, base(3), k = 12, nprobe = IvfNlist)
    assert(rows.take(4).map(_._1) == Seq(3L, 103L, 200L, 201L))
    assert(rows.take(4).map(_._2).distinct.size == 1)
    Seq(0, 7, 21).foreach(i => parity(idx, base(i), k = 7))
  }

  test("kernel equals the reference plan when k exceeds the candidates") {
    val base = gaussian(9, 40)
    val idx = build(base.indices.map(i => i.toLong -> base(i)))
    val few = parity(idx, base(2), k = 1000)
    assert(few.nonEmpty && few.size < 40)
    assert(parity(idx, base(2), k = 1000, nprobe = IvfNlist).size == 40)
  }

  test("kernel equals the reference plan over zero-norm candidates") {
    val base = gaussian(13, 50)
    val zeros = Set(7L, 23L, 40L)
    val vecs = base.indices.map { i =>
      val id = i.toLong
      id -> (if (zeros(id)) new Array[Float](base(i).length) else base(i))
    }
    val idx = build(vecs)
    val rows = parity(idx, base(4), k = 100, nprobe = IvfNlist)
    assert(rows.map(_._1).toSet == vecs.map(_._1).toSet -- zeros)
    parity(idx, base(30), k = 5)
  }

  test("kernel equals the reference plan when chosen cells have no files") {
    val base = gaussian(17, 60)
    val idx = build(base.indices.map(i => i.toLong -> base(i)))
    val q = base(5)
    val best = Similarity.topCells(q, idx.seeds, 2)
    // the best cell loses its files before the first probe loads the build
    Scratch.delete(java.nio.file.Paths.get(idx.path, s"cell=${best(0)}"))
    val rest = parity(idx, q, k = 50, nprobe = 2)
    assert(rest.nonEmpty)
    assert(parity(idx, q, nprobe = 1).isEmpty)
  }

  test("a rebuild at the same path is seen by the next probe, by any writer") {
    // both builds hold seed ids 1..16; past those, b's ids are new
    val a = gaussian(21, 40).zipWithIndex.map { case (v, i) => i.toLong -> v }
    val b = gaussian(22, 40).zipWithIndex.map { case (v, i) =>
      (if (i <= IvfNlist) i.toLong else 1000L + i) -> v }
    val p = tempDir("ivfrebuild").resolve("ivf")
    // every cell probed: the answer is the exact top 5 of what is on
    // disk, led by the query's own vector
    def check(built: Built, q: (Long, Array[Float])): Unit = {
      val got = bits(Similarity.probeIvf(spark, p.toString, q._2, k = 5,
        nprobe = IvfNlist))
      assert(got.size == 5 && got.head._1 == q._1)
      assert(got == bits(IvfReference.probeIvf(spark, p.toString,
        built.seeds, q._2, k = 5, nprobe = IvfNlist)))
    }
    check(build(a, Some(p.toString)), a(30))
    // this process rebuilds P over other vectors
    check(build(b, Some(p.toString)), b(30))
    // another writer replaces P with its own build of the first vectors;
    // this process's registry still holds the loaded build of `b`
    val other = build(a)
    Scratch.delete(p)
    java.nio.file.Files.move(java.nio.file.Paths.get(other.path), p)
    check(other, a(30))
  }

  test("a store deleted and re-synced reads its new rows") {
    import spark.implicits._
    val base = tempDir("storeresync")
    val (store, state) = (base.resolve("store").toString,
      base.resolve("state").toString)
    def sync(text: String): Unit =
      Sync.syncRun(spark, Seq("doc://p" -> text).toDF("url", "text"),
        store, state, 1L).collect()
    def contents(): (Seq[String], Seq[String]) = {
      val stored = ChunkStore.readLatest(spark, store).get
      (stored.select("content").as[String].collect().toSeq.sorted,
        DocPipeline.getChunksFromStore(stored, "doc://p", Some((0, 5)))
          .select("content").as[String].collect().toSeq)
    }
    sync("# First\n\nThe first text of this page.")
    val v = ChunkStore.latestVersion(store)
    val (first, firstPage) = contents()
    assert(first.exists(_.contains("first text")) && firstPage == first)
    Scratch.delete(base)
    sync("# Second\n\nA second text replaces it.")
    assert(ChunkStore.latestVersion(store) == v)
    val (second, secondPage) = contents()
    assert(second.exists(_.contains("second text")) && secondPage == second)
    assert(!second.exists(_.contains("first text")))
  }

  test("a cold and a warm probe equal the reference plan; the first loads the build") {
    val base = gaussian(25, 80)
    val idx = build(base.indices.map(i => i.toLong -> base(i)))
    assert(!isResident(idx.path))
    val cold = parity(idx, base(9), excludeId = Some(9L))
    assert(isResident(idx.path))
    assert(parity(idx, base(9), excludeId = Some(9L)) == cold)
    assert(cold.size == 10 && !cold.exists(_._1 == 9L))
    // a second nprobe on the same loaded build
    val wide = parity(idx, base(9), k = 30, nprobe = 5)
    assert(wide.size > 10 && wide.take(10).map(_._1).contains(9L))
    assert(parity(idx, base(9), k = 0).isEmpty)
    assert(isResident(idx.path))
  }

  test("zero-norm and NaN candidates: the resident rows equal the reference plan") {
    val base = gaussian(27, 50)
    val (zeros, nans) = (Set(20L, 33L), Set(25L, 41L))
    val vecs = base.indices.map { i =>
      val id = i.toLong
      val v = base(i).clone()
      if (zeros(id)) java.util.Arrays.fill(v, 0f)
      if (nans(id)) v(3) = Float.NaN
      id -> v
    }
    val idx = build(vecs)
    val rows = parity(idx, base(4), k = 100, nprobe = IvfNlist)
    assert(rows.map(_._1).toSet == vecs.map(_._1).toSet -- zeros)
    // a NaN cosine sorts first under Spark's double ordering
    assert(rows.take(2).map(_._1).toSet == nans)
    parity(idx, base(30), k = 5, excludeId = Some(30L))
  }

  test("a zero-norm query scores 0.0 from the resident rows and from the files") {
    val base = gaussian(29, 60)
    val idx = build(base.indices.map(i => i.toLong -> base(i)))
    val zero = new Array[Float](base(0).length)
    Seq(1, 3).foreach { nprobe =>
      val got = bits(Similarity.probeIvf(spark, idx.path, zero, k = 7,
        nprobe = nprobe, excludeId = Some(0L)))
      assert(got == fileBits(idx.path, zero, 7, nprobe, Some(0L)))
      // the lowest ids of cells 0 until nprobe, every cosine 0.0
      val cells = (0 until nprobe).toSet
      val want = base.indices.map(_.toLong).filter(id => id != 0L &&
        cells(Similarity.argmaxCell(base(id.toInt), idx.seeds))).take(7)
      assert(got == want.map(_ -> 0L))
    }
  }

  test("a rebuild by another writer after a warm probe is read, not the resident rows") {
    // both builds hold seed ids 1..16; past those, b's ids are new
    val a = gaussian(31, 40).zipWithIndex.map { case (v, i) => i.toLong -> v }
    val b = gaussian(32, 40).zipWithIndex.map { case (v, i) =>
      (if (i <= IvfNlist) i.toLong else 1000L + i) -> v }
    val p = tempDir("ivfwarm").resolve("ivf")
    val first = build(a, Some(p.toString))
    (0 until 2).foreach(_ => parity(first, a(30)._2, k = 5, nprobe = IvfNlist))
    assert(isResident(p.toString))
    val other = build(b)
    Scratch.delete(p)
    java.nio.file.Files.move(java.nio.file.Paths.get(other.path), p)
    val got = Similarity.probeIvf(spark, p.toString, b(30)._2, k = 5,
      nprobe = IvfNlist).collect().map(_.getLong(0)).toSeq
    // id 1030 exists only in the new build
    assert(got.size == 5 && got.head == b(30)._1, got)
    parity(Built(p.toString, other.seeds), b(30)._2, k = 5, nprobe = IvfNlist)
  }

  test("a deleted index fails the next probe and leaves the registry") {
    val base = gaussian(33, 40)
    val idx = build(base.indices.map(i => i.toLong -> base(i)))
    parity(idx, base(2))
    assert(KnnIndexRegistry.holds(idx.path) && isResident(idx.path))
    Scratch.delete(java.nio.file.Paths.get(idx.path))
    val err = intercept[IllegalArgumentException](
      Similarity.probeIvf(spark, idx.path, base(2)))
    assert(err.getMessage.contains("is not an IVF index"))
    assert(!KnnIndexRegistry.holds(idx.path))
  }

  // last: it stops the suite's session
  test("a build loaded in a stopped session serves the next session") {
    val idx = sfIndex.path
    val q = sfVecs(0L)
    val before = bits(Similarity.probeIvf(spark, idx, q))
    spark.stop()
    val next = GraftSession.local(2)
    try assert(bits(Similarity.probeIvf(next, idx, q)) == before)
    finally next.stop()
  }
}

object IvfProbeSpec {
  /** A built index and the seeds the reference recomputes for it. */
  final case class Built(path: String, seeds: Array[Array[Float]])
}
