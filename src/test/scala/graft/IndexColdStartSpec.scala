package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.plans.KnnIndexRegistry

/** Cold-start sweep across the persisted index families (r18 verdict
  * task: the IVF case lives in KnnRewriteSpec — mirror it for the
  * other three): each family's probe, given ONLY an index directory
  * on disk and a cleared in-memory registry in a brand-new session,
  * must still accelerate through the uniform `_graft_knn_manifest` —
  * for PQ/IVF-PQ even after the legacy `.centroids` parquet sidecar
  * is deleted, so the manifest is provably the load path and not a
  * bystander. */
class IndexColdStartSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def queryVec: Array[Float] =
    graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0)
      .select("embedding").head().getAs[scala.collection.Seq[Float]](0)
      .toArray

  private def deleteRecursive(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.delete(q))
    }
  }

  test("PQ cold start: new session + cold registry + deleted " +
      ".centroids sidecar still probes via the manifest") {
    val idx = java.nio.file.Files.createTempDirectory("coldpq")
      .toString + "/pq"
    Similarity.buildPqIndex(spark, dir, idx)
    val qv = queryVec
    val warm = Similarity.probePq(spark, idx, dir, qv, k = 10,
      excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(KnnIndexRegistry.readManifest(idx).exists(_._1 == "pq"))
    deleteRecursive(idx + ".centroids") // manifest must be the loader
    KnnIndexRegistry.clear() // simulate process restart
    val s2 = spark.newSession()
    val cold = Similarity.probePq(s2, idx, dir, qv, k = 10,
      excludeId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(cold == warm, s"cold-start PQ diverged: $cold vs $warm")
  }

  test("IVF-PQ cold start: manifest-only seed recovery keeps the " +
      "partition-pruned probe identical") {
    val idx = java.nio.file.Files.createTempDirectory("coldivfpq")
      .toString + "/ix"
    Similarity.buildIvfPqIndex(spark, dir, idx)
    val qv = queryVec
    val warm = Similarity.probeIvfPq(spark, idx, dir, qv, k = 10,
      nprobe = 4, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(KnnIndexRegistry.readManifest(idx).exists(_._1 == "ivf-pq"))
    deleteRecursive(idx + ".centroids")
    KnnIndexRegistry.clear()
    val s2 = spark.newSession()
    // seeds recover bit-exact from the manifest alone
    val seeds = Similarity.indexSeeds(s2, idx)
    assert(seeds.nonEmpty, "manifest seed recovery failed")
    val cold = Similarity.probeIvfPq(s2, idx, dir, qv, k = 10,
      nprobe = 4, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq
    assert(cold == warm, s"cold-start IVF-PQ diverged: $cold vs $warm")
  }

  test("LSH cold start: the model dir carries the kind=lsh manifest " +
      "and a new session's probe matches the warm one") {
    val modelDir = java.nio.file.Files.createTempDirectory("coldlsh")
      .resolve("model").toString
    Similarity.buildMllibLsh(spark, dir, modelDir)
    val warm = Similarity.probeMllibLsh(spark, dir, modelDir)
      .collect().map(_.getLong(0)).toSeq
    assert(KnnIndexRegistry.readManifest(modelDir).exists(_._1 == "lsh"))
    KnnIndexRegistry.clear()
    val s2 = spark.newSession()
    val cold = Similarity.probeMllibLsh(s2, dir, modelDir)
      .collect().map(_.getLong(0)).toSeq
    assert(cold == warm, s"cold-start LSH diverged: $cold vs $warm")
  }
}
