package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.Tables

/** Similarity-search operators over the embeddings table: exact cosine
  * top-k (the reference's KNN retrieval semantics, mcp/src/server.ts:
  * 448-474) and a deterministic random-hyperplane LSH ANN path for scale.
  *
  * Scale design (100 TB):
  *   - exact top-k per query is a broadcast of the (small) query set
  *     against a full scan — one pass, no pairwise shuffle; the per-query
  *     top-k is a windowed rank, computed map-side per partition before
  *     the final merge.
  *   - the LSH path buckets vectors by 8 hyperplane signs (two 4-bit
  *     bands); candidate generation is an equi-join on band signature —
  *     shuffle ∝ bucket sizes, not corpus². Hyperplane entries are a
  *     deterministic ±1 integer hash so the DuckDB oracle reproduces the
  *     exact same buckets.
  */
object Similarity {

  /** cosine(a, b) in double precision via the codegen'd dot_f expression
    * (left-to-right accumulation, matching the oracle's
    * list_dot_product). */
  private[graft] def cosineExpr(a: String, b: String): Column =
    expr(s"dot_f($a, $b) / (sqrt(dot_f($a, $a)) * sqrt(dot_f($b, $b)))")

  /** Exact brute-force cosine top-k: queries = vec_id < 5, corpus =
    * vec_id >= 5; top 10 per query (cosine desc, vec_id tie-break). */
  def knnExact(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val corpus = e.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))
      .withColumn("cosine", cosineExpr("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** The reference's `query_documentation` semantics (mcp/src/server.ts:
    * 197-257) over documents⋈embeddings: embed-free variant using the
    * stored vector of doc 0 as the query; equality filter (lang ≅
    * product_name), url-prefix post-filter, empty-content drop, limit 4;
    * cosine *distance* ordering (1 - similarity). */
  def queryDocumentation(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val docs = Tables.documents(s, dir)
    val store = docs.join(e, col("doc_id") === col("vec_id"))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    // Top-4-of-all via orderBy+limit → TakeOrderedAndProject: each
    // partition serves its local top-4 map-side, the driver merges 4-row
    // heaps. The previous global Window.orderBy funneled every scored row
    // through a single partition. row_number over the surviving 4 rows is
    // then trivially cheap.
    store.crossJoin(broadcast(qv))
      .filter(col("doc_id") =!= 0)
      .filter(col("lang") === "en")                // metadata equality filter
      .filter(col("source").startsWith("src1"))    // urlPathPrefix post-filter
      // empty-content drop: the reference trims first (mcp server
      // filterResultsWithContent) — whitespace-only content is empty
      .filter(length(trim(col("text"))) > 0)
      .withColumn("distance", lit(1.0) - cosineExpr("qv", "embedding"))
      .select(col("distance"), col("doc_id"), col("source"))
      .orderBy(col("distance"), col("doc_id"))
      .limit(4)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("distance"), col("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        concat(lit("doc://"), col("doc_id")).as("url"), col("source"))
      .orderBy("rank")
  }

  /** The reference's `query_code` diagnostics (mcp/src/server.ts:259-341):
    * repo/extension/prefix filters + {rawCount, emptyContentCount}. Files
    * are synthesized deterministically from documents (ext by lang). */
  def queryCodeDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.documents(s, dir)
      .withColumn("ext",
        when(col("lang") === "en", ".py").when(col("lang") === "es", ".go")
          .when(col("lang") === "de", ".rs").when(col("lang") === "fr", ".ts")
          .otherwise(".md"))
      .withColumn("path",
        concat(col("source"), lit("/"), col("doc_id"), col("ext")))
    files
      .filter(col("path").startsWith("src1"))      // filePathPrefix
      .filter(col("ext").isin(".py", ".go"))       // extensions filter
      .agg(count(lit(1)).as("raw_count"),
        count(when(length(trim(col("text"))) === 0, 1))
          .as("empty_content_count"),
        least(count(lit(1)), lit(4L)).as("returned"))
  }

  /** Fitted MLlib LSH models (just the seeded random hyperplanes — a few
    * KB), memoized per corpus: fit once, probe many times is the serving
    * shape, mirroring buildIvfIndex/probeIvf; repeated queries time the
    * probe, which is the recurring cost. */
  private val mllibModelCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel]

  /** MLlib BucketedRandomProjectionLSH approximate neighbors of vector 0
    * with a PLANTED ground truth — the seeded model is deterministic
    * within Spark but not reproducible in SQL, so the planted neighbors
    * give it a full-match oracle instead of a rows-only declaration: ten
    * synthetic neighbors are planted at Euclidean distances
    * 0.001·j (j = 1..10) from query vector 0 by perturbing its first
    * dimension — three orders of magnitude inside the nearest natural
    * neighbor and far inside the 1.0 bucket length, so the seeded
    * 4-table LSH returns exactly the planted ids in j order. The
    * returned columns are the ID SET and its rank (never a float), so
    * the DuckDB oracle is pure arithmetic: vec_id = 9000000 + rank. */
  def annMllibPlanted(s: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.linalg.Vectors
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, e) => (id, Vectors.dense(e.map(_.toDouble))) }
      .toDF("vec_id", "features")
    val keyRow = base.filter(col("vec_id") === 0).select("features").take(1)
    if (keyRow.isEmpty)
      return s.emptyDataset[(Long, Long)].toDF("vec_id", "rank")
    val key = keyRow.head.getAs[org.apache.spark.ml.linalg.Vector](0)
    val planted = (1 to k).map { j =>
      val v = key.toArray.clone()
      v(0) += 0.001 * j
      (9000000L + j, Vectors.dense(v))
    }
    val corpus = base.unionByName(planted.toDF("vec_id", "features"))
    val model = mllibModelCache.getOrElseUpdate(s"$dir#planted",
      new BucketedRandomProjectionLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setBucketLength(1.0).setNumHashTables(4).setSeed(42L)
        .fit(corpus))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("distCol"), col("vec_id"))
    model.approxNearestNeighbors(corpus.filter(col("vec_id") =!= 0), key, k)
      .select(col("vec_id"), col("distCol"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("rank"))
      .orderBy("rank")
  }

  // ── IVF (inverted-file) ANN with a data-adaptive, SQL-reproducible
  // coarse quantizer ────────────────────────────────────────────────────
  // Centroid c (0..nlist-1) is the embedding of seed vector
  // vec_id = c+1: data-adaptive (the seeds lie in the corpus
  // distribution — the ±1 hash directions they replaced cost 0.2 recall
  // on the suite's own gate) yet exactly reproducible in SQL.
  // cell(v) = argmax_c dot(v, seed_c), ties → lowest c. Both engines
  // accumulate the dot product left-to-right over exact float→double
  // widenings, so the projections — and therefore the argmax — are
  // bit-identical; DuckDB mirrors the assignment with list_dot_product
  // against the same seed rows. (The corpus embeddings are
  // unit-normalized, so raw dot IS cosine; no normalization step to
  // drift on.)

  /** Default IVF cell count / probe width — interpolated into the
    * DuckDB oracles (emb_ann_ivf, emb_cluster_stats) so the oracle
    * tracks these values instead of hard-coding them. */
  val IvfNlist = 16
  val IvfNprobe = 4

  /** Seed-vector centroids: the embeddings of vec_id 1..nlist in
    * vec_id order (cell c ↔ seed vec_id c+1). A 16-row collect — this
    * is index *metadata*, not data motion; the seeds then ride the task
    * closure exactly like a broadcast variable. */
  private[graft] def ivfSeeds(s: SparkSession, dir: String,
      nlist: Int): Array[Array[Float]] = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .filter(col("vec_id").between(1, nlist))
      .orderBy("vec_id")
      .select("embedding").as[Array[Float]]
      .collect()
  }

  /** Projection of `emb` onto each seed centroid, each dot product
    * accumulated in ascending-dimension order (oracle parity). */
  private[graft] def cellProjections(
      emb: Array[Float], seeds: Array[Array[Float]]): Array[Double] = {
    val out = new Array[Double](seeds.length)
    var c = 0
    while (c < seeds.length) {
      val sv = seeds(c)
      var p = 0.0
      var d = 0
      while (d < emb.length) { p += emb(d).toDouble * sv(d).toDouble; d += 1 }
      out(c) = p
      c += 1
    }
    out
  }

  /** Coarse-quantizer cell for one vector: argmax projection, lowest
    * cell id on ties (strict `>` keeps the first maximum). */
  private[graft] def argmaxCell(
      emb: Array[Float], seeds: Array[Array[Float]]): Int = {
    val proj = cellProjections(emb, seeds)
    var best = 0
    var c = 1
    while (c < proj.length) { if (proj(c) > proj(best)) best = c; c += 1 }
    best
  }

  /** The query's `nprobe` nearest cells: projection desc, cell asc. */
  private[graft] def topCells(emb: Array[Float],
      seeds: Array[Array[Float]], nprobe: Int): Array[Int] =
    cellProjections(emb, seeds).zipWithIndex
      .sortBy { case (p, c) => (-p, c) }.take(nprobe).map(_._2)

  /** (vec_id, cell): one typed-kernel pass assigning every vector to
    * its quantizer cell — zero shuffle, no model fit. */
  def ivfAssign(s: SparkSession, dir: String, nlist: Int = IvfNlist): DataFrame = {
    import s.implicits._
    val seeds = ivfSeeds(s, dir, nlist)
    Tables.embeddings(s, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, emb) => (id, argmaxCell(emb, seeds)) }
      .toDF("vec_id", "cell")
  }

  /** Per-cell occupancy report of the IVF coarse quantizer — the
    * cluster-balance signal both an ANN operator (skewed cells ⇒ slow
    * probes) and a SemDeDup-style curator (overfull cells ⇒ semantic
    * redundancy) read before acting. share = of the corpus,
    * load = relative to a perfectly uniform quantizer (1000 = exactly
    * uniform), both integer permille.
    *
    * Scale: the assignment is the same zero-shuffle map as
    * [[ivfAssign]]; everything after runs on an nlist-row aggregate
    * with a 1-row total broadcast. */
  def clusterStats(s: SparkSession, dir: String, nlist: Int = IvfNlist): DataFrame =
    clusterStatsFrom(s, dir, ivfSeeds(s, dir, nlist))

  /** The balance report over an arbitrary centroid set — shared kernel
    * of [[clusterStats]] (raw seeds, oracle-checked) and
    * [[clusterStatsLloyd]] (refined quantizer). */
  private def clusterStatsFrom(s: SparkSession, dir: String,
      cents: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    val nlist = cents.length
    val assigned = Tables.embeddings(s, dir)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, emb) => (id, argmaxCell(emb, cents)) }
      .toDF("vec_id", "cell")
    val total = assigned.agg(count(lit(1)).as("total"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
      .crossJoin(broadcast(total))
      .select(col("cell").cast("long").as("cell"), col("n_vectors"),
        expr("n_vectors * 1000 div total").as("share_permille"),
        expr(s"n_vectors * $nlist * 1000 div total").as("load_permille"),
        col("min_vec"), col("max_vec"))
      .orderBy("cell")
  }

  /** [[clusterStats]] of the REFINED quantizer — the occupancy report
    * a probe planner reads against the index [[buildIvfIndex]]
    * actually persists (Lloyd-refined centroids), not the raw seeds.
    * On a natural corpus the refinement is iterative float math DuckDB
    * can't reproduce bit-for-bit; the oracle-checked entry is
    * [[clusterStatsLloydOracle]] (planted geometry with an analytic
    * fixed point), and the real-corpus semantic pin — refined balance
    * must beat the raw seeds' — lives in ScalaTest. */
  def clusterStatsLloyd(s: SparkSession, dir: String,
      nlist: Int = IvfNlist, iters: Int = IvfLloydIters): DataFrame =
    clusterStatsFrom(s, dir,
      lloydRefine(s, dir, ivfSeeds(s, dir, nlist), iters))

  /** Vector count of the planted Lloyd-oracle geometry. */
  val LloydPlantedN = 4800

  /** Planted cluster of vector i: vec_ids 1..16 cover the 16 cells one
    * each in order — they are exactly the seed rows [[ivfSeeds]] picks,
    * so seed index ≡ planted cluster — and the rest spread unevenly
    * via mod-37 (a 37-cycle over 16 cells leaves cells 0..4 with one
    * extra member per cycle, so every count, unlike a uniform plant,
    * carries signal). */
  private[graft] def lloydPlantedCluster(i: Long): Int =
    if (i <= 16) ((i - 1) % 16).toInt else (i % 37 % 16).toInt

  /** Planted vector i: unit mass on axis `cluster(i)` (dims 0..15)
    * plus a small deterministic perturbation on a disjoint noise dim
    * (16..28). Separation is absolute: a cluster-c centroid — seed or
    * any Lloyd refinement — has exactly zero weight on every other
    * cluster's axis (axis and noise dims are disjoint), so own-cluster
    * projection ≥ 0.99 while any cross-cluster projection ≤ 4e-4 and
    * the assignment equals the plant at every iteration. Lloyd's fixed
    * point is therefore analytic while the kernel still runs the full
    * seed → 4×(assign/mean/normalize) → report pipeline on real float
    * math. */
  private[graft] def lloydPlantedVec(i: Long): Array[Float] = {
    val v = new Array[Float](64)
    v(lloydPlantedCluster(i)) = 1.0f
    v(16 + (i % 13).toInt) = ((i % 5) - 2) * 0.01f
    v
  }

  @volatile private var lloydPlantedDir: String = null

  /** Stage the planted embeddings table once per JVM (4,800 tiny rows;
    * bench reps re-read, not re-write) in a [[graft.Scratch.held]]
    * dir. */
  private def stageLloydPlanted(s: SparkSession): String = synchronized {
    if (lloydPlantedDir == null) {
      import s.implicits._
      val dir = graft.Scratch.held("lloydplanted").toString
      s.range(1, LloydPlantedN + 1L).as[Long]
        .map(i => (i, lloydPlantedVec(i)))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      lloydPlantedDir = dir
    }
    lloydPlantedDir
  }

  /** [[clusterStatsLloyd]] over the planted geometry — the
    * oracle-checked row. The output is all-integer (counts, permilles,
    * id extrema), fully determined by the planted partition, which the
    * DuckDB oracle re-derives from the construction rule alone; any
    * defect in seeding, assignment, the treeAggregate mean, empty-cell
    * handling, or the report arithmetic shifts a count and fails the
    * hash. */
  def clusterStatsLloydOracle(s: SparkSession): DataFrame =
    clusterStatsLloyd(s, stageLloydPlanted(s))

  /** Default Lloyd iteration count for [[buildIvfIndex]]'s spherical
    * k-means refinement of the seed centroids. */
  val IvfLloydIters = 4

  /** Spherical-KMeans (Lloyd) refinement of the IVF seed centroids:
    * `iters` rounds of assign-to-argmax-dot / mean / re-normalize,
    * starting from the data-adaptive seeds. Empty cells keep their
    * previous centroid. `iters <= 0` returns the seeds unchanged: the
    * IVF oracle rows build their index that way ([[stagedIndex]]), so
    * the DuckDB oracle can reproduce the quantizer bit-for-bit.
    *
    * Scale: each iteration is ONE corpus pass via `treeAggregate` — the
    * per-partition state is an nlist×dim double array (16×64 ≈ 8 KB)
    * combined in log-depth on the way to the driver, so neither the
    * shuffle volume nor the driver payload grows with corpus size. The
    * centroids themselves ride the task closure like a broadcast. */
  private[graft] def lloydRefine(s: SparkSession, dir: String,
      seeds: Array[Array[Float]], iters: Int = IvfLloydIters): Array[Array[Float]] = {
    import s.implicits._
    if (seeds.isEmpty || iters <= 0) return seeds
    val nlist = seeds.length
    val dim = seeds(0).length
    val vecs = Tables.embeddings(s, dir).select("embedding").as[Array[Float]]
    var cents = seeds
    for (_ <- 1 to iters) {
      val cur = cents
      val (sums, counts) = vecs.rdd.treeAggregate(
        (Array.fill(nlist)(new Array[Double](dim)), new Array[Long](nlist)))(
        seqOp = { case ((sm, ct), emb) =>
          val c = argmaxCell(emb, cur)
          val a = sm(c)
          var d = 0
          while (d < dim) { a(d) += emb(d).toDouble; d += 1 }
          ct(c) += 1L
          (sm, ct)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var i = 0
          while (i < nlist) {
            val a = s1(i); val b = s2(i)
            var d = 0
            while (d < dim) { a(d) += b(d); d += 1 }
            c1(i) += c2(i); i += 1
          }
          (s1, c1)
        })
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0L) cur(c)
        else {
          val m = sums(c)
          var nrm = 0.0
          var d = 0
          while (d < dim) { nrm += m(d) * m(d); d += 1 }
          val inv = if (nrm == 0.0) 1.0 else 1.0 / math.sqrt(nrm)
          Array.tabulate(dim)(d => (m(d) * inv).toFloat)
        }
      }
    }
    cents
  }

  /** One-time IVF index build: the corpus written partitioned by cell
    * id, so a probe reads the files of `nprobe` cell directories —
    * candidate I/O ∝ nprobe/nlist of the corpus. At 100 TB this is the
    * scale path: build once, probe many times; no per-query fit, no
    * cached blocks to leak. The centroids are Lloyd-refined from the
    * seeds (`lloydIters` spherical k-means rounds — better cell balance
    * and recall at the same nprobe cost; FAISS builds its IVF coarse
    * quantizer the same way) and go into the in-dir manifest, which
    * registers the index in [[graft.plans.KnnIndexRegistry]]. The build
    * writes no handle: the first [[probeIvf]] of it loads its seeds,
    * cell files and schema, and, within the registry's memory rule,
    * reads its rows in one Spark job to keep them on the driver. Later
    * probes reuse them until the manifest changes. */
  def buildIvfIndex(s: SparkSession, dir: String, indexDir: String,
      nlist: Int = IvfNlist, lloydIters: Int = IvfLloydIters): Unit = {
    import s.implicits._
    val cents = lloydRefine(s, dir, ivfSeeds(s, dir, nlist), lloydIters)
    Tables.embeddings(s, dir)
      .select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])]
      .map { case (id, label, emb) =>
        (id, label, emb, argmaxCell(emb, cents)) }
      .toDF("vec_id", "label", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)
    graft.plans.KnnIndexRegistry.writeManifest(indexDir, cents, IvfNprobe)
  }

  /** Incremental IVF maintenance — the index-side twin of the
    * delta-dedup row: a persisted cell-partitioned index is built from
    * the STORE (vec_id below the top fifth of the id range), then the
    * new batch's codes are APPENDED by partition — assign against the
    * frozen quantizer, write `mode(append)` into the same cell layout —
    * exactly how a 100 TB index absorbs a daily delta without a
    * rebuild (re-quantizing the corpus would be the rebuild; appending
    * touches only batch-sized data, and cell partitioning means a
    * probe's partition pruning is oblivious to which ingest wrote a
    * code). Raw seed quantizer (not Lloyd) so the DuckDB oracle
    * re-derives every assignment bit-exactly, like `emb_ann_ivf`; the
    * report is the per-cell occupancy of the FINAL index with the
    * appended share broken out — wrong seed freeze, a batch row lost
    * or double-appended by the partitioned write, or drifted
    * assignment arithmetic all shift a count. */
  private val ivfAppendSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_vectors",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_appended",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("min_vec",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("max_vec",
      org.apache.spark.sql.types.LongType)))

  /** The batch/streaming append rows' shared kernels — ONE definition
    * each, so the "two rows share one DuckDB oracle" contract can't be
    * broken by a fix landing in only one twin. */
  private def ivfAssignWith(df: DataFrame,
      seeds: Array[Array[Float]]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, emb) => (id, argmaxCell(emb, seeds)) }
      .toDF("vec_id", "cell")
  }

  /** Final-index occupancy with the appended share broken out; eager
    * localCheckpoint so the caller may delete the index directory. */
  private def ivfOccupancyReport(s: SparkSession, idx: String,
      cut: Long): DataFrame =
    s.read.parquet(idx)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("vec_id") >= cut, 1L).otherwise(0L))
          .as("n_appended"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
      .orderBy("cell")
      .localCheckpoint(true)

  def ivfAppendReport(s: SparkSession, dir: String): DataFrame = {
    val maxRow = Tables.embeddings(s, dir).agg(max(col("vec_id"))).head()
    if (maxRow.isNullAt(0))
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], ivfAppendSchema)
    val cut = maxRow.getLong(0) * 4 / 5
    // the quantizer is FROZEN at store-build time: seed rows 1..nlist
    // all precede the cut, so the oracle's full-corpus seed rule is
    // the same quantizer
    val seeds = ivfSeeds(s, dir, IvfNlist)
    graft.Scratch.within("ivfappend") { base =>
      val idx = s"$base/codes"
      val emb = Tables.embeddings(s, dir)
      ivfAssignWith(emb.filter(col("vec_id") < cut), seeds)
        .write.partitionBy("cell").parquet(idx)
      ivfAssignWith(emb.filter(col("vec_id") >= cut), seeds)
        .write.mode("append").partitionBy("cell").parquet(idx)
      ivfOccupancyReport(s, idx, cut)
    }
  }

  /** Streaming form of [[ivfAppendReport]] — embeddings ARRIVE as a
    * stream and each micro-batch's codes are appended to the persisted
    * index via foreachBatch (assign against the frozen quantizer,
    * partitioned append — the exact batch-append kernel, fed
    * micro-batch-sized). The final occupancy report must be identical
    * to the batch append's, so the two rows share one DuckDB oracle:
    * codes lost or duplicated across micro-batch boundaries, a
    * checkpoint replaying a batch into a second append, or assignment
    * drifting between the batch and streaming paths all land as a hash
    * mismatch. Two id-range slices replay in ascending mtime order so
    * the batch boundary is deterministic. */
  def ivfAppendStreamParity(s: SparkSession, dir: String): DataFrame = {
    val maxRow = Tables.embeddings(s, dir).agg(max(col("vec_id"))).head()
    if (maxRow.isNullAt(0)) return ivfAppendReport(s, dir)
    val cut = maxRow.getLong(0) * 4 / 5
    val seeds = ivfSeeds(s, dir, IvfNlist)
    val emb = Tables.embeddings(s, dir)
    // the delta arrives as two ascending id-range slices
    graft.streaming.Replay.staged(
      s"ivfstream_${graft.streaming.StageCache.dirKey(dir)}") { d =>
      emb.filter(col("vec_id") >= cut).select("vec_id", "embedding")
        .repartitionByRange(2, col("vec_id")).write.parquet(s"$d/in")
      graft.streaming.Replay.stamp(s"$d/in")
    } { (in, base) =>
      val idx = s"$base/codes"
      ivfAssignWith(emb.filter(col("vec_id") < cut), seeds)
        .write.partitionBy("cell").parquet(idx)
      val q = graft.streaming.Replay.read(s, in, Seq("in")).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          ivfAssignWith(b, seeds)
            .write.mode("append").partitionBy("cell").parquet(idx)
          ()
        }
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      ivfOccupancyReport(s, idx, cut)
    }
  }

  /** IVF rebalance decision report — the maintenance trigger that
    * closes the index loop (build → append → MEASURE → split):
    * per-cell occupancy before/after the delta append (the
    * emb_ivf_append construction: delta = top fifth of the id range),
    * growth permille, and the split flag (occupancy > 2x the
    * post-append mean) a 100 TB index uses to schedule quantizer
    * refresh for exactly the hot cells instead of re-clustering the
    * corpus on a timer. One assignment pass + one 16-row aggregate;
    * the mean rides a broadcast 1-row crossJoin. All-integer outputs;
    * empty cells divide to NULL growth via nullif, same as the
    * oracle. */
  def ivfRebalanceReport(s: SparkSession, dir: String,
      nlist: Int = IvfNlist): DataFrame = {
    val maxRow = Tables.embeddings(s, dir).agg(max(col("vec_id"))).head()
    val cut = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 4 / 5
    val occ = ivfAssign(s, dir, nlist)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("vec_id") < cut, 1L).otherwise(0L)).as("n_before"))
    val tot = occ.agg(sum(col("n_after")).as("total"))
    occ.crossJoin(broadcast(tot))
      .select(col("cell").cast("long").as("cell"), col("n_before"),
        col("n_after"),
        expr("(n_after - n_before) * 1000 div nullif(n_before, CAST(0 AS BIGINT))")
          .as("growth_permille"),
        (col("n_after") * nlist > col("total") * 2).cast("long")
          .as("needs_split"))
      .orderBy("cell")
  }

  /** PQ recall calibration — the PQ twin of [[ivfRecall]], completing
    * the approximate-vs-exact calibration family: overlap of
    * [[annPq]]'s shortlist-reranked top-k with the exact cosine top-k
    * for the same query, as one (n_overlap, recall_permille) row.
    * Both rankings are double-precision with id tie-breaks, so the
    * DuckDB oracle (which shares the PQ CTE stack with emb_ann_pq)
    * re-derives the identical sets. Scale shape: the PQ side is the
    * ADC map + driver-k shortlist of [[annPq]]; the exact side is one
    * broadcast-query corpus pass — the calibration you run on a
    * sample before trusting the sketch at 100 TB. */
  def pqRecall(s: SparkSession, dir: String, k: Int = 10,
      shortlist: Int = 50): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val pqIds = annPq(s, dir, k, shortlist).select("vec_id")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = e.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding")
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
      .select("vec_id")
    pqIds.join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"),
        expr(s"n_overlap * 1000 div $k").as("recall_permille"))
  }

  /** The result schema of [[probeIvf]]. */
  private val ProbeSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cosine", DoubleType)))

  /** A probe's answer order: cosine descending under Spark's double
    * ordering (NaN first, -0.0 equal to 0.0), then vec_id ascending. */
  private val probeOrder: Ordering[(Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(b._2, a._2)
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The `k` first of `rows` in [[probeOrder]], in that order, holding
    * at most `k` rows at a time (the head of the heap is the worst one
    * kept). */
  private def firstK(rows: Iterator[(Long, Double)],
      k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](probeOrder.reverse)
    rows.foreach { r =>
      if (heap.size < k) heap.add(r)
      else if (probeOrder.lt(r, heap.peek)) { heap.poll(); heap.add(r) }
    }
    heap.toArray(new Array[(Long, Double)](0)).sorted(probeOrder)
  }

  /** `dot_f`'s arithmetic: products in double, accumulated in ascending
    * index over the shorter length. */
  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** The probe's `(vec_id, cosine)` of each candidate, the one scoring
    * both probe paths share: `excludeId` and zero-norm candidates are
    * skipped, and a zero-norm query scores every other candidate 0.0. */
  private def scored(rows: Iterator[(Long, Array[Float])],
      queryVec: Array[Float],
      excludeId: Option[Long]): Iterator[(Long, Double)] = {
    val qq = dotF(queryVec, queryVec)
    rows.flatMap { case (id, e) =>
      val ee = dotF(e, e)
      if (excludeId.contains(id) ||
          SQLOrderingUtil.compareDoubles(ee, 0.0) <= 0) None
      else if (qq == 0.0) Some(id -> 0.0)
      else Some(id -> dotF(queryVec, e) / (math.sqrt(qq) * math.sqrt(ee)))
    }
  }

  /** The candidates in `cells` of build `e`: `vec_id` and `embedding` of
    * the rows with both, read from exactly those cells' leaf files with
    * the build's known schema, so the scan lists and infers nothing.
    * None when the cells hold no file. */
  private[graft] def probeCandidates(s: SparkSession,
      e: graft.plans.KnnIndexRegistry.Entry,
      cells: Seq[Int]): Option[DataFrame] = {
    val chosen = cells.flatMap(c => e.cells.getOrElse(c, Nil))
    if (chosen.isEmpty) None
    else {
      // the listing answers from the loaded build, so the file index
      // asks the filesystem nothing
      val scan = Tables.listedParquet(s,
        chosen.groupBy(_.getPath.getParent).map { case (d, fs) => d -> fs.toArray },
        e.schema)
      Some(scan.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select("vec_id", "embedding"))
    }
  }

  /** The `k` best candidates in `cells` of build `e`, in probe order,
    * read from their files in one Spark job: each partition keeps its
    * `k` best in a bounded heap, and the driver merges at most `k` ×
    * partitions rows. This is the probe of a build over the registry's
    * memory rule; `k` is positive. */
  private[graft] def probeFiles(s: SparkSession,
      e: graft.plans.KnnIndexRegistry.Entry, cells: Seq[Int],
      queryVec: Array[Float], k: Int,
      excludeId: Option[Long]): Array[(Long, Double)] = {
    import s.implicits._
    probeCandidates(s, e, cells).fold(Array.empty[(Long, Double)]) { df =>
      firstK(df.as[(Long, Array[Float])].mapPartitions { it =>
        firstK(scored(it, queryVec, excludeId), k).iterator
      }.collect().iterator, k)
    }
  }

  /** Every cell's candidates of build `e`, read in one Spark job: the
    * rows a resident build keeps. */
  private def residentRows(s: SparkSession,
      e: graft.plans.KnnIndexRegistry.Entry): graft.plans.KnnIndexRegistry.Rows = {
    import s.implicits._
    val CellFile = """.*/cell=(\d+)/[^/]*""".r
    probeCandidates(s, e, e.cells.keys.toSeq).fold(
        Map.empty: graft.plans.KnnIndexRegistry.Rows) {
      _.select(input_file_name(), col("vec_id"), col("embedding"))
        .as[(String, Long, Array[Float])].collect()
        .groupMap { case (CellFile(c), _, _) => c.toInt } {
          case (_, id, v) => (id, v) }
    }
  }

  /** Probe a built IVF index: rank the build's centroids against the
    * query on the driver, score only the `nprobe` best cells' vectors,
    * and return the `k` best `(vec_id, cosine)` rows, cosine descending
    * and vec_id ascending on ties. Pass `excludeId` to drop a known
    * self-match *before* the limit so all `k` result slots are real
    * neighbors.
    *
    * Cost: the index's seeds, cell files and schema are loaded once per
    * on-disk build and kept in its [[graft.plans.KnnIndexRegistry]]
    * entry; each probe checks them against one status call on the
    * manifest. A build within the driver's memory rule
    * ([[graft.ResidentMemory]]) has its rows read in one Spark job by its
    * first probe and kept on the driver; that probe and every later one
    * score the chosen cells' rows there and start no Spark job. A larger
    * build is probed from its chosen cells' files by one Spark job
    * ([[probeFiles]]). Either way the answer is a local frame, which runs
    * one SQL execution and no job when collected.
    *
    * The cosine is `dot_f`'s: double accumulation over the shorter
    * length, each norm over its own vector. Zero-norm vectors have no
    * direction: zero-norm candidates (and rows without an id or an
    * embedding) are skipped, and a zero-norm query scores every other
    * candidate 0.0, so it returns the `k` lowest ids of the probed
    * cells, which are cells 0 until `nprobe`. */
  def probeIvf(s: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int = 10, nprobe: Int = IvfNprobe,
      excludeId: Option[Long] = None): DataFrame = {
    val e = graft.plans.KnnIndexRegistry.probeEntry(s, indexDir)
      .getOrElse(throw new IllegalArgumentException(s"$indexDir is not an " +
        s"IVF index: it has no readable ${graft.plans.KnnIndexRegistry.ManifestName}"))
    val cells = topCells(queryVec, e.seeds, nprobe).toSeq
    val kept =
      if (k <= 0) Array.empty[(Long, Double)]
      else graft.plans.KnnIndexRegistry.resident(indexDir, e)(
          residentRows(s, e)) match {
        case Some(rows) =>
          firstK(scored(cells.iterator.flatMap(c =>
            rows.getOrElse(c, Array.empty[(Long, Array[Float])]).iterator),
            queryVec, excludeId), k)
        case None => probeFiles(s, e, cells, queryVec, k, excludeId)
      }
    s.createDataFrame(kept.map { case (id, c) => Row(id, c) }.toSeq.asJava,
      ProbeSchema)
  }

  /** The raw-seed IVF index of each corpus dir that the IVF oracle rows
    * probe: built once by [[buildIvfIndex]] with `lloydIters = 0`
    * (vec_id 1..nlist as centroids, so the DuckDB oracle re-derives the
    * quantizer bit-for-bit) under a [[graft.Scratch.held]] dir, and
    * reused by every later call — build once, probe many is the
    * serving shape. */
  private val stagedIndexes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def stagedIndex(s: SparkSession, dir: String): String =
    stagedIndexes.getOrElseUpdate(dir, {
      val p = graft.Scratch.held("graft_ivf_idx").resolve("ivf").toString
      buildIvfIndex(s, dir, p, lloydIters = 0)
      p
    })

  /** The query vectors of the IVF oracle rows: `(vec_id, embedding)`
    * of the vectors with id below `n`, by id. */
  private def queryVecs(s: SparkSession, dir: String,
      n: Int): Array[(Long, Array[Float])] = {
    import s.implicits._
    Tables.embeddings(s, dir).filter(col("vec_id") < n)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** The ids [[probeIvf]] returns for query `id` on the staged index of
    * `dir`, best first, the query itself excluded. */
  private def stagedProbe(s: SparkSession, dir: String, id: Long,
      qv: Array[Float], k: Int, nprobe: Int): Array[Long] =
    probeIvf(s, stagedIndex(s, dir), qv, k, nprobe, Some(id))
      .collect().map(_.getLong(0))

  /** IVF ANN, the oracle-checked entry: [[probeIvf]] of vector 0 on the
    * staged raw-seed index, self excluded, as `(rank, vec_id)`. An
    * empty corpus has no query and yields the typed empty frame. */
  def annIvf(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    queryVecs(s, dir, 1).toSeq
      .flatMap { case (id, qv) => stagedProbe(s, dir, id, qv, k, IvfNprobe) }
      .zipWithIndex.map { case (id, i) => (i + 1L, id) }
      .toDF("rank", "vec_id")
  }

  /** SURVEY §4 optional-Catalyst item 3, the ORACLE row: the user
    * writes the brute-force KNN plan — `ORDER BY cosine(q, embedding)
    * DESC LIMIT k` over the index table, no mention of cells — and
    * [[graft.plans.KnnIvfRewrite]] rewrites it onto the staged index
    * by injecting the coarse-quantizer partition filter at optimization
    * time. The index is [[annIvf]]'s raw-seed one, so the rewritten
    * plan's result equals the probe's and the row SHARES `emb_ann_ivf`'s
    * DuckDB oracle: a rewrite that fired on the wrong shape, pruned the
    * wrong cells, or failed to fire at all (falling back to exact KNN,
    * whose top-k differs from IVF's on this corpus) is a hash mismatch.
    * The plan itself is pinned in PlanAuditSpec (PartitionFilters:
    * cell IN (...), ≤ nprobe/nlist of partitions scanned).
    *
    * This is the declarative KNN the user writes against the index
    * table — no cell column anywhere; the rule injects the quantizer
    * prune. Split from the rank projection so the plan pin can audit the
    * scan stage. */
  private[graft] def knnRewriteScan(s: SparkSession, dir: String,
      k: Int = 10): Option[DataFrame] = {
    // empty corpus: no query vector, no index to build — the caller
    // emits the typed empty frame
    queryVecs(s, dir, 1).headOption.map { case (_, qv) =>
      graft.functions.VectorExprs.register(s)
      graft.plans.KnnIvfRewrite.register(s)
      // the query vector as a SQL literal: vec 0's embedding, each float
      // through a string cast (shortest-repr round-trip, so the folded
      // literal is bit-identical to the stored vector)
      val qSql =
        qv.map(v => s"CAST('$v' AS FLOAT)").mkString("array(", ",", ")")
      val cosSql = s"dot_f($qSql, embedding) / (sqrt(dot_f($qSql, $qSql))" +
        s" * sqrt(dot_f(embedding, embedding)))"
      s.read.parquet(stagedIndex(s, dir))
        .filter(col("vec_id") =!= 0)
        .withColumn("cosine", expr(cosSql))
        .orderBy(expr(cosSql).desc, col("vec_id"))
        .limit(k)
    }
  }

  def knnRewriteIvf(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    knnRewriteScan(s, dir, k).fold(Seq.empty[(Long, Long)].toDF("rank", "vec_id"))(
      _.withColumn("rank", row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id"))))
        .select(col("rank").cast("long").as("rank"), col("vec_id"))
        .orderBy("rank"))
  }

  /** Recall@k calibration of the IVF probe against exact KNN — the
    * number an ANN deployment actually tunes nprobe by: for each of the
    * first `nQueries` vectors, the [[probeIvf]] top-k on the staged
    * raw-seed index (probing the query's `nprobe` best cells, self
    * excluded) is intersected with the exact top-k over the ENTIRE
    * corpus (same self-exclusion). One row per query: overlap count and
    * recall in permille. Both rankings and the intersection are
    * integer/argmax arithmetic over the same left-to-right dot products
    * as the standalone rows, so the oracle re-derives the figure
    * bit-exactly — this is a COMPOSITION row over `emb_ann_ivf` and
    * `emb_knn_exact`'s machineries, pinning the seam (candidate domains,
    * self-exclusion, tie-breaks) between them.
    *
    * Scale: one probe per query; the exact side is the brute-force scan
    * the recall DEFINITION requires (run on a sample in production),
    * queries broadcast. The final intersection joins two
    * ≤ k·|queries|-row sets. */
  def ivfRecall(s: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, nprobe: Int = IvfNprobe): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ann = queryVecs(s, dir, nQueries).toSeq
      .flatMap { case (id, qv) =>
        stagedProbe(s, dir, id, qv, k, nprobe).map(id -> _) }
      .toDF("query_id", "vec_id")

    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val exact = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")

    val overlap = exact.join(ann, Seq("query_id", "vec_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
    queries.select("query_id")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr(s"coalesce(n_overlap, 0L) * 1000 div $k").as("recall_permille"))
      .orderBy("query_id")
  }

  /** Prefix width of [[mrlRecall]] — the truncated tier an MRL-style
    * deployment would serve candidates from (16 of 64 dims = 4×
    * cheaper scans and smaller indexes). */
  val MrlPrefixDims = 16

  /** Matryoshka-truncation recall calibration — the modern embedding
    * question next to the IVF/PQ rows: if retrieval runs on only the
    * FIRST [[MrlPrefixDims]] dimensions (MRL-trained models
    * front-load information; a deployment serves the cheap prefix tier
    * and re-ranks with full vectors), how much of the exact full-dim
    * top-k survives? Both sides are exact brute-force cosines — what's
    * calibrated is the TRUNCATION, not an index — so the DuckDB oracle
    * re-derives the entire row with list slicing and the same
    * ascending-dimension double accumulation. On the synthetic
    * fixture the prefix carries no privileged information, so this
    * measures the uncalibrated floor; spec pins that prefix = full
    * width recovers recall 1000 exactly. */
  def mrlRecall(s: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, prefixDims: Int = MrlPrefixDims): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    def topk(scored: DataFrame): DataFrame = scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")
    val pairs = e.select("vec_id", "embedding")
      .crossJoin(broadcast(queries))
    val full = topk(pairs.withColumn("cosine",
      cosineExpr("qv", "embedding")))
    val trunc = topk(pairs
      .withColumn("ta", expr(s"slice(embedding, 1, $prefixDims)"))
      .withColumn("tq", expr(s"slice(qv, 1, $prefixDims)"))
      .withColumn("cosine", cosineExpr("tq", "ta")))
    val overlap = full.join(trunc, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    queries.select("query_id")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr(s"coalesce(n_overlap, 0L) * 1000 div $k")
          .as("recall_permille"))
      .orderBy("query_id")
  }

  /** Shortlist size of [[bqRecall]]'s Hamming candidate stage. */
  val BqShortlist = 50

  /** Binary-quantization recall calibration — the 32× compression tier
    * modern vector stores ship under names like BQ/RaBitQ: one SIGN
    * BIT per dimension (64 dims → two 32-bit words), candidates by
    * Hamming distance (pure popcount — integer, branchless, SIMD-
    * friendly at scale), then an exact-cosine rerank of the top
    * [[BqShortlist]]. Hamming on sign bits approximates angular
    * distance (the 1-bit special case of the hyperplane-LSH bound), so
    * the shortlist catches most true neighbors and the rerank restores
    * exact order — recall@10 against exact full-precision top-10 is
    * the calibration the oracle hashes. Packing is a zero-shuffle
    * typed kernel; the DuckDB mirror re-packs via shift arithmetic and
    * bit_count, so quantization, popcount, and rerank all cross-check
    * bit-exactly. Spec pins that a corpus-wide shortlist recovers
    * recall 1000. */
  def bqRecall(s: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, shortlist: Int = BqShortlist): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val packed = e.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .map { case (id, emb) =>
        var w0 = 0L; var w1 = 0L
        var d = 0
        while (d < 32) { if (emb(d) >= 0) w0 |= 1L << d; d += 1 }
        while (d < 64) { if (emb(d) >= 0) w1 |= 1L << (d - 32); d += 1 }
        (id, w0, w1)
      }.toDF("vec_id", "w0", "w1")
      .localCheckpoint(true) // packed twice-scanned (queries + corpus)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val qPacked = packed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("w0").as("qw0"),
        col("w1").as("qw1"))
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("vec_id"))
    val cand = packed.crossJoin(broadcast(qPacked))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ham", expr(
        "bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1)"))
      .withColumn("hrank", row_number().over(wh))
      .filter(col("hrank") <= shortlist)
      .select("query_id", "vec_id")
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val ann = cand
      .join(e.select("vec_id", "embedding"), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")
    val exact = e.select("vec_id", "embedding")
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id")
    val overlap = exact.join(ann, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    queries.select("query_id")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr(s"coalesce(n_overlap, 0L) * 1000 div $k")
          .as("recall_permille"))
      .orderBy("query_id")
  }

  // ── Deterministic random-hyperplane LSH ───────────────────────────────
  // Hyperplane i, dimension d has sign +1 iff bit 13 of
  // ((i*37 + d*101) * 2654435761) is set — a pure integer hash both
  // engines compute identically; no RNG, no stored model.

  /** (vec_id, label, bucket0, bucket1): two 4-bit LSH band signatures
    * per vector. Per-vector typed kernel (zero shuffle) — the relational
    * form exploded 64 dims × 8 planes through two grouped shuffles for
    * the same arithmetic. Oracle note: the kernel sums dimensions in
    * ascending order, matching the SQL `GROUP BY (vec, plane)` sum over
    * `generate_subscripts` order. */
  def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select("vec_id", "label", "embedding")
      .as[(Long, Int, Array[Float])]
      .map { case (vecId, label, emb) =>
        var b0 = 0L
        var b1 = 0L
        var i = 0
        while (i < 8) {
          var proj = 0.0
          var d = 0
          while (d < emb.length) {
            val sign =
              if ((((i * 37 + d * 101).toLong * 2654435761L) >> 13) % 2 != 0) 1
              else -1
            proj += emb(d).toDouble * sign
            d += 1
          }
          if (proj > 0) {
            if (i < 4) b0 |= (1L << i) else b1 |= (1L << (i - 4))
          }
          i += 1
        }
        (vecId, label, b0, b1)
      }
      .toDF("vec_id", "label", "bucket0", "bucket1")
  }

  /** ANN top-k: candidates share an LSH band with the query (OR of two
    * bands — classic banding), then exact cosine rerank, top-5. */
  def annTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val b = lshBuckets(s, dir)
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val withVec = b.join(e, "vec_id").localCheckpoint(true) // reused 2×
    val queries = withVec.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("bucket0").as("qb0"),
        col("bucket1").as("qb1"), col("embedding").as("qv"))
    val corpus = withVec.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("bucket0"),
        col("bucket1"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // classic banding: one equi-join per band, unioned, deduped — keeps
    // the candidate generation hash-joinable (an OR condition would force
    // a nested-loop join)
    val cand0 = corpus.join(broadcast(queries), col("bucket0") === col("qb0"))
    val cand1 = corpus.join(broadcast(queries), col("bucket1") === col("qb1"))
    cand0.unionByName(cand1)
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosineExpr("qv", "cv"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Radius floor for [[rangeSearch]]. */
  val RangeMinCosine = 0.25

  /** Radius (range) search — the top-k-free retrieval mode ("find ALL
    * near matches", the dedup-audit / recall-sweep question): every
    * corpus vector with cosine ≥ [[RangeMinCosine]] to each query,
    * candidates from the same banded-LSH equi-joins as [[annTopK]]
    * (shuffle ∝ bucket sizes, never corpus²). The exact-cosine filter
    * runs BEFORE the pair dedup — band duplicates carry identical
    * cosine, so filtering first is order-safe and shrinks the
    * dropDuplicates exchange. Like every LSH method recall < 1 by
    * design; the oracle reproduces the same candidate rule, and the
    * reported cosine is floored to permille (bit-stable: both engines
    * accumulate the dot product in the same order over the same
    * float→double promotions). */
  def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val b = lshBuckets(s, dir)
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val withVec = b.join(e, "vec_id").localCheckpoint(true) // reused 2×
    val queries = withVec.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("bucket0").as("qb0"),
        col("bucket1").as("qb1"), col("embedding").as("qv"))
    val corpus = withVec.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("neighbor_id"), col("bucket0"),
        col("bucket1"), col("embedding").as("cv"))
    val cand0 = corpus.join(broadcast(queries), col("bucket0") === col("qb0"))
    val cand1 = corpus.join(broadcast(queries), col("bucket1") === col("qb1"))
    cand0.unionByName(cand1)
      .withColumn("cosine", cosineExpr("qv", "cv"))
      .filter(col("cosine") >= RangeMinCosine)
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        floor(col("cosine") * 1000).cast("long").as("cosine_permille"))
      .orderBy("query_id", "neighbor_id")
  }

  // ── Product quantization (PQ) ANN ─────────────────────────────────────
  // 64 dims → 8 subspaces × 8 dims; the per-subspace codebook is the
  // corresponding subvectors of the 16 IVF seed embeddings (vec_id
  // 1..16) — data-adaptive yet exactly SQL-reproducible, the same
  // trade the IVF quantizer makes. Encoding stores 8 bytes per vector
  // (64× smaller than the float vector); queries scan codes with an
  // ADC lookup table and exact-re-rank only a short ADC shortlist.
  // Every distance is composed ONLY of left-to-right dot products and
  // a fixed-association sum ((((t0+t1)+t2)+…)+t7), because DuckDB's
  // grouped sum() over doubles is order-unspecified and near-duplicate
  // vectors share codes (equal ADC values must stay exactly equal for
  // the vec_id tie-break to agree across engines).

  /** Number of PQ subspaces (64-dim vectors → 8 dims each). */
  val PqM = 8

  /** Squared L2 between `emb`'s and `seed`'s m-th subvectors, as
    * (Σa² − 2Σab) + Σb², each Σ accumulated in ascending-dimension
    * order — the exact expression the oracle writes with
    * list_dot_product over the same slices. */
  private[graft] def pqSubDist(emb: Array[Float], seed: Array[Float],
      m: Int, subDim: Int): Double = {
    var da = 0.0; var dab = 0.0; var db = 0.0
    var d = m * subDim
    val end = d + subDim
    while (d < end) {
      val a = emb(d).toDouble; val b = seed(d).toDouble
      da += a * a; dab += a * b; db += b * b
      d += 1
    }
    da - 2 * dab + db
  }

  /** PQ codes for one vector: per subspace, the argmin-distance
    * codebook entry (ties → lowest code, strict `<`). */
  private[graft] def pqEncode(emb: Array[Float],
      seeds: Array[Array[Float]]): Array[Int] = {
    val subDim = emb.length / PqM
    Array.tabulate(PqM) { m =>
      var best = 0
      var bestD = pqSubDist(emb, seeds(0), m, subDim)
      var c = 1
      while (c < seeds.length) {
        val dd = pqSubDist(emb, seeds(c), m, subDim)
        if (dd < bestD) { best = c; bestD = dd }
        c += 1
      }
      best
    }
  }

  /** PQ ANN for the query vector (vec_id 0): asymmetric-distance
    * shortlist of `shortlist` codes-only candidates, then exact cosine
    * re-rank to top `k` — the standard serving shape (Jégou et al.,
    * TPAMI'11). The scan side touches only the 8-byte codes plus one
    * 128-entry lookup table riding the closure; the float vectors are
    * fetched (join) for the shortlist alone. At 100 TB that is the
    * difference between scanning 8 B/vec and 256 B/vec. Zero fit, no
    * stored model; the DuckDB oracle reproduces codes, ADC values, and
    * both rankings bit-for-bit. */
  def annPq(s: SparkSession, dir: String, k: Int = 10,
      shortlist: Int = 50): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val e = Tables.embeddings(s, dir)
    val seeds = ivfSeeds(s, dir, 16)
    // absent query vector (empty corpus): empty top-k, not a crash
    val qRows = e.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].take(1)
    if (qRows.isEmpty)
      return s.emptyDataset[(Long, Long)].toDF("rank", "vec_id")
    val qEmb = qRows.head
    val subDim = qEmb.length / PqM
    // ADC lookup table: t(m)(c) = d²(q_m, seed_c,m) — 128 doubles of
    // driver math, no corpus pass
    val t = Array.tabulate(PqM, seeds.length)((m, c) =>
      pqSubDist(qEmb, seeds(c), m, subDim))
    val adc = e.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .map { case (id, emb) =>
        val codes = pqEncode(emb, seeds)
        var approx = 0.0
        var m = 0
        while (m < PqM) { approx += t(m)(codes(m)); m += 1 }
        (id, approx)
      }
      .toDF("vec_id", "adc")
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(shortlist)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    adc.join(e.select("vec_id", "embedding"), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cosine", cosineExpr("qv", "embedding"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id"))))
      .select(col("rank").cast("long").as("rank"), col("vec_id"))
      .orderBy("rank")
  }

  /** Scalar int8 quantization of the embedding column: per-vector
    * min/max affine map onto 0..255 codes — the standard 4× memory cut
    * that lets a 100 TB ANN index stay RAM-resident (one double range
    * per vector, one byte per dimension). Pure per-row codegen
    * arithmetic, zero shuffle; every op is a bit-deterministic IEEE
    * double chain ((x-min)*255/(max-min), then floor), so the DuckDB
    * oracle reproduces the codes exactly — no rounding policy needed.
    * Constant vectors (max == min) map to all-zero codes. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("vmin", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("vmax", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .select(
        col("vec_id"), col("vmin"), col("vmax"),
        expr(
          """array_join(transform(embedding, x ->
               CAST(CASE WHEN vmax = vmin THEN 0
                    ELSE least(floor((CAST(x AS DOUBLE) - vmin) * 255.0
                                     / (vmax - vmin)), 255.0)
                    END AS BIGINT)), ',')""").as("codes"))
      .orderBy("vec_id")
}
