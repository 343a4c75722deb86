package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}

import graft.functions.DotProductF

/** ANN index registry: an IVF index is registered by the manifest its
  * build writes into the index directory ([[writeManifest]]), and by
  * nothing else. KNN queries over a registered path are answered
  * through the index, approximately by declaration, with `nprobe` the
  * declared recall/cost dial: [[graft.operators.Similarity.probeIvf]]
  * probes it, and [[KnnIvfRewrite]] rewrites `ORDER BY cosine DESC
  * LIMIT k` against it. Both load the index through [[probeEntry]]; the
  * in-memory maps only cache loaded builds and, for the probe, the rows
  * of the builds within [[MaxResidentBytes]]. A path without a readable
  * manifest is not an index, so ordinary sorts are untouched, and its
  * cached build is dropped.
  */
object KnnIndexRegistry {
  /** One on-disk build as a probe reads it: the quantizer (the nlist
    * seed centroids and the probe width), each cell's leaf data files
    * and their schema, loaded when the manifest had `fingerprint`
    * (modification time, length). A probe of a build that fits
    * [[MaxResidentBytes]] also keeps the build's rows on the driver
    * ([[resident]]) and reads no file after its first probe. */
  final case class Entry(seeds: Array[Array[Float]], nprobe: Int,
      fingerprint: (Long, Long), cells: Map[Int, Seq[FileStatus]],
      schema: StructType) {
    /** The build's data-file bytes: what the memory rule counts. */
    val bytes: Long = cells.valuesIterator.flatten.map(_.getLen).sum
  }

  /** A resident build's live rows, `(vec_id, embedding)` by cell. */
  type Rows = Map[Int, Array[(Long, Array[Float])]]

  /** The memory rule: the data-file bytes of every resident build,
    * summed, stay at or below 1/16 of the driver's max heap. Floats in
    * parquet barely compress, so a build's file bytes are about the
    * size of its decoded rows: 64 floats are 256 bytes in the file and
    * a 272-byte array plus about 40 bytes of id and tuple on the heap.
    * The rule thus keeps the resident rows under 1/12 of the heap,
    * which leaves the driver's other work its room. (A build whose
    * vectors repeat can compress far below its decoded size; the rule
    * does not guard against that.) A build over the rule, and any build
    * at 100 TB, is probed from its files by a Spark job. */
  val MaxResidentBytes: Long = Runtime.getRuntime.maxMemory / 16

  /** Manifest file written INSIDE the index directory. The underscore
    * prefix makes Spark's file index treat it as metadata (like
    * `_SUCCESS`), so it never pollutes the parquet scan — and because
    * it travels WITH the index, any session or JVM that scans the path
    * recovers the quantizer from disk. */
  val ManifestName = "_graft_knn_manifest"

  private val entries = TrieMap.empty[String, Entry]

  /** The resident rows by canonical path, with the build they were
    * read from. */
  private val residents = TrieMap.empty[String, (Entry, Rows)]

  /** Canonical cache key: local paths (no scheme, or `file:`)
    * normalize to the bare absolute path so `/x` matches a scan of
    * `file:/x`; any other filesystem keeps its full scheme+authority
    * URI — at cluster scale `hdfs://nn/x` and a local `/x` are
    * different indexes and must not collide. */
  private def canon(p: String): String = {
    val hp = new Path(p)
    val u = hp.toUri
    if (u.getScheme == null || u.getScheme == "file")
      new java.io.File(u.getPath).getAbsolutePath.stripSuffix("/")
    else hp.toString.stripSuffix("/")
  }

  def clear(): Unit = { entries.clear(); residents.clear() }

  /** Whether the registry holds a loaded build or resident rows of the
    * index at `indexDir`. */
  private[graft] def holds(indexDir: String): Boolean = {
    val key = canon(indexDir)
    entries.contains(key) || residents.contains(key)
  }

  private def seedsToB64(seeds: Array[Array[Float]]): String = {
    val dim = if (seeds.isEmpty) 0 else seeds(0).length
    val bb = java.nio.ByteBuffer.allocate(4 * seeds.length * dim)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    seeds.foreach(_.foreach(bb.putFloat))
    java.util.Base64.getEncoder.encodeToString(bb.array)
  }

  private def seedsFromB64(b64: String, dim: Int): Array[Array[Float]] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / (4 * math.max(dim, 1)))(
      Array.fill(dim)(bb.getFloat))
  }

  /** Register the index at `indexPath`: write its `kind=ivf` manifest.
    * Seeds are serialized as base64 of their IEEE-754 bytes — the
    * round-trip is bit-exact, so a recovered quantizer ranks cells
    * identically to the session that built the index. */
  def writeManifest(indexPath: String, seeds: Array[Array[Float]],
      nprobe: Int): Unit = {
    val dim = if (seeds.isEmpty) 0 else seeds(0).length
    val body =
      s"""graft-knn-manifest v1
         |kind=ivf
         |nprobe=$nprobe
         |dim=$dim
         |seeds=${seedsToB64(seeds)}
         |""".stripMargin
    val p = new Path(indexPath, ManifestName)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** (seeds, nprobe) of the manifest at `p`; malformed, unreadable or a
    * kind other than `ivf` → None. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[(Array[Array[Float]], Int)] =
    try {
      val in = fs.open(p)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.linesIterator.toSeq
      val kv = lines.drop(1).flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
      if (!lines.headOption.exists(_.startsWith("graft-knn-manifest")) ||
          kv.get("kind").exists(_ != "ivf")) None
      else for {
        nprobe <- kv.get("nprobe").map(_.toInt)
        dim <- kv.get("dim").map(_.toInt)
        b64 <- kv.get("seeds")
      } yield (seedsFromB64(b64, dim), nprobe)
    } catch { case _: Exception => None }

  private val CellDir = """cell=(\d+)""".r

  /** The loaded build of the index at `indexDir`; None when the path
    * has no manifest or a malformed one (a probe then fails, and the
    * rewrite stands down so the exact scan runs — degraded performance,
    * never a wrong answer), and then the path's loaded build and its
    * resident rows are dropped. A build is loaded once: its seeds from
    * the manifest, each cell's leaf files from one listing, the schema
    * from one footer. Every call compares the manifest's fingerprint,
    * one status call through the session's Hadoop conf, with the loaded
    * one, so a rebuild or a new manifest at the same path by any writer
    * is reloaded, and the old build's resident rows are dropped. (A
    * rebuild rewrites the manifest after its data, far later than the
    * filesystem's modification-time resolution.) */
  private[graft] def probeEntry(s: SparkSession,
      indexDir: String): Option[Entry] = {
    val dir = new Path(indexDir)
    val manifest = new Path(dir, ManifestName)
    val fs = manifest.getFileSystem(s.sessionState.newHadoopConf())
    val st =
      try Some(fs.getFileStatus(manifest))
      catch { case _: java.io.FileNotFoundException => None }
    val key = canon(indexDir)
    val loaded = st.flatMap { st =>
      val fingerprint = (st.getModificationTime, st.getLen)
      entries.get(key).filter(_.fingerprint == fingerprint).orElse {
        readManifest(fs, manifest).map { case (seeds, nprobe) =>
          val cells = fs.listStatus(dir).toSeq.flatMap { d =>
            d.getPath.getName match {
              case CellDir(c) if d.isDirectory =>
                Some(c.toInt -> fs.listStatus(d.getPath).toSeq
                  .filter(graft.Tables.isDataFile))
              case _ => None
            }
          }.toMap
          val schema = graft.Tables
            .footerSchema(s, cells.values.flatten.toSeq)
            .getOrElse(new StructType())
          val e = Entry(seeds, nprobe, fingerprint, cells, schema)
          entries(key) = e
          residents.remove(key)
          e
        }
      }
    }
    if (loaded.isEmpty) { entries.remove(key); residents.remove(key) }
    loaded
  }

  /** The rows of build `e` of the index at `indexDir`, held on the
    * driver: read by `load` on the first call for this build, when the
    * build fits [[MaxResidentBytes]] beside every other resident build,
    * and kept until [[probeEntry]] drops them. None when the build does
    * not fit; the caller then reads the build's files. */
  private[graft] def resident(indexDir: String, e: Entry)(
      load: => Rows): Option[Rows] = {
    val key = canon(indexDir)
    def held = residents.get(key).collect {
      case (r, rows) if r.fingerprint == e.fingerprint => rows }
    held.orElse(synchronized {
      held.orElse {
        val others = residents.iterator
          .collect { case (k, (r, _)) if k != key => r.bytes }.sum
        if (others + e.bytes > MaxResidentBytes) None
        else {
          val rows = load
          residents(key) = (e, rows)
          Some(rows)
        }
      }
    })
  }
}

/** SURVEY §4 optional-Catalyst item 3: a `Rule[LogicalPlan]` that
  * rewrites a brute-force KNN plan —
  *
  *   GlobalLimit(k, LocalLimit(k, Sort(cosine(q, embedding) DESC, scan)))
  *
  * — onto a registered IVF index by injecting the coarse-quantizer
  * partition filter `cell IN (topCells(q))` above the index scan. The
  * user writes the DECLARATIVE query (order by cosine distance, limit
  * k) with no mention of cells; the rule recognizes the top-k-by-cosine
  * shape, extracts the (constant-folded) query vector literal from the
  * sort key's `dot_f(queryLit, embedding)` term, ranks the registry's
  * centroids against it ON THE DRIVER at optimization time (nlist dot
  * products — pure metadata math, the same `topCells` arithmetic
  * [[graft.operators.Similarity.probeIvf]] uses), and narrows the scan to the `nprobe`
  * best cells. FileSourceStrategy then turns the injected predicate
  * into PartitionFilters: candidate IO drops to ~nprobe/nlist of the
  * corpus, which is the entire point of IVF at 100 TB.
  *
  * Safety rails: fires only under a Limit (pruning an UNLIMITED sort
  * would change its full result set, top-k is the approximable shape),
  * only for single-root scans with an IVF manifest (the manifest IS
  * the user's opt-in to approximate answers), only when
  * the first sort key is a Descending expression whose `dot_f` pairs a
  * foldable float-array literal with the scanned relation's own
  * embedding column, and never twice (rewritten relations are tagged —
  * the rule lives in a fixed-point batch).
  */
object KnnIvfRewrite extends Rule[LogicalPlan] {

  private val RewrittenTag = TreeNodeTag[Boolean]("graft.knn.ivfRewritten")

  /** Top-k only: a huge k defeats the index (and the driver-side merge
    * a TakeOrderedAndProject does); beyond this the rule stands down
    * and the exact sort runs. */
  val MaxK = 10000

  /** Install into the session's experimental optimizer rules
    * (idempotent) — same mechanism as [[AsOf.register]]; sessions built
    * with `spark.sql.extensions=graft.GraftExtensions` get it from the
    * extension point instead. */
  def register(s: SparkSession): Unit =
    if (!s.experimental.extraOptimizations.contains(KnnIvfRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ KnnIvfRewrite

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case ll @ LocalLimit(IntegerLiteral(k), body) if k <= MaxK =>
      val nb = rewriteBelowLimit(body)
      if (nb.eq(body)) ll else ll.copy(child = nb)
  }

  /** The top-k Sort sits under the LocalLimit with only Projects in
    * between (the optimizer interposes one when a window or projection
    * above re-computes the sort key). Anything else — a join, another
    * limit — ends the walk: a Sort deeper in the tree is not bounded by
    * THIS limit and pruning it would change an exact result. */
  private def rewriteBelowLimit(p: LogicalPlan): LogicalPlan = p match {
    case proj: Project =>
      val nc = rewriteBelowLimit(proj.child)
      if (nc.eq(proj.child)) proj else proj.copy(child = nc)
    case srt @ Sort(order, true, child, _) =>
      rewrite(order, child) match {
        case Some(c2) => srt.copy(child = c2)
        case None => srt
      }
    case other => other
  }

  /** Extract the query vector from the first sort key: Descending, and
    * somewhere in the expression a `dot_f` pairing a foldable
    * float-array with an attribute — the cosine numerator. (The norm
    * terms fold away or pair the attribute with itself, so they can't
    * match.) */
  private def queryVector(order: Seq[SortOrder],
      embedding: AttributeSet): Option[Array[Float]] =
    order.headOption.filter(_.direction == Descending).flatMap { so =>
      so.child.collectFirst {
        case DotProductF(l, r: AttributeReference)
            if isFloatArrayLit(l) && embedding.contains(r) =>
          toFloats(l)
        case DotProductF(l: AttributeReference, r)
            if isFloatArrayLit(r) && embedding.contains(l) =>
          toFloats(r)
      }
    }

  private def isFloatArrayLit(e: Expression): Boolean =
    e.foldable && (e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  private def toFloats(e: Expression): Array[Float] =
    e.eval(null).asInstanceOf[ArrayData].toFloatArray()

  /** The ranked relation, reached ONLY through row-preserving nodes
    * (Project/Filter): dropping candidate rows of the relation being
    * ranked is what the approximate contract licenses — pruning a scan
    * buried under a join or aggregate would instead distort
    * intermediate values feeding the sort, which top-k does not
    * legitimize. */
  private def findRelation(p: LogicalPlan): Option[LogicalRelation] =
    p match {
      case proj: Project => findRelation(proj.child)
      case f: Filter => findRelation(f.child)
      case rel: LogicalRelation => Some(rel)
      case _ => None
    }

  private def rewrite(order: Seq[SortOrder],
      child: LogicalPlan): Option[LogicalPlan] = {
    // the index relation: single-root file scan of a registered path,
    // exposing the quantizer's `cell` partition column, not yet rewritten
    val target = findRelation(child).flatMap {
      case rel @ LogicalRelation(fs: HadoopFsRelation, out, _, _, _)
          if rel.getTagValue(RewrittenTag).isEmpty &&
            out.exists(_.name == "cell") &&
            fs.location.rootPaths.size == 1 =>
        KnnIndexRegistry.probeEntry(fs.sparkSession,
          fs.location.rootPaths.head.toString).map(rel -> _)
      case _ => None
    }
    target.flatMap { case (rel, entry) =>
      val embedding =
        AttributeSet(rel.output.filter(_.name == "embedding"))
      queryVector(order, embedding).map { qv =>
        val cells = graft.operators.Similarity
          .topCells(qv, entry.seeds, entry.nprobe)
        val cellAttr = rel.output.find(_.name == "cell").get
        // literal type tracks the partition column's inferred type (a
        // type-mismatched In would be an invalid post-analysis plan)
        val lits = cells.toIndexedSeq.map { c =>
          cellAttr.dataType match {
            case org.apache.spark.sql.types.LongType => Literal(c.toLong)
            case _ => Literal(c)
          }
        }
        val tagged = rel.copy()
        tagged.setTagValue(RewrittenTag, true)
        val pruned = Filter(In(cellAttr, lits), tagged)
        child.transform { case r: LogicalRelation if r.eq(rel) => pruned }
      }
    }
  }
}
