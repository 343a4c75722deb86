package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}

import graft.functions.DotProductF

/** ANN index registry: declaring an IVF index for a path opts KNN
  * queries over that path into index-accelerated (approximate) answers.
  *
  * This is the contract every vector store ships: the user REGISTERS an
  * index over a corpus, and from then on `ORDER BY cosine DESC LIMIT k`
  * against it is answered through the index — approximate by
  * declaration, with `nprobe` the declared recall/cost dial. The
  * registry holds only index METADATA (the nlist seed centroids and the
  * probe width, a few KB); the rewrite never fires for unregistered
  * paths, so ordinary sorts are untouched.
  */
object KnnIndexRegistry {
  /** An index's quantizer, plus what a probe reads of one on-disk build
    * once a probe has loaded it ([[probeEntry]]). */
  final case class Entry(seeds: Array[Array[Float]], nprobe: Int,
      files: Option[ProbeFiles] = None)

  /** One on-disk build as a probe reads it: each cell's leaf data files
    * and their schema, loaded when the manifest had `fingerprint`
    * (modification time, length). */
  final case class ProbeFiles(fingerprint: (Long, Long),
      cells: Map[Int, Seq[FileStatus]], schema: StructType)

  /** Manifest file written INSIDE the index directory. The underscore
    * prefix makes Spark's file index treat it as metadata (like
    * `_SUCCESS`), so it never pollutes the parquet scan — and because
    * it travels WITH the index, any session that scans the path can
    * recover the quantizer without out-of-band registration. This is
    * what makes the registry durable: the in-memory map is just a
    * cache over the on-disk manifests. */
  val ManifestName = "_graft_knn_manifest"

  private val entries = TrieMap.empty[String, Entry]
  /** Paths probed on disk and found manifest-less — cached so ordinary
    * sorts over non-index tables pay the filesystem round-trip at most
    * once per path per process. Invalidated by [[register]]/[[clear]]. */
  private val misses = TrieMap.empty[String, Unit]

  /** Canonical registry key: local paths (no scheme, or `file:`)
    * normalize to the bare absolute path so `register("/x")` matches a
    * scan of `file:/x`; any other filesystem keeps its full
    * scheme+authority URI — at cluster scale `hdfs://nn/x` and a local
    * `/x` are different indexes and must not collide. */
  private def canon(p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val u = hp.toUri
    if (u.getScheme == null || u.getScheme == "file")
      new java.io.File(u.getPath).getAbsolutePath.stripSuffix("/")
    else hp.toString.stripSuffix("/")
  }

  def register(indexPath: String, seeds: Array[Array[Float]],
      nprobe: Int): Unit = {
    val k = canon(indexPath)
    misses.remove(k)
    entries(k) = Entry(seeds, nprobe)
  }

  /** Register AND persist: writes the manifest beside the index data so
    * a brand-new session (or JVM) recovers the entry on first lookup.
    * Seeds are serialized as base64 of their IEEE-754 bytes — the
    * round-trip is bit-exact, so a recovered quantizer ranks cells
    * identically to the session that built the index. */
  def registerPersistent(indexPath: String, seeds: Array[Array[Float]],
      nprobe: Int): Unit = {
    writeManifest(indexPath, seeds, nprobe)
    register(indexPath, seeds, nprobe)
  }

  def clear(): Unit = { entries.clear(); misses.clear() }

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

  /** The IVF index manifest (`kind=ivf`): the loaders read it back,
    * and the reader rejects any other `kind` for the KNN→IVF optimizer
    * rewrite (a table without a raw `embedding` column cannot be pruned
    * under a cosine sort). */
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
    val p = new org.apache.hadoop.fs.Path(indexPath, ManifestName)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Probe `<dir>/_graft_knn_manifest` on the index's own filesystem;
    * malformed, absent, or a non-`ivf` kind → None for the REWRITE
    * path (the rewrite stands down, exact scan runs — degraded
    * performance, never a wrong answer). */
  private[plans] def loadManifest(dir: org.apache.hadoop.fs.Path)
      : Option[Entry] =
    readManifestAt(dir, new org.apache.hadoop.conf.Configuration()).collect {
      case ("ivf", seeds, nprobe) => Entry(seeds, nprobe)
    }

  /** (kind, seeds, nprobe) of the manifest in `dir`; malformed or
    * absent → None. */
  private def readManifestAt(dir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(String, Array[Array[Float]], Int)] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, ManifestName)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          new String(buf.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      val lines = text.linesIterator.toSeq
      if (!lines.headOption.exists(_.startsWith("graft-knn-manifest")))
        return None
      val kv = lines.tail.flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
      for {
        nprobe <- kv.get("nprobe").map(_.toInt)
        dim <- kv.get("dim").map(_.toInt)
        b64 <- kv.get("seeds")
      } yield (kv.getOrElse("kind", "ivf"), seedsFromB64(b64, dim), nprobe)
    } catch { case _: Exception => None }

  private val CellDir = """cell=(\d+)""".r

  /** The entry of the index at `indexDir` with its [[ProbeFiles]]. A
    * build is loaded once: its seeds from the manifest, each cell's leaf
    * files from one listing, the schema from one footer. Every call
    * compares the manifest's fingerprint, one status call through the
    * session's Hadoop conf, with the loaded one, so a rebuild at the
    * same path by any writer is reloaded. (A rebuild rewrites the
    * manifest after its data, far later than the filesystem's
    * modification-time resolution.) */
  private[graft] def probeEntry(s: SparkSession, indexDir: String): Entry = {
    val conf = s.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val manifest = new org.apache.hadoop.fs.Path(dir, ManifestName)
    val fs = manifest.getFileSystem(conf)
    val st =
      try fs.getFileStatus(manifest)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"$indexDir is not an IVF index: it has no $ManifestName") }
    val fingerprint = (st.getModificationTime, st.getLen)
    val key = canon(indexDir)
    entries.get(key) match {
      case Some(e) if e.files.exists(_.fingerprint == fingerprint) => e
      case _ =>
        val (_, seeds, nprobe) = readManifestAt(dir, conf).getOrElse(
          throw new IllegalArgumentException(s"$indexDir: malformed $ManifestName"))
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
        val e = Entry(seeds, nprobe,
          Some(ProbeFiles(fingerprint, cells, schema)))
        entries(key) = e
        e
    }
  }

  private[plans] def lookup(
      rootPaths: Seq[org.apache.hadoop.fs.Path]): Option[Entry] =
    rootPaths match {
      case Seq(p) =>
        val key = canon(p.toString)
        entries.get(key).orElse {
          if (misses.contains(key)) None
          else loadManifest(p) match {
            case some @ Some(e) => entries(key) = e; some
            case None => misses(key) = (); None
          }
        }
      case _ => None
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
  * products — pure metadata math, the same `topCells` arithmetic the
  * explicit `annIvf` path uses), and narrows the scan to the `nprobe`
  * best cells. FileSourceStrategy then turns the injected predicate
  * into PartitionFilters: candidate IO drops to ~nprobe/nlist of the
  * corpus, which is the entire point of IVF at 100 TB.
  *
  * Safety rails: fires only under a Limit (pruning an UNLIMITED sort
  * would change its full result set, top-k is the approximable shape),
  * only for single-root scans registered in [[KnnIndexRegistry]] (the
  * registration IS the user's opt-in to approximate answers), only when
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
    e.eval(null).asInstanceOf[ArrayData].toFloatArray

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
    val target = findRelation(child).collect {
      case rel @ LogicalRelation(fs: HadoopFsRelation, out, _, _, _)
          if rel.getTagValue(RewrittenTag).isEmpty &&
            out.exists(_.name == "cell") &&
            KnnIndexRegistry.lookup(fs.location.rootPaths).isDefined =>
        (rel, KnnIndexRegistry.lookup(fs.location.rootPaths).get)
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
