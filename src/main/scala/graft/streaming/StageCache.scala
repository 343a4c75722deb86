package graft.streaming

/** Session-scoped staging cache, the one cache behind a bench-only
  * property: the streaming parity rows' INPUT corpora (round-13
  * verdict #7: 13 `stream_*` rows spent ~30% of the clean bench total,
  * much of it re-writing identical fixture parquet per invocation) and
  * the curation funnel's candidate sets ([[staged]]).
  *
  * Bench and TimeQuery point [[Prop]] at a [[graft.Scratch.held]] dir,
  * removed with the scratch root at JVM exit; each row then stages its
  * read-only files ONCE per (row, sf-dir) key and replays them on
  * every subsequent invocation — exactly the reuse a
  * pipeline owner gets from persisted stage outputs. Mutable surfaces
  * (output stores, checkpoints, staged MVs) are NEVER cached: every
  * run gets a fresh work dir, so results stay bit-identical to the
  * uncached path. Verify leaves the prop unset and keeps today's
  * build-per-run behavior — the oracle rows don't depend on the cache.
  *
  * A build is valid only once its `_STAGED` marker lands (written
  * after the build completes); a crashed half-build is wiped and
  * rebuilt rather than consumed. */
object StageCache {
  val Prop = "graft.stream.cache"

  /** Sanitized cache-key fragment for a testdata dir, INCLUDING a
    * corpus fingerprint (round-14 verdict #5): the path alone would
    * replay stale fixtures if the corpus at that path were regenerated
    * within one bench process. The fingerprint folds every FILE's
    * (root-relative path, length, mtime) with full directory recursion
    * — so a file rewritten anywhere in a nested layout (e.g. a
    * partitioned table's leaf) changes the key and forces a rebuild;
    * hashing only leaf names or capping the depth would let a
    * regenerated nested corpus keep its stale key. A handful of stat
    * calls per invocation; no file contents are read. */
  def dirKey(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]+", "_") + "_" +
      java.lang.Long.toHexString(fingerprint(new java.io.File(dir)))

  private[graft] def fingerprint(root: java.io.File): Long = {
    def entries(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
          .flatMap(entries)
      else Seq(f)
    val rootPath = root.toPath.toAbsolutePath
    entries(root).foldLeft(1125899906842597L) { (h, f) =>
      val rel =
        try rootPath.relativize(f.toPath.toAbsolutePath).toString
        catch { case _: IllegalArgumentException => f.getPath }
      val s = s"$rel:${f.length}:${f.lastModified}"
      s.foldLeft(h * 31 + 17)((a, c) => a * 31 + c)
    }
  }

  /** For fixtures the run MUTATES in place (a purge sweep's surfaces,
    * a merge-on-read store): stage the pristine tree once under the
    * cache, then COPY it into the per-run work dir — a sub-second file
    * copy (the staged surfaces are fixture-sized) replacing seconds of
    * Spark fixture-build jobs per invocation. mtimes are preserved so
    * staged replay order survives the copy. Uncached (Verify), builds
    * directly into `into` — today's behavior, no extra IO. */
  def materialize(key: String, into: java.nio.file.Path)(
      build: java.nio.file.Path => Unit): Unit =
    sys.props.get(Prop) match {
      case Some(root) => copyTree(cached(root, key)(build), into)
      case None => build(into)
    }

  /** For read-only stage OUTPUTS a report can consume in place of a
    * recompute (the curation funnel's candidate sets, the bucketed
    * archive fixtures): the dir staged under `key`, built once, when
    * the cache is set; None otherwise, and the caller recomputes. */
  def staged(key: String)(
      build: java.nio.file.Path => Unit): Option[java.nio.file.Path] =
    sys.props.get(Prop).map(cached(_, key)(build))

  private def copyTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val rel = src.relativize(p)
      if (rel.toString != "_STAGED") {
        val target = dst.resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else {
          Files.createDirectories(target.getParent)
          Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.COPY_ATTRIBUTES)
        }
      }
    } finally walk.close()
  }

  // Per-key build locks: two threads sharing a key must not race the
  // marker check-then-wipe-then-build — one's delete could destroy
  // the other's half-built tree and the marker would then bless a
  // corrupt cache (r14 ADVICE). Bench runs rows serially today, but
  // nothing enforced that contract until this lock did.
  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `use` over the staging dir for `key`: under the cache root
    * when the prop is set (built at most once; concurrent callers of
    * the same key serialize on a per-key lock), else a fresh
    * [[graft.Scratch]] dir built for this call and deleted when `use`
    * returns or throws. */
  def resolve[T](key: String)(build: java.nio.file.Path => Unit)(
      use: java.nio.file.Path => T): T =
    sys.props.get(Prop) match {
      case Some(root) => use(cached(root, key)(build))
      case None =>
        graft.Scratch.within("graftstage") { dir => build(dir); use(dir) }
    }

  private def cached(root: String, key: String)(
      build: java.nio.file.Path => Unit): java.nio.file.Path =
    keyLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val dir = java.nio.file.Paths.get(root, key)
      val marker = dir.resolve("_STAGED")
      if (!java.nio.file.Files.exists(marker)) {
        graft.Scratch.delete(dir)
        java.nio.file.Files.createDirectories(dir)
        build(dir)
        java.nio.file.Files.writeString(marker, "ok")
      }
      dir
    }
}
