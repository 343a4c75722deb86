package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Sync

/** Pure semantics of the GitHub code source's incremental layer
  * (reference doc2vec.ts:1347-1464): the SHA watermark key, the
  * `git diff --name-status` parser that drives the allowed/deleted
  * sets, and code file-URL construction. The git shell-outs themselves
  * stay driver-side by design (SURVEY §2.1); everything DETERMINISTIC
  * about them lives here, testable and reusable by a Spark job that
  * consumes staged diff output — `parseNameStatus(...).changed` feeds
  * [[LocalDirectory.restrictToAllowed]], `deleted` maps through
  * [[codeFileUrl]] into the per-URL delete set. */
object GitCode {

  /** `code_last_sha_<repo>_<branch>` with runs of non-alphanumerics
    * collapsed to single underscores (doc2vec.ts:1347-1351) — the KV
    * watermark key the HEAD-SHA comparison reads and writes. */
  def shaMetadataKey(repo: String, branch: String): String = {
    def norm(s: String) = s.replaceAll("[^a-zA-Z0-9]+", "_")
    s"code_last_sha_${norm(repo)}_${norm(branch)}"
  }

  /** Parsed `--name-status` diff: `changed` are absolute paths under
    * the repo (the allowedFiles semi-join side), `deleted` are
    * repo-relative paths in diff order (the per-URL purge side). */
  final case class DiffSets(changed: Set[String], deleted: Seq[String])

  /** Parse `git diff --name-status <sha>..HEAD` output
    * (doc2vec.ts:1413-1435): `A`/`M` → changed, `D` → deleted,
    * `R<score> old new` → deleted(old) + changed(new) — a rename purges
    * the old URL's chunks and re-ingests under the new one. Blank
    * lines are skipped; fields are tab-separated. */
  def parseNameStatus(diffOutput: String, repoPath: String): DiffSets = {
    val changed = scala.collection.mutable.LinkedHashSet.empty[String]
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def abs(rel: String): String =
      new java.io.File(repoPath, rel).getPath
    for (line <- Option(diffOutput).getOrElse("").split("\n", -1)) {
      val t = line.trim
      if (t.nonEmpty) {
        val parts = t.split("\t")
        val status = parts(0)
        if (status.startsWith("R")) {
          if (parts.length > 1 && parts(1).nonEmpty) deleted += parts(1)
          if (parts.length > 2 && parts(2).nonEmpty) changed += abs(parts(2))
        } else if (status == "D") {
          if (parts.length > 1 && parts(1).nonEmpty) deleted += parts(1)
        } else if (status == "A" || status == "M") {
          if (parts.length > 1 && parts(1).nonEmpty) changed += abs(parts(1))
        }
      }
    }
    DiffSets(changed.toSet, deleted.toSeq)
  }

  /** Code file URL (doc2vec.ts:1439-1464). Priority: `repoUrlPrefix`
    * (GitHub blob URL — applied unconditionally), then
    * `urlRewritePrefix` (trailing slash trimmed; files OUTSIDE the base
    * path fall back to `file://`), else `file://`. Relative paths use
    * forward slashes. */
  def codeFileUrl(filePath: String, basePath: String,
      urlRewritePrefix: Option[String] = None,
      repoUrlPrefix: Option[String] = None): String = {
    val rel = java.nio.file.Paths.get(basePath)
      .relativize(java.nio.file.Paths.get(filePath))
      .toString.replace('\\', '/')
    repoUrlPrefix match {
      case Some(p) => s"$p/$rel"
      case None => urlRewritePrefix match {
        case Some(p) if !rel.startsWith("..") =>
          val trimmed = if (p.endsWith("/")) p.dropRight(1) else p
          s"$trimmed/$rel"
        case _ => s"file://$filePath"
      }
    }
  }

  /** One complete GitHub code-source sync run — the reference's
    * processCodeSource composition (doc2vec.ts:1120-1345), every seam
    * through the REAL kernels:
    *
    *   1. read the stored SHA watermark ([[shaMetadataKey]] in the
    *      SyncState KV log, doc2vec.ts:1179-1181);
    *   2. decide the mode (doc2vec.ts:1183-1199): no stored SHA →
    *      FULL scan; stored == HEAD → incremental with an EMPTY
    *      allowed set (process nothing — distinct from `None`, which
    *      means process everything); stored ≠ HEAD with diff output →
    *      [[parseNameStatus]]: A/M/R-new feed the allowed set, D and
    *      R-old map through [[codeFileUrl]] into per-URL deletes;
    *      stored ≠ HEAD with NO diff output (unreachable SHA after the
    *      fetch-deepening ladder, doc2vec.ts:1395-1409) → FULL scan
    *      fallback;
    *   3. restrict the scan to the allowed set
    *      ([[LocalDirectory.restrictToAllowed]], the semi-join gate);
    *   4. chunk the processed files and embed them through
    *      [[Sync.embedDelta]], the embed stage `Sync.syncRun` uses:
    *      chunks whose chunk_id is already stored reuse their
    *      embedding, only genuinely new content reaches the embedder
    *      (doc2vec.ts:515-553), and a RENAME re-embeds (the chunk
    *      identity is url-scoped), exactly as the reference's point
    *      ids do;
    *   5. store update, one commit
    *      ([[ChunkStore.commit]]): incremental runs upsert the processed
    *      files and retract the stored rows of them and of the diff's
    *      delete URLs, while FULL runs replace the store with the
    *      chunked scan, purging every stored url it did not chunk
    *      (removeObsoleteFiles, doc2vec.ts:1305-1316). Both purge a
    *      processed file that chunks to nothing (a file edited to
    *      empty), as `Sync.syncRun`'s cleanup does; it counts in
    *      `urls_deleted`;
    *   6. advance the SHA watermark to HEAD (doc2vec.ts:1320-1325).
    *
    * `tree` is the worktree scan at HEAD as (path relative to
    * `repoPath`, text) — the clone/diff shell-outs stay driver-side by
    * design (SURVEY §7.4); `diffOutput` is their staged name-status
    * stdout (None = diff unavailable). Returns one counters row:
    * run_id, mode, files_processed, chunks_embedded, urls_deleted,
    * store_version.
    *
    * Scale: the allowed-set gate is a url-keyed semi-join, and the
    * processed files come to the driver as (url, chunk count) pairs;
    * an incremental run's reuse, retraction and commit follow the DIFF
    * (changed files + their chunks), never the repo — the reference's
    * cost model. Nothing is materialized between the file list and the
    * commit, which chunks the processed files again and counts the
    * embedded chunks as it writes: an incremental run costs six Spark
    * jobs (the file list and the stale-url list, and the commit write's
    * three, two of them broadcasts). The watermark is read and written
    * on the driver. A FULL run lists the stored urls to count its
    * purge. */
  def codeRun(s: SparkSession, tree: DataFrame, storeRoot: String,
      statePath: String, runId: Long, headSha: String,
      diffOutput: Option[String], repoPath: String,
      urlPrefix: String, repo: String = "acme/docs",
      branch: String = "main"): DataFrame = {
    import s.implicits._
    val shaKey = shaMetadataKey(repo, branch)
    val lastSha = SyncState.getMetadata(s, statePath, shaKey)

    // absolute-path listing, as the binaryFile scan would produce it
    val files = tree.select(
      concat(lit(repoPath + "/"), col("path")).as("path"), col("text"))

    val (mode, allowed, deleteUrls) = lastSha match {
      case None => ("full", None, Seq.empty[String])
      case Some(sha) if sha == headSha =>
        ("incremental", Some(Set.empty[String]), Seq.empty[String])
      case Some(_) => diffOutput match {
        case Some(text) =>
          val d = parseNameStatus(text, repoPath)
          ("incremental", Some(d.changed), d.deleted.map(rel =>
            codeFileUrl(new java.io.File(repoPath, rel).getPath,
              repoPath, None, Some(urlPrefix))))
        case None => ("full", None, Seq.empty[String])
      }
    }

    val processFiles = allowed match {
      case Some(set) => LocalDirectory.restrictToAllowed(files,
        set.toSeq.toDF("path"))
      case None => files
    }
    // per-file URL through the real kernel (typed map: pure function),
    // chunked; the driver-side file list and the commit each read it
    val docs = Sync.chunksOfUrls(processFiles.as(PathText)
      .map { case (p, t) =>
        (codeFileUrl(p, repoPath, None, Some(urlPrefix)), t)
      }(PathText).toDF("url", "text"), Sync.ChunkSize)
    // the processed files on the driver: files_processed, the urls to
    // upsert and the files that chunk to nothing
    val processed = docs.select("url", "n_chunks").as(UrlChunks).collect()
    val chunked = processed.collect { case (u, n) if n > 0 => u }.toSeq
    val storedChunks = ChunkStore.readLatest(s, storeRoot)
      .getOrElse(s.emptyDataset(Sync.StoredChunks).toDF())
    val chunkRows = Sync.embedDelta(docs,
      if (mode == "full") storedChunks
      else storedChunks.filter(col("url").isin(chunked: _*)))
    val embedded = Observation()

    val (version, written, urlsDeleted) =
      if (mode == "full") {
        // the whole store becomes the chunked scan: every stored url it
        // did not chunk is purged
        val stored = storedChunks.select("url").distinct().as[String]
          .collect().toSet
        (ChunkStore.commit(s, storeRoot,
          Some(Sync.observeEmbedded(chunkRows, embedded)), Nil,
          replace = true), true, (stored -- chunked).size.toLong)
      } else {
        val gone = (deleteUrls ++ processed.collect { case (u, 0) => u }).toSet
        val upserted = chunked.filterNot(gone)
        val stale =
          if (chunked.isEmpty && gone.isEmpty) Set.empty[String]
          else storedChunks.filter(col("url").isin(chunked ++ gone: _*))
            .select("url").as[String].collect().toSet
        // reference counters count urls whose delete actually removed
        // chunks (doc2vec.ts:1270-1273), not every requested url
        (ChunkStore.commit(s, storeRoot,
          Option.when(upserted.nonEmpty)(Sync.observeEmbedded(
            if (upserted.size == chunked.size) chunkRows
            else chunkRows.filter(!col("url").isin(gone.toSeq: _*)),
            embedded)),
          stale.toSeq), upserted.nonEmpty, (stale & gone).size.toLong)
      }
    SyncState.setMetadata(s, statePath, shaKey, headSha, runId)

    Seq((runId, mode, processed.length.toLong,
        Sync.embeddedCount(embedded, written), urlsDeleted, version))
      .toDF("run_id", "mode", "files_processed", "chunks_embedded",
        "urls_deleted", "store_version")
  }

  private lazy val PathText = Encoders.tuple(Encoders.STRING, Encoders.STRING)
  private lazy val UrlChunks = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

  /** The GitHub code source's FULL state machine across four syncs as
    * one oracle row — the treatment `sync_run_e2e` gave the generic
    * sync, applied to the last §2.1 source whose seams were test-only.
    * A real versioned store + SHA-watermark KV in a temp tree; the
    * repo worktree evolves through three states derived from documents
    * arithmetic (so DuckDB re-derives every snapshot):
    *
    *   - state 1 (sha1): files `src/f<id>.py` for id < 120;
    *   - state 2 (sha2): ADDS [120,135); MODIFIES id%10==1 (' v2'
    *     appended — only the tail chunk changes, so the chunk-level
    *     embed skip is observable); DELETES id%10==3; RENAMES
    *     id%10==7 to `src/moved/f<id>.py` (content unchanged — the
    *     rename must purge the old URL and re-embed every chunk under
    *     the new one, doc2vec.ts:1421-1425);
    *   - state 3 (sha3): ADDS [135,145); MODIFIES id%12==5 (' v3');
    *     DROPS id%9==0 (id<135).
    *
    * Run 1: no watermark → full scan. Run 2: sha1 reachable → the
    * staged A/M/D/R name-status diff drives the incremental path.
    * Run 3: sha2 UNREACHABLE (fetch-deepening exhausted; diff
    * unavailable) → full-scan fallback whose obsolete cleanup purges
    * the dropped files. Run 4: watermark == HEAD → empty allowed set,
    * nothing processed, nothing deleted.
    *
    * Output: one `counters` row per run + one `store` row per chunk of
    * the final store version — a hash match proves the composed
    * watermark → mode decision → diff parse → allowed semi-join →
    * chunk-level skip → upsert → per-URL/obsolete cleanup chain, not
    * just its kernels. (Chunking here is the 128-char window shared
    * with `sync_run_e2e`; the AST code chunker has its own oracle rows
    * — this row pins the SEAMS.) */
  def codeSyncE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.within("codesync") { base =>
      val store = s"$base/store"
      val state = s"$base/state"
      val repoPath = "/repo"
      val repo = "acme/docs"
      val branch = "main"
      val urlPrefix = s"https://github.com/$repo/blob/$branch"
      val docs = Tables.documents(s, dir)

      def tree(stage: Int): DataFrame = {
        val id = col("doc_id")
        val inS1 = id < 120
        val adds2 = id >= 120 && id < 135
        val adds3 = id >= 135 && id < 145
        val member2 = (inS1 && id % 10 =!= 3) || adds2
        val member3 = (member2 && !(id % 9 === 0 && id < 135)) || adds3
        val member = stage match {
          case 1 => inS1
          case 2 => member2
          case _ => member3
        }
        val path =
          if (stage >= 2)
            when(inS1 && id % 10 === 7,
              concat(lit("src/moved/f"), id, lit(".py")))
              .otherwise(concat(lit("src/f"), id, lit(".py")))
          else concat(lit("src/f"), id, lit(".py"))
        val t1 =
          if (stage >= 2)
            when(inS1 && id % 10 === 1, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))
          else col("text")
        val t2 =
          if (stage >= 3)
            when(member2 && id % 12 === 5, concat(t1, lit(" v3")))
              .otherwise(t1)
          else t1
        docs.filter(member).select(path.as("path"), t2.as("text"))
      }

      // run 2's staged `git diff --name-status sha1..sha2` stdout —
      // driver-sized in production too (it's a shell-out's output)
      // one scan for both id slices (they partition id < 135)
      val ids135 = docs.filter(col("doc_id") < 135)
        .select("doc_id").as[Long].collect().sorted
      val s1Ids = ids135.filter(_ < 120)
      val adds2Ids = ids135.filter(_ >= 120)
      val diff2 = (
        adds2Ids.map(id => s"A\tsrc/f$id.py") ++
          s1Ids.filter(_ % 10 == 1).map(id => s"M\tsrc/f$id.py") ++
          s1Ids.filter(_ % 10 == 3).map(id => s"D\tsrc/f$id.py") ++
          s1Ids.filter(_ % 10 == 7)
            .map(id => s"R100\tsrc/f$id.py\tsrc/moved/f$id.py")
        ).mkString("\n")

      def pack(r: DataFrame): DataFrame = r.select(
        lit("counters").as("kind"),
        concat(lit("run:"), col("run_id")).as("key"),
        concat(
          lit("mode="), col("mode"),
          lit("|files="), col("files_processed"),
          lit("|emb="), col("chunks_embedded"),
          lit("|del="), col("urls_deleted"),
          lit("|ver="), col("store_version")).as("payload"))

      // codeRun's side effects (store version, watermark) are eager, so
      // the four runs sequence correctly
      val r1 = pack(codeRun(s, tree(1), store, state, 1L, "sha1", None,
        repoPath, urlPrefix, repo, branch))
      val r2 = pack(codeRun(s, tree(2), store, state, 2L, "sha2",
        Some(diff2), repoPath, urlPrefix, repo, branch))
      val r3 = pack(codeRun(s, tree(3), store, state, 3L, "sha3", None,
        repoPath, urlPrefix, repo, branch))
      val r4 = pack(codeRun(s, tree(3), store, state, 4L, "sha3", None,
        repoPath, urlPrefix, repo, branch))

      val finalStore = ChunkStore.readLatest(s, store).get
        .select(lit("store").as("kind"),
          concat(col("url"), lit("#"),
            lpad(col("chunk_index").cast("string"), 4, "0")).as("key"),
          concat(col("chunk_id"), lit("|"), col("total_chunks"))
            .as("payload"))
      r1.unionByName(r2).unionByName(r3).unionByName(r4)
        .unionByName(finalStore)
        .orderBy("kind", "key").localCheckpoint(true)
    }
  }
}
