package graft.operators

import scala.collection.mutable.ArrayBuffer
import graft.Chunk
import graft.functions.TextUtil

/** The chunking operators — the core "flatMap" of the pipeline
  * (SURVEY.md §2.3). Pure functions `String => Seq[Chunk]`; the
  * per-document line scan is stateful but documents are independent, so at
  * scale this runs as a per-document `flatMap(chunkMarkdown)` with no
  * shuffle at all: chunking is embarrassingly parallel.
  *
  * Semantics replicated from the reference implementation:
  *   - heading-aware prose chunker: content-processor.ts:2151-2336
  *   - code dispatch + [File:] prefix:  content-processor.ts:2045-2149
  *   - recursive code chunker + merge:  code-chunker.ts:125-182
  * Constants: MAX_CHARS=4000, MIN_CHARS=600, 10% overlap; code chunk
  * size 512 characters.
  */
object Chunker {

  val MaxChars = 4000
  val MinChars = 600
  val OverlapPercent = 0.1
  val CodeChunkSize = 512

  private case class BufHeading(level: Int, text: String)

  /** Heading-aware markdown chunker (reference: content-processor.ts:2151-2336).
    *
    * Line scan keeping a heading-hierarchy stack; short sections (<600
    * chars) merge into the next sibling-or-deeper section; sections over
    * 4000 chars split with 10% overlap on code-point-safe boundaries;
    * breadcrumb `[Topic: A > B]` prefix is injected before hashing so
    * chunk_id == sha256(stored content).
    */
  def chunkMarkdown(markdown: String, productName: String, version: String,
      url: String, branch: Option[String] = None,
      repo: Option[String] = None): Seq[Chunk] = {

    val chunks = ArrayBuffer[Chunk]()
    val lines = markdown.split("\n", -1)

    val buffer = new StringBuilder
    // Sparse array semantics like the JS original: a level jump leaves
    // null holes which are filtered out of breadcrumbs/metadata.
    var headingHierarchy = ArrayBuffer[String]()
    var bufferHeadings = ArrayBuffer[BufHeading]()
    var chunkCounter = 0

    def presentHierarchy(h: Seq[String]): Seq[String] =
      h.filter(s => s != null && s.nonEmpty)

    // Sibling merge: when >1 heading at the deepest buffered level, the
    // topic is their parent (hierarchy truncated above the deepest level).
    def computeTopicHierarchy(): Seq[String] = {
      if (bufferHeadings.isEmpty) headingHierarchy.toSeq
      else {
        val deepest = bufferHeadings.map(_.level).max
        val atDeepest = bufferHeadings.count(_.level == deepest)
        if (atDeepest > 1 && deepest > 1)
          headingHierarchy.take(deepest - 1).toSeq
        else headingHierarchy.toSeq
      }
    }

    def createChunk(content: String, hierarchy: Seq[String]): Chunk = {
      val breadcrumbs = presentHierarchy(hierarchy).mkString(" > ")
      val contextPrefix = if (breadcrumbs.nonEmpty) s"[Topic: $breadcrumbs]\n" else ""
      val searchableText =
        TextUtil.stripLoneSurrogates(contextPrefix + content.strip())
      val chunkId = TextUtil.sha256Hex(searchableText)
      val section = hierarchy.lastOption.filter(s => s != null && s.nonEmpty)
        .getOrElse("Introduction")
      val c = Chunk(
        content = searchableText,
        product_name = productName, version = version,
        branch = branch, repo = repo,
        heading_hierarchy = presentHierarchy(hierarchy),
        section = section,
        chunk_id = chunkId, url = url, hash = chunkId,
        chunk_index = chunkCounter, total_chunks = 0)
      chunkCounter += 1
      c
    }

    def flushBuffer(force: Boolean = false): Unit = {
      val trimmed = buffer.toString.strip()
      if (trimmed.isEmpty) return
      val charCount = trimmed.length
      if (charCount < MinChars && !force) return // semantic merging

      val topicHierarchy = computeTopicHierarchy()
      if (charCount > MaxChars) {
        // overlap splitting: stride = MAX - 10% overlap, slices nudged off
        // surrogate-pair boundaries
        val overlapSize = (MaxChars * OverlapPercent).toInt
        var i = 0
        while (i < trimmed.length) {
          chunks += createChunk(
            TextUtil.sliceSafe(trimmed, i, i + MaxChars), topicHierarchy)
          i += MaxChars - overlapSize
        }
      } else chunks += createChunk(trimmed, topicHierarchy)

      buffer.clear()
      bufferHeadings = ArrayBuffer[BufHeading]()
    }

    for (line <- lines) {
      if (line.startsWith("#")) {
        val level = line.takeWhile(_ == '#').length
        val headingText = line
          .replaceFirst("^#+\\s*", "")
          .replaceAll("\\[.*?\\]\\(#[^)]*\\)", "")
          .strip()

        val currentCharCount = buffer.toString.strip().length
        val hasBufferContent = currentCharCount > 0
        val bufferIsSmall = currentCharCount < MinChars
        val deepestBufferLevel =
          if (bufferHeadings.nonEmpty) bufferHeadings.map(_.level).max else 0
        val shouldMerge = hasBufferContent && bufferIsSmall &&
          bufferHeadings.nonEmpty && level >= deepestBufferLevel

        if (!shouldMerge && hasBufferContent) flushBuffer()

        // reset hierarchy below this level; pad holes on level jumps
        headingHierarchy = headingHierarchy.take(level - 1)
        while (headingHierarchy.length < level - 1) headingHierarchy += null
        headingHierarchy += headingText

        bufferHeadings += BufHeading(level, headingText)
        buffer.append(line).append('\n')
      } else {
        buffer.append(line).append('\n')
        if (buffer.length >= MaxChars) flushBuffer() // safety valve
      }
    }
    flushBuffer(force = true)

    val total = chunks.length
    chunks.map(_.copy(total_chunks = total)).toSeq
  }

  /** Extension → language map (reference: content-processor.ts:1996-2037). */
  val languageByExtension: Map[String, String] = Map(
    ".ts" -> "typescript", ".tsx" -> "typescript",
    ".js" -> "javascript", ".jsx" -> "javascript",
    ".mjs" -> "javascript", ".cjs" -> "javascript",
    ".py" -> "python", ".go" -> "go", ".rs" -> "rust",
    ".java" -> "java", ".kt" -> "kotlin", ".kts" -> "kotlin",
    ".swift" -> "swift", ".c" -> "c", ".cc" -> "cpp", ".cpp" -> "cpp",
    ".h" -> "cpp", ".hpp" -> "cpp", ".cs" -> "csharp", ".rb" -> "ruby",
    ".php" -> "php", ".scala" -> "scala", ".sql" -> "sql",
    ".sh" -> "bash", ".bash" -> "bash", ".zsh" -> "bash",
    ".html" -> "html", ".css" -> "css", ".scss" -> "scss",
    ".sass" -> "scss", ".less" -> "css", ".json" -> "json",
    ".yaml" -> "yaml", ".yml" -> "yaml", ".md" -> "markdown")

  def detectCodeLanguage(filePath: String): Option[String] = {
    val dot = filePath.lastIndexOf('.')
    if (dot < 0) None
    else languageByExtension.get(filePath.substring(dot).toLowerCase)
  }

  /** Fixed-size character windows (reference token chunker with the
    * 'character' tokenizer — content-processor.ts:1949-1963). Surrogate-safe
    * so window boundaries can't orphan half an emoji. */
  def tokenChunk(text: String, chunkSize: Int = CodeChunkSize): Seq[String] = {
    if (text.isEmpty) return Seq.empty
    val out = ArrayBuffer[String]()
    var i = 0
    while (i < text.length) {
      out += TextUtil.sliceSafe(text, i, i + chunkSize)
      i += chunkSize
    }
    out.toSeq
  }

  // ── Structure-aware code chunking ─────────────────────────────────────
  // The reference uses tree-sitter ASTs (code-chunker.ts:125-145). A JVM
  // tree-sitter binding is a native dependency this build intentionally
  // excludes, so we approximate the same recursive-descent contract on a
  // lightweight block tree parsed from brace/indent structure: a node that
  // fits chunkSize (or has no children) is emitted whole; an oversized node
  // recurses into its children; adjacent small chunks then greedily merge
  // up to chunkSize with a '\n' separator (code-chunker.ts:147-182).
  // The reference itself falls back to plain character windows when the
  // AST path fails, and so do we.

  /** Language-agnostic parse tree for structure-aware chunking: byte
    * spans + children, the shape a tree-sitter front-end produces. The
    * built-in brace/indent block parser feeds it by default; a real
    * grammar-backed parser (a native dep, absent in this offline build)
    * plugs into `chunkTreeTexts` with no algorithm change — the descent
    * and merge below are the reference's, byte for byte
    * (code-chunker.ts:125-182). */
  case class CodeTree(start: Int, end: Int, children: Seq[CodeTree])

  /** Parse a source string into a block tree: top level = runs of lines
    * separated at zero nesting depth boundaries; children = brace-delimited
    * sub-blocks (or indent groups for indent-structured languages). */
  private def parseBlocks(source: String): CodeTree = {
    // Split into top-level segments at lines where brace depth is zero and
    // a new declaration starts after a blank line or closing brace.
    val n = source.length
    val segStarts = ArrayBuffer[Int](0)
    var depth = 0
    var i = 0
    var lineStart = 0
    var prevLineBlankOrClose = false
    while (i < n) {
      val c = source.charAt(i)
      if (c == '{' || c == '(' || c == '[') depth += 1
      else if (c == '}' || c == ')' || c == ']') depth = math.max(0, depth - 1)
      else if (c == '\n') {
        val line = source.substring(lineStart, i)
        val blank = line.isBlank
        val closes = line.strip().startsWith("}")
        if (depth == 0 && !blank && prevLineBlankOrClose &&
          lineStart > segStarts.last) segStarts += lineStart
        prevLineBlankOrClose = blank || closes
        lineStart = i + 1
      }
      i += 1
    }
    val starts = segStarts.distinct.sorted
    val children = starts.zipAll(starts.drop(1), 0, n).map {
      case (s, e) => CodeTree(s, e, subBlocks(source, s, e))
    }
    CodeTree(0, n, children.toSeq)
  }

  /** Children of a segment: the body of its outermost brace pair split at
    * depth-1 line boundaries. */
  private def subBlocks(source: String, start: Int, end: Int): Seq[CodeTree] = {
    val open = source.indexOf('{', start)
    if (open < 0 || open >= end) return Seq.empty
    // find matching close
    var depth = 0
    var i = open
    var close = -1
    while (i < end && close < 0) {
      val c = source.charAt(i)
      if (c == '{') depth += 1
      else if (c == '}') { depth -= 1; if (depth == 0) close = i }
      i += 1
    }
    if (close < 0) return Seq.empty
    // split body into line groups at depth-0 (relative) boundaries
    val bodyStart = open + 1
    val parts = ArrayBuffer[Int](bodyStart)
    depth = 0
    i = bodyStart
    while (i < close) {
      val c = source.charAt(i)
      if (c == '{' || c == '(' || c == '[') depth += 1
      else if (c == '}' || c == ')' || c == ']') depth = math.max(0, depth - 1)
      else if (c == '\n' && depth == 0 && i + 1 < close) parts += i + 1
      i += 1
    }
    val ps = parts.distinct.sorted
    val header = CodeTree(start, bodyStart, Seq.empty)
    val tail = CodeTree(close, end, Seq.empty)
    val mids = ps.zipAll(ps.drop(1), 0, close).collect {
      case (s, e) if e > s => CodeTree(s, e, Seq.empty)
    }
    (header +: mids :+ tail).toSeq
  }

  private def recursiveChunk(node: CodeTree, source: String,
      chunkSize: Int, out: ArrayBuffer[String]): Unit = {
    val text = source.substring(node.start, node.end)
    if (text.length <= chunkSize || node.children.isEmpty) {
      if (text.strip().nonEmpty) out += text
    } else {
      val before = out.length
      node.children.foreach(recursiveChunk(_, source, chunkSize, out))
      if (out.length == before && text.strip().nonEmpty) out += text
    }
  }

  private def mergeChunks(pieces: Seq[String], chunkSize: Int): Seq[String] = {
    val merged = ArrayBuffer[String]()
    var current = ""
    var currentLen = 0
    for (piece <- pieces if piece.strip().nonEmpty) {
      val next = currentLen + 1 + piece.length // +1 '\n' separator
      if (currentLen == 0) { current = piece; currentLen = piece.length }
      else if (next <= chunkSize) { current = current + "\n" + piece; currentLen = next }
      else { merged += current; current = piece; currentLen = piece.length }
    }
    if (currentLen > 0) merged += current
    merged.toSeq
  }

  /** Structure-aware code chunking with character-window fallback
    * (reference contract: code-chunker.ts:125-182 + fallback
    * content-processor.ts:2096-2100). With a known language the
    * grammar-family span parser supplies the tree (CodeParsers);
    * otherwise the generic brace/indent block tree stands in. */
  def codeChunkTexts(code: String, chunkSize: Int = CodeChunkSize,
      lang: Option[String] = None): Seq[String] =
    try {
      val tree = lang.flatMap(CodeParsers.parse(_, code))
        .getOrElse(parseBlocks(code))
      chunkTreeTexts(code, tree, chunkSize)
    } catch { case _: Throwable => tokenChunk(code, chunkSize) }

  /** The reference's recursive-descent + greedy-merge chunking over an
    * EXTERNALLY supplied parse tree (tree-sitter spans, or the built-in
    * block tree): a node that fits chunkSize (or is a leaf) is emitted
    * whole; an oversized node recurses; when recursion emits nothing the
    * node is emitted whole anyway; adjacent chunks then merge greedily
    * with a '\n' separator. Falls back to character windows when the
    * tree yields nothing for non-blank code. */
  def chunkTreeTexts(code: String, tree: CodeTree,
      chunkSize: Int = CodeChunkSize): Seq[String] = {
    val out = ArrayBuffer[String]()
    recursiveChunk(tree, code, chunkSize, out)
    val merged = mergeChunks(out.toSeq, chunkSize)
    if (merged.isEmpty && code.strip().nonEmpty) tokenChunk(code, chunkSize)
    else merged
  }

  /** Full code-chunk dispatch (reference: content-processor.ts:2045-2149):
    * `.md` → markdown chunker re-prefixed with `[File: path]` and rehashed
    * with the url; known language → structure chunker; unknown → character
    * windows. chunk_id = sha256(url + "::" + content) so identical snippets
    * in different files don't collide. */
  def chunkCode(code: String, productName: String, version: String,
      url: String, filePath: String, branch: Option[String] = None,
      repo: Option[String] = None,
      chunkSize: Int = CodeChunkSize): Seq[Chunk] = {

    val normalizedPath = filePath.replace('\\', '/')
    val lang = detectCodeLanguage(filePath)

    if (lang.contains("markdown")) {
      val md = chunkMarkdown(code, productName, version, url, branch, repo)
      return md.map { c =>
        if (normalizedPath.nonEmpty) {
          val searchableText = s"[File: $normalizedPath]\n" + c.content
          val chunkId = TextUtil.sha256Hex(s"$url::$searchableText")
          c.copy(content = searchableText,
            heading_hierarchy =
              normalizedPath +: c.heading_hierarchy.filter(_.nonEmpty),
            section = normalizedPath, chunk_id = chunkId, hash = chunkId)
        } else c
      }
    }

    val pieces = lang match {
      case Some(l) => codeChunkTexts(code, chunkSize, Some(l))
      case None    => tokenChunk(code, chunkSize)
    }
    val hierarchy = if (normalizedPath.nonEmpty) Seq(normalizedPath) else Seq.empty
    val contextPrefix =
      if (normalizedPath.nonEmpty) s"[File: $normalizedPath]\n" else ""
    val out = pieces.iterator.map(_.strip()).filter(_.nonEmpty).zipWithIndex
      .map { case (content, idx) =>
        val searchableText =
          TextUtil.stripLoneSurrogates(contextPrefix + content)
        val chunkId = TextUtil.sha256Hex(s"$url::$searchableText")
        Chunk(content = searchableText,
          product_name = productName, version = version,
          branch = branch, repo = repo,
          heading_hierarchy = hierarchy,
          section = if (normalizedPath.nonEmpty) normalizedPath else "Code",
          chunk_id = chunkId, url = url, hash = chunkId,
          chunk_index = idx, total_chunks = 0)
      }.toSeq
    out.map(_.copy(total_chunks = out.length))
  }
}
