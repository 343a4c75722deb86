package graft.functions

import scala.collection.mutable.ListBuffer

/** HTML → Markdown normalization (SURVEY.md §2.2), the reference's
  * sanitize-allowlist + Turndown pipeline (content-processor.ts:142-275)
  * re-implemented as a dependency-free pure function (no jsoup in this
  * build). Scope: the sanitized tag subset the reference allows —
  * headings, paragraphs, links, emphasis, inline/fenced code (with
  * min-indent dedent and blank-line collapse), lists, tables (with `|`
  * escaping, empty-cell preservation and THEAD separators), blockquotes,
  * line breaks. Disallowed containers are unwrapped; script/style
  * subtrees are dropped, matching sanitize-html semantics.
  *
  * Used inside `mapPartitions`/`flatMap` ingestion — a pure per-document
  * transform with no shuffle.
  */
object HtmlToMarkdown {

  private val dropWithContent = Set("script", "style", "head", "noscript",
    "template", "iframe")
  private val voidTags = Set("br", "hr", "img", "input", "meta", "link")

  private sealed trait Node
  private case class Elem(tag: String, attrs: Map[String, String],
      children: ListBuffer[Node] = ListBuffer()) extends Node
  private case class Text(s: String) extends Node

  private val tagRe =
    """(?s)<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>"']|"[^"]*"|'[^']*')*?)(/?)>""".r
  private val attrRe =
    """([a-zA-Z-]+)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""".r

  // Hot-path patterns hoisted out of the per-row kernel:
  // `String.replaceAll`/`matches`/regex-`split` compile a fresh Pattern
  // per CALL, and these run per text node / per document inside
  // mapPartitions. Semantics identical to the inline literals they
  // replace.
  private val wsRunP = java.util.regex.Pattern.compile("\\s+")
  private val trailWsNlP = java.util.regex.Pattern.compile("[ \t]+\n")
  private val nl3P = java.util.regex.Pattern.compile("\n{3,}")
  private val nl2P = java.util.regex.Pattern.compile("\n{2,}")
  private val nlRunP = java.util.regex.Pattern.compile("\n+")
  private val outerTrimP = java.util.regex.Pattern.compile("^\\s+|\\s+$")
  private val junkTitleP =
    java.util.regex.Pattern.compile("(?i)^(link|#|menu|close)$")
  private val h1LineRe = "^#\\s+(.+)$".r

  private def collapseWs(s: String): String =
    wsRunP.matcher(s).replaceAll(" ")

  private def unescape(s: String): String =
    // entities all start with '&'; most text runs carry none
    if (s.indexOf('&') < 0) s
    else s
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&nbsp;", " ").replace("&amp;", "&")

  /** Parse an HTML fragment into a tree (forgiving: unclosed tags close
    * at their parent's boundary; unknown structure degrades to text). */
  private def parse(html: String): Elem = {
    val root = Elem("root", Map.empty)
    var stack = List[Elem](root)
    var pos = 0
    for (m <- tagRe.findAllMatchIn(html)) {
      if (m.start > pos) {
        val t = html.substring(pos, m.start)
        if (t.nonEmpty) stack.head.children += Text(unescape(t))
      }
      pos = m.end
      val closing = m.group(1) == "/"
      val tag = m.group(2).toLowerCase
      val selfClose = m.group(4) == "/" || voidTags.contains(tag)
      if (closing) {
        // close nearest matching open element
        val idx = stack.indexWhere(_.tag == tag)
        if (idx >= 0) stack = stack.drop(idx + 1) match {
          case Nil => List(root)
          case rest => rest
        }
      } else {
        val attrs = attrRe.findAllMatchIn(m.group(3)).map { am =>
          val v = Option(am.group(3)).orElse(Option(am.group(4)))
            .getOrElse(Option(am.group(5)).getOrElse(""))
          am.group(1).toLowerCase -> unescape(v)
        }.toMap
        val el = Elem(tag, attrs)
        stack.head.children += el
        if (!selfClose) stack = el :: stack
      }
    }
    if (pos < html.length) {
      val t = html.substring(pos)
      if (t.nonEmpty) stack.head.children += Text(unescape(t))
    }
    root
  }

  private def textContent(n: Node): String = n match {
    case Text(s) => s
    case e: Elem =>
      if (dropWithContent.contains(e.tag)) ""
      else e.children.map(textContent).mkString
  }

  /** The reference's PRE rule: inner <code> text (else own text),
    * min-indent dedent over non-blank lines, outer trim, blank-line
    * collapse, plain fence. */
  private def renderPre(e: Elem): String = {
    val codeChild = e.children.collectFirst {
      case c: Elem if c.tag == "code" => c
    }
    val raw = codeChild.map(textContent).getOrElse(textContent(e))
    val lines = raw.split("\n", -1)
    val minIndent = lines.filter(_.trim.nonEmpty)
      .map(l => l.takeWhile(c => c == ' ' || c == '\t').length)
      .reduceOption(math.min).getOrElse(0)
    val joined = lines.map(l => l.substring(math.min(minIndent, l.length)))
      .mkString("\n")
    val cleaned = nl2P.matcher(
      outerTrimP.matcher(joined).replaceAll("")).replaceAll("\n")
    s"\n```\n$cleaned\n```\n"
  }

  /** Table-cell content: joined <p> texts when present, else inline
    * content; `|` escaped; empty cells preserved as ` |`. */
  private def renderCell(e: Elem): String = {
    val ps = e.children.collect { case c: Elem if c.tag == "p" => c }
    val content =
      if (ps.nonEmpty) ps.map(p => textContent(p).trim).mkString(" ").trim
      else inline(e).trim
    if (content.isEmpty) " |" else s" ${content.replace("|", "\\|")} |"
  }

  private def renderRow(e: Elem, inThead: Boolean): String = {
    val cells = e.children.collect {
      case c: Elem if c.tag == "th" || c.tag == "td" => c
    }
    val body = "|" + cells.map(renderCell).mkString.reverse
      .dropWhile(_ == ' ').reverse
    if (inThead) body + "\n|" + cells.map(_ => "---").mkString(" | ") + "|\n"
    else body + "\n"
  }

  private def renderTable(e: Elem): String = {
    val sb = new StringBuilder
    def rows(n: Elem, inThead: Boolean): Unit = n.children.foreach {
      case c: Elem if c.tag == "tr" => sb.append(renderRow(c, inThead))
      case c: Elem if c.tag == "thead" => rows(c, inThead = true)
      case c: Elem if c.tag == "tbody" => rows(c, inThead = false)
      case _ =>
    }
    rows(e, inThead = false)
    "\n" + nlRunP.matcher(sb.toString).replaceAll("\n").trim + "\n"
  }

  /** Inline rendering (whitespace collapsed, emphasis/links/code). */
  private def inline(n: Node): String = n match {
    case Text(s) => collapseWs(s)
    case e: Elem => e.tag match {
      case t if dropWithContent.contains(t) => ""
      case "br" => "\n"
      case "a" =>
        val body = e.children.map(inline).mkString.trim
        e.attrs.get("href") match {
          case Some(h) if body.nonEmpty => s"[$body]($h)"
          case _ => body
        }
      case "strong" | "b" =>
        val body = e.children.map(inline).mkString.trim
        if (body.isEmpty) "" else s"**$body**"
      case "em" | "i" =>
        val body = e.children.map(inline).mkString.trim
        if (body.isEmpty) "" else s"*$body*"
      case "code" =>
        val body = textContent(e).trim
        if (body.isEmpty) "" else s"`$body`"
      case _ => e.children.map(inline).mkString
    }
  }

  private def block(n: Node, listDepth: Int): String = n match {
    case t: Text => inline(t)
    case e: Elem => e.tag match {
      case tag if dropWithContent.contains(tag) => ""
      case h if h.length == 2 && h.charAt(0) == 'h' && h.charAt(1).isDigit =>
        val level = h.charAt(1) - '0'
        s"\n\n${"#" * level} ${e.children.map(inline).mkString.trim}\n\n"
      case "p" => s"\n\n${e.children.map(inline).mkString.trim}\n\n"
      case "pre" => renderPre(e)
      case "table" => renderTable(e)
      case "blockquote" =>
        val body = e.children.map(block(_, listDepth)).mkString
          .trim.split("\n").map(l => s"> $l").mkString("\n")
        s"\n\n$body\n\n"
      case "ul" | "ol" =>
        val items = e.children.collect { case c: Elem if c.tag == "li" => c }
        val rendered = items.zipWithIndex.map { case (li, i) =>
          val marker = if (e.tag == "ol") s"${i + 1}." else "-"
          val body = nl2P.matcher(li.children.map(block(_, listDepth + 1))
            .mkString.trim).replaceAll("\n")
          "  " * listDepth + s"$marker $body"
        }
        s"\n\n${rendered.mkString("\n")}\n\n"
      case "br" => "\n"
      case _ => e.children.map(block(_, listDepth)).mkString
    }
  }

  private def collectElems(e: Elem, pred: Elem => Boolean): Seq[Elem] = {
    val self = if (pred(e)) Seq(e) else Seq.empty
    self ++ e.children.collect { case c: Elem => c }
      .flatMap(collectElems(_, pred))
  }

  private def hasClass(e: Elem, c: String): Boolean =
    e.attrs.get("class").exists(cls => wsRunP.split(cls).contains(c))

  /** Main-content selector cascade (reference processPage,
    * content-processor.ts:1089-1101): `.docs-content` > `.doc-content` >
    * `.markdown-body` > `article` > `div[role=main].document` > `main` >
    * `body`, first match in document order; whole fragment when none
    * match. */
  private def selectMain(root: Elem): Elem =
    findFirst(root, hasClass(_, "docs-content"))
      .orElse(findFirst(root, hasClass(_, "doc-content")))
      .orElse(findFirst(root, hasClass(_, "markdown-body")))
      .orElse(findFirst(root, _.tag == "article"))
      .orElse(findFirst(root, e => e.tag == "div" &&
        e.attrs.get("role").contains("main") && hasClass(e, "document")))
      .orElse(findFirst(root, _.tag == "main"))
      .orElse(findFirst(root, _.tag == "body"))
      .getOrElse(root)

  /** First matching element in document (pre)order — early exit, where
    * `collectElems(..).headOption` walked the whole tree for every
    * rung of the selector cascade (up to 7 full traversals per page). */
  private def findFirst(root: Elem, pred: Elem => Boolean): Option[Elem] = {
    if (pred(root)) return Some(root)
    val it = root.children.iterator
    while (it.hasNext) it.next() match {
      case c: Elem =>
        val r = findFirst(c, pred)
        if (r.isDefined) return r
      case _ =>
    }
    None
  }

  /** Full rendered-page processing (reference processPage,
    * content-processor.ts:987-1237): link harvest over the FULL DOM
    * (before any content filtering), main-content selector cascade, tab
    * flattening, H1 save (the reference marks them `original-h1` so
    * Readability's chrome-stripping can be undone) and page-title
    * injection when the converted markdown doesn't already open with it.
    * Readability's scoring prune itself is not ported (no DOM library in
    * this build) — the allowlist/unwrap conversion plays its extraction
    * role; the H1 restore is therefore the identity here, and the
    * observable contract is the injected title.
    *
    * Returns (markdown, links). */
  def processPage(html: String): (String, Seq[String]) = {
    if (html == null || html.trim.isEmpty) return ("", Seq.empty)
    val full = parse(html)
    // links from the entire document, not just the main content area
    val links = collectElems(full, e => e.tag == "a" &&
        e.attrs.get("href").exists(h =>
          h.nonEmpty && !h.startsWith("#") && !h.startsWith("mailto:")))
      .map(_.attrs("href"))
    val main = selectMain(full)
    preprocessTabs(main)
    // H1s extracted BEFORE conversion; empty/icon-only ones skipped
    val h1s = collectElems(main, _.tag == "h1")
      .map(e => textContent(e).trim)
      .filter(t => t.length > 3 && !junkTitleP.matcher(t).matches())
    val md0 = nl3P.matcher(
      trailWsNlP.matcher(block(main, 0)).replaceAll("\n"))
      .replaceAll("\n\n").trim
    // fallback title: the document <title> (the reference's article.title)
    val docTitle = findFirst(full, _.tag == "title")
      .map(e => e.children.collect { case Text(s) => s }.mkString.trim)
      .getOrElse("")
    val pageTitle = h1s.headOption.getOrElse(docTitle)
    val markdown =
      if (pageTitle.isEmpty) md0
      else {
        val normalizedTitle = collapseWs(pageTitle)
        val firstLine = md0.split("\n", 2)(0)
        firstLine match {
          case h1LineRe(t)
            if collapseWs(t).trim == normalizedTitle => md0
          case _ => s"# $pageTitle\n\n$md0"
        }
      }
    (markdown, links)
  }

  /** WAI-ARIA tab flattening (reference preprocessTabs,
    * content-processor.ts:1307-1399): each [role=tab] button's label is
    * injected as a `**Label:**` paragraph before its panel (matched via
    * aria-controls → id, else positionally); panels are kept (unhidden),
    * tab buttons removed. */
  private def preprocessTabs(root: Elem): Unit = {
    def collect(e: Elem, pred: Elem => Boolean): Seq[Elem] = {
      val self = if (pred(e)) Seq(e) else Seq.empty
      self ++ e.children.collect { case c: Elem => c }.flatMap(collect(_, pred))
    }
    val tabs = collect(root, _.attrs.get("role").contains("tab"))
    if (tabs.isEmpty) return
    val panels = collect(root, _.attrs.get("role").contains("tabpanel"))
    val panelById = panels.flatMap(p => p.attrs.get("id").map(_ -> p)).toMap
    // IDENTITY set, not a hash set: Elem is a mutable case class, so a
    // panel's structural hashCode CHANGES when a label paragraph is
    // injected — a HashSet would then miss the claimed panel and a
    // later tab's positional fallback would inject a second label
    // (the reference's seen-set is DOM-node identity)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Elem, java.lang.Boolean]())
    tabs.zipWithIndex.foreach { case (tab, i) =>
      val label = textContent(tab).trim
      val panel = tab.attrs.get("aria-controls").flatMap(panelById.get)
        .orElse(panels.lift(i))
      panel.filterNot(seen.contains).foreach { p =>
        seen.add(p)
        if (label.nonEmpty) {
          val strong = Elem("strong", Map.empty)
          strong.children += Text(s"$label:")
          val para = Elem("p", Map.empty)
          para.children += strong
          para +=: p.children
        }
      }
    }
    // remove tab buttons from the tree
    def prune(e: Elem): Unit = {
      e.children.filterInPlace {
        case c: Elem => !c.attrs.get("role").contains("tab")
        case _ => true
      }
      e.children.foreach { case c: Elem => prune(c); case _ => }
    }
    prune(root)
  }

  /** Convert an HTML fragment to Markdown; empty/blank input → "". */
  def convert(html: String): String = {
    if (html == null || html.trim.isEmpty) return ""
    val tree = parse(html)
    preprocessTabs(tree)
    nl3P.matcher(
      trailWsNlP.matcher(block(tree, 0)).replaceAll("\n"))
      .replaceAll("\n\n").trim
  }
}
