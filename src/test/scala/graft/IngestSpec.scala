package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HtmlToMarkdown, UrlUtils}
import graft.sources.Renderers

/** Golden tests for the normalization layer, ported from the reference's
  * converter/renderer contracts (tests/content-processor.test.ts:20-142;
  * doc2vec.ts:441-465 template). */
class IngestSpec extends AnyFunSuite {

  test("headings, paragraphs, emphasis") {
    val md = HtmlToMarkdown.convert(
      "<h1>Title</h1><p>Hello <strong>bold</strong> and <em>it</em>.</p>")
    assert(md == "# Title\n\nHello **bold** and *it*.")
  }

  test("links render as markdown links") {
    val md = HtmlToMarkdown.convert(
      """<p>See <a href="https://x.io/docs">the docs</a> now.</p>""")
    assert(md == "See [the docs](https://x.io/docs) now.")
  }

  test("pre/code blocks dedent and collapse blank lines") {
    val html =
      "<pre><code>    def f():\n        return 1\n\n\n    f()</code></pre>"
    val md = HtmlToMarkdown.convert(html)
    assert(md == "```\ndef f():\n    return 1\nf()\n```")
  }

  test("pre without code child uses own text") {
    assert(HtmlToMarkdown.convert("<pre>  x = 1\n  y = 2</pre>") ==
      "```\nx = 1\ny = 2\n```")
  }

  test("inline code") {
    assert(HtmlToMarkdown.convert("<p>run <code>ls -la</code> here</p>") ==
      "run `ls -la` here")
  }

  test("tables with header separator, pipe escaping, empty cells") {
    val html = """<table><thead><tr><th>Name</th><th>Val</th></tr></thead>
      <tbody><tr><td>a|b</td><td></td></tr></tbody></table>"""
    val md = HtmlToMarkdown.convert(html)
    assert(md.contains("| Name | Val |"))
    assert(md.contains("|--- | ---|"))
    assert(md.contains("| a\\|b | |"))
  }

  test("table cells with paragraphs join their text") {
    val html =
      "<table><tbody><tr><td><p>one</p><p>two</p></td></tr></tbody></table>"
    assert(HtmlToMarkdown.convert(html).contains("| one two |"))
  }

  test("lists: unordered and ordered") {
    assert(HtmlToMarkdown.convert("<ul><li>a</li><li>b</li></ul>") ==
      "- a\n- b")
    assert(HtmlToMarkdown.convert("<ol><li>x</li><li>y</li></ol>") ==
      "1. x\n2. y")
  }

  test("script/style/head subtrees are dropped, divs unwrap") {
    val md = HtmlToMarkdown.convert(
      "<head><title>T</title></head><script>evil()</script>" +
        "<div><p>kept</p></div><style>.x{}</style>")
    assert(md == "kept")
  }

  test("blockquote") {
    assert(HtmlToMarkdown.convert("<blockquote><p>wise words</p></blockquote>")
      == "> wise words")
  }

  test("empty and blank input") {
    assert(HtmlToMarkdown.convert("") == "")
    assert(HtmlToMarkdown.convert("   ") == "")
    assert(HtmlToMarkdown.convert(null) == "")
  }

  test("entities are unescaped") {
    assert(HtmlToMarkdown.convert("<p>a &amp; b &lt;c&gt;&nbsp;d</p>") ==
      "a & b <c> d")
  }

  test("strips disallowed tags (img, script) but keeps text") {
    val md = HtmlToMarkdown.convert(
      """<p>Text</p><img src="test.png"/><script>alert("xss")</script>""")
    assert(!md.contains("<img"))
    assert(!md.contains("script"))
    assert(!md.contains("alert"))
    assert(md.contains("Text"))
  }

  test("headings at all six levels") {
    val md = HtmlToMarkdown.convert(
      "<h1>H1</h1><h2>H2</h2><h3>H3</h3><h4>H4</h4><h5>H5</h5><h6>H6</h6>")
    assert(md == "# H1\n\n## H2\n\n### H3\n\n#### H4\n\n##### H5\n\n###### H6")
  }

  test("blockquote with bare text") {
    assert(HtmlToMarkdown.convert("<blockquote>Quoted text</blockquote>") ==
      "> Quoted text")
  }

  test("code block indentation cleanup (reference golden)") {
    val md = HtmlToMarkdown.convert("<pre>    line1\n    line2\n    line3</pre>")
    assert(md.contains("line1"))
    assert(!md.linesIterator.exists(_.startsWith("    line1")))
    assert(md == "```\nline1\nline2\nline3\n```")
  }

  test("WAI-ARIA tabs flatten into labelled panels") {
    val html =
      """<div role="tablist">
        |<button role="tab" aria-controls="p1">Linux</button>
        |<button role="tab" aria-controls="p2">macOS</button>
        |</div>
        |<div role="tabpanel" id="p1"><p>apt install foo</p></div>
        |<div role="tabpanel" id="p2"><p>brew install foo</p></div>""".stripMargin
    val md = HtmlToMarkdown.convert(html)
    assert(md.contains("**Linux:**"))
    assert(md.contains("apt install foo"))
    assert(md.contains("**macOS:**"))
    assert(md.contains("brew install foo"))
    assert(md.indexOf("**Linux:**") < md.indexOf("apt install foo"))
    assert(!md.toLowerCase.contains("tablist"))
  }

  test("a panel claimed via aria-controls is not re-claimed positionally") {
    // regression: the seen-set keyed mutable Elems by STRUCTURAL hash,
    // so injecting the first label changed the panel's hashCode and the
    // second tab's positional fallback (same panel) double-injected
    val html =
      """<div role="tablist">
        |<button role="tab" aria-controls="p2">First</button>
        |<button role="tab">Second</button>
        |</div>
        |<div role="tabpanel" id="p1"><p>one</p></div>
        |<div role="tabpanel" id="p2"><p>two</p></div>""".stripMargin
    val md = HtmlToMarkdown.convert(html)
    assert(md == "one\n\n**First:**\n\ntwo", md)
  }

  test("positional tab-panel matching when aria-controls is missing") {
    val html =
      """<button role="tab">A</button><button role="tab">B</button>
        |<div role="tabpanel"><p>first</p></div>
        |<div role="tabpanel"><p>second</p></div>""".stripMargin
    val md = HtmlToMarkdown.convert(html)
    assert(md.indexOf("**A:**") < md.indexOf("first"))
    assert(md.indexOf("**B:**") < md.indexOf("second"))
  }

  // ── renderers ───────────────────────────────────────────────────────
  test("issue renderer matches the reference template") {
    val issue = Renderers.Issue(42, "Crash on load", "octocat", "open",
      "2024-03-05T10:00:00Z", "2024-03-06T11:00:00Z",
      Seq("bug", "p1"), Some("It crashes."), isPullRequest = false,
      comments = Seq(Renderers.IssueComment("alice",
        "2024-03-06T09:00:00Z", "Repro attached.")))
    val md = Renderers.renderIssue(issue)
    assert(md.startsWith("# Issue #42: Crash on load\n\n"))
    assert(md.contains("- **Type:** Issue\n"))
    assert(md.contains("- **Created on:** Tue Mar 05 2024\n"))
    assert(md.contains("- **Labels:** `bug`, `p1`\n\n"))
    assert(md.contains("## Description\n\nIt crashes.\n\n## Comments\n\n"))
    assert(md.contains("### alice - Wed Mar 06 2024\n\nRepro attached.\n\n---\n\n"))
  }

  test("PR label and empty fallbacks") {
    val pr = Renderers.Issue(7, "Add feature", "bob", "closed",
      "2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", Seq.empty, None,
      isPullRequest = true, comments = Seq.empty)
    val md = Renderers.renderIssue(pr)
    assert(md.startsWith("# PR #7: Add feature"))
    assert(md.contains("- **Type:** Pull request\n"))
    assert(md.contains("- **Labels:** None\n\n"))
    assert(md.contains("_No description._"))
    assert(md.endsWith("## Comments\n\n_No comments._\n"))
  }

  test("ticket renderer skips internal comments by default") {
    val t = Renderers.Ticket(9, "Login broken", "open", None, None,
      101L, None, "2024-02-01T00:00:00Z", "2024-02-02T00:00:00Z",
      Seq("auth"), Some("Cannot log in."),
      comments = Seq(
        Renderers.TicketComment(5, "2024-02-01T01:00:00Z",
          isPublic = true, "Public&nbsp;note"),
        Renderers.TicketComment(6, "2024-02-01T02:00:00Z",
          isPublic = false, "Internal note")))
    val md = Renderers.renderTicket(t)
    assert(md.contains("- **Assignee:** Unassigned\n"))
    assert(md.contains("- **Tags:** `auth`\n"))
    assert(md.contains("Public note")) // &nbsp; cleaned
    assert(!md.contains("Internal note"))
    val mdAll = Renderers.renderTicket(t, includeInternal = true)
    assert(mdAll.contains("Internal note"))
    assert(mdAll.contains(" (internal)"))
  }

  test("converter dispatcher routes by format with page-shaped stubs") {
    import graft.sources.DocumentConverters._
    assert(convertFileToMarkdown("a/readme.md", "# Hi".getBytes)
      .contains("# Hi"))
    assert(convertFileToMarkdown("p.html", "<h1>T</h1>".getBytes)
      .contains("# T"))
    val pdf = convertFileToMarkdown("docs/guide.pdf",
      Array.fill[Byte](3000)(7)).get
    assert(pdf.startsWith("# guide\n\n"))
    assert(pdf.contains("## Page 1") && pdf.contains("## Page 3"))
    val doc = convertFileToMarkdown("spec.docx", "x".getBytes).get
    assert(doc.startsWith("# spec\n\n"))
    assert(convertFileToMarkdown("img.png", Array[Byte](1)).isEmpty)
    // deterministic: same bytes, same stub output
    assert(convertFileToMarkdown("docs/guide.pdf", Array.fill[Byte](3000)(7))
      .get == pdf)
  }

  test("processPage: selector cascade picks main content, links from full DOM") {
    import graft.functions.HtmlToMarkdown.processPage
    val html =
      """<html><head><title>Docs Portal</title><script>x()</script></head>
        |<body><nav><a href="/home">Home</a><a href="#top">Top</a>
        |<a href="mailto:a@b">Mail</a></nav>
        |<h1>Portal navigation</h1>
        |<main><h2>Install</h2><p>Run it. <a href="/next">Next</a></p></main>
        |</body></html>""".stripMargin
    val (md, links) = processPage(html)
    // nav text and the chrome h1 are outside <main> -> excluded
    assert(!md.contains("Home") && !md.contains("Portal navigation"))
    // no h1 inside main -> the document <title> is injected
    assert(md == "# Docs Portal\n\n## Install\n\nRun it. [Next](/next)")
    // links come from the FULL dom; fragment + mailto dropped
    assert(links == Seq("/home", "/next"))
  }

  test("processPage: cascade priority and no double title injection") {
    import graft.functions.HtmlToMarkdown.processPage
    // .docs-content outranks <article>
    val (md, _) = processPage(
      """<body><article><p>wrong</p></article>
        |<div class="x docs-content"><h1>Real title</h1><p>Body.</p></div>
        |</body>""".stripMargin)
    assert(md == "# Real title\n\nBody.")
    // markdown already opens with the extracted h1 -> no second injection
    assert(!md.contains("# Real title\n\n# Real title"))
    // icon-only / short h1s are skipped as title candidates
    val (md2, _) = processPage(
      "<body><main><h1>#</h1><h1>menu</h1><p>text</p></main></body>")
    assert(md2 == "# #\n\n# menu\n\ntext")
  }

  test("processPage: body fallback and h1 restore path") {
    import graft.functions.HtmlToMarkdown.processPage
    val (md, _) = processPage(
      "<body><h1>Guide to X</h1><p>Alpha.</p></body>")
    assert(md == "# Guide to X\n\nAlpha.")
    val (empty, links) = processPage("")
    assert(empty == "" && links.isEmpty)
  }

  test("pdf Y-delta line reconstruction matches the reference algorithm") {
    import graft.sources.DocumentConverters.{PdfRun, pdfPageText, pdfMarkdown}
    // same line (|dy|<=5): no break; width>0 adds a space
    assert(pdfPageText(Seq(PdfRun("Hello", 30, 100), PdfRun("world", 0, 102)))
      == "Hello world")
    // width-0 runs on the SAME line concatenate...
    assert(pdfPageText(Seq(PdfRun("foo", 0, 100), PdfRun("bar", 0, 100)))
      == "foobar")
    // ...but the Y-delta break separates them across lines (the inserted
    // \n collapses to a single space)
    assert(pdfPageText(Seq(PdfRun("foo", 0, 100), PdfRun("bar", 0, 90)))
      == "foo bar")
    // trailing width-space is trimmed; internal runs collapse to one space
    assert(pdfPageText(Seq(PdfRun("a", 5, 100), PdfRun("b", 5, 80),
      PdfRun("c", 5, 80))) == "a b c")
    assert(pdfPageText(Seq.empty) == "")
    // multi-page: headings only when numPages > 1; empty pages skipped
    assert(pdfMarkdown("guide", Seq(
      (1, Seq(PdfRun("One", 1, 10))),
      (2, Seq.empty),
      (3, Seq(PdfRun("Three", 1, 10))))) ==
      "# guide\n\n## Page 1\n\nOne\n\n## Page 3\n\nThree")
    assert(pdfMarkdown("single", Seq((1, Seq(PdfRun("Only", 1, 10))))) ==
      "# single\n\nOnly")
  }

  test("doc/docx body normalization") {
    import graft.sources.DocumentConverters.{docBodyMarkdown, docxHtmlMarkdown}
    assert(docBodyMarkdown("a/spec.doc", "Line1\r\n\r\n\r\n\r\nLine2\r\n") ==
      "# spec\n\nLine1\n\nLine2")
    assert(docxHtmlMarkdown("rep.docx",
      "<h2>Section</h2><p>Body <strong>text</strong>.</p>") ==
      "# rep\n\n## Section\n\nBody **text**.")
  }

  test("parseRetryAfter: seconds, http-date, floors and failures") {
    import graft.functions.UrlUtils.parseRetryAfter
    assert(parseRetryAfter("120").contains(120000L))
    assert(parseRetryAfter("1.5").contains(1500L))
    assert(parseRetryAfter("0").contains(1000L))     // floor at 1s
    assert(parseRetryAfter("-5").contains(1000L))
    val now = 1700000000000L
    assert(parseRetryAfter("Wed, 15 Nov 2023 12:00:00 GMT", now)
      .contains(math.max(1000L, 1700049600000L - now)))
    // past date floors at 1s
    assert(parseRetryAfter("Wed, 01 Jan 2020 00:00:00 GMT", now)
      .contains(1000L))
    assert(parseRetryAfter("soon").isEmpty)
    assert(parseRetryAfter(null).isEmpty)
    assert(parseRetryAfter("").isEmpty)
  }

  // ── url utils ───────────────────────────────────────────────────────
  test("url scalars") {
    assert(UrlUtils.getUrlPrefix("https://a.io/x/y?q=1#f") == "https://a.io/x/y")
    assert(UrlUtils.normalizeUrl("https://a.io/p?q=1#frag") == "https://a.io/p")
    assert(UrlUtils.buildUrl("../z", "https://a.io/x/y/") == "https://a.io/x/z")
    assert(UrlUtils.shouldProcessUrl("https://a.io/docs/"))
    assert(UrlUtils.shouldProcessUrl("https://a.io/docs/page.html"))
    assert(UrlUtils.shouldProcessUrl("https://a.io/docs/guide"))
    assert(!UrlUtils.shouldProcessUrl("https://a.io/img/logo.png"))
    // extension match is case-insensitive (reference utils.test.ts:179)
    assert(UrlUtils.shouldProcessUrl("https://a.io/doc/REPORT.PDF"))
    assert(UrlUtils.shouldProcessUrl("https://a.io/INDEX.HTML"))
    assert(!UrlUtils.shouldProcessUrl("https://a.io/LOGO.PNG"))
    assert(UrlUtils.isPdfUrl("https://a.io/m.PDF?v=2"))
    assert(UrlUtils.parseNextLink(
      """<https://api.x.io/p?page=2>; rel="next", <https://api.x.io/p?page=9>; rel="last"""")
      .contains("https://api.x.io/p?page=2"))
    assert(UrlUtils.parseNextLink(null).isEmpty)
  }
}
