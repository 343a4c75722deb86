package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Warc

/** The WARC record walk against spec-conforming framing: version
  * lines, Content-Length block delimiting, HTTP status/header split
  * inside response records, transparent (multi-member) gunzip, and
  * the never-guess behavior on broken framing. */
class WarcSpec extends AnyFunSuite {

  private def iso(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  test("encode/parse round-trip: records, HTTP split, bodies") {
    val html = "<html><body>hello { } body</body></html>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
    val warc = Warc.warcEncode(Seq(
      ("warcinfo", "", iso("software: test\r\n")),
      ("response", "https://x.example/a", iso(http)),
      ("request", "https://x.example/a", iso("GET /a HTTP/1.1\r\n"))))
    val rs = WarcReference.parseWarc(warc)
    assert(rs.length == 3)
    assert(rs(0).warcType == "warcinfo" && rs(0).httpStatus == -1)
    assert(new String(rs(0).body, "ISO-8859-1") == "software: test\r\n")
    assert(rs(1).warcType == "response" &&
      rs(1).targetUri == "https://x.example/a" &&
      rs(1).httpStatus == 200 &&
      rs(1).httpContentType == "text/html" &&
      new String(rs(1).body, "ISO-8859-1") == html)
    assert(rs(2).warcType == "request" && rs(2).httpStatus == -1)
  }

  test("gzip is transparent, including Common Crawl's one-member-per-" +
      "record concatenation") {
    val mk = (n: Int) => Warc.warcEncode(Seq(("response", s"https://x/$n",
      iso(s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nbody$n"))))
    // whole-file single member
    val one = WarcReference.parseWarc(Warc.gzip(mk(1)))
    assert(one.length == 1 && new String(one(0).body, "UTF-8") == "body1")
    // concatenated members, one per record
    val multi = WarcReference.parseWarc(Warc.gzip(mk(1)) ++ Warc.gzip(mk(2)))
    assert(multi.length == 2)
    assert(new String(multi(0).body, "UTF-8") == "body1")
    assert(new String(multi(1).body, "UTF-8") == "body2")
  }

  test("broken framing never guesses: bad magic, short block, bad " +
      "content-length all end the walk cleanly") {
    assert(WarcReference.parseWarc(iso("HTTP/1.1 200 OK\r\n\r\n")).isEmpty)
    val good = Warc.warcEncode(Seq(("response", "https://x/1",
      iso("HTTP/1.1 200 OK\r\n\r\nabc"))))
    assert(WarcReference.parseWarc(good).length == 1)
    // truncating into the block drops the record, parses nothing past
    assert(WarcReference.parseWarc(good.take(good.length - 10)).isEmpty)
    // a corrupt Content-Length ends the walk instead of mis-framing
    val bad = iso(new String(good, "ISO-8859-1")
      .replace("Content-Length: ", "Content-Length: x"))
    assert(WarcReference.parseWarc(bad).isEmpty)
    // corrupt gzip declines
    val gz = Warc.gzip(good)
    gz(gz.length / 2) = (gz(gz.length / 2) ^ 0x55).toByte
    assert(WarcReference.parseWarc(gz).isEmpty ||
      WarcReference.parseWarc(gz).forall(_.warcType.nonEmpty))
  }

  test("fixtureWarc: 404 route, gzip parity, and the checksum the " +
      "oracle replays") {
    val r13 = WarcReference.parseWarc(Warc.fixtureWarc(13)) // 404, odd -> gzip
    assert(r13.length == 2 && r13(1).httpStatus == 404 &&
      new String(r13(1).body, "UTF-8") == "Not Found")
    val r2 = WarcReference.parseWarc(Warc.fixtureWarc(2)) // 200, even -> plain
    assert(r2.length == 2 && r2(1).httpStatus == 200)
    val body = new String(r2(1).body, "UTF-8")
    assert(body == "<html><body><h1>Doc 2</h1><p>" + ("ab" * 7) +
      "</p></body></html>")
    // gzip/plain parity: same ids decode to identical records
    assert(WarcReference.parseWarc(Warc.gzip(Warc.fixtureWarc(2)))
      .map(r => new String(r.body, "UTF-8")) ==
      r2.map(r => new String(r.body, "UTF-8")))
  }

  test("STREAMING: a >2 GiB logical archive walks record-at-a-time — " +
      "impossible for any whole-buffer path (JVM array cap)") {
    val body = new Array[Byte](1 << 20)
    java.util.Arrays.fill(body, 'x'.toByte)
    val n = 2100 // 2100 MiB of bodies > 2^31 bytes total
    val en = new java.util.Enumeration[java.io.InputStream] {
      private var k = 0
      override def hasMoreElements: Boolean = k < n
      override def nextElement(): java.io.InputStream = {
        val rec = Warc.warcEncode(Seq(("resource", s"https://x/$k", body)))
        k += 1
        new java.io.ByteArrayInputStream(rec)
      }
    }
    var count = 0L
    var bytes = 0L
    Warc.parseWarcEvents(new java.io.SequenceInputStream(en)).foreach {
      case Right(r) => count += 1; bytes += r.body.length
      case Left(e) => fail(s"unexpected parse error: $e")
    }
    assert(count == n && bytes == n.toLong * (1 << 20))
    assert(bytes > Int.MaxValue.toLong)
  }

  test("oversized records are streamed past, not buffered, and the " +
      "walk continues on sound framing") {
    val big = iso("0123456789ABCDEFX") // 17 bytes
    val small = iso("abc")
    val warc = Warc.warcEncode(Seq(
      ("resource", "https://x/big", big),
      ("resource", "https://x/small", small)))
    val events = Warc.parseWarcEvents(
      new java.io.ByteArrayInputStream(warc), maxRecordBytes = 16).toList
    assert(events.length == 2)
    assert(events(0) == Left(Warc.WarcError("oversized", 0)))
    val r = events(1).toOption.get
    assert(r.targetUri == "https://x/small" &&
      new String(r.body, "UTF-8") == "abc")
  }

  test("quarantine surface: truncated fixtures report kind+index " +
      "instead of a silent empty result (plain AND gzipped)") {
    for (id <- Seq(4L, 5L)) { // even=plain, odd=gzip of the truncation
      val events = Warc.parseWarcEvents(new java.io.ByteArrayInputStream(
        Warc.fixtureWarcCorrupt(id))).toList
      assert(events == List(Left(Warc.WarcError("truncated", 0))),
        s"id=$id got $events")
    }
    // corrupt content-length is its own kind
    val good = Warc.warcEncode(Seq(("response", "https://x/1",
      iso("HTTP/1.1 200 OK\r\n\r\nabc"))))
    val bad = iso(new String(good, "ISO-8859-1")
      .replace("Content-Length: ", "Content-Length: x"))
    assert(Warc.parseWarcEvents(new java.io.ByteArrayInputStream(bad))
      .toList == List(Left(Warc.WarcError("bad_content_length", 0))))
  }

  test("charset resolution: declared > meta sniff > UTF-8 probe > " +
      "ISO-8859-1 fallback") {
    // declared in Content-Type wins
    assert(Warc.decodeHtml("text/html; charset=ISO-8859-1",
      "café".getBytes("ISO-8859-1")) == "café")
    // meta tag sniff for undeclared legacy encodings
    val sjis = "<html><head><meta charset=\"shift_jis\"></head>" +
      "<body>こんにちは</body></html>"
    assert(Warc.decodeHtml("text/html", sjis.getBytes("Shift_JIS")) == sjis)
    // valid UTF-8 without declaration decodes as UTF-8
    assert(Warc.decodeHtml("text/html",
      "héllo ☃".getBytes("UTF-8")) == "héllo ☃")
    // invalid UTF-8 without declaration falls back to ISO-8859-1,
    // never replacement characters
    val latin = "café".getBytes("ISO-8859-1")
    assert(Warc.decodeHtml("text/html", latin) == "café")
  }

  test("sha1Base32 matches the Common Crawl digest form (RFC 4648 " +
      "base32 of SHA-1, 32 chars)") {
    // SHA-1("") = da39a3ee...; its base32 is the canonical empty-digest
    val d = Warc.sha1Base32(Array.emptyByteArray)
    assert(d == "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
    assert(d.length == "sha1:".length + 32)
  }

  test("CDX coordinates: parser offsets slice back to the identical " +
      "record, plain and gzipped, and the oracle's offset constant " +
      "holds") {
    for (id <- Seq(2L, 1L)) { // even=plain, odd=gzip
      val bytes = Warc.fixtureWarc(id)
      val rs = WarcReference.parseWarc(bytes)
      assert(rs.length == 2)
      assert(rs(0).offset == 0)
      assert(rs(1).offset == 141, // pinned by the layout_warc_cdx SQL
        s"response record offset ${rs(1).offset}")
      val sliced = Warc.readRecordSlice(bytes, rs(1).offset,
        rs(1).recBytes).get
      assert(sliced.targetUri == rs(1).targetUri &&
        sliced.httpStatus == rs(1).httpStatus &&
        java.util.Arrays.equals(sliced.body, rs(1).body))
    }
  }

  test("gzip member scan: RFC 1952 boundaries over member-per-record " +
      "archives enable compressed seeks (no forward decompression)") {
    val bytes = Warc.fixtureWarcMemberGz(2)
    val members = Warc.gzipMembers(bytes)
    assert(members.length == 2, s"expected 2 members, got $members")
    assert(members(0)._1 == 0 &&
      members(1)._1 == members(0)._2 &&
      members(1)._1 + members(1)._2 == bytes.length,
      s"member extents don't tile the file: $members")
    // compressed-coordinate slice = seek + single-member gunzip
    val (off, len) = members(1)
    val r = Warc.readRecordSlice(bytes, off, len,
      compressedCoords = true).get
    assert(r.warcType == "response" && r.httpStatus == 200 &&
      r.targetUri == "https://archive.example.com/doc/2")
    // the member scan tolerates FNAME'd headers and truncation
    assert(Warc.gzipMembers(bytes.take(bytes.length - 4)).length == 1)
    assert(Warc.gzipMembers(Array[Byte](1, 2, 3)).isEmpty)
    // a member list over a WET-style concatenation parses every record
    val all = members.flatMap { case (o, l) =>
      Warc.readRecordSlice(bytes, o, l, compressedCoords = true) }
    assert(all.map(_.warcType) == Seq("warcinfo", "response"))
  }

  test("memberWalk: the STREAMING member scan matches gzipMembers' " +
      "extents and content, across members larger than its chunk") {
    // one member whose deflate stream spans several 64 KiB chunk
    // fills (exercises the unconsumed-lookahead pushback) plus the
    // standard two-member fixture
    val rnd = new java.util.Random(42)
    val big = new Array[Byte](200 << 10)
    rnd.nextBytes(big)
    val bytes = Warc.gzip(Warc.warcEncode(
      Seq(("resource", "u://big", big)))) ++ Warc.fixtureWarcMemberGz(7)
    val extents = Warc.gzipMembers(bytes)
    val walked = Warc.memberWalk(
      new java.io.ByteArrayInputStream(bytes)).toVector
    assert(walked.map(t => (t._1, t._2)) == extents,
      s"streaming extents ${walked.map(t => (t._1, t._2))} != $extents")
    // each member's decompressed bytes parse to the same record the
    // buffer-based compressed slice yields
    walked.foreach { case (off, len, dec) =>
      val viaSlice = Warc.readRecordSlice(bytes, off, len,
        compressedCoords = true).get
      val viaWalk = WarcReference.parseWarc(dec).head
      assert(viaWalk.warcType == viaSlice.warcType &&
        viaWalk.targetUri == viaSlice.targetUri &&
        java.util.Arrays.equals(viaWalk.body, viaSlice.body),
        s"member at $off differs")
    }
    // malformed framing ends the walk at the last sound boundary
    assert(Warc.memberWalk(new java.io.ByteArrayInputStream(
      bytes.take(bytes.length - 4))).length == extents.length - 1)
  }

  test("memberWalk: a member decompressing past maxRecordBytes ends " +
      "the walk at the last sound boundary (gzip-bomb bound)") {
    val small = Warc.gzip(Warc.warcEncode(
      Seq(("resource", "u://a", Array.fill[Byte](100)(1)))))
    // zeros compress to almost nothing: a classic bomb shape — tiny
    // compressed member, 600 KiB decompressed
    val bomb = Warc.gzip(Warc.warcEncode(
      Seq(("resource", "u://bomb", new Array[Byte](600 << 10)))))
    val bytes = small ++ bomb ++ small
    val capped = Warc.memberWalk(new java.io.ByteArrayInputStream(bytes),
      maxRecordBytes = 256L << 10).toVector
    assert(capped.length == 1 && capped.head._1 == 0L,
      s"walk should stop AT the bomb: ${capped.map(t => (t._1, t._2))}")
    // the default cap (256 MiB, the record parser's bound) passes it
    assert(Warc.memberWalk(
      new java.io.ByteArrayInputStream(bytes)).length == 3)
  }

  test("ArchiveSliceFetcher: uncompressed coordinates on a whole-" +
      "stream .gz resume ONE forward reader across sorted offsets — " +
      "linear by work counters, not wall clock (r20 quadratic fallback)") {
    // whole-stream gzip of 40 records; coordinates in UNCOMPRESSED
    // space from the parser's own byte count
    val raw = Warc.warcEncode((0 until 40).map { i =>
      val body = new Array[Byte](1000)
      java.util.Arrays.fill(body, (i % 31).toByte)
      ("resource", s"u://rec$i", body)
    })
    val recs = WarcReference.parseWarc(raw)
    Scratch.within("slicefetch") { dir =>
      val file = dir.resolve("whole.warc.gz")
      java.nio.file.Files.write(file, Warc.gzip(raw))
      val p = new org.apache.hadoop.fs.Path(file.toString)
      val in = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .open(p)
      try {
        val fetcher = new Warc.ArchiveSliceFetcher(in)
        // every 3rd record, ascending — the sorted-selection shape
        // warcFetchSlicesFromFiles feeds per (task, file)
        val picks = recs.zipWithIndex.collect {
          case (r, i) if i % 3 == 0 => r }
        picks.foreach { r =>
          val slice = fetcher.readUncompressed(r.offset, r.recBytes).get
          val rec = WarcReference.parseWarc(slice).head
          assert(rec.targetUri == r.targetUri &&
            java.util.Arrays.equals(rec.body, r.body),
            s"slice at ${r.offset} decoded wrong record ${rec.targetUri}")
        }
        // LINEAR: one reader start, total forward work bounded by one
        // pass over the uncompressed stream. The r20 fallback restarted
        // per row (restarts == picks.length) and advanced
        // sum-of-offsets ≈ O(k·file) bytes.
        assert(fetcher.gzRestarts == 1,
          s"expected 1 reader start, got ${fetcher.gzRestarts}")
        assert(fetcher.gzBytesAdvanced <= raw.length,
          s"forward work ${fetcher.gzBytesAdvanced} exceeds one pass " +
            s"over ${raw.length} uncompressed bytes")
        val quadraticFloor = picks.map(_.offset).sum
        assert(fetcher.gzBytesAdvanced < quadraticFloor,
          s"forward work ${fetcher.gzBytesAdvanced} is not sub-quadratic " +
            s"(per-row restart floor $quadraticFloor)")
        // an out-of-order (smaller) offset still answers correctly via
        // one documented restart
        val first = recs.head
        val slice0 = fetcher.readUncompressed(first.offset,
          first.recBytes).get
        assert(WarcReference.parseWarc(slice0).head.targetUri == first.targetUri)
        assert(fetcher.gzRestarts == 2)
      } finally scala.util.Try(in.close())
    }
  }

  test("WET fixture: the conversion record's extracted text matches " +
      "the HTML fixture's content, gzip-invariant") {
    for (id <- Seq(2L, 3L)) { // even=plain, odd=gzip
      val rs = WarcReference.parseWarc(WarcReference.fixtureWet(id))
      assert(rs.length == 2 && rs(1).warcType == "conversion")
      val text = new String(rs(1).body, "UTF-8")
      assert(text == s"Doc $id\n" + ("ab" * (5 + (id % 7)).toInt))
      assert(rs(1).targetUri == s"https://archive.example.com/doc/$id")
    }
  }

  test("revisit fixture: spec-shaped record whose payload digest " +
      "matches the REAL first-crawl payload's sha1") {
    val firstBody = WarcReference.parseWarc(Warc.fixtureWarc(2))(1).body
    val rs = WarcReference.parseWarc(Warc.fixtureWarcSecondCrawl(2))
    assert(rs.length == 1 && rs(0).warcType == "revisit")
    assert(rs(0).payloadDigest == Warc.sha1Base32(firstBody))
    assert(rs(0).refersTo == "<urn:uuid:first-2>")
    // changed ids carry a full response instead
    val changed = WarcReference.parseWarc(Warc.fixtureWarcSecondCrawl(6))
    assert(changed.length == 1 && changed(0).warcType == "response" &&
      changed(0).httpStatus == 200 &&
      new String(changed(0).body, "UTF-8").contains("updated"))
  }
}
