package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Minimal dependency-free legacy .doc text extraction — the byte-level
  * decode in front of `DocumentConverters.docBodyMarkdown` (the
  * reference delegates this to word-extractor's getBody(),
  * content-processor.ts:1411-1440).
  *
  * Two public specs cover everything needed:
  *   - [MS-CFB] compound file binary: header, FAT/DIFAT sector chains,
  *     directory entries, mini-FAT/mini-stream for sub-4096-byte
  *     streams. The reader scans directory entries by name instead of
  *     walking the red-black sibling tree (lenient, like every
  *     practical extractor).
  *   - [MS-DOC]: the FIB in the WordDocument stream, the piece table
  *     (Clx → PlcPcd) in the 0Table/1Table stream, per-piece
  *     CP1252-compressed vs UTF-16LE encoding, and the legacy
  *     fcMin/fcMac fallback for files without a Clx.
  *
  * Fast-saved (fComplex) documents are fully covered by the same walk:
  * an incremental save appends revision text at arbitrary file offsets
  * and splices it into the piece table, so pieces arrive out of
  * physical order with stale unreferenced regions between them — all
  * invisible to a reader that addresses each piece by its own fc. The
  * piece table also spans the non-body sections (footnotes, headers,
  * annotations — common in fast-saved files), so the text is truncated
  * to the FIB's ccpText main-body range, matching word-extractor's
  * getBody() (reference: content-processor.ts:1411-1427).
  *
  * Encrypted payloads (fEncrypted): Office Binary RC4 documents are
  * REALLY decrypted when a caller-supplied password verifies (see
  * [[OfficeCrypto]] — beyond-reference: word-extractor throws on
  * them); XOR-obfuscated documents (fObfuscated) and wrong/missing
  * passwords return None and keep the labeled stub upstream. Runs
  * inside per-row kernels: no state, executor-safe.
  */
object DocExtract {

  private val SectorShiftOff = 30
  private val MiniShiftOff = 32
  private val DirStartOff = 48
  private val MiniCutoffOff = 56
  private val MiniFatStartOff = 60
  private val DifatStartOff = 68
  private val NumDifatOff = 72
  private val HeaderDifatOff = 76
  private val EndOfChain = 0xFFFFFFFEL

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)
  private def u32(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)

  private final case class DirEntry(name: String, typ: Int, start: Long,
      size: Long)

  /** Parsed CFB container: stream lookup by name. */
  private final class Cfb(data: Array[Byte]) {
    val sectorSize: Int = 1 << u16(data, SectorShiftOff)
    val miniSize: Int = 1 << u16(data, MiniShiftOff)
    val miniCutoff: Long = u32(data, MiniCutoffOff)

    private def sector(i: Long): Array[Byte] = {
      val off = sectorSize * (i.toInt + 1)
      java.util.Arrays.copyOfRange(data, off,
        math.min(off + sectorSize, data.length))
    }

    // FAT = the sectors listed in the header DIFAT (+ chained DIFAT
    // sectors), concatenated as little-endian u32 entries
    private val fat: Array[Long] = {
      val fatSectors = ArrayBuffer[Long]()
      var i = 0
      while (i < 109) {
        val s = u32(data, HeaderDifatOff + 4 * i)
        if (s < 0xFFFFFFFAL) fatSectors += s
        i += 1
      }
      var difat = u32(data, DifatStartOff)
      var guard = u32(data, NumDifatOff).toInt + 1
      while (difat < 0xFFFFFFFAL && guard > 0) {
        val sec = sector(difat)
        val perSec = sectorSize / 4 - 1
        (0 until perSec).foreach { k =>
          val s = u32(sec, 4 * k)
          if (s < 0xFFFFFFFAL) fatSectors += s
        }
        difat = u32(sec, sectorSize - 4)
        guard -= 1
      }
      fatSectors.toArray.flatMap { fs =>
        val sec = sector(fs)
        (0 until sectorSize / 4).map(k => u32(sec, 4 * k))
      }
    }

    private def chain(start: Long, table: Array[Long]): Seq[Long] = {
      val out = ArrayBuffer[Long]()
      var s = start
      var guard = table.length + 2
      while (s < 0xFFFFFFFAL && guard > 0) {
        out += s
        s = if (s < table.length) table(s.toInt) else EndOfChain
        guard -= 1
      }
      out.toSeq
    }

    private def readChain(start: Long): Array[Byte] =
      chain(start, fat).flatMap(sector).toArray

    val entries: Seq[DirEntry] = {
      val dir = readChain(u32(data, DirStartOff))
      (0 until dir.length / 128).flatMap { k =>
        val off = 128 * k
        val nameLen = u16(dir, off + 64)
        val typ = dir(off + 66) & 0xff
        if (typ == 0 || nameLen < 2) None
        else {
          val name = new String(dir, off, math.min(nameLen - 2, 64),
            java.nio.charset.StandardCharsets.UTF_16LE)
          Some(DirEntry(name, typ, u32(dir, off + 116), u32(dir, off + 120)))
        }
      }
    }

    private lazy val miniFat: Array[Long] = {
      val start = u32(data, MiniFatStartOff)
      if (start >= 0xFFFFFFFAL) Array.empty
      else {
        val raw = readChain(start)
        (0 until raw.length / 4).map(k => u32(raw, 4 * k)).toArray
      }
    }
    private lazy val miniContainer: Array[Byte] =
      entries.find(_.typ == 5).map(r => readChain(r.start))
        .getOrElse(Array.empty)

    def stream(name: String): Option[Array[Byte]] =
      entries.find(e => e.typ == 2 && e.name == name).map { e =>
        val raw =
          if (e.size < miniCutoff)
            chain(e.start, miniFat).flatMap { s =>
              val off = (s * miniSize).toInt
              miniContainer.slice(off, off + miniSize)
            }.toArray
          else readChain(e.start)
        java.util.Arrays.copyOfRange(raw, 0,
          math.min(e.size, raw.length.toLong).toInt)
      }
  }

  private def isCfb(b: Array[Byte]): Boolean =
    b.length > 512 &&
      (b(0) & 0xff) == 0xD0 && (b(1) & 0xff) == 0xCF &&
      (b(2) & 0xff) == 0x11 && (b(3) & 0xff) == 0xE0 &&
      (b(4) & 0xff) == 0xA1 && (b(5) & 0xff) == 0xB1 &&
      (b(6) & 0xff) == 0x1A && (b(7) & 0xff) == 0xE1

  // ── Word piece-table text ─────────────────────────────────────────────

  private val Cp1252High: Array[Char] =
    // 0x80..0x9F differ from Latin-1; the rest map 1:1
    Array('€', '', '‚', 'ƒ', '„', '…',
      '†', '‡', 'ˆ', '‰', 'Š', '‹',
      'Œ', '', 'Ž', '', '', '‘',
      '’', '“', '”', '•', '–', '—',
      '˜', '™', 'š', '›', 'œ', '',
      'ž', 'Ÿ')

  private def cp1252(b: Array[Byte], off: Int, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len && off + i < b.length) {
      val v = b(off + i) & 0xff
      sb.append(
        if (v >= 0x80 && v <= 0x9f) Cp1252High(v - 0x80) else v.toChar)
      i += 1
    }
    sb.toString
  }

  private def utf16(b: Array[Byte], off: Int, chars: Int): String =
    new String(b, off, math.min(chars * 2, math.max(0, b.length - off)),
      java.nio.charset.StandardCharsets.UTF_16LE)

  /** Raw document text via the Clx piece table ([MS-DOC] 2.8.35 /
    * 2.9.177): each piece maps a CP range to a file offset with its own
    * compressed-CP1252 vs UTF-16 flag. */
  private def pieceTableText(wd: Array[Byte],
      table: Array[Byte]): Option[String] = {
    val fcClx = u32(wd, 0x01A2).toInt
    val lcbClx = u32(wd, 0x01A6).toInt
    if (lcbClx <= 0 || fcClx < 0 || fcClx + lcbClx > table.length) return None
    var pos = fcClx
    val end = fcClx + lcbClx
    // skip Prc property blocks (clxt 0x01 + i16 size + grpprl)
    while (pos < end && table(pos) == 0x01)
      pos += 3 + u16(table, pos + 1)
    if (pos >= end || table(pos) != 0x02) return None
    val lcbPlc = u32(table, pos + 1).toInt
    val plc = pos + 5
    if (plc + lcbPlc > end || lcbPlc < 4 + 12) return None
    val n = (lcbPlc - 4) / 12
    val cps = (0 to n).map(i => u32(table, plc + 4 * i).toInt)
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      val pcd = plc + 4 * (n + 1) + 8 * i
      val fc = u32(table, pcd + 2)
      val compressed = ((fc >> 30) & 1) == 1
      val off = (fc & 0x3FFFFFFFL).toInt
      val chars = cps(i + 1) - cps(i)
      sb.append(
        if (compressed) cp1252(wd, off / 2, chars)
        else utf16(wd, off, chars))
    }
    Some(sb.toString)
  }

  /** Word control chars → text: paragraph marks and line breaks become
    * newlines, table cell/row marks become tabs/newlines, field and
    * object placeholders drop. */
  private def cleanText(raw: String): String = {
    val sb = new StringBuilder(raw.length)
    raw.foreach {
      case '\r' | '' => sb.append('\n') // para mark, line break
      case '' => sb.append('\n')        // cell / row end
      case '\t' => sb.append('\t')
      case '' | '' | '' => () // field begin/sep/end
      case c if c >= ' ' || c == '\n' => sb.append(c)
      case _ => ()
    }
    sb.toString
  }

  /** Real .doc → markdown; None for payloads outside the supported
    * core (callers fall back to the labeled stub). `passwords` are
    * tried in order against RC4-encrypted documents — the reference's
    * word-extractor throws on those unconditionally, so any non-empty
    * list is beyond-reference capability (the curation pipeline's
    * per-source password config, the analog of `qpdf --password`). */
  def docToMarkdown(fileName: String, bytes: Array[Byte],
      passwords: Seq[String] = Nil): Option[String] =
    try {
      if (!isCfb(bytes)) return None
      val cfb = new Cfb(bytes)
      val wd0 = cfb.stream("WordDocument").getOrElse(return None)
      if (wd0.length < 0x01AA || u16(wd0, 0) != 0xA5EC) return None
      val fibFlags = u16(wd0, 0x0A)
      val whichTbl = (fibFlags >> 9) & 1
      val tbl0 = cfb.stream(s"${whichTbl}Table")
      // fEncrypted ([MS-DOC] FibBase bit 8): the piece-table offsets
      // point into ciphertext — walking them undecrypted would "decode"
      // to mojibake. fObfuscated (bit 15) selects the legacy XOR
      // scheme ([MS-OFFCRYPTO] 2.3.7): lKey then holds the 16-bit
      // password verifier instead of a header size, and a password
      // whose CreatePasswordVerifier_Method1 matches it yields the
      // 16-byte obfuscation array that de-obfuscates both streams
      // (WordDocument past its clear FibBase, Table fully). Otherwise
      // the Table stream heads with an Office Binary RC4
      // EncryptionHeader of `lKey` bytes (FIB offset 0x0E) and a
      // verified password decrypts the WordDocument stream past its
      // 0x44-byte clear FibBase prefix plus the Table stream past the
      // header. No password that verifies → the labeled stub
      // upstream; the reference throws on BOTH schemes, so each
      // decode is beyond-reference.
      val decrypted: Option[(Array[Byte], Option[Array[Byte]])] =
        if (((fibFlags >> 8) & 1) == 0) Some((wd0, tbl0))
        else if (((fibFlags >> 15) & 1) == 1) {
          val want = u32(wd0, 0x0E).toInt & 0xFFFF
          passwords.iterator.filter(_.nonEmpty)
            .find(OfficeCrypto.xorVerifier(_) == want)
            .map { pw =>
              val arr = OfficeCrypto.xorArray(pw)
              (OfficeCrypto.xorCrypt(wd0, arr, 0x44, decode = true),
                tbl0.map(OfficeCrypto.xorCrypt(_, arr, 0, decode = true)))
            }
        }
        else for {
          t <- tbl0
          hdr <- OfficeCrypto.parseHeader(t, u32(wd0, 0x0E))
          base <- passwords.iterator
            .map(pw => OfficeCrypto.keyBase(pw, hdr.salt))
            .find(OfficeCrypto.verify(_, hdr))
        } yield (OfficeCrypto.cryptStream(wd0, base, 0x44),
          Some(OfficeCrypto.cryptStream(t, base, OfficeCrypto.HeaderSize)))
      decrypted.flatMap { case (wd, tblOpt) =>
        // ccpText (FibRgLw97, FIB offset 0x4C): CP count of the MAIN
        // BODY. The piece table continues past it into footnote/header/
        // annotation sections — ubiquitous in fast-saved files — and
        // word-extractor's getBody() returns only [0, ccpText). 0 (our
        // pre-Clx fixtures, some minimal writers) means "unrecorded":
        // keep the full piece-table text.
        val ccpText =
          if (wd.length >= 0x50) u32(wd, 0x4C).toInt else 0
        val text = tblOpt
          .flatMap(pieceTableText(wd, _))
          .map(t =>
            if (ccpText > 0 && ccpText < t.length) t.substring(0, ccpText)
            else t)
          .orElse {
            // legacy fallback: contiguous text at fcMin..fcMac
            val fcMin = u32(wd, 24).toInt
            val fcMac = u32(wd, 28).toInt
            if (fcMin >= 0 && fcMin < fcMac && fcMac <= wd.length)
              Some(cp1252(wd, fcMin, fcMac - fcMin))
            else None
          }
        text.map(cleanText).filter(_.exists(!_.isWhitespace))
          .map(DocumentConverters.docBodyMarkdown(fileName, _))
      }
    } catch { case _: Exception => None }
}
