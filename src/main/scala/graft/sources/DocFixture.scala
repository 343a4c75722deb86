package graft.sources

/** Deterministic legacy-.doc BUILDER — staging only, the input side of
  * the `doc_word_lines` oracle row (the decode side is the real
  * [[DocExtract]]). Emits minimal-but-valid [MS-CFB] containers with a
  * [MS-DOC] FIB + piece table, so the oracle row exercises the exact
  * production byte-walk: CFB FAT/directory, FIB flag checks, Clx →
  * PlcPcd, CP1252-compressed vs UTF-16 pieces, and the fcMin/fcMac
  * legacy fallback. Intentionally independent of the decoder's
  * constants (offsets re-derived from the specs, like the spec-side
  * fixtures in DocExtractSpec).
  */
object DocFixture {

  private val Utf16 = java.nio.charset.StandardCharsets.UTF_16LE
  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  /** Minimal CFB: 512-byte sectors, one FAT sector, one directory
    * sector, every stream padded to ≥ 4096 bytes so the mini-stream
    * cutoff never applies. */
  def buildCfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val padded = streams.map { case (n, c) =>
      val size = math.max(c.length, 4096)
      val buf = java.util.Arrays.copyOf(c, ((size + 511) / 512) * 512)
      (n, buf, size)
    }
    val dirSector = 1
    var nextSector = 2
    val starts = padded.map { case (_, buf, _) =>
      val s = nextSector; nextSector += buf.length / 512; s
    }
    val out = new Array[Byte](512 * (nextSector + 1))
    Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).zipWithIndex
      .foreach { case (v, i) => out(i) = v.toByte }
    putU16(out, 30, 9)
    putU16(out, 32, 6)
    putU32(out, 44, 1)
    putU32(out, 48, dirSector)
    putU32(out, 56, 4096)
    putU32(out, 60, 0xFFFFFFFEL)
    putU32(out, 68, 0xFFFFFFFEL)
    putU32(out, 72, 0)
    putU32(out, 76, 0)
    (1 until 109).foreach(i => putU32(out, 76 + 4 * i, 0xFFFFFFFFL))
    val fatOff = 512
    (0 until 128).foreach(k => putU32(out, fatOff + 4 * k, 0xFFFFFFFFL))
    putU32(out, fatOff, 0xFFFFFFFDL)
    putU32(out, fatOff + 4 * dirSector, 0xFFFFFFFEL)
    padded.zip(starts).foreach { case ((_, buf, _), s) =>
      val n = buf.length / 512
      (0 until n).foreach { k =>
        putU32(out, fatOff + 4 * (s + k),
          if (k == n - 1) 0xFFFFFFFEL else (s + k + 1).toLong)
      }
    }
    def dirEntry(idx: Int, name: String, typ: Int, start: Long,
        size: Long): Unit = {
      val off = 512 * (dirSector + 1) + 128 * idx
      val nb = name.getBytes(Utf16)
      System.arraycopy(nb, 0, out, off, nb.length)
      putU16(out, off + 64, nb.length + 2)
      out(off + 66) = typ.toByte
      putU32(out, off + 116, start)
      putU32(out, off + 120, size)
    }
    dirEntry(0, "Root Entry", 5, 0xFFFFFFFEL, 0)
    padded.zip(starts).zipWithIndex.foreach {
      case (((name, _, size), s), i) => dirEntry(i + 1, name, 2, s, size) }
    padded.zip(starts).foreach { case ((_, buf, _), s) =>
      System.arraycopy(buf, 0, out, 512 * (s + 1), buf.length) }
    out
  }

  private def fib(encrypted: Boolean): Array[Byte] = {
    val wd = new Array[Byte](4096)
    putU16(wd, 0, 0xA5EC)
    putU16(wd, 0x0A, if (encrypted) 1 << 8 else 0) // fEncrypted bit 8
    wd
  }

  /** Piece-table streams: the first piece CP1252-compressed (words
    * `a`, ASCII text + paragraph mark), the second UTF-16LE (words
    * `b`); `b` empty → a single compressed piece. `encrypted` sets the
    * FIB fEncrypted flag with the piece table left in place — a decoder
    * without the flag check would walk it and emit the text;
    * `obfuscated` adds fObfuscated (the legacy XOR scheme the decoder
    * declines). `tblOrigin` positions the Clx inside the table stream
    * (the RC4 builder reserves the head for its EncryptionHeader). */
  private def pieceDocStreams(a: Seq[String], b: Seq[String],
      encrypted: Boolean, obfuscated: Boolean,
      tblOrigin: Int): (Array[Byte], Array[Byte]) = {
    val wd = fib(encrypted)
    if (obfuscated)
      putU16(wd, 0x0A, u16(wd, 0x0A) | 0x8000) // fObfuscated bit 15
    val t1 = (a.mkString(" ") + "\r").getBytes(Ascii)
    System.arraycopy(t1, 0, wd, 1024, t1.length)
    val s2 = b.mkString(" ")
    val t2 = s2.getBytes(Utf16)
    System.arraycopy(t2, 0, wd, 2048, t2.length)
    val tbl = new Array[Byte](4096)
    val pieces =
      if (b.isEmpty) Seq((t1.length, (1024L * 2) | (1L << 30)))
      else Seq((t1.length, (1024L * 2) | (1L << 30)), (s2.length, 2048L))
    val n = pieces.length
    val p = tblOrigin
    tbl(p) = 0x02
    val lcbPlc = 4 * (n + 1) + 8 * n
    putU32(tbl, p + 1, lcbPlc.toLong)
    val plc = p + 5
    var cp = 0L
    pieces.zipWithIndex.foreach { case ((chars, _), i) =>
      putU32(tbl, plc + 4 * i, cp); cp += chars
    }
    putU32(tbl, plc + 4 * n, cp)
    val pcds = plc + 4 * (n + 1)
    pieces.zipWithIndex.foreach { case ((_, fc), i) =>
      putU32(tbl, pcds + 8 * i + 2, fc)
    }
    putU32(wd, 0x01A2, tblOrigin.toLong)
    putU32(wd, 0x01A6, (5L + lcbPlc))
    (wd, tbl)
  }

  def pieceTableDoc(a: Seq[String], b: Seq[String],
      encrypted: Boolean = false, obfuscated: Boolean = false): Array[Byte] = {
    val (wd, tbl) = pieceDocStreams(a, b, encrypted, obfuscated, 64)
    buildCfb(Seq("WordDocument" -> wd, "0Table" -> tbl))
  }

  /** Office Binary RC4-encrypted document ([MS-OFFCRYPTO] 2.3.6): the
    * piece-table body of [[pieceTableDoc]] with a 52-byte
    * EncryptionHeader (version 1.1, salt, verifier pair) heading the
    * table stream, `lKey` = 52 in the FIB, and both streams RC4-
    * encrypted at natural offsets past their clear prefixes (0x44-byte
    * FibBase / the header) with per-512-byte-block MD5 keys. Salt and
    * verifier derive deterministically from the words so the fixture
    * is corpus-stable; the decrypt side is the REAL
    * [[OfficeCrypto]]/[[DocExtract]] path, which must authenticate the
    * password before walking anything. */
  def rc4EncryptedDoc(a: Seq[String], b: Seq[String],
      password: String): Array[Byte] = {
    val (wd, tbl) = pieceDocStreams(a, b, encrypted = true,
      obfuscated = false, tblOrigin = 2 * OfficeCrypto.HeaderSize)
    putU32(wd, 0x0E, OfficeCrypto.HeaderSize.toLong) // lKey
    def md5(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val seedText = (a ++ b).mkString(" ")
    val salt = md5(s"graft-doc-salt:$seedText")
    val verifier = md5(s"graft-doc-verifier:$seedText")
    val base = OfficeCrypto.keyBase(password, salt)
    val rc4 = new OfficeCrypto.Rc4(OfficeCrypto.blockKey(base, 0))
    val encVerifier = verifier.clone()
    rc4.xor(encVerifier, 0, 16)
    val encVerifierHash = md5Bytes(verifier)
    rc4.xor(encVerifierHash, 0, 16) // same keystream, continued
    putU16(tbl, 0, 1) // version major
    putU16(tbl, 2, 1) // version minor
    System.arraycopy(salt, 0, tbl, 4, 16)
    System.arraycopy(encVerifier, 0, tbl, 20, 16)
    System.arraycopy(encVerifierHash, 0, tbl, 36, 16)
    buildCfb(Seq(
      "WordDocument" -> OfficeCrypto.cryptStream(wd, base, 0x44),
      "0Table" -> OfficeCrypto.cryptStream(tbl, base,
        OfficeCrypto.HeaderSize)))
  }

  private def md5Bytes(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(b)

  /** XOR-obfuscated document ([MS-OFFCRYPTO] 2.3.7): the piece-table
    * body of [[pieceTableDoc]] with fEncrypted+fObfuscated set, the
    * password's 16-bit verifier in lKey, and both streams run through
    * the 16-byte obfuscation array (WordDocument past its clear
    * 0x44-byte FibBase, Table fully). The decode side is the REAL
    * [[OfficeCrypto]] XOR path, which must match the verifier before
    * de-obfuscating anything; the reference's word-extractor throws on
    * these files unconditionally. */
  def xorObfuscatedDoc(a: Seq[String], b: Seq[String],
      password: String): Array[Byte] = {
    val (wd, tbl) = pieceDocStreams(a, b, encrypted = true,
      obfuscated = true, tblOrigin = 64)
    putU32(wd, 0x0E, OfficeCrypto.xorVerifier(password).toLong) // lKey
    val arr = OfficeCrypto.xorArray(password)
    buildCfb(Seq(
      "WordDocument" -> OfficeCrypto.xorCrypt(wd, arr, 0x44,
        decode = false),
      "0Table" -> OfficeCrypto.xorCrypt(tbl, arr, 0, decode = false)))
  }

  /** Fast-saved (incrementally saved) document — the shape word
    * processors actually produced under Word's "allow fast saves": the
    * body text is PHYSICALLY scattered (the middle third lives at a
    * HIGHER file offset than the tail, exactly what an insert-then-
    * fast-save does: the insert is appended at the end of the stream
    * and spliced into the piece table), the FIB carries fComplex
    * (FibBase bit 2), two Prc revision-property blocks precede the
    * Pcdt, and the piece table continues past the body into a header
    * section that ccpText must exclude from getBody output. A decoder
    * that assumed file-order pieces, choked on multiple Prc blocks, or
    * returned the whole piece-table range would all fail this fixture.
    * The logical body is one line when `words.length <= 8`, else two
    * (first 8 words / rest) — SQL-replayable by construction. */
  def fastSavedDoc(words: Seq[String]): Array[Byte] = {
    val wd = fib(encrypted = false)
    putU16(wd, 0x0A, (u16(wd, 0x0A) | 0x0004)) // fComplex
    val body =
      if (words.length > 8)
        words.take(8).mkString(" ") + "\r" + words.drop(8).mkString(" ") +
          "\r"
      else words.mkString(" ") + "\r"
    // split the body into thirds: s1 and s3 are the "original" save
    // (contiguous CP1252 at 1024), s2 is the fast-save insert appended
    // at 3072 as UTF-16 — physically AFTER s3 but logically between
    val p1 = body.length / 3
    val p2 = 2 * body.length / 3
    val (s1, s2, s3) =
      (body.substring(0, p1), body.substring(p1, p2), body.substring(p2))
    val header = "Running header text\r"
    System.arraycopy(s1.getBytes(Ascii), 0, wd, 1024, s1.length)
    System.arraycopy(s3.getBytes(Ascii), 0, wd, 1024 + s1.length,
      s3.length)
    val s2b = s2.getBytes(Utf16)
    System.arraycopy(s2b, 0, wd, 3072, s2b.length)
    System.arraycopy(header.getBytes(Ascii), 0, wd, 3584, header.length)
    putU32(wd, 0x4C, body.length.toLong) // ccpText: body only
    // pieces in CP order; fc out of physical order on purpose
    val pieces = Seq(
      (s1.length, (1024L * 2) | (1L << 30)),
      (s2.length, 3072L),
      (s3.length, ((1024L + s1.length) * 2) | (1L << 30)),
      (header.length, ((3584L) * 2) | (1L << 30)))
    val n = pieces.length
    val tbl = new Array[Byte](4096)
    var p = 64
    // two Prc blocks (revision grpprls a fast save leaves behind)
    Seq(6, 2).foreach { g =>
      tbl(p) = 0x01; putU16(tbl, p + 1, g); p += 3 + g
    }
    tbl(p) = 0x02
    val lcbPlc = 4 * (n + 1) + 8 * n
    putU32(tbl, p + 1, lcbPlc.toLong)
    val plc = p + 5
    var cp = 0L
    pieces.zipWithIndex.foreach { case ((chars, _), i) =>
      putU32(tbl, plc + 4 * i, cp); cp += chars
    }
    putU32(tbl, plc + 4 * n, cp)
    val pcds = plc + 4 * (n + 1)
    pieces.zipWithIndex.foreach { case ((_, fc), i) =>
      putU32(tbl, pcds + 8 * i + 2, fc)
    }
    putU32(wd, 0x01A2, 64L)
    putU32(wd, 0x01A6, (p + 5 + lcbPlc - 64).toLong)
    buildCfb(Seq("WordDocument" -> wd, "0Table" -> tbl))
  }

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)

  /** Pre-Clx legacy document: contiguous CP1252 text at fcMin..fcMac,
    * no table stream at all. */
  def legacyDoc(words: Seq[String]): Array[Byte] = {
    val wd = fib(encrypted = false)
    val body = (words.mkString(" ") + "\r").getBytes(Ascii)
    System.arraycopy(body, 0, wd, 1024, body.length)
    putU32(wd, 24, 1024L)
    putU32(wd, 28, 1024L + body.length)
    buildCfb(Seq("WordDocument" -> wd))
  }
}
