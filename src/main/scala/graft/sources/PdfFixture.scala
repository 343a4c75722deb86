package graft.sources

/** Deterministic encrypted-PDF BUILDER — staging only, the input side
  * of the `doc_pdf_crypt` oracle row (the decode side is the real
  * [[PdfExtract]] path). Emits RC4-encrypted one-page PDFs under the
  * standard security handler ([PDF 32000-1:2008 §7.6.3]): /O from the
  * owner password (Algorithm 3), /U from the file key (Algorithms 4/5),
  * per-object stream keys (Algorithm 1), content deflated BEFORE
  * encryption (the writer-side compress-then-encrypt order the decoder
  * must invert). RC4/MD5 primitives are shared with the decoder — the
  * cipher is symmetric — so what the row proves is the full
  * key-derivation and authentication round trip plus the
  * decrypt→inflate→interpret pipeline, not a byte replay.
  *
  * The reference never decrypts PDFs itself (it inherits whatever
  * PDF.js handles, content-processor.ts:1489-1520); this builder exists
  * so the Spark-side decode of the dominant real-world case — RC4,
  * owner-password-only, empty user password — is oracle-checked.
  */
object PdfFixture {

  import PdfExtract.{rc4, padPassword, fileKey, objKey, md5, PwPad}

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Algorithm 3: the /O entry. R3 re-digests the first n bytes 50
    * times and applies the 19 XOR-keyed RC4 rounds. */
  def computeO(ownerPw: String, userPw: String, r: Int,
      n: Int): Array[Byte] = {
    var h = md5(padPassword(ownerPw))
    if (r >= 3) {
      var i = 0
      while (i < 50) { h = md5(h.take(n)); i += 1 }
    }
    val key = h.take(n)
    var o = rc4(key, padPassword(userPw))
    if (r >= 3)
      for (i <- 1 to 19) o = rc4(key.map(b => (b ^ i).toByte), o)
    o
  }

  /** Algorithms 4 (R2) / 5 (R3): the /U entry for a given file key —
    * R3 appends the spec's 16 bytes of arbitrary padding (zeros). */
  def computeU(fk: Array[Byte], id0: Array[Byte], r: Int): Array[Byte] =
    if (r == 2) rc4(fk, PwPad)
    else {
      var enc = rc4(fk, md5(PwPad, id0))
      for (i <- 1 to 19) enc = rc4(fk.map(b => (b ^ i).toByte), enc)
      enc ++ new Array[Byte](16)
    }

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private[graft] def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def esc(s: String): String = s.flatMap {
    case '(' => "\\("
    case ')' => "\\)"
    case '\\' => "\\\\"
    case c => c.toString
  }

  private final case class RawObj(num: Int, dict: String,
      stream: Option[Array[Byte]] = None)

  /** AESV2 stream encryption: deterministic IV (MD5 of id0 ++ objnum —
    * fixtures must replay byte-identically), PKCS#7 pad, AES-128-CBC,
    * IV prefix. */
  private def aesEncrypt(key: Array[Byte], iv: Array[Byte],
      plain: Array[Byte]): Array[Byte] = {
    val padLen = 16 - (plain.length % 16)
    val padded = plain ++ Array.fill(padLen)(padLen.toByte)
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    iv ++ c.doFinal(padded)
  }

  /** Assemble objects into a file. With `crypt = Some((r, userPw,
    * ownerPw, literalOU))` every stream is encrypted with its
    * Algorithm-1 object key — RC4 for r 2-3 (length-preserving, so
    * /Length entries written against the plaintext stay valid) or
    * AES-128-CBC for r 4 (/AESV2: IV prefix + padding change the
    * length, so stream dicts are rewritten with the true /Length) —
    * and the /Encrypt dictionary + trailer entry are appended. */
  /** V5 (AES-256) credential block for [[assemble]]: a deterministic
    * 32-byte file key (fixtures must replay byte-identically) wrapped
    * per [PDF 32000-2] Algorithm 8 — /U = hash ++ validation salt ++
    * key salt for `userPw`, /UE = the file key AES-wrapped under the
    * key-salt hash; /O and /OE likewise over the 48-byte /U block with
    * the owner password. */
  private def v5Credentials(userPw: String, ownerPw: String,
      id0: Array[Byte], r: Int): (Array[Byte], String) = {
    import PdfExtract.{hash256, aesCbc}
    def d(tag: String): Array[Byte] = md5(id0, tag.getBytes(Latin1))
    val fileKey = d("fk1") ++ d("fk2")
    val (vs, ks) = (d("vs").take(8), d("ks").take(8))
    val (ovs, oks) = (d("ovs").take(8), d("oks").take(8))
    val empty = Array.emptyByteArray
    val upw = userPw.getBytes(Latin1)
    val opw = ownerPw.getBytes(Latin1)
    val u = hash256(upw, vs, empty, r) ++ vs ++ ks
    val ue = aesCbc(hash256(upw, ks, empty, r), new Array[Byte](16),
      fileKey, encrypt = true)
    val o = hash256(opw, ovs, u, r) ++ ovs ++ oks
    val oe = aesCbc(hash256(opw, oks, u, r), new Array[Byte](16),
      fileKey, encrypt = true)
    val dict = s"<< /Filter /Standard /V 5 /R $r /Length 256 " +
      "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen " +
      "/Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/U <${hex(u)}> /UE <${hex(ue)}> /O <${hex(o)}> /OE <${hex(oe)}> " +
      "/P -44 >>"
    (fileKey, dict)
  }

  private def assemble(objs: Seq[RawObj], id0: Array[Byte],
      crypt: Option[(Int, String, String, Boolean, Boolean)]): Array[Byte] = {
    val (finalObjs, encryptFrag) = crypt match {
      case None => (objs, "")
      case Some((r, userPw, ownerPw, _, _)) if r >= 5 =>
        val (fileKey, dict) = v5Credentials(userPw, ownerPw, id0, r)
        val encNum = objs.map(_.num).max + 1
        val enc = objs.map { ro =>
          ro.stream match {
            case None => ro
            case Some(sb) =>
              val iv = PdfExtract.md5(id0, Array((ro.num & 0xff).toByte))
              val ct = aesEncrypt(fileKey, iv, sb) // V5: no per-object key
              ro.copy(
                dict = ro.dict.replaceAll("/Length\\s+\\d+",
                  s"/Length ${ct.length}"),
                stream = Some(ct))
          }
        }
        (enc :+ RawObj(encNum, dict), s"/Encrypt $encNum 0 R ")
      case Some((r, userPw, ownerPw, literalOU, identityStmF)) =>
        require(r >= 2 && r <= 4, s"unsupported revision $r")
        require(!identityStmF || r == 4, "Identity /StmF rides the V4 dict")
        val p = -44
        val lenBits = if (r == 2) 40 else 128
        val o = computeO(ownerPw, userPw, r, lenBits / 8)
        val fk = fileKey(userPw, o, p, id0, r, lenBits)
        val u = computeU(fk, id0, r)
        def str(b: Array[Byte]): String =
          if (literalOU)
            "(" + b.map(x => (x & 0xff).toChar).mkString
              .flatMap {
                case '(' => "\\("
                case ')' => "\\)"
                case '\\' => "\\\\"
                case '\r' => "\\r" // a raw CR would be EOL-normalized
                case c => c.toString
              } + ")"
          else s"<${hex(b)}>"
        val encNum = objs.map(_.num).max + 1
        val enc =
          // Identity /StmF: streams bypass encryption entirely — the
          // plaintext objects ARE the file body ([PDF 32000-1] §7.6.5,
          // Table 25: the Identity crypt filter passes data through)
          if (identityStmF) objs
          else objs.map { ro =>
            ro.stream match {
              case None => ro
              case Some(sb) if r <= 3 =>
                ro.copy(stream = Some(rc4(objKey(fk, ro.num, 0), sb)))
              case Some(sb) =>
                val iv = PdfExtract.md5(id0,
                  Array((ro.num & 0xff).toByte))
                val ct = aesEncrypt(objKey(fk, ro.num, 0, aes = true), iv, sb)
                // AES changes stream length: rewrite the dict's /Length
                ro.copy(
                  dict = ro.dict.replaceAll("/Length\\s+\\d+",
                    s"/Length ${ct.length}"),
                  stream = Some(ct))
            }
          }
        val dict =
          if (identityStmF)
            "<< /Filter /Standard /V 4 /R 4 /Length 128 " +
              "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen " +
              "/Length 16 >> >> /StmF /Identity /StrF /StdCF " +
              s"/O ${str(o)} /U ${str(u)} /P $p >>"
          else if (r == 4)
            "<< /Filter /Standard /V 4 /R 4 /Length 128 " +
              "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen " +
              "/Length 16 >> >> /StmF /StdCF /StrF /StdCF " +
              s"/O ${str(o)} /U ${str(u)} /P $p >>"
          else s"<< /Filter /Standard /V ${if (r == 2) 1 else 2} " +
            s"/R $r /Length $lenBits /O ${str(o)} /U ${str(u)} /P $p >>"
        (enc :+ RawObj(encNum, dict), s"/Encrypt $encNum 0 R ")
    }
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(Latin1))
    w("%PDF-1.4\n")
    finalObjs.foreach { ro =>
      ro.stream match {
        case None => w(s"${ro.num} 0 obj ${ro.dict} endobj\n")
        case Some(sb) =>
          w(s"${ro.num} 0 obj ${ro.dict} stream\n")
          out.write(sb)
          w("\nendstream endobj\n")
      }
    }
    w(s"trailer << /Size ${finalObjs.map(_.num).max + 1} /Root 1 0 R " +
      s"$encryptFrag/ID [<${hex(id0)}> <${hex(id0)}>] >>\n%%EOF\n")
    out.toByteArray
  }

  /** A one-page encrypted PDF whose content stream shows `words` as two
    * Tj lines (3 + rest), deflated then RC4-encrypted. A non-empty
    * `userPw` makes the empty-password authentication fail — the
    * decoder must fall back to the labeled stub, never emit garbage.
    * `literalOU = true` writes /O and /U as escaped literal strings
    * instead of hex (both spellings occur in the wild). */
  def encryptedPdf(words: Seq[String], r: Int, id0: Array[Byte],
      userPw: String = "", ownerPw: String = "owner",
      literalOU: Boolean = false,
      identityStmF: Boolean = false): Array[Byte] = {
    val (l1, l2) = words.splitAt(3)
    val content =
      s"BT /F1 12 Tf 72 200 Td (${esc(l1.mkString(" "))}) Tj " +
        s"0 -20 Td (${esc(l2.mkString(" "))}) Tj ET"
    val cb = deflate(content.getBytes(Latin1))
    assemble(Seq(
      RawObj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      RawObj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      RawObj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
      RawObj(4, s"<< /Length ${cb.length} /Filter /FlateDecode >>",
        Some(cb))),
      id0, Some((r, userPw, ownerPw, literalOU, identityStmF)))
  }

  /** A one-page PDF whose show-strings are CODE-ENCODED the way a
    * subsetted/CID font's are — raw bytes are gibberish, only the
    * /ToUnicode CMap yields text. `twoByte = false`: 1-byte shift-3
    * codes via an increment bfrange (<23> <81> → U+0020…), inline
    * /Resources. `twoByte = true`: 2-byte <01cc> codes (<0100> <01FF>
    * → U+0000…), INDIRECT /Resources and /Font dictionaries — so the
    * two routes also cover both dictionary spellings. `encrypted`
    * wraps every stream (content AND CMap) in RC4 — the decoder must
    * decrypt before it can even find the mapping. */
  /** `packDicts = true` additionally moves the page, font, and
    * resource DICTIONARIES into a /Type /ObjStm object stream (the
    * PDF-1.5+ packed layout modern writers emit) — only the content
    * and CMap streams stay top-level, so the decoder's ObjStm
    * expansion is on the critical path to any text at all. */
  def cmapPdf(words: Seq[String], twoByte: Boolean, id0: Array[Byte],
      encrypted: Boolean = false, packDicts: Boolean = false): Array[Byte] = {
    val (l1, l2) = words.splitAt(3)
    def encode(s: String): String =
      if (twoByte) s.map(c => f"01${c.toInt}%02x").mkString
      else s.map(c => f"${c.toInt + 3}%02x").mkString
    val content =
      s"BT /F1 12 Tf 72 200 Td <${encode(l1.mkString(" "))}> Tj " +
        s"0 -20 Td <${encode(l2.mkString(" "))}> Tj ET"
    val cmap =
      if (twoByte)
        "begincmap\n1 begincodespacerange\n<0000> <FFFF>\n" +
          "endcodespacerange\n1 beginbfrange\n<0100> <01FF> <0000>\n" +
          "endbfrange\nendcmap\n"
      else
        "begincmap\n1 begincodespacerange\n<00> <FF>\n" +
          "endcodespacerange\n1 beginbfrange\n<23> <81> <0020>\n" +
          "endbfrange\nendcmap\n"
    val cb = deflate(content.getBytes(Latin1))
    val mb = cmap.getBytes(Latin1)
    val page =
      if (twoByte) "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources 7 0 R >>"
      else "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>"
    val font = "<< /Type /Font /Subtype /Type0 /BaseFont /Graft-Sub " +
      "/ToUnicode 6 0 R >>"
    val streams = Seq(
      RawObj(4, s"<< /Length ${cb.length} /Filter /FlateDecode >>",
        Some(cb)),
      RawObj(6, s"<< /Length ${mb.length} >>", Some(mb)))
    val roots = Seq(
      RawObj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      RawObj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"))
    val dicts = Seq(RawObj(3, page), RawObj(5, font)) ++
      (if (twoByte) Seq(RawObj(7, "<< /Font << /F1 5 0 R >> >>"))
       else Seq.empty)
    val objs =
      if (!packDicts) roots ++ dicts ++ streams
      else {
        // pack the page/font/resource dicts into one /ObjStm: header
        // of "num offset" pairs, bodies from /First
        val bodies = dicts.map(_.dict)
        val offsets = bodies.scanLeft(0)(_ + _.length + 1).init
        val header = dicts.zip(offsets)
          .map { case (ro, off) => s"${ro.num} $off" }.mkString(" ") + " "
        val inner = (header + bodies.mkString(" ")).getBytes(Latin1)
        val packed = deflate(inner)
        roots ++ streams :+ RawObj(8,
          s"<< /Type /ObjStm /N ${dicts.length} /First ${header.length} " +
            s"/Length ${packed.length} /Filter /FlateDecode >>",
          Some(packed))
      }
    assemble(objs, id0,
      if (encrypted) Some((3, "", "owner", false, false)) else None)
  }
}
