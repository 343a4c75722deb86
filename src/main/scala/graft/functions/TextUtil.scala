package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Scalar text utilities mirroring the reference's Utils
  * (reference: utils.ts:6-15, 110-149). JVM strings are UTF-16 like JS,
  * so the surrogate-hygiene semantics port code-unit-for-code-unit.
  */
object TextUtil {

  // one digest instance per thread: getInstance() per call dominates the
  // hash cost when the chunker/embedder hashes hundreds of thousands of
  // tokens per partition
  private val sha256Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))
  private val hexDigits = "0123456789abcdef".toCharArray

  /** SHA-256 hex of UTF-8 bytes (reference: utils.ts:6-8). */
  def sha256Hex(content: String): String =
    sha256HexBytes(content.getBytes(StandardCharsets.UTF_8))

  private def sha256(bytes: Array[Byte]): Array[Byte] = {
    val md = sha256Local.get()
    md.reset()
    md.digest(bytes)
  }

  /** The first `bits` (1..63) bits of SHA-256 over the UTF-8 bytes, as
    * a non-negative long read straight from the digest — for whole
    * nibbles, the value of the first `bits / 4` chars of [[sha256Hex]]
    * read as hex, without building or parsing that string. The one hash
    * kernel of the shingle, winnowing and embedding-token signatures. */
  def sha256Prefix(content: String, bits: Int): Long = {
    require(bits >= 1 && bits <= 63, s"sha256Prefix bits $bits not in 1..63")
    val d = sha256(content.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> (64 - bits)
  }

  def sha256HexBytes(bytes: Array[Byte]): String = {
    val d = sha256(bytes)
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  @inline private def isHigh(c: Char): Boolean = c >= 0xd800 && c <= 0xdbff
  @inline private def isLow(c: Char): Boolean = c >= 0xdc00 && c <= 0xdfff

  /** Drop unpaired UTF-16 surrogates (reference: utils.ts:118-124).
    * Keeps valid pairs; removes a high surrogate not followed by a low,
    * and a low surrogate not preceded by a high. */
  def stripLoneSurrogates(text: String): String = {
    val n = text.length
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isHigh(c)) {
        if (i + 1 < n && isLow(text.charAt(i + 1))) {
          sb.append(c).append(text.charAt(i + 1)); i += 2
        } else i += 1 // lone high: drop
      } else if (isLow(c)) {
        i += 1 // lone low (a preceding high would have consumed it): drop
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Slice without splitting a surrogate pair (reference: utils.ts:135-149).
    * Both boundaries are nudged the same way: a straddled pair always
    * travels with the *following* slice, so consecutive slices are lossless.
    */
  def sliceSafe(text: String, start: Int, end: Int): String = {
    def straddles(index: Int): Boolean =
      index > 0 && index < text.length &&
        isHigh(text.charAt(index - 1)) && isLow(text.charAt(index))
    var from = math.max(0, math.min(start, text.length))
    var to = math.max(from, math.min(text.length, end))
    if (straddles(from)) from -= 1
    if (to > from && straddles(to)) to -= 1
    text.substring(from, to)
  }
}
