package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextUtil
import graft.operators.Dedup

/** Parity pins for the signature kernels' building blocks:
  * `TextUtil.sha256Prefix` against the hex-string form it replaced, and
  * the offset-based shingle walk against the `split`/`sliding` walk it
  * replaced (kept verbatim below as the reference). */
class HashKernelParitySpec extends AnyFunSuite {

  /** The shingle walk the signature kernels used before the offset walk. */
  private def referenceShingleSet(text: String): Iterator[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) Iterator.empty
    else ws.iterator.sliding(3).withPartial(false)
      .map(_.mkString(" ")).distinct
  }

  /** Random strings over spaces, tabs, newlines, ASCII letters, a BMP
    * letter, both surrogate halves (paired and lone). */
  private def randomText(rnd: scala.util.Random, maxLen: Int): String = {
    val alphabet = Seq(" ", " ", " ", "\t", "\n", "a", "b", "c", "xyz",
      "é", "😀", "\ud800", "\udc00")
    Iterator.fill(rnd.nextInt(maxLen + 1))(
      alphabet(rnd.nextInt(alphabet.size))).mkString
  }

  private val edgeStrings =
    Seq("", "\ud800", "\udfff", "😀", "a", "abc", " ")

  test("sha256Prefix equals the hex-parse form at the kernel widths") {
    val rnd = new scala.util.Random(4242)
    val inputs = edgeStrings ++ Seq.fill(500)(randomText(rnd, 40))
    for (s <- inputs; bits <- Seq(28, 32, 48, 60)) {
      val hex = java.lang.Long.parseLong(
        TextUtil.sha256Hex(s).substring(0, bits / 4), 16)
      assert(TextUtil.sha256Prefix(s, bits) == hex, s"bits=$bits s=$s")
    }
  }

  test("sha256Prefix is the leading bits of the digest at every width") {
    val rnd = new scala.util.Random(99)
    val inputs = edgeStrings ++ Seq.fill(500)(randomText(rnd, 40))
    for (s <- inputs; bits <- Seq(1, 28, 32, 48, 60, 63)) {
      val want = (BigInt(TextUtil.sha256Hex(s), 16) >> (256 - bits)).toLong
      val got = TextUtil.sha256Prefix(s, bits)
      assert(got == want && got >= 0, s"bits=$bits s=$s")
    }
    Seq(0, 64).foreach { b =>
      intercept[IllegalArgumentException](TextUtil.sha256Prefix("x", b))
    }
  }

  test("offset shingle walk equals the split/sliding walk") {
    val rnd = new scala.util.Random(2024)
    val edge = Seq("", " ", "  ", "a", "a b", "a  b", "a b c", " a b c",
      "a b c ", "  a b c  ", "a b a b a b", "a\tb c\nd e", "\t\n \t",
      "one two", "x  ", "   x", "a b c d e f g h")
    val inputs = edge ++ Seq.fill(200)(randomText(rnd, 60))
    inputs.foreach { t =>
      val got = Dedup.shingleSet(t).toSeq
      assert(got.distinct.size == got.size, s"repeated shingle in '$t'")
      assert(got.toSet == referenceShingleSet(t).toSet, s"text '$t'")
    }
  }
}
