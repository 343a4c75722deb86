package graft.functions

/** Deterministic local embedder (SURVEY.md §2.4 "hermetic/offline mode"):
  * a hashing-trick bag-of-words projection to a fixed dimension, replacing
  * the reference's OpenAI call (doc2vec.ts:2010-2041) for reproducible
  * tests. Same I/O contract: text in, unit-L2 Float vector out, with the
  * reference's 32 764-char pre-truncation safety net (8191 tokens × ~4
  * chars, doc2vec.ts:2002-2008).
  *
  * Token t maps to slot sha32(t) mod dim with sign from bit 6 of the
  * hash — the sha256-prefix construction keeps it reproducible in any
  * engine (the DuckDB oracle recomputes the integer accumulators).
  */
object Embedder {

  val Dim = 64
  val MaxChars = 32764

  /** 32-bit integer hash of a token: the first 32 bits of sha256. */
  def tokenHash(w: String): Long = TextUtil.sha256Prefix(w, 32)

  /** Integer accumulator vector (pre-normalization) — the deterministic
    * core, oracle-checkable exactly. */
  def accumulate(text: String): Array[Long] = {
    val acc = new Array[Long](Dim)
    val capped = if (text.length > MaxChars) text.substring(0, MaxChars) else text
    var start = 0
    val n = capped.length
    var i = 0
    while (i <= n) {
      if (i == n || capped.charAt(i) == ' ') {
        if (i > start) {
          val x = tokenHash(capped.substring(start, i))
          val idx = (x % Dim).toInt
          val sign = if (((x >> 6) & 1L) == 1L) 1L else -1L
          acc(idx) += sign
        }
        start = i + 1
      }
      i += 1
    }
    acc
  }

  /** Unit-L2 embedding (zero vector stays zero). */
  def embed(text: String): Array[Float] = {
    val acc = accumulate(text)
    var ss = 0.0
    var i = 0
    while (i < Dim) { ss += acc(i).toDouble * acc(i); i += 1 }
    val norm = math.sqrt(ss)
    val out = new Array[Float](Dim)
    if (norm > 0) {
      i = 0
      while (i < Dim) { out(i) = (acc(i) / norm).toFloat; i += 1 }
    }
    out
  }
}
