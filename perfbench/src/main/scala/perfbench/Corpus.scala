package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One generated document; the engine sees it as (`doc://<id>`, text). */
final case class Doc(id: Long, text: String) {
  def url: String = s"doc://$id"
}

/** What one resync plants into a corpus: the generator's ground truth
  * for the sync counters. */
final case class Mutation(edited: Seq[Doc], added: Seq[Doc],
    deleted: Seq[Long])

/** A dedup corpus: `planted(copyId) = originalId` for every planted
  * near-copy (the original with one word replaced). */
final case class DedupCorpus(docs: Vector[Doc], planted: Map[Long, Long])

/** Seeded synthetic corpora. Everything here is a pure function of the
  * seed, so the same seed gives byte-identical inputs in any JVM
  * (`SplittableRandom` is specified bit for bit).
  *
  * Text is Zipf-distributed words over a per-seed vocabulary. Lengths
  * vary from tiny (one or two words, 15% of docs: titles and stubs) to
  * several KB, because chunk counts, trailing-chunk sizes and near-dup
  * signatures all depend on length. */
object Corpus {

  val VocabSize = 4000
  val ZipfExponent = 1.07
  val TinyShare = 0.15
  val MaxWords = 900

  val EditRate = 0.01
  val AddRate = 0.0025
  val DeleteRate = 0.0025

  final class Gen(seed: Long) {
    val rng = new SplittableRandom(seed)
    val vocab: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < VocabSize) {
        val len = 2 + rng.nextInt(9)
        seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfExponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
    }

    def wordCount(): Int =
      if (rng.nextDouble() < TinyShare) 1 + rng.nextInt(2)
      else math.round(math.exp(math.log(10) +
        rng.nextDouble() * (math.log(MaxWords) - math.log(10)))).toInt

    def text(): String = Array.fill(wordCount())(word()).mkString(" ")

    /** The text with one word replaced by a different one. */
    def editOneWord(text: String): String = {
      val ws = text.split(' ')
      val i = rng.nextInt(ws.length)
      var w = word()
      while (w == ws(i)) w = word()
      ws(i) = w
      ws.mkString(" ")
    }

    /** `k` distinct indices below `n`, in draw order. */
    def distinct(k: Int, n: Int): Seq[Int] = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < k) picked += rng.nextInt(n)
      picked.toSeq
    }
  }

  def generate(seed: Long, n: Int): Vector[Doc] = {
    val g = new Gen(seed)
    Vector.tabulate(n)(i => Doc(i.toLong, g.text()))
  }

  private def share(n: Int, rate: Double): Int =
    math.max(1, math.round(n * rate).toInt)

  /** Resync `run` of a corpus: 1% of docs edited, 0.25% added (fresh ids
    * above every id in use), 0.25% deleted; edited and deleted docs are
    * disjoint. Returns the next corpus, sorted by id. */
  def mutate(seed: Long, run: Int, docs: Vector[Doc]): (Vector[Doc], Mutation) = {
    val g = new Gen(seed * 1000003L + run)
    val n = docs.size
    val picks = g.distinct(share(n, EditRate) + share(n, DeleteRate), n)
    val (editIdx, deleteIdx) = picks.splitAt(share(n, EditRate))
    val edited = editIdx.map(i => docs(i).copy(text = g.editOneWord(docs(i).text)))
    val deleted = deleteIdx.map(i => docs(i).id)
    val nextId = docs.map(_.id).max + 1
    val added = Seq.tabulate(share(n, AddRate))(k => Doc(nextId + k, g.text()))
    val editedById = edited.map(d => d.id -> d).toMap
    val deletedSet = deleted.toSet
    val next = docs.filterNot(d => deletedSet(d.id))
      .map(d => editedById.getOrElse(d.id, d)) ++ added
    (next, Mutation(edited, added, deleted))
  }

  /** `n` docs of which 10% are planted near-copies: a copy repeats a
    * randomly chosen original with one word replaced. Copies take the
    * ids after the originals. */
  def dedupCorpus(seed: Long, n: Int): DedupCorpus = {
    val g = new Gen(seed)
    val copies = math.max(1, n / 10)
    val originals = Vector.tabulate(n - copies)(i => Doc(i.toLong, g.text()))
    val planted = Vector.tabulate(copies) { k =>
      val o = originals(g.rng.nextInt(originals.size))
      Doc(originals.size.toLong + k, g.editOneWord(o.text)) -> o.id
    }
    DedupCorpus(originals ++ planted.map(_._1),
      planted.map { case (c, o) => c.id -> o }.toMap)
  }

  def textBytes(docs: Seq[Doc]): Long =
    docs.iterator.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  /** The engine's chunking of one doc (`Sync.chunksOfUrls` at chunk size
    * 128), recomputed on the driver as the oracle for store contents:
    * (chunk_index, chunk_id, content). */
  def chunks(d: Doc, size: Int = 128): Seq[(Int, String, String)] = {
    val t = d.text
    val pieces = (0 until (t.length + size - 1) / size)
      .map(i => t.substring(i * size, math.min(t.length, (i + 1) * size)).trim)
      .filter(_.nonEmpty)
    pieces.zipWithIndex.map { case (p, i) =>
      (i, graft.functions.TextUtil.sha256Hex(s"${d.url}::$p"), p)
    }
  }
}
