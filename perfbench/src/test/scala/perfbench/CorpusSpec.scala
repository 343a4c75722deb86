package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  /** SHA-256 over every doc's id and text, in order. */
  private def digest(docs: Seq[Doc]): String =
    graft.functions.TextUtil.sha256Hex(docs.map(d => s"${d.id}\u0000${d.text}").mkString("\u0001"))

  private def mutationDigest(seed: Long): String = {
    val docs = Corpus.generate(seed, 1200)
    val (next, m) = Corpus.mutate(seed, 1, docs)
    digest(next ++ m.edited ++ m.added) + m.deleted.mkString(",")
  }

  test("the same seed gives a byte-identical corpus and mutation set") {
    assert(digest(Corpus.generate(7, 1200)) == digest(Corpus.generate(7, 1200)))
    assert(mutationDigest(7) == mutationDigest(7))
    assert(digest(Corpus.dedupCorpus(7, 1000).docs) ==
      digest(Corpus.dedupCorpus(7, 1000).docs))
    assert(Corpus.dedupCorpus(7, 1000).planted == Corpus.dedupCorpus(7, 1000).planted)
  }

  test("different seeds give different corpora and mutation sets") {
    assert(digest(Corpus.generate(7, 1200)) != digest(Corpus.generate(8, 1200)))
    assert(mutationDigest(7) != mutationDigest(8))
    assert(digest(Corpus.dedupCorpus(7, 1000).docs) !=
      digest(Corpus.dedupCorpus(8, 1000).docs))
  }

  test("a mutation plants exactly 1% edits, 0.25% adds and 0.25% deletes") {
    val docs = Corpus.generate(3, 4000)
    val (next, m) = Corpus.mutate(3, 1, docs)
    assert((m.edited.size, m.added.size, m.deleted.size) == ((40, 10, 10)))
    val before = docs.map(d => d.id -> d.text).toMap
    assert(m.edited.map(_.id).distinct.size == 40)
    assert(m.edited.forall(d => before.get(d.id).exists(_ != d.text)))
    assert(m.edited.map(_.id).intersect(m.deleted).isEmpty)
    assert(m.added.forall(d => !before.contains(d.id)))
    assert(next.size == docs.size - 10 + 10)
    assert(next.map(_.id).toSet == docs.map(_.id).toSet -- m.deleted ++ m.added.map(_.id))
    val unchanged = next.filterNot(d => m.edited.exists(_.id == d.id) || m.added.exists(_.id == d.id))
    assert(unchanged.forall(d => before(d.id) == d.text))
  }

  test("a dedup corpus plants exactly 10% copies, each one word away from its original") {
    val c = Corpus.dedupCorpus(5, 1000)
    assert(c.docs.size == 1000 && c.planted.size == 100)
    val text = c.docs.map(d => d.id -> d.text.split(' ')).toMap
    c.planted.foreach { case (copy, orig) =>
      val (a, b) = (text(copy), text(orig))
      assert(orig < 900 && copy >= 900)
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1)
    }
  }

  test("the driver-side chunker splits at 128 chars, trims, and drops blank pieces") {
    val d = Doc(9, ("a" * 127) + " " + ("b" * 10))
    val cs = Corpus.chunks(d)
    assert(cs.map(_._3) == Seq("a" * 127, "b" * 10))
    assert(cs.map(_._1) == Seq(0, 1))
    assert(cs.head._2 == graft.functions.TextUtil.sha256Hex(s"doc://9::${"a" * 127}"))
    assert(Corpus.chunks(Doc(1, " ")).isEmpty)
  }
}
