package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{StoredChunk, Sync}

/** Row-for-row parity of the sync chunker (`Sync.chunksOfUrls`, one row
  * per doc, exploded by `Sync.embedDelta`) with the Window chunker it
  * replaced, kept here as the reference: numbering by row_number over
  * the non-blank pieces and total_chunks by a count over the url. */
class SyncChunkParitySpec extends SparkSuite {

  private val Cols =
    Seq("url", "chunk_index", "total_chunks", "chunk_id", "content")

  /** The replaced Window chunker, verbatim. */
  private def windowChunks(docs: DataFrame, chunkSize: Int): DataFrame = {
    val idx = docs
      .withColumn("i", explode(sequence(lit(0),
        ceil(length(col("text")).cast("double") / chunkSize).cast("int") - 1)))
      .withColumn("content",
        trim(expr(s"substring(text, i*$chunkSize+1, $chunkSize)")))
      .filter(col("content") =!= "")
    idx
      .withColumn("chunk_index",
        row_number().over(Window.partitionBy("url").orderBy("i")) - 1)
      .withColumn("total_chunks",
        count(lit(1)).over(Window.partitionBy("url")).cast("int"))
      .withColumn("chunk_id",
        sha2(concat(col("url"), lit("::"), col("content")), 256))
      .select(Cols.map(col): _*)
  }

  /** The sync path's chunk rows: array chunking, then the embed stage's
    * explode against an empty store. */
  private def arrayChunks(docs: DataFrame, chunkSize: Int): DataFrame = {
    import spark.implicits._
    Sync.embedDelta(Sync.chunksOfUrls(docs, chunkSize),
      spark.emptyDataset[StoredChunk].toDF()).select(Cols.map(col): _*)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getString(0), r.getInt(1)))

  private def assertParity(texts: Seq[(String, String)],
      chunkSize: Int = 128): Seq[Row] = {
    import spark.implicits._
    val docs = texts.toDF("url", "text")
    val expected = rows(windowChunks(docs, chunkSize))
    assert(rows(arrayChunks(docs, chunkSize)) == expected)
    expected
  }

  private val a128 = "a" * 128

  test("degenerate texts: empty, null, spaces only") {
    val out = assertParity(Seq("doc://empty" -> "", "doc://null" -> null,
      "doc://spaces" -> " " * 300, "doc://word" -> "  word  "))
    assert(out.map(_.getString(0)) == Seq("doc://word"))
    assert(out.head.getString(4) == "word")
  }

  test("exact chunk boundaries: 128 and 256 chars") {
    val out = assertParity(Seq("doc://128" -> a128,
      "doc://256" -> (a128 + "b" * 128), "doc://257" -> (a128 * 2 + "c")))
    assert(out.map(r => (r.getString(0), r.getInt(2))).distinct ==
      Seq("doc://128" -> 1, "doc://256" -> 2, "doc://257" -> 3))
  }

  test("an interior all-space piece renumbers chunk_index") {
    val out = assertParity(Seq(
      "doc://gap" -> (a128 + " " * 128 + "tail words"),
      "doc://gaps" -> (" " * 128 + a128 + " " * 256 + "z")))
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getInt(2))) == Seq(
      ("doc://gap", 0, 2), ("doc://gap", 1, 2),
      ("doc://gaps", 0, 2), ("doc://gaps", 1, 2)))
  }

  test("a surrogate pair straddling a 128 boundary") {
    // U+1F600 sits at UTF-16 units 127-128; Spark slices code points,
    // so the whole emoji closes the first piece
    val emoji = new String(Character.toChars(0x1F600))
    val out = assertParity(Seq("doc://emoji" -> ("x" * 127 + emoji + "tail")))
    assert(out.map(_.getString(4)) == Seq("x" * 127 + emoji, "tail"))
  }

  test("seeded random texts over spaces, letters and surrogate pairs") {
    val rnd = new scala.util.Random(17)
    val alphabet = Seq(" ", " ", " ", "a", "b", "\t",
      new String(Character.toChars(0x1F600)))
    val texts = (0 until 200).map { i =>
      val run = rnd.nextInt(4) match {
        case 0 => ""
        case 1 => " " * rnd.nextInt(300)
        case _ => Seq.fill(rnd.nextInt(700))(
          alphabet(rnd.nextInt(alphabet.size))).mkString
      }
      s"doc://r$i" -> run
    }
    assertParity(texts)
    assertParity(texts, chunkSize = 7)
  }
}
