package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.ChunkStore

/** Input projection of the documents table (top-level: Spark encoders
  * need public classes for codegen). */
case class DocIn(doc_id: Long, text: String, lang: String, source: String)

/** Document-pipeline operators exposed over the driver's `documents` table
  * (SURVEY.md §2.3 as Spark operators).
  *
  * Chunking is a pure per-document flatMap: no shuffle, embarrassingly
  * parallel, scales linearly with executors. The only ordering guarantee
  * needed (chunk_index within a url) is produced inside the per-document
  * function, not by any global sort.
  */
object DocPipeline {

  /** documents row → synthetic markdown page (deterministic), so the
    * heading-aware chunker exercises hierarchy + breadcrumb logic.
    */
  private def toMarkdown(d: DocIn): String =
    s"# ${d.source}\n\n## ${d.lang}\n\n${d.text}"

  private def docUrl(id: Long): String = s"doc://$id"

  /** Heading-aware markdown chunking over the documents table.
    * One output row per chunk with the store schema of FIXTURES.md §2
    * (hierarchy joined to a breadcrumb string for oracle comparison). */
  def chunkMarkdownDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .flatMap { d =>
        Chunker.chunkMarkdown(toMarkdown(d), d.source, "1.0", docUrl(d.doc_id))
      }
      .select(col("url"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        col("section"), col("chunk_id"), col("content"),
        array_join(col("heading_hierarchy"), " > ").as("breadcrumb"),
        col("product_name"))
      .orderBy("url", "chunk_index")
  }

  /** Fixed-size (128-char) token chunking over an arbitrary documents
    * projection — callers filter the scan FIRST so predicates reach
    * parquet (Catalyst cannot push a filter through a typed flatMap). */
  private def tokenChunks(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .flatMap { d =>
        val url = docUrl(d.doc_id)
        Chunker.chunkCode(d.text, d.source, "1.0", url,
          filePath = "", chunkSize = 128)
      }
      .select(col("url"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        col("chunk_id"), col("content"))
  }

  /** Fixed-size (128-char) token chunking — multi-chunk per document, so
    * chunk_index / total_chunks bookkeeping is exercised end-to-end. */
  def chunkTokenDocs(s: SparkSession, dir: String): DataFrame =
    tokenChunks(s, Tables.documents(s, dir))
      .orderBy("url", "chunk_index")

  /** The AST CODE chunker end-to-end as an oracle row (reference
    * code-chunker.ts:125-182): each document becomes a staged
    * TypeScript file of 10 FIXED-WIDTH top-level functions (each
    * function body returns an 8-char-padded word of the document), so
    * the grammar parser's top-level spans are the 10 functions and the
    * greedy '\n'-separator merge packs exactly 4 per 200-char chunk —
    * the one chunker configuration whose recursive-descent output is
    * pure integer arithmetic, which is what lets DuckDB reproduce the
    * chunk contents, ids ("url::content" hashes), and the [File:]
    * prefix byte-for-byte. The general (variable-span) paths stay
    * pinned by the golden tests and the 0.00%-drift gauge. */
  def codeChunkDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val words = text.split(" ")
        val code = (0 until 10).map { i =>
          val w = words(i % words.length).take(8).padTo(8, 'x')
          val n = ("00" + i).takeRight(3)
          s"function f$n() {\n  return \"$w\";\n}"
        }.mkString("\n")
        Chunker.chunkCode(code, "p", "1.0", s"code://$id/main.ts",
          "src/main.ts", chunkSize = 200)
      }
      .select(col("url"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        col("section"), col("chunk_id"), col("content"))
      .orderBy("url", "chunk_index")
  }

  /** Overlap-splitting through the real chunker at query scale: each
    * document is tiled past 4000 chars so the safety-valve flush and the
    * 10%-overlap splitter (stride 3600) run on every row — the oracle
    * recomputes the slices arithmetically. */
  def chunkOverlapDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("big",
        expr("rtrim(repeat(concat(text, ' '), CAST(floor(4500/(length(text)+1)) AS INT) + 2))"))
      .select("doc_id", "big").as[(Long, String)]
      .flatMap { case (id, big) =>
        Chunker.chunkMarkdown(big, "p", "1.0", docUrl(id))
      }
      .select(col("url"), col("chunk_index").cast("long").as("chunk_index"),
        col("total_chunks").cast("long").as("total_chunks"),
        col("chunk_id"), col("content"))
      .orderBy("url", "chunk_index")
  }

  /** Page reconstruction (reference `get_chunks`, mcp/src/server.ts:343-397):
    * all chunks of one url ordered by chunk_index within an index range.
    *
    * Scale: the doc_id filter is applied to the documents SCAN, before
    * the chunking flatMap — `PushedFilters: [EqualTo(doc_id,…)]` reaches
    * parquet, so one page lookup reads one row group, not the corpus.
    * (The url→doc_id parse happens driver-side: the url is a query
    * parameter, not data.) */
  def getChunks(s: SparkSession, dir: String, url: String = "doc://42",
      fromIdx: Int = 0, toIdx: Int = 2): DataFrame = {
    // a url outside the doc://<n> scheme addresses no document: empty
    // result (the pre-pushdown contract), never a parse exception
    val docFilter = url.stripPrefix("doc://").toLongOption match {
      case Some(id) => col("doc_id") === id
      case None => lit(false)
    }
    tokenChunks(s, Tables.documents(s, dir).filter(docFilter))
      .filter(col("chunk_index").between(fromIdx, toIdx))
      .orderBy("chunk_index")
  }

  /** `get_chunks` over an existing chunk store, with the reference's
    * backward-compatible fallback (mcp/src/server.ts:551-606): a legacy
    * store whose schema predates `chunk_index` gets the reduced
    * projection with the range filter and index ordering DROPPED —
    * never an analysis failure (the Spark analog of SQLite's "no such
    * column" retry; schema inspection replaces the error probe).
    *
    * Cost: `chunks` as [[ChunkStore.readLatest]] returned it, from a
    * store whose snapshot fits the driver's memory rule, is answered from
    * the rows its snapshot handle keeps ([[ChunkStore.residentPage]]):
    * the handle's first page lookup reads them in one Spark job, and
    * every later one returns a local frame, which runs one SQL execution
    * and no job when collected. Any other frame, a projection of that
    * one included, runs at most two Spark jobs: the url and range filters
    * run in the parallel scan, and only the page's rows cross one
    * exchange into a single partition, which is sorted by `chunk_index`
    * in place. A global `orderBy` would add a range-sampling job that
    * re-scans the whole store. */
  def getChunksFromStore(chunks: DataFrame, url: String,
      range: Option[(Int, Int)] = None): DataFrame = {
    lazy val page = chunks.filter(col("url") === url)
    if (chunks.columns.contains("chunk_index")) {
      ChunkStore.residentPage(chunks, url, range).getOrElse(
        range.fold(page) { case (a, b) =>
          page.filter(col("chunk_index").between(a, b)) }
          .repartition(1).sortWithinPartitions("chunk_index"))
    } else {
      val legacy = Seq("chunk_id", "content", "url", "section",
        "heading_hierarchy").filter(chunks.columns.contains)
      page.select(legacy.map(col): _*)
    }
  }

  /** PDF text-item → markdown reconstruction over a staged text-run
    * TABLE (doc_id, page, j, str, width, y) — the reference's Y-delta
    * line-break algorithm (content-processor.ts:1489-1567) as a Spark
    * operator. One shuffle groups runs per document (the shape a 100 TB
    * staged extraction needs anyway); reconstruction is a per-group
    * kernel, ordered by (page, item index) inside the group. */
  def pdfFromRuns(s: SparkSession, runs: DataFrame): DataFrame = {
    import s.implicits._
    import graft.sources.DocumentConverters
    runs.select(col("doc_id").cast("long"), col("page").cast("int"),
        col("j").cast("int"), col("str"),
        col("width").cast("double"), col("y").cast("double"))
      .as[(Long, Int, Int, String, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (docId, it) =>
        val sorted = it.toSeq.sortBy(r => (r._2, r._3))
        val pages = sorted.groupBy(_._2).toSeq.map { case (p, rs) =>
          (p, rs.map(r => DocumentConverters.PdfRun(r._4, r._5, r._6)))
        }
        (docId, DocumentConverters.pdfMarkdown(s"doc_$docId", pages))
      }
      .toDF("doc_id", "markdown")
  }

  /** Oracle-checked drive of `pdfFromRuns`: a deterministic run table
    * from the documents words (first 12 words, two interleaved pages,
    * three items per visual line with Δy=10, alternating zero/positive
    * widths — so the width-space rule, the Y-delta line break, and the
    * whitespace collapse are all observable in the output). */
  def pdfLines(s: SparkSession, dir: String): DataFrame = {
    val runs = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), w -> w != '')"))
          .as(Seq("i", "str")))
      .filter(col("i") < 12)
      .select(col("doc_id"),
        (col("i") % 2 + 1).as("page"),
        expr("i div 2").as("j"),
        col("str"),
        (expr("i div 2") % 2).cast("double").as("width"),
        (lit(100) - lit(10) * expr("(i div 2) div 3")).cast("double").as("y"))
    pdfFromRuns(s, runs).orderBy("doc_id")
  }

  /** Legacy .doc (OLE2) decode as an oracle row: deterministic CFB
    * containers built per document by [[graft.sources.DocFixture]] and
    * decoded through the REAL [[graft.sources.DocExtract]] byte-walk
    * (reference delegates to word-extractor's getBody(),
    * content-processor.ts:1411-1440). Three routes, selected by id
    * arithmetic so DuckDB replays the output from the same words:
    * piece-table documents (CP1252-compressed + UTF-16 pieces, the
    * default), pre-Clx legacy documents (fcMin/fcMac, id % 13 = 0),
    * fast-saved documents (id % 11 = 0: fComplex, out-of-physical-order
    * pieces from an incremental save, two Prc revision blocks, and a
    * header section past ccpText that getBody parity must exclude),
    * Office Binary RC4-ENCRYPTED documents (id % 17 = 0, checked
    * first) REALLY decrypted through [[graft.sources.OfficeCrypto]]
    * with the pipeline's password config — MD5 key derivation,
    * verifier authentication, per-512-byte-block RC4 over both streams
    * past their clear prefixes; beyond-reference, word-extractor
    * throws here — and XOR-OBFUSCATED documents (id % 19 = 0,
    * [MS-OFFCRYPTO] 2.3.7) REALLY de-obfuscated: the password's
    * 16-bit verifier must match lKey and the 16-byte obfuscation
    * array must invert both streams exactly, or the route would emit
    * the stub or mojibake and miss the row hash. The stub's
    * payload-hash token (surfaced by undecodable containers) is
    * normalized to '[stub]' (a container sha is not SQL-replayable);
    * everything else is byte-exact. Per-row kernel, no shuffle. */
  def wordLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{DocFixture, DocumentConverters}
    Tables.documents(s, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val words = text.replace('\n', ' ').split(' ')
          .filter(_.nonEmpty).take(12).toSeq
        val bytes =
          if (id % 17 == 0)
            DocFixture.rc4EncryptedDoc(words.take(6), words.drop(6),
              "open sesame")
          else if (id % 19 == 0)
            DocFixture.xorObfuscatedDoc(words.take(6), words.drop(6),
              "open sesame")
          else if (id % 13 == 0) DocFixture.legacyDoc(words)
          else if (id % 11 == 0) DocFixture.fastSavedDoc(words)
          else DocFixture.pieceTableDoc(words.take(6), words.drop(6))
        val md = DocumentConverters
          .convertFileToMarkdown(s"f$id.doc", bytes, Seq("open sesame"))
          .getOrElse("")
        (id, md)
      }
      .toDF("doc_id", "markdown")
      .select(col("doc_id"),
        posexplode(split(col("markdown"), "\n")).as(Seq("line_no", "line")))
      .withColumn("line", regexp_replace(col("line"),
        "^\\[stub-extracted document text [0-9a-f]{8}\\]$", "[stub]"))
      .orderBy("doc_id", "line_no")
  }

  /** Encrypted-PDF decode as an oracle row: standard-security-handler
    * PDFs built per document by [[graft.sources.PdfFixture]]
    * and decoded through the REAL [[graft.sources.PdfExtract]] path —
    * Algorithm 2 key derivation, Algorithm 4/5 /U authentication,
    * Algorithm 1 per-object keys, RC4 or AES-CBC stream decrypt,
    * FlateDecode, then the BT…ET interpreter and Y-delta
    * reconstruction (the reference inherits this from PDF.js,
    * content-processor.ts:1489-1520). Six routes by id arithmetic so
    * DuckDB replays the output from the same words: R3/128-bit RC4
    * (default), R2/40-bit (id % 13 = 0), R3 with literal-string /O /U
    * spelling (id % 11 = 0), AESV2 V4/R4 with IV-prefixed PKCS#7
    * streams (id % 7 = 0), AES-256 V5/R6 with the hardened hash and
    * /UE key unwrap (id % 97 = 0 — SPARSE on purpose: the R6 hash is
    * a password-KDF, slow by design at ~6 hardened derivations per
    * fixture+decode; the row needs route PRESENCE, not density, and a
    * dense route put 9s of deliberate KDF work into the bench), and
    * V4 with an /Identity STREAM crypt filter (id % 23 = 0: a full
    * /Encrypt dict but clear streams per Table 25 — a decoder that
    * treated any /Encrypt as undecryptable would stub and miss the
    * hash) — all decoding to the same words —
    * and owner-locked documents with a non-empty USER password
    * (id % 17 = 0) which must fall back to the labeled stub — a
    * decoder that skipped /U authentication would emit decrypt garbage
    * instead, failing the row. The stub's payload-
    * hash token is normalized to '[stub]' (a container sha is not
    * SQL-replayable); everything else is byte-exact. Per-row kernel,
    * no shuffle. */
  def pdfCryptLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{DocumentConverters, PdfFixture}
    Tables.documents(s, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val words = text.replace('\n', ' ').split(' ')
          .filter(_.nonEmpty).take(6).toSeq
        val id0 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-pdf-$id".getBytes("UTF-8"))
        val bytes =
          if (id % 17 == 0)
            PdfFixture.encryptedPdf(words, 3, id0, userPw = "locked")
          else if (id % 13 == 0) PdfFixture.encryptedPdf(words, 2, id0)
          else if (id % 11 == 0)
            PdfFixture.encryptedPdf(words, 3, id0, literalOU = true)
          else if (id % 7 == 0) PdfFixture.encryptedPdf(words, 4, id0)
          else if (id % 97 == 0) PdfFixture.encryptedPdf(words, 6, id0)
          // V4 with an /Identity STREAM crypt filter: a full /Encrypt
          // dict but clear streams (Table 25 pass-through) — decodes
          // to the same words, so the oracle's default branch replays
          // it; a decoder that treated any /Encrypt as undecryptable
          // would stub here and miss the hash
          else if (id % 23 == 0)
            PdfFixture.encryptedPdf(words, 4, id0, identityStmF = true)
          else PdfFixture.encryptedPdf(words, 3, id0)
        // the oracle's locked-route shape hardcodes the ONE-page stub;
        // pdfToMarkdownStub grows a page per KiB of fixture, so a
        // corpus regeneration with much longer words must fail LOUDLY
        // here, not as a misleading hash mismatch downstream
        // strict <: pdfToMarkdownStub emits its second page AT 1024
        if (id % 17 == 0) require(bytes.length < 1024,
          s"doc $id: locked fixture ${bytes.length}B crosses the stub's " +
            "1024B page threshold — the oracle SQL's one-page stub " +
            "shape no longer matches")
        val md = DocumentConverters
          .convertFileToMarkdown(s"f$id.pdf", bytes).getOrElse("")
        (id, md)
      }
      .toDF("doc_id", "markdown")
      .select(col("doc_id"),
        posexplode(split(col("markdown"), "\n")).as(Seq("line_no", "line")))
      .withColumn("line", regexp_replace(col("line"),
        "^\\[stub-extracted text [0-9a-f]{8}-\\d+\\]$", "[stub]"))
      .orderBy("doc_id", "line_no")
  }

  /** Subset/CID-font PDF decode as an oracle row: PDFs whose
    * show-strings are code-encoded (raw bytes gibberish) and decoded
    * through the REAL [[graft.sources.PdfExtract]] /ToUnicode path
    * (PDF.js does the same mapping inside `getTextContent`, reference
    * content-processor.ts:1489-1520). Four routes by id arithmetic,
    * all decoding to the same words so DuckDB replays one shape:
    * 1-byte shift-3 codes with an increment bfrange and inline
    * /Resources (default), 2-byte <01cc> codes with indirect
    * /Resources + /Font dictionaries (id % 13 = 0), the 2-byte form
    * RC4-encrypted on top (id % 17 = 0) — content AND CMap streams
    * encrypted, so decrypt must run before the mapping is even
    * findable — and the PDF-1.5+ /ObjStm layout (id % 19 = 0, checked
    * first) where page/font/resource dicts exist ONLY inside a packed
    * object stream. A decoder that skipped the CMap would emit shifted
    * gibberish and fail the row; one that skipped ObjStm expansion
    * would find no page at all. Per-row kernel, no shuffle. */
  def pdfCidLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{DocumentConverters, PdfFixture}
    Tables.documents(s, dir).select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val words = text.replace('\n', ' ').split(' ')
          .filter(_.nonEmpty).take(6).toSeq
        val id0 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-cid-$id".getBytes("UTF-8"))
        val bytes =
          if (id % 19 == 0)
            PdfFixture.cmapPdf(words, twoByte = false, id0,
              packDicts = true)
          else if (id % 17 == 0)
            PdfFixture.cmapPdf(words, twoByte = true, id0, encrypted = true)
          else if (id % 13 == 0)
            PdfFixture.cmapPdf(words, twoByte = true, id0)
          else PdfFixture.cmapPdf(words, twoByte = false, id0)
        val md = DocumentConverters
          .convertFileToMarkdown(s"f$id.pdf", bytes).getOrElse("")
        (id, md)
      }
      .toDF("doc_id", "markdown")
      .select(col("doc_id"),
        posexplode(split(col("markdown"), "\n")).as(Seq("line_no", "line")))
      .orderBy("doc_id", "line_no")
  }

  /** Deterministic embedding operator (graft.functions.Embedder) over the
    * documents table — a per-partition map, no shuffle; the integer
    * accumulator signature is emitted so the oracle can check the exact
    * hashing-trick projection (the L2 normalize is a trivial epilogue,
    * unit-tested). */
  def embedDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select("doc_id", "text", "lang", "source").as[DocIn]
      .map(d => (d.doc_id,
        graft.functions.Embedder.accumulate(d.text).mkString(",")))
      .toDF("doc_id", "acc_sig")
      .orderBy("doc_id")
  }

  /** [[embedDocs]] routed through the FULL service-mode machinery
    * (ServiceEmbedder.embedBatched with a hermetic transport and 4
    * pipelined in-flight micro-batches per partition) — the oracle row
    * proving the batched+concurrent path end-to-end: per-batch
    * truncation net, FIFO submission-order emission, and the transport
    * contract all sit between the text and the checked signature. The
    * accumulator values (±1 per token, far below float's 2^24 exact
    * range) survive the Float channel losslessly, so the output is
    * bit-identical to [[embedDocs]] and shares its DuckDB oracle. */
  def embedDocsBatched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val in = Tables.documents(s, dir)
      .select("doc_id", "text").as[(Long, String)]
    val transport: graft.functions.ServiceEmbedder.Transport = texts =>
      graft.functions.ServiceEmbedder.Vectors(texts.map(t =>
        graft.functions.Embedder.accumulate(t).map(_.toFloat)))
    graft.functions.ServiceEmbedder
      .embedBatched(s, in, transport, batchSize = 16, concurrency = 4)
      .select(col("id").as("doc_id"),
        expr("array_join(transform(embedding, " +
          "x -> CAST(CAST(x AS BIGINT) AS STRING)), ',')").as("acc_sig"))
      .orderBy("doc_id")
  }

  /** Binary/multimodal plumbing (builder-prompt multimodal requirement):
    * treat content as an opaque binary column with typed metadata. The
    * decode/feature-extract step is a stub (no media libs in this build);
    * the Spark-side schema, batching and metadata extraction are real. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .select(col("doc_id"),
        length(col("blob")).cast("long").as("n_bytes"),
        sha2(col("blob"), 256).as("content_sha"),
        lit("application/octet-stream").as("mime"))
      .orderBy("doc_id")

  /** Documents projected as an opaque binary corpus — the input shape
    * every multimodal operator consumes ((path, mime, content: binary)).
    * Text bytes stand in for media payloads; the operators never look at
    * anything but the raw bytes, so the plumbing they exercise (schema,
    * per-row/batched maps, fan-out) is exactly what real media hits. */
  private def docBinaries(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      concat(lit("doc://"), col("doc_id")).as("path"),
      lit("application/octet-stream").as("mime"),
      encode(col("text"), "UTF-8").as("content"))

  /** Multimodal resize row: target geometry + deterministic resized-payload
    * hash per binary (stub kernel; the plumbing and hash chain are real). */
  def mediaResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(s, docBinaries(s, dir), targetW = 224,
      targetH = 224).orderBy("path")

  /** REAL-PNG resize as an oracle row: a deterministic PNG is
    * synthesized per document (pixel (x,y,c) =
    * (doc_id·31 + x·7 + y·13 + c·101) mod 256; size and channel count
    * varied by id arithmetic across gray/RGB/RGBA), ENCODED with the
    * row filter cycling through all five PNG filter types, then
    * decoded through the REAL inflate+defilter path
    * ([[Multimodal.decodePngPixels]]) and nearest-neighbor resampled
    * to 5×3. Output is an integer checksum over the resized raster
    * that DuckDB recomputes directly from the pixel formula and the
    * resample's integer coordinate mapping — a wrong filter inversion,
    * a dropped IDAT byte, or a drifted resample all shift it. PNG
    * being lossless is what makes the formula replayable end-to-end.
    * Per-row kernel, no shuffle. */
  def pngResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val w = 8 + (id % 9).toInt
        val h = 8 + (id % 7).toInt
        val ch = (id % 3) match { case 0 => 1; case 1 => 4; case _ => 3 }
        val pixels = new Array[Byte](w * h * ch)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var c = 0
            while (c < ch) {
              pixels((y * w + x) * ch + c) =
                ((id * 31 + x * 7 + y * 13 + c * 101) % 256).toByte
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val png = Multimodal.pngEncode(w, h, ch, pixels)
        val img = Multimodal.decodePngPixels(png)
          .getOrElse(throw new IllegalStateException(s"undecodable id=$id"))
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, ch, rs.length.toLong, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "channels", "n_resized_bytes",
        "checksum")
      .orderBy("doc_id")
  }

  /** REAL-JPEG decode+resize as an oracle row: per document a
    * baseline grayscale JPEG of DC-ONLY blocks is synthesized (block
    * (bx,by)'s quantized DC = ((id + bx·3 + by·7) mod 50) − 25, quant
    * 16 → the decoded block is exactly flat at 128 + dc·2: dc·16 is
    * always ≡ 0 mod 8, so the IDCT result is integral with zero
    * rounding ambiguity), then decoded through the REAL baseline path
    * ([[Multimodal.decodeJpegPixels]]: canonical Huffman from DHT,
    * unstuffed bit stream, DC prediction, zigzag dequant, IDCT) and
    * resampled to 5×3. DuckDB replays the checksum from the flat-
    * block formula — a broken Huffman walk, a mis-predicted DC chain,
    * or a drifted IDCT scale all shift it. The GENERAL path (AC
    * coefficients, ImageIO-written files) is pinned in ScalaTest with
    * an independent-decoder cross-validation. Per-row kernel, no
    * shuffle. */
  def jpegResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val bw = 2 + (id % 3).toInt
        val bh = 2 + (id % 2).toInt
        val w = bw * 8
        val h = bh * 8
        val dcs = Array.tabulate(bw * bh) { p =>
          val bx = p % bw; val by = p / bw
          (((id + bx * 3 + by * 7) % 50) - 25).toInt
        }
        val jpg = Multimodal.jpegEncodeGrayDcOnly(w, h, dcs)
        val img = Multimodal.decodeJpegPixels(jpg).getOrElse(
          throw new IllegalStateException(s"undecodable jpeg id=$id"))
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "checksum")
      .orderBy("doc_id")
  }

  /** REAL-COLOR-JPEG decode+resize as an oracle row — the 3-component
    * twin of [[jpegResize]]: per document a baseline YCbCr 4:4:4 JPEG
    * of DC-ONLY blocks is synthesized (block (bx,by)'s quantized DCs:
    * Y = ((id + bx·3 + by·7) mod 50) − 25, Cb = ((id·5 + bx·11 +
    * by·2) mod 40) − 20, Cr = ((id·3 + bx·5 + by·13) mod 40) − 20,
    * quant 16 → each component decodes exactly flat at 128 + dc·2),
    * decoded through the REAL interleaved-MCU color path
    * ([[Multimodal.decodeJpegPixels]]: per-component Huffman/DC
    * chains, IDCT, fixed-point [[Multimodal.ycbcrToRgb]]), resampled
    * to 5×3×RGB, and checksummed. DuckDB replays the checksum through
    * the SAME integer color-conversion formula (`//`-division on
    * provably-non-negative numerators) — a mis-interleaved MCU, a
    * crossed DC predictor, or a drifted conversion constant all shift
    * it. Per-row kernel, no shuffle. */
  def jpegColorResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val bw = 2 + (id % 3).toInt
        val bh = 2 + (id % 2).toInt
        val w = bw * 8
        val h = bh * 8
        def grid(f: (Int, Int) => Long): Array[Int] =
          Array.tabulate(bw * bh)(p => f(p % bw, p / bw).toInt)
        val dcY = grid((bx, by) => ((id + bx * 3 + by * 7) % 50) - 25)
        val dcCb = grid((bx, by) => ((id * 5 + bx * 11 + by * 2) % 40) - 20)
        val dcCr = grid((bx, by) => ((id * 3 + bx * 5 + by * 13) % 40) - 20)
        val jpg = Multimodal.jpegEncodeColorDcOnly(w, h, dcY, dcCb, dcCr)
        val img = Multimodal.decodeJpegPixels(jpg).getOrElse(
          throw new IllegalStateException(s"undecodable color jpeg id=$id"))
        require(img.channels == 3, s"expected RGB for id=$id")
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "checksum")
      .orderBy("doc_id")
  }

  /** REAL-PROGRESSIVE-JPEG decode+resize as an oracle row: the same
    * flat-block contract as [[jpegColorResize]] but the file is a
    * multi-scan SOF2 ([[Multimodal.jpegEncodeProgDcOnly]]: an
    * interleaved DC-first scan plus one EOB-run AC scan per
    * component), so the §G.1.2 progressive machinery — scan
    * sequencing, coefficient buffering, EOB-run bookkeeping,
    * end-of-file IDCT — is what produces the checksum DuckDB replays
    * from the per-component flat-block + fixed-point-RGB formulas.
    * Per-row kernel, no shuffle. */
  def jpegProgResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val bw = 2 + (id % 3).toInt
        val bh = 2 + (id % 2).toInt
        val w = bw * 8
        val h = bh * 8
        def grid(f: (Int, Int) => Long): Array[Int] =
          Array.tabulate(bw * bh)(p => f(p % bw, p / bw).toInt)
        val dcY = grid((bx, by) => ((id * 7 + bx * 5 + by * 3) % 50) - 25)
        val dcCb = grid((bx, by) => ((id + bx * 2 + by * 11) % 40) - 20)
        val dcCr = grid((bx, by) => ((id * 11 + bx * 7 + by * 5) % 40) - 20)
        val jpg = Multimodal.jpegEncodeProgDcOnly(w, h, dcY, dcCb, dcCr)
        val img = Multimodal.decodeJpegPixels(jpg).getOrElse(
          throw new IllegalStateException(s"undecodable prog jpeg id=$id"))
        require(img.channels == 3, s"expected RGB for id=$id")
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "checksum")
      .orderBy("doc_id")
  }

  /** REAL VIDEO-FRAME decode as an oracle row (MJPEG AVI): per
    * document an AVI of 2–4 Motion-JPEG frames is synthesized (each
    * frame a 16×16 DC-only color 4:4:4 JPEG whose per-component DC
    * grids mix the doc id AND the frame index), then demuxed through
    * the REAL RIFF walk ([[Multimodal.demuxAviFrames]]: hdrl/avih
    * timing, movi '00dc' chunks, word alignment) and each frame
    * decoded through the REAL JPEG path. One row per (doc, frame)
    * with the container-derived timestamp and the raster checksum —
    * DuckDB replays both from the avih period (40 ms) and the
    * flat-block + fixed-point-RGB formulas. A mis-walked chunk, a
    * frame served from the wrong offset, or a broken JPEG decode all
    * shift it. Per-row kernel with a bounded fan-out, no shuffle. */
  def aviFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .flatMap { id =>
        val nf = 2 + (id % 3).toInt
        val (bw, bh) = (2, 2) // 16x16 frames
        def grid(g: (Int, Int) => Long): Array[Int] =
          Array.tabulate(bw * bh)(p => g(p % bw, p / bw).toInt)
        val jpegs = (0 until nf).map { f =>
          Multimodal.jpegEncodeColorDcOnly(16, 16,
            grid((bx, by) => ((id + f * 9 + bx * 3 + by * 7) % 50) - 25),
            grid((bx, by) => ((id * 5 + f + bx * 11 + by * 2) % 40) - 20),
            grid((bx, by) => ((id * 3 + f * 7 + bx * 5 + by * 13) % 40) - 20))
        }
        val avi = Multimodal.aviEncodeMjpeg(16, 16, 40000, jpegs)
        val frames = Multimodal.demuxAviFrames(avi).getOrElse(
          throw new IllegalStateException(s"undemuxable avi id=$id"))
        require(frames.length == nf, s"frame count drift id=$id")
        frames.iterator.map { fr =>
          val jpg = java.util.Arrays.copyOfRange(avi, fr.offset.toInt,
            (fr.offset + fr.size).toInt)
          val img = Multimodal.decodeJpegPixels(jpg).getOrElse(
            throw new IllegalStateException(s"undecodable frame id=$id"))
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) {
            sum += (img.pixels(i) & 0xff).toLong * (1 + i % 97)
            i += 1
          }
          (id, fr.idx.toLong, fr.tsMs, sum)
        }
      }
      .toDF("doc_id", "frame_idx", "ts_ms", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  /** REAL DIB-video decode as an oracle row (the second inter-frame-
    * free codec family next to MJPEG): per document a 2-frame AVI is
    * synthesized — BI_RGB 24-bit for most ids, BI_RLE8 with a gray
    * palette every 3rd — and every 5th id declares an AUDIO stream
    * FIRST, so the video chunks are '01db'/'01dc' and only a demuxer
    * that resolves the stream index from strh declaration order
    * ([[Multimodal.demuxAvi]]) finds them at all. Frames decode
    * through [[Multimodal.decodeDibPixels]] (bottom-up flip, BGR
    * swap, stride padding, RLE8 run/EOL/EOB walk) back to the
    * top-down raster the pixel formula generated; DuckDB replays the
    * formula and the weighted checksum directly. Per-row kernel with
    * a bounded fan-out, no shuffle. */
  def aviRgbFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .flatMap { id =>
        val w = (4 + id % 3).toInt
        val h = (3 + id % 2).toInt
        val audioFirst = id % 5 == 0
        val rle = id % 3 == 0
        val frames = (0 until 2).map { f =>
          if (rle) {
            val idx = Array.tabulate(w * h)(p =>
              ((id * 11 + f * 17 + p * 5) % 256).toByte)
            Multimodal.rle8FromIndices(w, h, idx)
          } else {
            val rgb = Array.tabulate(w * h * 3)(j =>
              ((id * 7 + f * 13 + j * 3) % 256).toByte)
            Multimodal.dibFromRgb24(w, h, rgb)
          }
        }
        val palette = Array.tabulate(256 * 4)(i =>
          if (i % 4 == 3) 0.toByte else (i / 4).toByte)
        val avi =
          if (rle) Multimodal.aviEncodeDib(w, h, 40000, frames, 8, 1,
            palette, audioFirst)
          else Multimodal.aviEncodeDib(w, h, 40000, frames, 24, 0,
            Array.emptyByteArray, audioFirst)
        val imgs = Multimodal.decodeAviVideoFrames(avi).getOrElse(
          throw new IllegalStateException(s"undecodable DIB avi id=$id"))
        imgs.iterator.zipWithIndex.map { case (img, f) =>
          var sum = 0L
          var j = 0
          while (j < img.pixels.length) {
            sum += (img.pixels(j) & 0xff).toLong * (1 + j % 97)
            j += 1
          }
          (id, f.toLong, img.width.toLong, img.height.toLong, sum)
        }
      }
      .toDF("doc_id", "frame_idx", "w", "h", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  /** REAL INTER-FRAME video decode as an oracle row (Microsoft RLE —
    * the RLE8 codec's delta mode): per document a 3-frame AVI where
    * frame 0 paints the full canvas and frames 1–2 are SPARSE deltas
    * ([[Multimodal.rle8DeltaFrame]]: EOL/delta cursor jumps + runs
    * touching only their residue class of pixels) — every untouched
    * pixel must inherit the PREVIOUS frame's value through the
    * persistent canvas in [[Multimodal.decodeAviVideoFrames]]. DuckDB
    * replays the canvas evolution (latest-update-wins CASE over the
    * three pixel formulas) and the per-frame raster checksums — a
    * decoder that resets the canvas between frames (black
    * backgrounds) or mis-walks a delta jump shifts every delta
    * frame's checksum. Per-row kernel, bounded 3-frame fan-out, no
    * shuffle. */
  def aviDeltaFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .flatMap { id =>
        val w = (4 + id % 3).toInt
        val h = (3 + id % 2).toInt
        val n = w * h
        val f0 = Multimodal.rle8FromIndices(w, h,
          Array.tabulate(n)(p => ((id * 3 + p * 7) % 256).toByte))
        val f1 = Multimodal.rle8DeltaFrame(w, h,
          (0 until n).filter(p => (p + id) % 4 == 0)
            .map(p => p -> ((id * 5 + p * 11) % 256).toInt))
        val f2 = Multimodal.rle8DeltaFrame(w, h,
          (0 until n).filter(p => (p + id) % 5 == 0)
            .map(p => p -> ((id * 9 + p * 13) % 256).toInt))
        val palette = Array.tabulate(256 * 4)(i =>
          if (i % 4 == 3) 0.toByte else (i / 4).toByte)
        val avi = Multimodal.aviEncodeDib(w, h, 40000, Seq(f0, f1, f2),
          8, 1, palette)
        val imgs = Multimodal.decodeAviVideoFrames(avi).getOrElse(
          throw new IllegalStateException(s"undecodable delta avi id=$id"))
        imgs.iterator.zipWithIndex.map { case (img, f) =>
          var sum = 0L
          var j = 0
          while (j < img.pixels.length) {
            sum += (img.pixels(j) & 0xff).toLong * (1 + j % 97)
            j += 1
          }
          (id, f.toLong, sum)
        }
      }
      .toDF("doc_id", "frame_idx", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  /** REAL-BMP decode+resize as an oracle row: a 24-bit bottom-up
    * BI_RGB BMP is synthesized per document (pixel (x,y,c) =
    * (doc_id·17 + x·11 + y·5 + c·71) mod 256; width varied by id so
    * the 4-byte row-stride padding takes every phase), encoded
    * through [[Multimodal.bmpEncode24]] (padded BGR rows, bottom-up),
    * decoded through the REAL stride+flip+swizzle path
    * ([[Multimodal.decodeBmpPixels]]), resampled to 5×3, and
    * checksummed; DuckDB replays the checksum from the pixel formula.
    * BMP being lossless is what makes the formula replayable; a
    * missed row flip, wrong stride phase, or unswapped BGR all shift
    * it. Per-row kernel, no shuffle. */
  def bmpResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val w = 5 + (id % 8).toInt // widths hit all stride paddings
        val h = 4 + (id % 6).toInt
        val rgb = Array.tabulate(w * h * 3) { j =>
          val p = j / 3; val c = j % 3
          val x = p % w; val y = p / w
          ((id * 17 + x * 11 + y * 5 + c * 71) % 256).toByte
        }
        val bmp = Multimodal.bmpEncode24(w, h, rgb)
        val img = Multimodal.decodeBmpPixels(bmp).getOrElse(
          throw new IllegalStateException(s"undecodable bmp id=$id"))
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "checksum")
      .orderBy("doc_id")
  }

  /** REAL-GIF decode+resize as an oracle row, the GIF-LZW twin of
    * [[pngResize]]: a palette GIF is synthesized per document
    * (palette entry (p,c) = (id·7 + p·29 + c·47) mod 256, index (x,y)
    * = (x·3 + y·5 + id) mod nColors, geometry/palette size varied by
    * id), encoded through the from-spec LZW compressor, decoded
    * through the REAL sub-block + GIF-LZW + palette path
    * ([[Multimodal.decodeGifPixels]]), resampled to 5×3, and
    * checksummed; DuckDB replays the checksum from the palette/index
    * formulas and the integer resample mapping. A wrong LSB bit
    * order, a mis-grown code width, or a palette mis-expansion all
    * shift it. Per-row kernel, no shuffle. */
  def gifResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val w = 6 + (id % 8).toInt
        val h = 6 + (id % 6).toInt
        val nCol = 4 + (id % 5).toInt
        val palette = Array.tabulate(nCol * 3)(j =>
          ((id * 7 + (j / 3) * 29 + (j % 3) * 47) % 256).toByte)
        val indices = Array.tabulate(w * h) { p =>
          val x = p % w; val y = p / w
          ((x * 3 + y * 5 + id) % nCol).toByte
        }
        val gif = Multimodal.gifEncode(w, h, palette, indices)
        val img = Multimodal.decodeGifPixels(gif).getOrElse(
          throw new IllegalStateException(s"undecodable gif id=$id"))
        val rs = Multimodal.resampleNearest(img, 5, 3)
        var sum = 0L
        var i = 0
        while (i < rs.length) {
          sum += (rs(i) & 0xff).toLong * (1 + i % 97)
          i += 1
        }
        (id, w, h, nCol, sum)
      }
      .toDF("doc_id", "src_w", "src_h", "n_colors", "checksum")
      .orderBy("doc_id")
  }

  /** REAL MP4 sample-table demux as an oracle row: a deterministic
    * single-track ISO-BMFF container is synthesized per document
    * (sample count/sizes/time-deltas from id arithmetic, mdat-first
    * layout so the payload starts at the fixed byte 24), then demuxed
    * through the REAL stbl walk ([[Multimodal.demuxMp4Samples]]:
    * stsz/stco/stsc/stts + mdhd timescale). DuckDB replays each
    * sample's absolute byte offset and timestamp as prefix sums over
    * the same arithmetic — a mis-walked box, an off-by-one in the
    * sample→chunk mapping, or a drifted stts run all shift a row.
    * Per-row kernel with a bounded fan-out (≤11 samples/doc), no
    * shuffle. */
  def mp4Demux(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .flatMap { id =>
        val n = 5 + (id % 7).toInt
        val sizes = (0 until n).map(k => 10L + (id * 7 + k * 13) % 50)
        val deltas = (0 until n).map(k => 100L + (k % 3) * 50)
        val mp4 = Multimodal.mp4Fixture(sizes, deltas)
        val samples = Multimodal.demuxMp4Samples(mp4).getOrElse(
          throw new IllegalStateException(s"demux failed id=$id"))
        samples.iterator.map(sm =>
          (id, sm.idx.toLong, sm.offset, sm.size, sm.tsMs))
      }
      .toDF("doc_id", "frame_idx", "byte_offset", "n_bytes", "ts_ms")
      .orderBy("doc_id", "frame_idx")
  }

  /** Multimodal frame-sampling row: one row per sampled frame, stride 5
    * over a 16-bytes-per-frame stub demux at 30 fps. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(s, docBinaries(s, dir), everyN = 5, fps = 30,
      bytesPerFrame = 16).orderBy("path", "frame_idx")

  /** Multimodal feature row: integer-exact diagnostics of the stub
    * feature kernel (sample count, non-zero slots, weighted checksum). */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.featureDiagnostics(s, docBinaries(s, dir)).orderBy("path")

  /** Audio level audit over REAL encoded PCM: every doc stages a mono
    * 16-bit WAV whose samples derive deterministically from its id
    * (`100 + id % 50` samples, `((id·31 + k·7919) mod 2¹⁶) − 2¹⁵`),
    * and Spark must genuinely decode the container back — RIFF chunk
    * walk, LE sample extraction, sign handling all feed the DuckDB
    * hash, which re-derives the level report from the construction
    * arithmetic without ever seeing the bytes. Encode and decode are
    * both pure per-row kernels: zero shuffle beyond the final sort. */
  def audioLevelReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wavs = Tables.documents(s, dir).select("doc_id")
      .as[Long]
      .map { id =>
        val n = (100 + id % 50).toInt
        val samples = Array.tabulate(n)(k =>
          (((id * 31 + k * 7919L) % 65536L) - 32768L).toInt)
        ("wav://" + id, "audio/wav", Multimodal.encodeWavPcm16(samples, 8000))
      }.toDF("path", "mime", "content")
    Multimodal.audioLevels(s, wavs)
      .withColumn("doc_id", expr("CAST(substring(path, 7) AS BIGINT)"))
      .select("doc_id", "n_samples", "peak", "sum_abs", "n_clip")
      .orderBy("doc_id")
  }

  /** WARC archive scan as an oracle row: per document a
    * spec-conforming WARC is synthesized ([[graft.sources.Warc
    * .fixtureWarc]]: a warcinfo record plus one HTTP response — 200
    * text/html, or 404 every 13th id — GZIPPED for odd ids), parsed
    * through the REAL record walk (version line, Content-Length
    * framing, HTTP status/header split, transparent multi-member
    * gunzip), and emitted one row per record with the body length and
    * checksum. DuckDB reconstructs both records' bodies from the
    * fixture formulas and replays the checksums — the odd/even gzip
    * split means a broken gunzip path fails half the corpus. Per-row
    * flatMap, no shuffle. */
  def warcScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val warcs = Tables.documents(s, dir).select("doc_id").as[Long]
      .map(id => ("warc://" + id, graft.sources.Warc.fixtureWarc(id)))
      .toDF("path", "content")
    graft.sources.Warc.warcRecords(s, warcs)
      .withColumn("doc_id", expr("CAST(substring(path, 8) AS BIGINT)"))
      .select("doc_id", "record_idx", "warc_type", "http_status",
        "n_body_bytes", "body_checksum")
      .orderBy("doc_id", "record_idx")
  }

  /** WARC → ingest pipeline END-TO-END as an oracle row: the fixture
    * archives flow through the WARC connector
    * (gunzip + record walk + the 200/text-html filter — the 404 docs
    * drop here, exactly as a crawler's error pages would) into the
    * REAL page-extraction path ([[graft.functions.HtmlToMarkdown
    * .processPage]]), proving archives and live crawls share one
    * pipeline. DuckDB rebuilds the markdown (`# Doc N` + the
    * paragraph) directly. Per-row flatMap + map, no shuffle. */
  def warcIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r20 (r19 verdict task 3): the batch composition consumes `body`
    // from the V2 connector — which STREAMS each archive off the
    // filesystem with column pruning and the warc_type pushdown —
    // instead of a whole-archive content column. The
    // scale probe showed the connector composition 2.2× faster at 10x
    // (extraction parallelizes across the file listing), and it
    // removes a content-fed entry point. Output rows are IDENTICAL:
    // same records, same 200/text-html filter, same charset-aware
    // decode, same page extraction.
    val base = stagedWarcBuckets(s, dir)
    val prefix = "https://archive.example.com/doc/"
    s.read.format("graft.sources.v2.WarcSource").load(base.toString)
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200 &&
        col("content_type").startsWith("text/html"))
      .select("url", "content_type", "body")
      .as[(String, String, Array[Byte])]
      .map { case (url, ct, body) =>
        val html = graft.sources.Warc.decodeHtml(ct, body)
        val (md, _) = graft.functions.HtmlToMarkdown.processPage(html)
        (url.substring(prefix.length).toLong, url, md)
      }
      .toDF("doc_id", "url", "markdown")
      .orderBy("doc_id")
  }

  /** Fixture staging shared by the batch V2-connector rows: the corpus
    * as bucketed multi-record archives (100 docs per file — the
    * per-FILE work-unit shape of a real archive set), built once per
    * (corpus, session) under the bench's StageCache and per-run
    * otherwise. Uncached dirs are cleaned at JVM exit (not eagerly):
    * the returned query plans READ the staged files lazily, and
    * deferring the delete keeps the composition un-checkpointed — so
    * its physical plan (WarcScan, pushdown, pruning) stays auditable
    * by Explain/PlanAuditSpec. */
  private def stagedWarcBuckets(s: SparkSession,
      dir: String): java.nio.file.Path =
    stagedArchiveDir(s, dir, "warcv2",
      graft.sources.Warc.fixtureWarcRaw, ".warc")

  private def stagedArchiveDir(s: SparkSession, dir: String, tag: String,
      fixture: Long => Array[Byte], ext: String): java.nio.file.Path = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select("doc_id").as[Long]
      .collect().sorted // fixture staging only; |docs| ids on the driver
    val (base, cached) = graft.streaming.StageCache.resolve(
      s"${tag}_${graft.streaming.StageCache.dirKey(dir)}") { base =>
      ids.grouped(100).zipWithIndex.foreach { case (bucket, k) =>
        val out = new java.io.ByteArrayOutputStream()
        bucket.foreach(id => out.write(fixture(id)))
        java.nio.file.Files.write(
          base.resolve(f"bucket$k%05d$ext"), out.toByteArray)
      }
    }
    if (!cached) deleteAtExit(base)
    base
  }

  /** JVM-exit cleanup for uncached fixture staging (the StageCache'd
    * bench path is cleaned by the bench's own cache-root hook). */
  private def deleteAtExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.operators.Sync.deleteTree(p.toFile)))

  /** WARC quarantine surface as an oracle row: every 17th doc's
    * archive is TRUNCATED mid-header (odd ids additionally gzip the
    * truncated payload — a valid gzip stream of a broken archive, so
    * the error must come from WARC framing, not the gunzip). The
    * streaming parser reports (records parsed, error kind, error
    * index) per file instead of silently yielding zero rows — the
    * signal a 100 TB ingest needs to route bad archives to a
    * quarantine bucket rather than absorb them. DuckDB replays the
    * expected surface from the id arithmetic. */
  def warcQuarantineScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val warcs = Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val bytes = if (id % 17 == 0) graft.sources.Warc.fixtureWarcCorrupt(id)
          else graft.sources.Warc.fixtureWarc(id)
        ("warc://" + id, bytes)
      }.toDF("path", "content")
    graft.sources.Warc.warcQuarantine(s, warcs)
      .withColumn("doc_id", expr("CAST(substring(path, 8) AS BIGINT)"))
      .select("doc_id", "n_records", "err_kind", "err_at")
      .orderBy("doc_id")
  }

  /** CDX-pruned record access as an oracle row (the archive analog of
    * the z-order/Hilbert pruning rows): the CDX index built by the
    * REAL streaming parser (offsets from its own byte count) is
    * filtered by a url prefix, and ONLY matching records are read —
    * each as a bounded (offset, rec_bytes) slice re-parsed standalone
    * ([[graft.sources.Warc.warcFetchSlices]], broadcast pinned on the
    * k-row index side). DuckDB independently reconstructs each
    * record's offset and length from the encoder's framing (header
    * line lengths + Content-Length) and replays the payload checksum —
    * a parser whose byte count drifts by even one CRLF fails every
    * row. */
  def warcCdxPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val warcs = Tables.documents(s, dir).select("doc_id").as[Long]
      .map(id => ("warc://" + id, graft.sources.Warc.fixtureWarc(id)))
      .toDF("path", "content")
    val cdx = graft.sources.Warc.warcCdxIndex(s, warcs)
      .filter(col("warc_type") === "response" &&
        col("url").like("https://archive.example.com/doc/1%"))
    graft.sources.Warc.warcFetchSlices(s, warcs, cdx)
      .withColumn("doc_id", expr("CAST(substring(path, 8) AS BIGINT)"))
      .select(col("doc_id"), col("http_status"),
        col("offset").as("rec_offset"), col("rec_bytes"),
        col("n_body_bytes"), col("body_checksum"))
      .orderBy("doc_id")
  }

  /** DataSource V2 WARC connector as an oracle row: the corpus is
    * staged as bucketed multi-record archives (100 docs per file —
    * the per-FILE work-unit shape of a real archive set), read back
    * through `format("graft.sources.v2.WarcSource")` — whose
    * partition reader STREAMS each file off the filesystem with no
    * content column — with the `warc_type = 'response'` equality
    * PUSHED INTO the record walk (warcinfo records are skipped before
    * any row is built; plan shows `pushedTypes=response`). DuckDB
    * replays the response rows exactly as in src_scan_warc. Staging is
    * fixture construction (driver writes |docs|/100 small files);
    * the measured path is the connector scan. */
  def warcV2Scan(s: SparkSession, dir: String): DataFrame = {
    val base = stagedWarcBuckets(s, dir)
    s.read.format("graft.sources.v2.WarcSource").load(base.toString)
      .filter(col("warc_type") === "response")
      .withColumn("doc_id", expr("CAST(substring(url, 33) AS BIGINT)"))
      .select("doc_id", "warc_type", "http_status", "n_body_bytes",
        "body_checksum")
      .orderBy("doc_id")
  }

  /** Archive STREAM ingestion as an oracle row — the Common Crawl
    * delivery shape: immutable archive files LAND in a directory in
    * waves, and a Structured Streaming query over the V2 connector's
    * micro-batch stream ([[graft.sources.v2.WarcMicroBatchStream]])
    * drains each wave exactly once. The fixture stages half the
    * bucketed corpus, runs a Trigger.AvailableNow pass into a
    * checkpointed parquet sink, stages the second wave, and RESTARTS
    * from the checkpoint — the offset (a prefix of the name-sorted
    * listing) must resume past wave 1 without re-reading a byte, so a
    * duplicated or skipped file breaks the row count or a checksum.
    * Result = the same response rows as the batch connector scan. */
  def warcStreamParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select("doc_id").as[Long]
      .collect().sorted // fixture staging only
    val base = java.nio.file.Files.createTempDirectory("warcstream")
    val ckpt = java.nio.file.Files.createTempDirectory("warcstreamckpt")
    val outDir = java.nio.file.Files.createTempDirectory("warcstreamout")
    try {
      val buckets = ids.grouped(100).toArray
      def writeWave(range: Range): Unit = range.foreach { k =>
        val out = new java.io.ByteArrayOutputStream()
        buckets(k).foreach(id =>
          out.write(graft.sources.Warc.fixtureWarcRaw(id)))
        java.nio.file.Files.write(
          base.resolve(f"bucket$k%05d.warc"), out.toByteArray)
      }
      def drainOnce(): Unit = {
        val q = s.readStream.format("graft.sources.v2.WarcSource")
          .load(base.toString)
          .filter(col("warc_type") === "response")
          .withColumn("doc_id",
            expr("CAST(substring(url, 33) AS BIGINT)"))
          .select("doc_id", "warc_type", "http_status", "n_body_bytes",
            "body_checksum")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val half = (buckets.length + 1) / 2
      writeWave(0 until half)
      drainOnce()
      writeWave(half until buckets.length)
      drainOnce() // restart from the checkpoint: wave 2 only
      s.read.parquet(outDir.toString)
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      Sync.deleteTree(base.toFile)
      Sync.deleteTree(ckpt.toFile)
      Sync.deleteTree(outDir.toFile)
    }
  }

  /** Archive stream → MARKDOWN ingest as an oracle row — the full
    * composition: archive files land in waves, the V2 micro-batch
    * stream surfaces their (charset-decoded) HTML payloads through
    * the pruned `body` column, and the REAL page-extraction path
    * ([[graft.functions.HtmlToMarkdown.processPage]]) runs INSIDE the
    * streaming query — proving a landing Common Crawl directory feeds
    * the same markdown pipeline as live crawls, incrementally and
    * exactly once (the second wave resumes from the checkpoint).
    * Result must equal the batch `ingest_warc_e2e` derivation
    * row-for-row; DuckDB rebuilds the markdown verbatim. */
  def warcStreamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select("doc_id").as[Long]
      .collect().sorted // fixture staging only
    val base = java.nio.file.Files.createTempDirectory("warcsi")
    val ckpt = java.nio.file.Files.createTempDirectory("warcsickpt")
    val outDir = java.nio.file.Files.createTempDirectory("warcsiout")
    try {
      val buckets = ids.grouped(100).toArray
      def writeWave(range: Range): Unit = range.foreach { k =>
        val out = new java.io.ByteArrayOutputStream()
        buckets(k).foreach(id =>
          out.write(graft.sources.Warc.fixtureWarcRaw(id)))
        java.nio.file.Files.write(
          base.resolve(f"bucket$k%05d.warc"), out.toByteArray)
      }
      val prefix = "https://archive.example.com/doc/"
      def drainOnce(): Unit = {
        val q = s.readStream.format("graft.sources.v2.WarcSource")
          .load(base.toString)
          .filter(col("warc_type") === "response" &&
            col("http_status") === 200 &&
            col("content_type").startsWith("text/html"))
          .select("url", "content_type", "body")
          .as[(String, String, Array[Byte])]
          .map { case (url, ct, body) =>
            val html = graft.sources.Warc.decodeHtml(ct, body)
            val (md, _) = graft.functions.HtmlToMarkdown.processPage(html)
            (url.substring(prefix.length).toLong, url, md)
          }
          .toDF("doc_id", "url", "markdown")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val half = (buckets.length + 1) / 2
      writeWave(0 until half)
      drainOnce()
      writeWave(half until buckets.length)
      drainOnce()
      s.read.parquet(outDir.toString)
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      Sync.deleteTree(base.toFile)
      Sync.deleteTree(ckpt.toFile)
      Sync.deleteTree(outDir.toFile)
    }
  }

  /** WET (extracted-text WARC) scan as an oracle row: the per-doc
    * fixture is a warcinfo plus one `conversion` record carrying the
    * extracted text of the HTML fixture (gzipped for odd ids), parsed
    * through the same streaming record walk and surfaced as
    * (url, text) — the Common Crawl distribution that skips HTML
    * entirely. DuckDB rebuilds the text verbatim. */
  def wetScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r20 (r19 verdict task 3): WET through the V2 connector too —
    // conversion records' text consumed from the pruned `body` column
    // off bucketed multi-doc WET files, no content column. Same rows:
    // the WET convention is UTF-8 text.
    val base = stagedArchiveDir(s, dir, "wetv2",
      graft.sources.Warc.fixtureWetRaw, ".warc.wet")
    s.read.format("graft.sources.v2.WarcSource").load(base.toString)
      .filter(col("warc_type") === "conversion")
      .select("url", "body")
      .as[(String, Array[Byte])]
      .map { case (url, body) =>
        val text = new String(body,
          java.nio.charset.StandardCharsets.UTF_8)
        (url, text, text.length.toLong)
      }
      .toDF("url", "text", "n_chars")
      .withColumn("doc_id", expr("CAST(substring(url, 33) AS BIGINT)"))
      .select("doc_id", "n_chars", "text")
      .orderBy("doc_id")
  }

  /** Compressed-seek CDX as an oracle row — the REAL Common Crawl
    * access pattern: fixtures in the member-per-record `.warc.gz`
    * layout, the CDX built from [[graft.sources.Warc.gzipMembers]]'
    * RFC 1952 member extents (each member verified by parsing its one
    * record), a url-prefix selection, and each matched record fetched
    * as a compressed SEEK (slice the member, gunzip just it — zero
    * forward decompression). Offsets are deflate-output-dependent so
    * DuckDB can't replay them; it replays the fetched CONTENT
    * (status, length, checksum) instead — a wrong member boundary or
    * mis-seek yields no row or a wrong checksum, never a silent
    * pass. */
  def warcCdxGzPruned(s: SparkSession, dir: String): DataFrame = {
    // r20: the whole path is FILE-NATIVE now — fixtures staged as
    // bucketed member-per-record `.warc.gz` files (100 docs per file,
    // the CC per-file work-unit shape), the CDX built by the STREAMING
    // member walk off the filesystem, and each matched record fetched
    // as a true `FileSystem.open` + `seek(offset)` + single-member
    // gunzip ([[graft.sources.Warc.warcFetchSlicesFromFiles]]) — no
    // content column anywhere, so the 2 GiB binaryFile cap is gone
    // from record-pruned access (the r19 verdict's last capped path).
    // Output values are IDENTICAL to the column-path derivation: same
    // records, same selection, doc_id from the record url.
    val base = stagedArchiveDir(s, dir, "warccdxgz",
      graft.sources.Warc.fixtureWarcMemberGz, ".warc.gz")
    val cdx = graft.sources.Warc
      .warcCdxIndexCompressedFromFiles(s, base.toString)
      .filter(col("warc_type") === "response" &&
        col("url").like("https://archive.example.com/doc/1%"))
    graft.sources.Warc
      .warcFetchSlicesFromFiles(s, cdx, compressedCoords = true)
      .withColumn("doc_id", expr("CAST(substring(url, 33) AS BIGINT)"))
      .select("doc_id", "http_status", "n_body_bytes", "body_checksum")
      .orderBy("doc_id")
  }

  /** WARC `revisit` records → skip cascade as an oracle row (ISO 28500
    * §6.7.2; Common Crawl emits revisits for unchanged re-fetches —
    * the archive analog of the reference's ETag/lastmod skip layers,
    * content-processor.ts:579-742). A REAL first crawl builds the
    * digest store (parse → 200 html payloads → sha1:BASE32); the store
    * drops every 11th url (gap → re-fetch) and corrupts every 7th
    * digest (mismatch → re-fetch); the second crawl's revisit records
    * carry the spec-shaped payload digest, and the reconciliation
    * joins the two — digest equality is computed by two INDEPENDENT
    * sha1 paths meeting in the join, so a digest drift on either side
    * flips counters. DuckDB replays the decisions from the id
    * arithmetic alone. */
  def warcRevisitSync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, dir).select("doc_id").as[Long]
    val first = ids
      .map(id => ("warc://" + id, graft.sources.Warc.fixtureWarc(id)))
      .toDF("path", "content")
    val second = ids
      .map(id =>
        ("warc2://" + id, graft.sources.Warc.fixtureWarcSecondCrawl(id)))
      .toDF("path", "content")
    val store = graft.sources.Warc.warcDigestStore(s, first)
      .withColumn("doc_id", expr("CAST(substring(url, 33) AS BIGINT)"))
      .filter(col("doc_id") % 11 =!= 0)
      .withColumn("payload_digest",
        when(col("doc_id") % 7 === 0, lit("sha1:STALE"))
          .otherwise(col("payload_digest")))
      .select("url", "payload_digest")
    graft.sources.Warc.warcRevisitDecisions(s, second, store)
      .groupBy("decision").agg(count(lit(1)).as("n"))
      .orderBy("decision")
  }

  /** REAL audio sample-rate conversion as an oracle row: per document
    * a mono 16-bit PCM WAV is synthesized (sample i = (id·13 + i·7)
    * mod 2048 at 8 kHz — non-negative so every SQL `//` is plain
    * floor), decoded through the REAL RIFF/fmt/data walk
    * ([[Multimodal.decodePcmSamples]]), rate-converted through the
    * integer-exact linear interpolator
    * ([[Multimodal.resamplePcmLinear]]) to an id-varied target rate
    * (16/14.4/12.8/11.2/9.6 kHz — non-integer ratios included), and
    * checksummed. DuckDB replays pos/frac/interpolation exactly — a
    * drifted clamp, a truncation-vs-floor mismatch, or an off-by-one
    * output length all shift it. Per-row kernel, no shuffle. */
  def audioResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long]
      .map { id =>
        val n = (40 + id % 17).toInt
        val samples = Array.tabulate(n)(i => ((id * 13 + i * 7) % 2048).toInt)
        val dst = 16000 - (id % 5).toInt * 1600
        val wav = Multimodal.encodeWavPcm16(samples, 8000)
        val (rate, decoded) = Multimodal.decodePcmSamples(wav).getOrElse(
          throw new IllegalStateException(s"undecodable wav id=$id"))
        require(rate == 8000 && decoded.length == n, s"wav drift id=$id")
        val rs = Multimodal.resamplePcmLinear(decoded, rate, dst)
        var sum = 0L
        var j = 0
        while (j < rs.length) {
          sum += rs(j).toLong * (1 + j % 97)
          j += 1
        }
        (id, n.toLong, dst, rs.length.toLong, sum)
      }
      .toDF("doc_id", "n_in", "dst_rate", "n_out", "checksum")
      .orderBy("doc_id")
  }
}
