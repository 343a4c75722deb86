package graft.operators

import graft.QuerySpec

/** The document-pipeline rows: chunking, embedding, binary and media
  * decoding, PDF/Word extraction and the WARC scans; one
  * [[graft.QuerySpec]] per row. */
object DocPipelineQueries {
  /** Shared integer-accumulator embedding oracle — checked against both
    * the direct kernel (emb_embed_sig) and the batched service path
    * (emb_embed_batched), which must be bit-identical. */
  private val embedSigOracle: String =
    """WITH tok AS (
           SELECT doc_id, unnest(list_filter(
             string_split(substring(text,1,32764),' '), w -> w <> '')) AS w
           FROM documents
         ), h AS (
           SELECT doc_id, ('0x'||substr(sha256(w),1,8))::BIGINT AS x FROM tok
         ), sums AS (
           SELECT doc_id, x % 64 AS idx,
             CAST(sum(CASE WHEN (x >> 6) & 1 = 1 THEN 1 ELSE -1 END)
               AS BIGINT) AS v
           FROM h GROUP BY 1,2
         ), filled AS (
           SELECT d.doc_id, g.idx, coalesce(s.v, 0) AS v
           FROM (SELECT DISTINCT doc_id FROM documents) d
           CROSS JOIN (SELECT unnest(range(0,64)) AS idx) g
           LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.idx = g.idx
         )
         SELECT doc_id, string_agg(v, ',' ORDER BY idx) AS acc_sig
         FROM filled GROUP BY 1 ORDER BY doc_id"""

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("doc_chunk_markdown", DocPipeline.chunkMarkdownDocs(_, _),
      """SELECT 'doc://'||doc_id AS url, CAST(0 AS BIGINT) AS chunk_index,
         CAST(1 AS BIGINT) AS total_chunks, lang AS section,
         sha256(content) AS chunk_id, content,
         source||' > '||lang AS breadcrumb, source AS product_name
         FROM (SELECT *,
           '[Topic: '||source||' > '||lang||']'||chr(10)||
           '# '||source||chr(10)||chr(10)||
           '## '||lang||chr(10)||chr(10)||text AS content
           FROM documents) t
         ORDER BY url, chunk_index"""),
    // the AST code chunker on the fixed-width staged corpus: 10
    // 41-char function spans per file, greedy '\n' merge at 200 chars
    // ⇒ exactly 4 spans per chunk (3 chunks: 4+4+2) — integer
    // arithmetic DuckDB replays span-for-span
    QuerySpec("doc_chunk_code", DocPipeline.codeChunkDocs(_, _),
      """WITH f AS (
           SELECT doc_id, str_split(text, ' ') AS ws,
             unnest(range(0, 10)) AS i
           FROM documents
         ), fn AS (
           SELECT doc_id, i,
             'function f'||lpad(CAST(i AS VARCHAR), 3, '0')||'() {'||
             chr(10)||'  return "'||
             rpad(substring(ws[CAST(i % len(ws) AS INT) + 1], 1, 8),
                  8, 'x')||'";'||chr(10)||'}' AS ftext
           FROM f
         ), grp AS (
           SELECT doc_id, i // 4 AS chunk_index,
             string_agg(ftext, chr(10) ORDER BY i) AS body
           FROM fn GROUP BY doc_id, i // 4
         )
         SELECT 'code://'||doc_id||'/main.ts' AS url,
           CAST(chunk_index AS BIGINT) AS chunk_index,
           CAST(3 AS BIGINT) AS total_chunks,
           'src/main.ts' AS section,
           sha256('code://'||doc_id||'/main.ts'||'::'||
             '[File: src/main.ts]'||chr(10)||body) AS chunk_id,
           '[File: src/main.ts]'||chr(10)||body AS content
         FROM grp
         ORDER BY url, chunk_index"""),
    QuerySpec("doc_chunk_overlap", DocPipeline.chunkOverlapDocs(_, _),
      """WITH b AS (
           SELECT doc_id,
             rtrim(repeat(text||' ',
               CAST(floor(4500/(length(text)+1)) AS INT) + 2)) AS big
           FROM documents),
         sl AS (
           SELECT doc_id, big,
             unnest(range(0, CAST(ceil(length(big)/3600.0) AS BIGINT))) AS i
           FROM b),
         ch AS (
           SELECT doc_id, i,
             trim(substring(big, CAST(i*3600+1 AS INT), 4000)) AS content
           FROM sl)
         SELECT 'doc://'||doc_id AS url, i AS chunk_index,
           count(*) OVER (PARTITION BY doc_id) AS total_chunks,
           sha256(content) AS chunk_id, content
         FROM ch ORDER BY url, chunk_index"""),
    QuerySpec("doc_chunk_token", DocPipeline.chunkTokenDocs(_, _),
      """WITH idx AS (
           SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
           FROM documents
         ), w AS (
           SELECT doc_id, i,
             trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
           FROM idx
         ), kept AS (
           SELECT doc_id, piece,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY doc_id) AS total_chunks
           FROM w WHERE piece <> ''
         )
         SELECT 'doc://'||doc_id AS url, chunk_index, total_chunks,
           sha256('doc://'||doc_id||'::'||piece) AS chunk_id,
           piece AS content
         FROM kept ORDER BY url, chunk_index"""),
    QuerySpec("doc_get_chunks", DocPipeline.getChunks(_, _),
      """WITH idx AS (
           SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text)/128.0) AS BIGINT))) AS i
           FROM documents
         ), w AS (
           SELECT doc_id, i,
             trim(substring(text, CAST(i*128+1 AS INT), 128)) AS piece
           FROM idx
         ), kept AS (
           SELECT doc_id, piece,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
               AS chunk_index,
             count(*) OVER (PARTITION BY doc_id) AS total_chunks
           FROM w WHERE piece <> ''
         )
         SELECT 'doc://'||doc_id AS url, chunk_index, total_chunks,
           sha256('doc://'||doc_id||'::'||piece) AS chunk_id,
           piece AS content
         FROM kept
         WHERE doc_id = 42 AND chunk_index BETWEEN 0 AND 2
         ORDER BY chunk_index"""),
    QuerySpec("doc_binary_meta", DocPipeline.binaryMeta(_, _),
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS content_sha,
         'application/octet-stream' AS mime
         FROM documents ORDER BY doc_id"""),
    // Real PCM decode audit: Spark ENCODES a WAV per doc and must
    // decode it back sample-exactly (RIFF walk, 16-bit LE sign
    // extension); the oracle re-derives every level from the
    // construction arithmetic without seeing a byte — any container or
    // sample-read drift fails the hash.
    QuerySpec("doc_audio_levels", DocPipeline.audioLevelReport(_, _),
      s"""WITH n AS (SELECT doc_id, 100 + doc_id % 50 AS ns
             FROM documents),
         sm AS (SELECT doc_id, ns,
             abs(((doc_id * 31 + k * 7919) % 65536) - 32768) AS a
           FROM n, unnest(range(0, ns)) AS t(k))
         SELECT doc_id, CAST(ns AS BIGINT) AS n_samples,
           CAST(max(a) AS BIGINT) AS peak,
           CAST(sum(a) AS BIGINT) AS sum_abs,
           CAST(COUNT(*) FILTER (WHERE a >=
             ${graft.operators.Multimodal.NearClipAbs}) AS BIGINT)
             AS n_clip
         FROM sm GROUP BY doc_id, ns ORDER BY doc_id"""),
    QuerySpec("doc_media_resize", DocPipeline.mediaResize(_, _),
      """SELECT 'doc://'||doc_id AS path,
           'application/octet-stream' AS mime,
           224 AS width, 224 AS height,
           sha256(sha256(text) || ':224x224:' ||
             CAST(octet_length(encode(text)) AS VARCHAR)) AS resized_sha
         FROM documents ORDER BY path"""),
    // real PNG decode+resample replay: DuckDB recomputes the resized
    // raster checksum from the pixel formula and the integer
    // nearest-neighbor mapping (sx = tx*w//5, sy = ty*h//3) — PNG is
    // lossless, so encode→inflate→defilter→resample must land on
    // exactly these values
    QuerySpec("doc_png_resize", DocPipeline.pngResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(8 + doc_id % 9 AS INTEGER) AS src_w,
             CAST(8 + doc_id % 7 AS INTEGER) AS src_h,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                       WHEN doc_id % 3 = 1 THEN 4
                       ELSE 3 END AS INTEGER) AS channels
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, channels, t.i AS i,
             (t.i // (5 * channels)) AS ty,
             (t.i % (5 * channels)) // channels AS tx,
             t.i % channels AS c
           FROM d, unnest(range(0, 3 * 5 * d.channels)) AS t(i)),
         v AS (
           SELECT doc_id, src_w, src_h, channels, i,
             (doc_id * 31 + (tx * src_w // 5) * 7 +
              (ty * src_h // 3) * 13 + c * 101) % 256 AS val
           FROM px)
         SELECT doc_id, src_w, src_h, channels,
           CAST(15 * channels AS BIGINT) AS n_resized_bytes,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h, channels
         ORDER BY doc_id"""),
    // real ISO-BMFF sample-table demux replay: absolute offsets are
    // 24 (ftyp 16 B + mdat header 8 B, the fixture's mdat-first
    // layout) plus the running size prefix sum; timestamps are the
    // stts delta prefix sum at timescale 1000
    QuerySpec("doc_mp4_demux", DocPipeline.mp4Demux(_, _),
      """WITH d AS (
           SELECT doc_id, CAST(5 + doc_id % 7 AS INTEGER) AS n
           FROM documents),
         s AS (
           SELECT doc_id, t.k AS k,
             10 + (doc_id * 7 + t.k * 13) % 50 AS sz,
             100 + (t.k % 3) * 50 AS delta
           FROM d, unnest(range(0, n)) AS t(k))
         SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
           CAST(24 + COALESCE(sum(sz) OVER (PARTITION BY doc_id
             ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1
             PRECEDING), 0) AS BIGINT) AS byte_offset,
           CAST(sz AS BIGINT) AS n_bytes,
           CAST(COALESCE(sum(delta) OVER (PARTITION BY doc_id
             ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1
             PRECEDING), 0) AS BIGINT) AS ts_ms
         FROM s ORDER BY doc_id, frame_idx"""),
    // real GIF-LZW decode replay: same checksum contract as
    // doc_png_resize, with the raster derived from the palette/index
    // formulas (GIF is lossless, palette expansion included)
    QuerySpec("doc_gif_resize", DocPipeline.gifResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(6 + doc_id % 8 AS INTEGER) AS src_w,
             CAST(6 + doc_id % 6 AS INTEGER) AS src_h,
             CAST(4 + doc_id % 5 AS INTEGER) AS n_colors
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, n_colors, t.i AS i,
             (t.i // 15) AS ty,
             (t.i % 15) // 3 AS tx,
             t.i % 3 AS c
           FROM d, unnest(range(0, 45)) AS t(i)),
         v AS (
           SELECT doc_id, src_w, src_h, n_colors, i,
             (doc_id * 7 +
              (((tx * src_w // 5) * 3 + (ty * src_h // 3) * 5 + doc_id)
                % n_colors) * 29 +
              c * 47) % 256 AS val
           FROM px)
         SELECT doc_id, src_w, src_h, n_colors,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h, n_colors
         ORDER BY doc_id"""),
    // real baseline-JPEG decode replay: DC-only fixture blocks decode
    // to exactly flat 128 + dc*2 (quant 16, dc*16 ≡ 0 mod 8 → the
    // IDCT value is integral), so DuckDB replays the resized raster
    // checksum from the block formula; resample mapping as in the
    // PNG/GIF rows (sx = tx*w//5, sy = ty*h//3)
    QuerySpec("doc_jpeg_resize", DocPipeline.jpegResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(8 * (2 + doc_id % 3) AS INTEGER) AS src_w,
             CAST(8 * (2 + doc_id % 2) AS INTEGER) AS src_h
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, t.i AS i,
             (t.i // 5) AS ty, t.i % 5 AS tx
           FROM d, unnest(range(0, 15)) AS t(i)),
         v AS (
           SELECT doc_id, src_w, src_h, i,
             128 + 2 * (((doc_id + ((tx * src_w // 5) // 8) * 3 +
                          ((ty * src_h // 3) // 8) * 7) % 50) - 25) AS val
           FROM px)
         SELECT doc_id, src_w, src_h,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h
         ORDER BY doc_id"""),
    // real COLOR-JPEG decode replay: per-component flat YCbCr blocks
    // (128 + 2*dc, same exact-IDCT argument as doc_jpeg_resize), then
    // DuckDB recomputes the SAME fixed-point YCbCr->RGB the decoder
    // uses (libjpeg 16-bit constants; numerators provably >= 0, so
    // `//` floor-division == the decoder's arithmetic shift)
    QuerySpec("doc_jpeg_color", DocPipeline.jpegColorResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(8 * (2 + doc_id % 3) AS INTEGER) AS src_w,
             CAST(8 * (2 + doc_id % 2) AS INTEGER) AS src_h
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, t.i AS i,
             (t.i // 15) AS ty,
             (t.i % 15) // 3 AS tx,
             t.i % 3 AS c
           FROM d, unnest(range(0, 45)) AS t(i)),
         blk AS (
           SELECT doc_id, src_w, src_h, i, c,
             ((tx * src_w // 5) // 8) AS bx,
             ((ty * src_h // 3) // 8) AS by
           FROM px),
         ycc AS (
           SELECT doc_id, src_w, src_h, i, c,
             128 + 2 * (((doc_id + bx * 3 + by * 7) % 50) - 25) AS yv,
             128 + 2 * (((doc_id * 5 + bx * 11 + by * 2) % 40) - 20) AS cb,
             128 + 2 * (((doc_id * 3 + bx * 5 + by * 13) % 40) - 20) AS cr
           FROM blk),
         v AS (
           SELECT doc_id, src_w, src_h, i,
             CASE c
               WHEN 0 THEN least(255, greatest(0,
                 (yv * 65536 + 91881 * (cr - 128) + 32768) // 65536))
               WHEN 1 THEN least(255, greatest(0,
                 (yv * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768) // 65536))
               ELSE least(255, greatest(0,
                 (yv * 65536 + 116130 * (cb - 128) + 32768) // 65536))
             END AS val
           FROM ycc)
         SELECT doc_id, src_w, src_h,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h
         ORDER BY doc_id"""),
    // real PROGRESSIVE-JPEG decode replay: identical contract to
    // doc_jpeg_color (flat YCbCr blocks, fixed-point RGB) but the
    // Spark side decodes a multi-scan SOF2 file — only the DC-grid
    // formulas differ, so a progressive-path bug (scan sequencing,
    // EOB runs, coefficient buffer) shifts the checksum
    QuerySpec("doc_jpeg_prog", DocPipeline.jpegProgResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(8 * (2 + doc_id % 3) AS INTEGER) AS src_w,
             CAST(8 * (2 + doc_id % 2) AS INTEGER) AS src_h
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, t.i AS i,
             (t.i // 15) AS ty,
             (t.i % 15) // 3 AS tx,
             t.i % 3 AS c
           FROM d, unnest(range(0, 45)) AS t(i)),
         blk AS (
           SELECT doc_id, src_w, src_h, i, c,
             ((tx * src_w // 5) // 8) AS bx,
             ((ty * src_h // 3) // 8) AS by
           FROM px),
         ycc AS (
           SELECT doc_id, src_w, src_h, i, c,
             128 + 2 * (((doc_id * 7 + bx * 5 + by * 3) % 50) - 25) AS yv,
             128 + 2 * (((doc_id + bx * 2 + by * 11) % 40) - 20) AS cb,
             128 + 2 * (((doc_id * 11 + bx * 7 + by * 5) % 40) - 20) AS cr
           FROM blk),
         v AS (
           SELECT doc_id, src_w, src_h, i,
             CASE c
               WHEN 0 THEN least(255, greatest(0,
                 (yv * 65536 + 91881 * (cr - 128) + 32768) // 65536))
               WHEN 1 THEN least(255, greatest(0,
                 (yv * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768) // 65536))
               ELSE least(255, greatest(0,
                 (yv * 65536 + 116130 * (cb - 128) + 32768) // 65536))
             END AS val
           FROM ycc)
         SELECT doc_id, src_w, src_h,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h
         ORDER BY doc_id"""),
    // real BMP decode replay: lossless like PNG, so DuckDB recomputes
    // the resized-raster checksum straight from the pixel formula; a
    // missed bottom-up flip, stride-phase error, or unswapped BGR on
    // the Spark side shifts it
    QuerySpec("doc_bmp_resize", DocPipeline.bmpResize(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(5 + doc_id % 8 AS INTEGER) AS src_w,
             CAST(4 + doc_id % 6 AS INTEGER) AS src_h
           FROM documents),
         px AS (
           SELECT doc_id, src_w, src_h, t.i AS i,
             (t.i // 15) AS ty,
             (t.i % 15) // 3 AS tx,
             t.i % 3 AS c
           FROM d, unnest(range(0, 45)) AS t(i)),
         v AS (
           SELECT doc_id, src_w, src_h, i,
             (doc_id * 17 + (tx * src_w // 5) * 11 +
              (ty * src_h // 3) * 5 + c * 71) % 256 AS val
           FROM px)
         SELECT doc_id, src_w, src_h,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, src_w, src_h
         ORDER BY doc_id"""),
    // real MJPEG-AVI video decode replay: one row per (doc, frame);
    // ts replays the avih 40ms period, checksum the per-frame
    // flat-block + fixed-point-RGB formulas (frames are 16x16 DC-only
    // color JPEGs whose DC grids mix doc id and frame index, so a
    // frame served from the wrong movi offset cannot hash-match)
    QuerySpec("doc_avi_frames", DocPipeline.aviFrames(_, _),
      """WITH d AS (
           SELECT doc_id, CAST(2 + doc_id % 3 AS INTEGER) AS nf
           FROM documents),
         fr AS (
           SELECT doc_id, t.f AS frame_idx
           FROM d, unnest(range(0, 4)) AS t(f)
           WHERE t.f < nf),
         px AS (
           SELECT doc_id, frame_idx, t.i AS i,
             ((t.i // 3) % 16) AS x,
             (t.i // 48) AS y,
             t.i % 3 AS c
           FROM fr, unnest(range(0, 768)) AS t(i)),
         blk AS (
           SELECT doc_id, frame_idx, i, c,
             (x // 8) AS bx, (y // 8) AS by
           FROM px),
         ycc AS (
           SELECT doc_id, frame_idx, i, c,
             128 + 2 * (((doc_id + frame_idx * 9 + bx * 3 + by * 7)
                         % 50) - 25) AS yv,
             128 + 2 * (((doc_id * 5 + frame_idx + bx * 11 + by * 2)
                         % 40) - 20) AS cb,
             128 + 2 * (((doc_id * 3 + frame_idx * 7 + bx * 5 + by * 13)
                         % 40) - 20) AS cr
           FROM blk),
         v AS (
           SELECT doc_id, frame_idx, i,
             CASE c
               WHEN 0 THEN least(255, greatest(0,
                 (yv * 65536 + 91881 * (cr - 128) + 32768) // 65536))
               WHEN 1 THEN least(255, greatest(0,
                 (yv * 65536 - 22554 * (cb - 128)
                  - 46802 * (cr - 128) + 32768) // 65536))
               ELSE least(255, greatest(0,
                 (yv * 65536 + 116130 * (cb - 128) + 32768) // 65536))
             END AS val
           FROM ycc)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
           CAST(sum(val * (1 + i % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, frame_idx
         ORDER BY doc_id, frame_idx"""),
    // DIB-video replay: lossless codecs (BI_RGB / BI_RLE8), so DuckDB
    // recomputes the decoded raster checksum straight from the pixel
    // formulas — every 3rd id is RLE8 (gray palette: all channels =
    // the index), every 5th declares audio first (video as '01db'),
    // so a stream-0-only demuxer or a broken RLE walk fails whole
    // residue classes
    QuerySpec("doc_avi_rgb", DocPipeline.aviRgbFrames(_, _),
      """WITH d AS (
           SELECT doc_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h
           FROM documents),
         f AS (
           SELECT doc_id, w, h, t.f AS frame_idx
           FROM d, unnest(range(0, 2)) AS t(f)),
         px AS (
           SELECT doc_id, w, h, frame_idx, t.j AS j,
             CASE WHEN doc_id % 3 = 0
               THEN (doc_id * 11 + frame_idx * 17 + (t.j // 3) * 5) % 256
               ELSE (doc_id * 7 + frame_idx * 13 + t.j * 3) % 256
             END AS val
           FROM f, unnest(range(0, 90)) AS t(j)
           WHERE t.j < w * h * 3)
         SELECT doc_id, frame_idx, CAST(w AS BIGINT) AS w,
           CAST(h AS BIGINT) AS h,
           CAST(sum(val * (1 + j % 97)) AS BIGINT) AS checksum
         FROM px
         GROUP BY doc_id, frame_idx, w, h
         ORDER BY doc_id, frame_idx"""),
    // inter-frame (Microsoft RLE) replay: canvas evolution as a
    // latest-update-wins CASE over the three pixel formulas — a
    // canvas reset between frames or a mis-walked delta jump shifts
    // every delta frame's checksum
    QuerySpec("doc_avi_delta", DocPipeline.aviDeltaFrames(_, _),
      """WITH d AS (
           SELECT doc_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h
           FROM documents),
         f AS (
           SELECT doc_id, w, h, t.f AS frame_idx
           FROM d, unnest(range(0, 3)) AS t(f)),
         px AS (
           SELECT doc_id, frame_idx, t.j AS j, (t.j // 3) AS p
           FROM f, unnest(range(0, 90)) AS t(j)
           WHERE t.j < w * h * 3),
         v AS (
           SELECT doc_id, frame_idx, j,
             CASE
               WHEN frame_idx >= 2 AND (p + doc_id) % 5 = 0
                 THEN (doc_id * 9 + p * 13) % 256
               WHEN frame_idx >= 1 AND (p + doc_id) % 4 = 0
                 THEN (doc_id * 5 + p * 11) % 256
               ELSE (doc_id * 3 + p * 7) % 256
             END AS val
           FROM px)
         SELECT doc_id, frame_idx,
           CAST(sum(val * (1 + j % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, frame_idx
         ORDER BY doc_id, frame_idx"""),
    // real audio resample replay: DuckDB recomputes the integer
    // linear interpolation (pos/frac via //-division and mod on
    // non-negative fixture samples, last-sample clamp via least) and
    // the output length — floor-vs-truncate or off-by-one drift on
    // the Spark side shifts the checksum or the n_out column
    QuerySpec("doc_audio_resample", DocPipeline.audioResample(_, _),
      """WITH d AS (
           SELECT doc_id,
             CAST(40 + doc_id % 17 AS BIGINT) AS n_in,
             CAST(16000 - (doc_id % 5) * 1600 AS INTEGER) AS dst_rate
           FROM documents),
         o AS (
           SELECT doc_id, n_in, dst_rate,
             CAST((n_in * dst_rate) // 8000 AS BIGINT) AS n_out
           FROM d),
         jj AS (
           SELECT doc_id, n_in, dst_rate, n_out, t.j AS j
           FROM o, unnest(range(0, 120)) AS t(j)
           WHERE t.j < n_out),
         p AS (
           SELECT doc_id, n_in, dst_rate, n_out, j,
             (j * 8000) // dst_rate AS pos,
             (j * 8000) % dst_rate AS frac
           FROM jj),
         v AS (
           SELECT doc_id, n_in, dst_rate, n_out, j,
             (((doc_id * 13 + pos * 7) % 2048) * (dst_rate - frac)
              + ((doc_id * 13 + least(pos + 1, n_in - 1) * 7) % 2048)
                * frac) // dst_rate AS val
           FROM p)
         SELECT doc_id, n_in, dst_rate, n_out,
           CAST(sum(val * (1 + j % 97)) AS BIGINT) AS checksum
         FROM v
         GROUP BY doc_id, n_in, dst_rate, n_out
         ORDER BY doc_id"""),
    // real WARC parse replay: DuckDB rebuilds both records' bodies
    // from the fixture formulas (warcinfo constant; response html/404
    // by id) and replays length + weighted byte checksum; odd ids are
    // gzipped on the Spark side, so a broken gunzip fails half the
    // corpus while the oracle stays compression-blind
    QuerySpec("src_scan_warc", DocPipeline.warcScan(_, _),
      """WITH d AS (SELECT doc_id FROM documents),
         r1 AS (
           SELECT doc_id, 0 AS record_idx, 'warcinfo' AS warc_type,
             -1 AS http_status,
             'software: graft' || chr(13) || chr(10) AS body
           FROM d),
         r2 AS (
           SELECT doc_id, 1 AS record_idx, 'response' AS warc_type,
             CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
               AS http_status,
             CASE WHEN doc_id % 13 = 0 THEN 'Not Found'
               ELSE '<html><body><h1>Doc ' || doc_id || '</h1><p>' ||
                    repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) ||
                    '</p></body></html>'
             END AS body
           FROM d),
         u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
         px AS (
           SELECT doc_id, record_idx, warc_type, http_status, body,
             t.i AS i
           FROM u, unnest(range(0, 200)) AS t(i)
           WHERE t.i < length(body)),
         v AS (
           SELECT doc_id, record_idx, warc_type, http_status,
             CAST(length(body) AS BIGINT) AS n_body_bytes,
             ord(substr(body, CAST(i + 1 AS INTEGER), 1))
               * (1 + i % 97) AS term
           FROM px)
         SELECT doc_id, record_idx, warc_type, http_status,
           n_body_bytes, CAST(sum(term) AS BIGINT) AS body_checksum
         FROM v
         GROUP BY doc_id, record_idx, warc_type, http_status,
           n_body_bytes
         ORDER BY doc_id, record_idx"""),
    // WARC -> markdown end-to-end: the 404 fixtures drop at the
    // 200/text-html filter; the survivors' markdown is the real
    // converter's output, rebuilt verbatim by DuckDB
    QuerySpec("ingest_warc_e2e", DocPipeline.warcIngest(_, _),
      """SELECT doc_id,
           'https://archive.example.com/doc/' || doc_id AS url,
           '# Doc ' || doc_id || chr(10) || chr(10) ||
             repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) AS markdown
         FROM documents
         WHERE doc_id % 13 != 0
         ORDER BY doc_id"""),
    // quarantine surface replay: every 17th archive truncates
    // mid-header -> (0 records, 'truncated' at record 0); everyone
    // else parses both records cleanly with no error
    QuerySpec("src_warc_quarantine", DocPipeline.warcQuarantineScan(_, _),
      """SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN 0 ELSE 2 END AS n_records,
           CASE WHEN doc_id % 17 = 0 THEN 'truncated' ELSE '' END
             AS err_kind,
           CASE WHEN doc_id % 17 = 0 THEN 0 ELSE -1 END AS err_at
         FROM documents
         ORDER BY doc_id"""),
    // WET replay: DuckDB rebuilds the conversion record's extracted
    // text verbatim (odd ids gzip on the Spark side — compression
    // must stay invisible, exactly as in src_scan_warc)
    QuerySpec("src_scan_wet", DocPipeline.wetScan(_, _),
      """WITH t AS (
           SELECT doc_id,
             'Doc ' || doc_id || chr(10) ||
               repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) AS text
           FROM documents)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text
         FROM t
         ORDER BY doc_id"""),
    // V2-connector replay: the response rows of src_scan_warc (the
    // warcinfo rows drop at the pushed warc_type filter)
    QuerySpec("src_scan_warc_v2", DocPipeline.warcV2Scan(_, _),
      """WITH d AS (SELECT doc_id FROM documents),
         r2 AS (
           SELECT doc_id, 'response' AS warc_type,
             CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
               AS http_status,
             CASE WHEN doc_id % 13 = 0 THEN 'Not Found'
               ELSE '<html><body><h1>Doc ' || doc_id || '</h1><p>' ||
                    repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) ||
                    '</p></body></html>'
             END AS body
           FROM d),
         px AS (
           SELECT doc_id, warc_type, http_status, body, t.i AS i
           FROM r2, unnest(range(0, 200)) AS t(i)
           WHERE t.i < length(body)),
         v AS (
           SELECT doc_id, warc_type, http_status,
             CAST(length(body) AS BIGINT) AS n_body_bytes,
             ord(substr(body, CAST(i + 1 AS INTEGER), 1))
               * (1 + i % 97) AS term
           FROM px)
         SELECT doc_id, warc_type, http_status, n_body_bytes,
           CAST(sum(term) AS BIGINT) AS body_checksum
         FROM v
         GROUP BY doc_id, warc_type, http_status, n_body_bytes
         ORDER BY doc_id"""),
    // archive-stream parity: two landing waves through the
    // checkpointed micro-batch stream must union to exactly the batch
    // connector's response rows — a re-read or skipped file breaks
    // the count or a checksum
    QuerySpec("stream_warc_parity", DocPipeline.warcStreamParity(_, _),
      """WITH d AS (SELECT doc_id FROM documents),
         r2 AS (
           SELECT doc_id, 'response' AS warc_type,
             CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
               AS http_status,
             CASE WHEN doc_id % 13 = 0 THEN 'Not Found'
               ELSE '<html><body><h1>Doc ' || doc_id || '</h1><p>' ||
                    repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) ||
                    '</p></body></html>'
             END AS body
           FROM d),
         px AS (
           SELECT doc_id, warc_type, http_status, body, t.i AS i
           FROM r2, unnest(range(0, 200)) AS t(i)
           WHERE t.i < length(body)),
         v AS (
           SELECT doc_id, warc_type, http_status,
             CAST(length(body) AS BIGINT) AS n_body_bytes,
             ord(substr(body, CAST(i + 1 AS INTEGER), 1))
               * (1 + i % 97) AS term
           FROM px)
         SELECT doc_id, warc_type, http_status, n_body_bytes,
           CAST(sum(term) AS BIGINT) AS body_checksum
         FROM v
         GROUP BY doc_id, warc_type, http_status, n_body_bytes
         ORDER BY doc_id""",
      protocol = true),
    // archive-stream INGEST parity: the streaming markdown derivation
    // over two landing waves equals the batch ingest_warc_e2e rows —
    // the 404s drop at the status filter, the markdown is the real
    // converter's output rebuilt verbatim
    QuerySpec("stream_warc_ingest", DocPipeline.warcStreamIngest(_, _),
      """SELECT doc_id,
           'https://archive.example.com/doc/' || doc_id AS url,
           '# Doc ' || doc_id || chr(10) || chr(10) ||
             repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) AS markdown
         FROM documents
         WHERE doc_id % 13 != 0
         ORDER BY doc_id""",
      protocol = true),
    // CDX replay: DuckDB reconstructs each response record's byte
    // offset and framed length from the encoder's exact header lines
    // (every line length + CRLF + the Content-Length arithmetic) and
    // replays the payload checksum — a one-CRLF drift in the
    // parser's byte count fails every row
    QuerySpec("layout_warc_cdx", DocPipeline.warcCdxPruned(_, _),
      """WITH d AS (SELECT doc_id FROM documents
                    WHERE CAST(doc_id AS VARCHAR) LIKE '1%'),
         b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN 'Not Found'
               ELSE '<html><body><h1>Doc ' || doc_id || '</h1><p>' ||
                    repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) ||
                    '</p></body></html>' END AS body,
             CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
               AS http_status,
             CASE WHEN doc_id % 13 = 0
               THEN 'HTTP/1.1 404 Not Found' || chr(13) || chr(10) ||
                    'Content-Type: text/plain'
               ELSE 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                    'Content-Type: text/html' END AS http_head
           FROM d),
         n AS (
           SELECT doc_id, body, http_status,
             length(http_head) + 4 + length(body) AS content_length
           FROM b),
         h AS (
           SELECT doc_id, body, http_status, content_length,
             length('WARC/1.0') + 2 + length('WARC-Type: warcinfo') + 2
             + length('WARC-Record-ID: <urn:uuid:rec-0>') + 2
             + length('WARC-Date: 2026-01-01T00:00:00Z') + 2
             + length('Content-Length: 17') + 2 + 2
             + length('software: graft') + 2 + 4 AS rec_offset,
             length('WARC/1.0') + 2 + length('WARC-Type: response') + 2
             + length('WARC-Record-ID: <urn:uuid:rec-1>') + 2
             + length('WARC-Date: 2026-01-01T00:00:00Z') + 2
             + length('WARC-Target-URI: https://archive.example.com/doc/'
                      || doc_id) + 2
             + length('Content-Type: application/http; msgtype=response')
             + 2
             + length('Content-Length: ' || content_length) + 2 + 2
             + content_length AS rec_bytes
           FROM n),
         px AS (
           SELECT doc_id, http_status, rec_offset, rec_bytes,
             CAST(length(body) AS BIGINT) AS n_body_bytes, body, t.i AS i
           FROM h, unnest(range(0, 200)) AS t(i)
           WHERE t.i < length(body))
         SELECT doc_id, http_status,
           CAST(rec_offset AS BIGINT) AS rec_offset,
           CAST(rec_bytes AS BIGINT) AS rec_bytes, n_body_bytes,
           CAST(sum(ord(substr(body, CAST(i + 1 AS INTEGER), 1))
                    * (1 + i % 97)) AS BIGINT) AS body_checksum
         FROM px
         GROUP BY doc_id, http_status, rec_offset, rec_bytes,
           n_body_bytes
         ORDER BY doc_id"""),
    // compressed-seek CDX replay: member offsets are deflate-output-
    // dependent, so the oracle replays the FETCHED record content —
    // the url-prefix selection's status/length/checksum — which only
    // match if the member boundaries and seeks were right
    QuerySpec("layout_warc_cdx_gz", DocPipeline.warcCdxGzPruned(_, _),
      """WITH d AS (SELECT doc_id FROM documents
                    WHERE CAST(doc_id AS VARCHAR) LIKE '1%'),
         b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN 'Not Found'
               ELSE '<html><body><h1>Doc ' || doc_id || '</h1><p>' ||
                    repeat('ab', CAST(5 + doc_id % 7 AS INTEGER)) ||
                    '</p></body></html>' END AS body,
             CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END
               AS http_status
           FROM d),
         px AS (
           SELECT doc_id, http_status,
             CAST(length(body) AS BIGINT) AS n_body_bytes, body, t.i AS i
           FROM b, unnest(range(0, 200)) AS t(i)
           WHERE t.i < length(body))
         SELECT doc_id, http_status, n_body_bytes,
           CAST(sum(ord(substr(body, CAST(i + 1 AS INTEGER), 1))
                    * (1 + i % 97)) AS BIGINT) AS body_checksum
         FROM px
         GROUP BY doc_id, http_status, n_body_bytes
         ORDER BY doc_id"""),
    // revisit reconciliation replay: record type from the fixture
    // formula (404 every 13th, changed response every 3rd, revisit
    // otherwise), then store gap (every 11th dropped) and digest
    // corruption (every 7th) — same precedence as the engine's CASE
    QuerySpec("sync_warc_revisit", DocPipeline.warcRevisitSync(_, _),
      """WITH dec AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN 'error_page'
                  WHEN doc_id % 3 = 0 THEN 'ingest_response'
                  WHEN doc_id % 11 = 0 THEN 'fetch_store_gap'
                  WHEN doc_id % 7 = 0 THEN 'fetch_digest_gap'
                  ELSE 'skip_revisit' END AS decision
           FROM documents)
         SELECT decision, count(*) AS n
         FROM dec
         GROUP BY decision
         ORDER BY decision"""),
    QuerySpec("doc_frame_sample", DocPipeline.frameSample(_, _),
      """WITH d AS (
           SELECT 'doc://'||doc_id AS path,
             greatest(1, octet_length(encode(text)) // 16) AS n_frames
           FROM documents)
         SELECT path, CAST(t.f AS BIGINT) AS frame_idx,
           CAST(t.f * 1000 // 30 AS BIGINT) AS ts_ms
         FROM d, unnest(range(0, n_frames, 5)) AS t(f)
         ORDER BY path, frame_idx"""),
    QuerySpec("doc_media_features", DocPipeline.mediaFeatures(_, _),
      """WITH b AS (
           SELECT doc_id,
             ascii(substring(text, CAST(i AS INTEGER) + 1, 1)) AS byte
           FROM documents,
             unnest(range(0, octet_length(encode(text)), 16)) AS t(i)
         ), sl AS (
           SELECT doc_id, (byte * 31) % 32 AS slot,
             SUM(CASE WHEN byte % 2 = 1 THEN 1 ELSE -1 END) AS acc,
             COUNT(*) AS n
           FROM b GROUP BY 1, 2)
         SELECT 'doc://'||doc_id AS path,
           CAST(SUM(n) AS BIGINT) AS n_samples,
           CAST(COUNT(*) FILTER (WHERE acc <> 0) AS BIGINT) AS nnz,
           CAST(SUM(acc * (slot + 1)) AS BIGINT) AS checksum
         FROM sl GROUP BY doc_id ORDER BY path"""),
    QuerySpec("doc_pdf_lines", DocPipeline.pdfLines(_, _),
      """WITH words AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(ws) AS str,
             generate_subscripts(ws, 1) - 1 AS i
           FROM words),
         it AS (
           SELECT doc_id, (i % 2) + 1 AS page, i // 2 AS j, str
           FROM tok WHERE i < 12),
         piece AS (
           SELECT doc_id, page, j,
             (CASE WHEN j = 0 THEN ''
                   WHEN j % 2 = 0 OR j % 3 = 0 THEN ' ' ELSE '' END)
               || str AS piece
           FROM it),
         pages AS (
           SELECT doc_id, page, string_agg(piece, '' ORDER BY j) AS ptext
           FROM piece GROUP BY 1,2),
         np AS (SELECT doc_id, max(page) AS num_pages
                FROM pages GROUP BY 1),
         md AS (
           SELECT p.doc_id,
             '# doc_' || p.doc_id || chr(10) || chr(10) ||
             string_agg(
               (CASE WHEN n.num_pages > 1
                     THEN '## Page ' || p.page || chr(10) || chr(10)
                     ELSE '' END)
               || trim(p.ptext) || chr(10) || chr(10), '' ORDER BY p.page)
               AS raw
           FROM pages p JOIN np n ON n.doc_id = p.doc_id
           WHERE length(trim(p.ptext)) > 0
           GROUP BY p.doc_id)
         SELECT doc_id, rtrim(raw, chr(10) || ' ') AS markdown
         FROM md ORDER BY doc_id"""),
    // encrypted PDFs (standard security handler): RC4 R3/128-bit
    // (default and the id%11 literal-O/U spelling), RC4 R2/40-bit
    // (id%13), AESV2 V4/R4 (id%7), AES-256 V5/R6 (id%97, sparse — the
    // R6 hash is a KDF, deliberately slow), and the
    // owner-locked route (id%17, checked first) where the
    // empty-user-password authentication must fail into the stub — all
    // decode routes emit the same 6 words, so DuckDB only needs the
    // route for the stub shape
    QuerySpec("doc_pdf_crypt", DocPipeline.pdfCryptLines(_, _),
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split(replace(text, chr(10), ' '), ' '),
               x -> x <> '')[1:6] AS words
           FROM documents),
         md AS (
           SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN
               ['# f' || doc_id, '', '## Page 1', '', '[stub]']
             ELSE ['# f' || doc_id, '', array_to_string(words, ' ')]
             END AS lines
           FROM w),
         sl AS (SELECT doc_id, lines,
                  unnest(range(0, len(lines))) AS i FROM md)
         SELECT doc_id, CAST(i AS INT) AS line_no,
           lines[CAST(i + 1 AS INT)] AS line
         FROM sl ORDER BY doc_id, line_no"""),
    // subset/CID-font PDFs through the /ToUnicode CMap: every route
    // (1-byte shift-3, 2-byte indirect-resources, 2-byte + RC4) decodes
    // to the same words, so the replay needs no routing at all — any
    // skipped-CMap bug emits shifted gibberish and hash-fails
    QuerySpec("doc_pdf_cid", DocPipeline.pdfCidLines(_, _),
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split(replace(text, chr(10), ' '), ' '),
               x -> x <> '')[1:6] AS words
           FROM documents),
         md AS (
           SELECT doc_id,
             ['# f' || doc_id, '', array_to_string(words, ' ')] AS lines
           FROM w),
         sl AS (SELECT doc_id, lines,
                  unnest(range(0, len(lines))) AS i FROM md)
         SELECT doc_id, CAST(i AS INT) AS line_no,
           lines[CAST(i + 1 AS INT)] AS line
         FROM sl ORDER BY doc_id, line_no"""),
    // legacy .doc byte-walk: piece-table text (CP1252 + UTF-16 pieces),
    // the fcMin/fcMac legacy route (id%13), the fast-saved route
    // (id%11: fComplex + out-of-order pieces + ccpText body truncation
    // — first 8 words / rest as two paragraphs), the Office Binary RC4
    // route (id%17, checked first: REALLY decrypted with the verified
    // password, so it replays as the same two-piece text — a decoder
    // that failed authentication or misapplied the block keystream
    // would emit the stub or mojibake and miss the hash), and the
    // XOR-obfuscated route (id%19: REALLY de-obfuscated via the
    // verifier-matched 16-byte array, replaying as the same two-piece
    // text — a decoder that declined or mis-rotated would emit the
    // stub or mojibake and miss the hash)
    QuerySpec("doc_word_lines", DocPipeline.wordLines(_, _),
      """WITH w AS (
           SELECT doc_id,
             list_filter(string_split(replace(text, chr(10), ' '), ' '),
               x -> x <> '')[1:12] AS words
           FROM documents),
         md AS (
           SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 AND len(words) > 6 THEN
               ['# f' || doc_id, '', array_to_string(words[1:6], ' '),
                array_to_string(words[7:12], ' ')]
             WHEN doc_id % 17 = 0 THEN
               ['# f' || doc_id, '', array_to_string(words, ' ')]
             WHEN doc_id % 19 = 0 AND len(words) > 6 THEN
               ['# f' || doc_id, '', array_to_string(words[1:6], ' '),
                array_to_string(words[7:12], ' ')]
             WHEN doc_id % 19 = 0 THEN
               ['# f' || doc_id, '', array_to_string(words, ' ')]
             WHEN doc_id % 13 = 0 THEN
               ['# f' || doc_id, '', array_to_string(words, ' ')]
             WHEN doc_id % 11 = 0 AND len(words) > 8 THEN
               ['# f' || doc_id, '', array_to_string(words[1:8], ' '),
                array_to_string(words[9:12], ' ')]
             WHEN doc_id % 11 = 0 THEN
               ['# f' || doc_id, '', array_to_string(words, ' ')]
             WHEN len(words) > 6 THEN
               ['# f' || doc_id, '', array_to_string(words[1:6], ' '),
                array_to_string(words[7:12], ' ')]
             ELSE ['# f' || doc_id, '', array_to_string(words, ' ')]
             END AS lines
           FROM w),
         sl AS (SELECT doc_id, lines,
                  unnest(range(0, len(lines))) AS i FROM md)
         SELECT doc_id, CAST(i AS INT) AS line_no,
           lines[CAST(i + 1 AS INT)] AS line
         FROM sl ORDER BY doc_id, line_no"""),
    QuerySpec("emb_embed_sig", DocPipeline.embedDocs(_, _),
      embedSigOracle),
    QuerySpec("emb_embed_batched", DocPipeline.embedDocsBatched(_, _),
      embedSigOracle)
  )
}
