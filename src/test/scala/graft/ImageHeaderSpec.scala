package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** Real header decode on hand-built fixture bytes for each supported
  * container (PNG IHDR, GIF screen descriptor, BMP core/info headers,
  * JPEG SOF marker walk) plus rejection of non-image payloads. */
class ImageHeaderSpec extends AnyFunSuite {

  private def be32(v: Int): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def png(w: Int, h: Int, colorType: Int): Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
      Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)

  private def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0)

  private def bmpInfo(w: Int, h: Int, bits: Int): Array[Byte] =
    "BM".getBytes ++ le32(0) ++ le32(0) ++ le32(54) ++ // file header
      le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(bits) ++
      Array.fill[Byte](24)(0)

  private def bmpCore(w: Int, h: Int): Array[Byte] =
    "BM".getBytes ++ le32(0) ++ le32(0) ++ le32(26) ++
      le32(12) ++ le16(w) ++ le16(h) ++ le16(1) ++ le16(24)

  private def jpeg(w: Int, h: Int, comps: Int): Array[Byte] =
    Array(0xff, 0xd8).map(_.toByte) ++                     // SOI
      Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++       // APP0, len 16
      Array.fill[Byte](14)(0) ++
      Array(0xff, 0xc0).map(_.toByte) ++ be16(17) ++       // SOF0, len 17
      Array(8.toByte) ++ be16(h) ++ be16(w) ++
      Array(comps.toByte) ++ Array.fill[Byte](3 * comps)(0)

  test("PNG IHDR: dimensions and channels per color type") {
    assert(Multimodal.decodeImageHeader(png(640, 480, 2))
      .contains((640, 480, 3)))
    assert(Multimodal.decodeImageHeader(png(1, 1, 0))
      .contains((1, 1, 1)))
    assert(Multimodal.decodeImageHeader(png(3000, 2000, 6))
      .contains((3000, 2000, 4)))
    assert(Multimodal.decodeImageHeader(png(16, 16, 3))
      .contains((16, 16, 1)))
    assert(Multimodal.decodeImageHeader(png(8, 8, 4))
      .contains((8, 8, 2)))
  }

  test("GIF logical screen descriptor") {
    assert(Multimodal.decodeImageHeader(gif(320, 200))
      .contains((320, 200, 3)))
    assert(Multimodal.decodeImageHeader(gif(65535, 1))
      .contains((65535, 1, 3)))
  }

  test("BMP BITMAPINFOHEADER: dims, bit depth, top-down height") {
    assert(Multimodal.decodeImageHeader(bmpInfo(800, 600, 24))
      .contains((800, 600, 3)))
    assert(Multimodal.decodeImageHeader(bmpInfo(100, -100, 32))
      .contains((100, 100, 4))) // negative height = top-down scanlines
    assert(Multimodal.decodeImageHeader(bmpInfo(64, 64, 8))
      .contains((64, 64, 1)))
  }

  test("BMP BITMAPCOREHEADER (OS/2, u16 dims)") {
    assert(Multimodal.decodeImageHeader(bmpCore(320, 240))
      .contains((320, 240, 3)))
  }

  test("JPEG SOF marker walk past APP segments") {
    assert(Multimodal.decodeImageHeader(jpeg(1920, 1080, 3))
      .contains((1920, 1080, 3)))
    assert(Multimodal.decodeImageHeader(jpeg(256, 128, 1))
      .contains((256, 128, 1)))
  }

  test("non-image payloads are rejected (stub fallback territory)") {
    assert(Multimodal.decodeImageHeader("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImageHeader(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeImageHeader(Array[Byte](0x42)).isEmpty)
    // truncated PNG signature only
    assert(Multimodal.decodeImageHeader(
      Array(0x89, 'P', 'N', 'G').map(_.toByte)).isEmpty)
    // JPEG SOI followed by garbage (no valid marker)
    assert(Multimodal.decodeImageHeader(
      Array(0xff, 0xd8, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
        0x00, 0x00).map(_.toByte)).isEmpty)
  }

  test("PCM encode/decode roundtrip: sign extension, peak, clip count") {
    val samples = Array(0, 1, -1, 32767, -32768, 12345, -12345, 32700)
    val bytes = Multimodal.encodeWavPcm16(samples, 8000)
    val Some((n, peak, sumAbs, clip)) = Multimodal.decodePcmLevels(bytes)
    assert(n == samples.length)
    assert(peak == 32768L, "|-32768| is the true peak — unsigned reads would miss it")
    assert(sumAbs == samples.map(v => math.abs(v.toLong)).sum)
    assert(clip == 3L, "32767, -32768 and 32700 sit at/above NearClipAbs")
  }

  test("PCM linear resample: integer-exact up/down conversion, clamp, " +
      "identity, WAV round-trip through the real container walk") {
    val s = Array(100, 200, -300, 400, 500)
    // identity ratio copies
    assert(Multimodal.resamplePcmLinear(s, 8000, 8000).sameElements(s))
    // exact 2x upsample: even outputs hit sources, odd outputs are
    // the floor midpoint ((s0+s1) with frac = dst/2)
    val up = Multimodal.resamplePcmLinear(s, 8000, 16000)
    assert(up.length == 10)
    for (k <- s.indices) assert(up(2 * k) == s(k), s"up($k)")
    assert(up(1) == 150 && up(3) == -50 && up(5) == 50 && up(7) == 450)
    // last-sample clamp (the final odd output interpolates s4 with s4)
    assert(up(9) == 500)
    // floor (not truncate) on negative interpolants: between 0 and
    // -1 at frac 1/2 the floor midpoint is -1, truncation's 0 would
    // be wrong
    assert(Multimodal.resamplePcmLinear(Array(0, -1), 1, 2)(1) == -1)
    // 2x downsample picks every other source; output length is
    // floor(n·dst/src) = 2 (duration-preserving floor)
    val down = Multimodal.resamplePcmLinear(s, 16000, 8000)
    assert(down.sameElements(Array(100, -300)))
    // real container walk: rate and samples survive the WAV
    val wav = Multimodal.encodeWavPcm16(s, 12345)
    val (rate, decoded) = Multimodal.decodePcmSamples(wav).get
    assert(rate == 12345 && decoded.sameElements(s))
    assert(Multimodal.decodePcmSamples(wav.take(30)).isEmpty)
  }

  test("PCM decode rejects what it cannot audit") {
    // non-PCM format tag
    val b = Multimodal.encodeWavPcm16(Array(1, 2, 3), 8000)
    b(20) = 3 // IEEE float tag
    assert(Multimodal.decodePcmLevels(b).isEmpty)
    // data chunk running past the payload
    val t = Multimodal.encodeWavPcm16(Array(1, 2, 3), 8000)
    t(40) = 100 // declared data length > actual bytes
    assert(Multimodal.decodePcmLevels(t).isEmpty)
    assert(Multimodal.decodePcmLevels("garbage".getBytes).isEmpty)
    // odd sample count round-trips through the RIFF pad byte
    val odd = Multimodal.encodeWavPcm16(Array(7, -7, 9), 8000)
    assert(Multimodal.decodePcmLevels(odd).map(_._1).contains(3L))
  }

  private def raster(w: Int, h: Int, ch: Int): Array[Byte] =
    Array.tabulate(w * h * ch) { i =>
      val c = i % ch; val x = (i / ch) % w; val y = i / (ch * w)
      ((x * 7 + y * 13 + c * 101 + 5) % 256).toByte
    }

  test("PNG pixel codec: encode/decode round-trip across color types " +
      "and all five row filters") {
    for (ch <- Seq(1, 2, 3, 4)) {
      val px = raster(9, 7, ch) // 7 rows: filters 0..4 + 0..1 again
      val png = Multimodal.pngEncode(9, 7, ch, px)
      val img = Multimodal.decodePngPixels(png)
        .getOrElse(fail(s"decode failed ch=$ch"))
      assert(img.width == 9 && img.height == 7 && img.channels == ch)
      assert(img.pixels.sameElements(px), s"pixel drift ch=$ch")
    }
  }

  test("PNG decode cross-validated against the JDK's own ImageIO " +
      "decoder (independent implementation, both directions)") {
    // our encoder -> ImageIO decoder: catches complementary
    // encoder/decoder bugs a round-trip can't see
    val px = raster(11, 6, 3)
    val png = Multimodal.pngEncode(11, 6, 3, px)
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(bi != null, "ImageIO rejected our PNG")
    for (y <- 0 until 6; x <- 0 until 11) {
      val rgb = bi.getRGB(x, y)
      val o = (y * 11 + x) * 3
      assert(((rgb >> 16) & 0xff) == (px(o) & 0xff) &&
        ((rgb >> 8) & 0xff) == (px(o + 1) & 0xff) &&
        (rgb & 0xff) == (px(o + 2) & 0xff),
        s"ImageIO disagrees at ($x,$y)")
    }
    // ImageIO encoder -> our decoder: ImageIO picks its own filters
    val bi2 = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 4; x <- 0 until 5)
      bi2.setRGB(x, y, ((x * 50) << 16) | ((y * 60) << 8) | (x + y))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi2, "png", out))
    val img = Multimodal.decodePngPixels(out.toByteArray)
      .getOrElse(fail("our decoder rejected an ImageIO PNG"))
    assert(img.width == 5 && img.height == 4 && img.channels == 3)
    for (y <- 0 until 4; x <- 0 until 5) {
      val o = (y * 5 + x) * 3
      assert((img.pixels(o) & 0xff) == x * 50 &&
        (img.pixels(o + 1) & 0xff) == y * 60 &&
        (img.pixels(o + 2) & 0xff) == x + y,
        s"pixel drift vs ImageIO encode at ($x,$y)")
    }
  }

  test("PNG palette images expand through PLTE; unsupported shapes " +
      "decline instead of guessing") {
    // hand-build a 2x2 palette PNG: indices 0..3 -> distinct colors
    val plte = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100,
      110, 120)
    val rows = Array[Byte](0, 0, 1, 0, 2, 3) // filter 0 + 2 indices/row
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(rows); deflater.finish()
    val zBuf = new Array[Byte](64)
    val zLen = deflater.deflate(zBuf)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    def chunk(typ: String, body: Array[Byte]): Unit = {
      bos.write(be32(body.length))
      val tb = typ.getBytes
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(body)
      bos.write(tb); bos.write(body); bos.write(be32(crc.getValue.toInt))
    }
    chunk("IHDR", be32(2) ++ be32(2) ++
      Array[Byte](8, 3, 0, 0, 0))
    chunk("PLTE", plte)
    chunk("IDAT", zBuf.take(zLen))
    chunk("IEND", Array.empty)
    val img = Multimodal.decodePngPixels(bos.toByteArray)
      .getOrElse(fail("palette decode failed"))
    assert(img.channels == 3)
    assert(img.pixels.sameElements(plte), "palette expansion order")
    // 16-bit depth and truncated IDAT decline
    val px = raster(4, 4, 3)
    val good = Multimodal.pngEncode(4, 4, 3, px)
    val deep = good.clone(); deep(24) = 16 // IHDR bit depth
    assert(Multimodal.decodePngPixels(deep).isEmpty)
    val cut = good.take(good.length - 20)
    assert(Multimodal.decodePngPixels(cut).isEmpty)
  }

  private def gifFixture(w: Int, h: Int, nCol: Int)
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val palette = Array.tabulate(nCol * 3)(j =>
      ((j / 3) * 29 + (j % 3) * 47 + 11).toByte)
    val indices = Array.tabulate(w * h)(p =>
      ((p % w) * 3 + (p / w) * 5).%(nCol).toByte)
    (Multimodal.gifEncode(w, h, palette, indices), palette, indices)
  }

  test("GIF pixel codec: LZW round-trip and palette expansion") {
    for ((w, h, nCol) <- Seq((7, 5, 4), (13, 9, 7), (64, 48, 8))) {
      val (gif, palette, indices) = gifFixture(w, h, nCol)
      val img = Multimodal.decodeGifPixels(gif)
        .getOrElse(fail(s"decode failed ${w}x$h/$nCol"))
      assert(img.width == w && img.height == h && img.channels == 3)
      for (p <- 0 until w * h; c <- 0 until 3)
        assert(img.pixels(p * 3 + c) == palette((indices(p) & 0xff) * 3 + c),
          s"pixel $p/$c drift at ${w}x$h/$nCol")
    }
    // a raster big enough to force LZW width growth past 9 bits and a
    // mid-stream clear still round-trips
    val (big, palette, indices) = gifFixture(120, 80, 8)
    val img = Multimodal.decodeGifPixels(big).getOrElse(fail("big gif"))
    assert((0 until 120 * 80).forall(p =>
      img.pixels(p * 3) == palette((indices(p) & 0xff) * 3)))
  }

  test("GIF decode cross-validated against ImageIO, both directions") {
    // our encoder -> ImageIO decoder
    val (gif, palette, indices) = gifFixture(9, 6, 5)
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gif))
    assert(bi != null, "ImageIO rejected our GIF")
    for (y <- 0 until 6; x <- 0 until 9) {
      val rgb = bi.getRGB(x, y)
      val pi = (indices(y * 9 + x) & 0xff) * 3
      assert(((rgb >> 16) & 0xff) == (palette(pi) & 0xff) &&
        ((rgb >> 8) & 0xff) == (palette(pi + 1) & 0xff) &&
        (rgb & 0xff) == (palette(pi + 2) & 0xff),
        s"ImageIO disagrees at ($x,$y)")
    }
    // ImageIO encoder -> our decoder (real compressor, GCE extensions)
    val bi2 = new java.awt.image.BufferedImage(8, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 8)
      bi2.setRGB(x, y, if ((x + y) % 2 == 0) 0xFF0000 else 0x0000FF)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi2, "gif", out))
    val img = Multimodal.decodeGifPixels(out.toByteArray)
      .getOrElse(fail("our decoder rejected an ImageIO GIF"))
    assert(img.width == 8 && img.height == 5)
    for (y <- 0 until 5; x <- 0 until 8) {
      val o = (y * 8 + x) * 3
      val expected = if ((x + y) % 2 == 0) (255, 0, 0) else (0, 0, 255)
      assert((img.pixels(o) & 0xff) == expected._1 &&
        (img.pixels(o + 1) & 0xff) == expected._2 &&
        (img.pixels(o + 2) & 0xff) == expected._3,
        s"pixel drift vs ImageIO gif at ($x,$y)")
    }
  }

  test("BMP pixel codec: 24-bit round-trip across stride phases; " +
      "ImageIO cross-validation both directions; decline paths") {
    // every stride padding phase (w mod 4 = 0..3), exact round-trip
    for (w <- 5 to 8; h = 4) {
      val rgb = Array.tabulate(w * h * 3)(j =>
        ((j * 37 + 11) % 256).toByte)
      val bmp = Multimodal.bmpEncode24(w, h, rgb)
      val img = Multimodal.decodeBmpPixels(bmp)
        .getOrElse(fail(s"decode failed at w=$w"))
      assert(img.width == w && img.height == h && img.channels == 3)
      assert(img.pixels.sameElements(rgb), s"round-trip drift at w=$w")
      // independent decoder agrees byte-for-byte (BMP is lossless)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bmp))
      assert(bi != null, "ImageIO rejected our BMP")
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val rv = (bi.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        assert(rv == (img.pixels((y * w + x) * 3 + c) & 0xff),
          s"ImageIO disagrees at ($x,$y,$c) w=$w")
      }
    }
    // ImageIO-written BMP decodes through our path identically
    val src = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      src.setRGB(x, y, (x * 40 << 16) | (y * 50 << 8) | (x + y))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "bmp", out))
    val img2 = Multimodal.decodeBmpPixels(out.toByteArray)
      .getOrElse(fail("our decoder rejected an ImageIO BMP"))
    for (y <- 0 until 5; x <- 0 until 7; c <- 0 until 3) {
      val rv = (src.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      assert(rv == (img2.pixels((y * 7 + x) * 3 + c) & 0xff),
        s"ImageIO-written BMP drift at ($x,$y,$c)")
    }
    // top-down (negative height): flip must NOT happen
    val up = Multimodal.bmpEncode24(3, 2,
      Array.tabulate(18)(j => j.toByte))
    val down = up.clone()
    // height at offset 22, little-endian: negate (two's complement)
    val negH = -2
    down(22) = (negH & 0xff).toByte; down(23) = ((negH >> 8) & 0xff).toByte
    down(24) = ((negH >> 16) & 0xff).toByte
    down(25) = ((negH >> 24) & 0xff).toByte
    val upImg = Multimodal.decodeBmpPixels(up).get
    val downImg = Multimodal.decodeBmpPixels(down).get
    // same file bytes read top-down = vertically flipped raster
    for (x <- 0 until 3; c <- 0 until 3) {
      assert(upImg.pixels((0 * 3 + x) * 3 + c) ==
        downImg.pixels((1 * 3 + x) * 3 + c), "top-down flip wrong")
    }
    // decline: RLE compression, 16-bit, truncated pixel data
    val rle = up.clone(); rle(30) = 1
    assert(Multimodal.decodeBmpPixels(rle).isEmpty)
    val b16 = up.clone(); b16(28) = 16
    assert(Multimodal.decodeBmpPixels(b16).isEmpty)
    assert(Multimodal.decodeBmpPixels(up.take(up.length - 4)).isEmpty)
  }

  test("feature projection is encoding-invariant across lossless " +
      "containers: the same raster as PNG and BMP yields one vector") {
    val (w, h) = (9, 6) // width hits a non-trivial BMP stride phase
    val rgb = Array.tabulate(w * h * 3)(j => ((j * 29 + 7) % 256).toByte)
    val png = Multimodal.pngEncode(w, h, 3, rgb)
    val bmp = Multimodal.bmpEncode24(w, h, rgb)
    val viaPng = Multimodal.decodePngPixels(png).get
    val viaBmp = Multimodal.decodeBmpPixels(bmp).get
    assert(viaPng.pixels.sameElements(viaBmp.pixels),
      "lossless decodes must agree byte-for-byte")
    val fPng = Multimodal.featuresStub(viaPng.pixels)
    val fBmp = Multimodal.featuresStub(viaBmp.pixels)
    assert(fPng.sameElements(fBmp), "features must not depend on container")
    // and the CONTAINER bytes would NOT have given the same vector —
    // the invariance comes from decoding, not from luck
    assert(!Multimodal.featuresStub(png)
      .sameElements(Multimodal.featuresStub(bmp)),
      "container-byte projections should differ (else the test is vacuous)")
  }

  test("JPEG baseline decode: DC-only fixture decodes to exact flat " +
      "blocks; ImageIO agrees byte-for-byte") {
    val (bw, bh) = (4, 3)
    val dcs = Array.tabulate(bw * bh)(p => ((p * 11) % 50) - 25)
    val jpg = Multimodal.jpegEncodeGrayDcOnly(bw * 8, bh * 8, dcs)
    val img = Multimodal.decodeJpegPixels(jpg)
      .getOrElse(fail("decode failed"))
    assert(img.width == 32 && img.height == 24 && img.channels == 1)
    for (y <- 0 until 24; x <- 0 until 32) {
      val dc = dcs((y / 8) * bw + (x / 8))
      assert((img.pixels(y * 32 + x) & 0xff) == 128 + dc * 2,
        s"flat-block drift at ($x,$y)")
    }
    // independent decoder: ImageIO (libjpeg-style integer IDCT) lands
    // on the same exact values for DC-only blocks. Raw raster samples,
    // NOT getRGB — that would run the nonlinear GRAY→sRGB conversion
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    assert(bi != null, "ImageIO rejected our JPEG")
    for (y <- 0 until 24; x <- 0 until 32) {
      val dc = dcs((y / 8) * bw + (x / 8))
      assert(bi.getRaster.getSample(x, y, 0) == 128 + dc * 2,
        s"ImageIO disagrees at ($x,$y)")
    }
  }

  test("JPEG general path (AC coefficients, standard tables) tracks " +
      "ImageIO's decode within 1 level; truncated stream declines") {
    // a real gradient image compressed by ImageIO's encoder exercises
    // AC run-lengths, the standard Huffman tables, and non-trivial
    // IDCT inputs; our double IDCT may differ from its integer IDCT
    // by at most one level
    val bi = new java.awt.image.BufferedImage(40, 24,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 24; x <- 0 until 40) {
      val v = (x * 5 + y * 3 + ((x * y) % 7) * 10) % 256
      bi.getRaster.setSample(x, y, 0, v)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpg", out))
    val jpg = out.toByteArray
    val img = Multimodal.decodeJpegPixels(jpg)
      .getOrElse(fail("our decoder rejected an ImageIO JPEG"))
    assert(img.width == 40 && img.height == 24 && img.channels == 1)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    var maxDiff = 0
    for (y <- 0 until 24; x <- 0 until 40) {
      val d = math.abs((img.pixels(y * 40 + x) & 0xff) -
        ref.getRaster.getSample(x, y, 0))
      maxDiff = math.max(maxDiff, d)
    }
    assert(maxDiff <= 1, s"IDCT drift vs ImageIO: max |diff| = $maxDiff")
    // truncated entropy stream declines
    assert(Multimodal.decodeJpegPixels(jpg.take(jpg.length / 2)).isEmpty)
  }

  test("JPEG color decode: DC-only 4:4:4 fixture decodes to the exact " +
      "fixed-point RGB; ImageIO agrees within 1 level") {
    val (bw, bh) = (3, 2)
    val dcY = Array.tabulate(bw * bh)(p => ((p * 11) % 50) - 25)
    val dcCb = Array.tabulate(bw * bh)(p => ((p * 7) % 40) - 20)
    val dcCr = Array.tabulate(bw * bh)(p => ((p * 13) % 40) - 20)
    val jpg = Multimodal.jpegEncodeColorDcOnly(bw * 8, bh * 8,
      dcY, dcCb, dcCr)
    val img = Multimodal.decodeJpegPixels(jpg)
      .getOrElse(fail("color decode failed"))
    assert(img.width == 24 && img.height == 16 && img.channels == 3)
    for (y <- 0 until 16; x <- 0 until 24) {
      val p = (y / 8) * bw + (x / 8)
      val (er, eg, eb) = Multimodal.ycbcrToRgb(
        128 + dcY(p) * 2, 128 + dcCb(p) * 2, 128 + dcCr(p) * 2)
      val o = (y * 24 + x) * 3
      assert((img.pixels(o) & 0xff) == er &&
        (img.pixels(o + 1) & 0xff) == eg &&
        (img.pixels(o + 2) & 0xff) == eb,
        s"fixed-point RGB drift at ($x,$y)")
    }
    // independent decoder cross-validation: libjpeg rounds each
    // conversion TERM before summing where we round the sum — at most
    // one level apart, never more
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    assert(bi != null, "ImageIO rejected our color JPEG")
    for (y <- 0 until 16; x <- 0 until 24) {
      val rgb = bi.getRGB(x, y)
      val o = (y * 24 + x) * 3
      assert(math.abs(((rgb >> 16) & 0xff) - (img.pixels(o) & 0xff)) <= 1 &&
        math.abs(((rgb >> 8) & 0xff) - (img.pixels(o + 1) & 0xff)) <= 1 &&
        math.abs((rgb & 0xff) - (img.pixels(o + 2) & 0xff)) <= 1,
        s"ImageIO color disagrees at ($x,$y)")
    }
  }

  test("JPEG color decode: ImageIO-written 4:2:0 files (flat color and " +
      "gray ramp) track ImageIO's decode") {
    // flat color: chroma is constant, so subsampled-chroma upsampling
    // choices (ours: replication; libjpeg: fancy/triangular) agree
    // everywhere and only conversion rounding remains
    val flat = new java.awt.image.BufferedImage(20, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = flat.createGraphics()
    g2.setColor(new java.awt.Color(200, 80, 40))
    g2.fillRect(0, 0, 20, 12)
    g2.dispose()
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(flat, "jpg", out))
    val img = Multimodal.decodeJpegPixels(out.toByteArray)
      .getOrElse(fail("our decoder rejected an ImageIO color JPEG"))
    assert(img.width == 20 && img.height == 12 && img.channels == 3)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.toByteArray))
    for (y <- 0 until 12; x <- 0 until 20; c <- 0 until 3) {
      val rv = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      val d = math.abs(rv - (img.pixels((y * 20 + x) * 3 + c) & 0xff))
      assert(d <= 2, s"flat-color drift $d at ($x,$y,$c)")
    }
    // gray ramp (r=g=b): Cb=Cr=128 constant, Y full-resolution, so
    // the luma gradient exercises interleaved MCUs + AC coefficients
    // while chroma upsampling stays degenerate
    val ramp = new java.awt.image.BufferedImage(40, 24,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 40) {
      val v = (x * 5 + y * 3) % 256
      ramp.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(ramp, "jpg", out2))
    val img2 = Multimodal.decodeJpegPixels(out2.toByteArray)
      .getOrElse(fail("our decoder rejected the ramp JPEG"))
    val ref2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out2.toByteArray))
    var maxDiff = 0
    for (y <- 0 until 24; x <- 0 until 40; c <- 0 until 3) {
      val rv = (ref2.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      maxDiff = math.max(maxDiff,
        math.abs(rv - (img2.pixels((y * 40 + x) * 3 + c) & 0xff)))
    }
    assert(maxDiff <= 2, s"ramp drift vs ImageIO: max |diff| = $maxDiff")
  }

  private def writeProgressive(
      bi: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.close(); writer.dispose()
    val bytes = out.toByteArray
    // sanity: the writer really emitted SOF2 (progressive), so the
    // comparisons below exercise the multi-scan path, not baseline
    var i = 2
    var sof2 = false
    var done = false
    while (!done && i + 4 <= bytes.length) {
      val m = bytes(i + 1) & 0xff
      if (m == 0xc2) { sof2 = true; done = true }
      else if (m == 0xda) done = true
      else i += 2 + (((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff))
    }
    assert(sof2, "ImageIO did not write a progressive JPEG")
    bytes
  }

  test("JPEG progressive decode (SOF2, multi-scan): gray and color " +
      "track ImageIO's own progressive decode") {
    // IJG's standard progression script (what ImageIO emits) crosses
    // spectral selection with successive approximation: DC first at
    // Al=1 + DC refine, AC bands 1-5 and 6-63 at Al=2 with two
    // refinement passes, EOB runs throughout — every branch of the
    // §G.1.2 decoder runs on this one file
    val gray = new java.awt.image.BufferedImage(40, 24,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 24; x <- 0 until 40) {
      val v = (x * 5 + y * 3 + ((x * y) % 7) * 10) % 256
      gray.getRaster.setSample(x, y, 0, v)
    }
    val pjpg = writeProgressive(gray)
    val img = Multimodal.decodeJpegPixels(pjpg)
      .getOrElse(fail("progressive gray decode failed"))
    assert(img.width == 40 && img.height == 24 && img.channels == 1)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(pjpg))
    var maxDiff = 0
    for (y <- 0 until 24; x <- 0 until 40) {
      val d = math.abs((img.pixels(y * 40 + x) & 0xff) -
        ref.getRaster.getSample(x, y, 0))
      maxDiff = math.max(maxDiff, d)
    }
    assert(maxDiff <= 1, s"progressive gray drift: max |diff| = $maxDiff")

    // color progressive, gray-ramp content (constant chroma keeps the
    // upsampling comparison exact; the Y channel carries the scans)
    val ramp = new java.awt.image.BufferedImage(40, 24,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 40) {
      val v = (x * 5 + y * 3) % 256
      ramp.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val cjpg = writeProgressive(ramp)
    val cimg = Multimodal.decodeJpegPixels(cjpg)
      .getOrElse(fail("progressive color decode failed"))
    assert(cimg.width == 40 && cimg.height == 24 && cimg.channels == 3)
    val cref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(cjpg))
    var cMax = 0
    for (y <- 0 until 24; x <- 0 until 40; c <- 0 until 3) {
      val rv = (cref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      cMax = math.max(cMax,
        math.abs(rv - (cimg.pixels((y * 40 + x) * 3 + c) & 0xff)))
    }
    assert(cMax <= 2, s"progressive color drift: max |diff| = $cMax")

    // flat color progressive: chroma scans carry real (non-zero)
    // coefficients through the Cb/Cr band scans
    val flat = new java.awt.image.BufferedImage(20, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g2 = flat.createGraphics()
    g2.setColor(new java.awt.Color(60, 180, 220))
    g2.fillRect(0, 0, 20, 12)
    g2.dispose()
    val fjpg = writeProgressive(flat)
    val fimg = Multimodal.decodeJpegPixels(fjpg)
      .getOrElse(fail("progressive flat decode failed"))
    val fref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(fjpg))
    for (y <- 0 until 12; x <- 0 until 20; c <- 0 until 3) {
      val rv = (fref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
      val d = math.abs(rv - (fimg.pixels((y * 20 + x) * 3 + c) & 0xff))
      assert(d <= 2, s"progressive flat drift $d at ($x,$y,$c)")
    }
    // truncated progressive still declines at the header level
    assert(Multimodal.decodeJpegPixels(cjpg.take(20)).isEmpty)
  }

  test("JPEG progressive DC-only fixture (DC scan + EOB-run AC scans) " +
      "decodes to the exact fixed-point RGB; ImageIO agrees within 1") {
    val (bw, bh) = (3, 2)
    val dcY = Array.tabulate(bw * bh)(p => ((p * 13) % 50) - 25)
    val dcCb = Array.tabulate(bw * bh)(p => ((p * 9) % 40) - 20)
    val dcCr = Array.tabulate(bw * bh)(p => ((p * 5) % 40) - 20)
    val jpg = Multimodal.jpegEncodeProgDcOnly(bw * 8, bh * 8,
      dcY, dcCb, dcCr)
    val img = Multimodal.decodeJpegPixels(jpg)
      .getOrElse(fail("progressive fixture decode failed"))
    assert(img.width == 24 && img.height == 16 && img.channels == 3)
    for (y <- 0 until 16; x <- 0 until 24) {
      val p = (y / 8) * bw + (x / 8)
      val (er, eg, eb) = Multimodal.ycbcrToRgb(
        128 + dcY(p) * 2, 128 + dcCb(p) * 2, 128 + dcCr(p) * 2)
      val o = (y * 24 + x) * 3
      assert((img.pixels(o) & 0xff) == er &&
        (img.pixels(o + 1) & 0xff) == eg &&
        (img.pixels(o + 2) & 0xff) == eb,
        s"progressive fixture drift at ($x,$y)")
    }
    // the independent decoder accepts the multi-scan layout too
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    assert(bi != null, "ImageIO rejected our progressive JPEG")
    for (y <- 0 until 16; x <- 0 until 24) {
      val rgb = bi.getRGB(x, y)
      val o = (y * 24 + x) * 3
      assert(math.abs(((rgb >> 16) & 0xff) - (img.pixels(o) & 0xff)) <= 1 &&
        math.abs(((rgb >> 8) & 0xff) - (img.pixels(o + 1) & 0xff)) <= 1 &&
        math.abs((rgb & 0xff) - (img.pixels(o + 2) & 0xff)) <= 1,
        s"ImageIO disagrees on the progressive fixture at ($x,$y)")
    }
  }

  test("MJPEG AVI: RIFF demux resolves frames and timing; every frame " +
      "decodes through the real JPEG path; declines non-AVI RIFF") {
    val (bw, bh) = (2, 2)
    def frame(f: Int): Array[Byte] = {
      val jpg = Multimodal.jpegEncodeColorDcOnly(16, 16,
        Array.tabulate(bw * bh)(p => ((p * 11 + f * 9) % 50) - 25),
        Array.tabulate(bw * bh)(p => ((p * 7 + f) % 40) - 20),
        Array.tabulate(bw * bh)(p => ((p * 13 + f * 7) % 40) - 20))
      // odd length on frame 1 exercises RIFF word alignment (trailing
      // bytes after EOI are ignored by the JPEG marker walk)
      if (f == 1 && jpg.length % 2 == 0) jpg :+ 0x00.toByte else jpg
    }
    val frames = (0 until 3).map(frame)
    val avi = Multimodal.aviEncodeMjpeg(16, 16, 40000, frames)
    val demuxed = Multimodal.demuxAviFrames(avi)
      .getOrElse(fail("demux failed"))
    assert(demuxed.length == 3)
    demuxed.zipWithIndex.foreach { case (fr, k) =>
      assert(fr.idx == k && fr.tsMs == k * 40L,
        s"timing drift at frame $k: ${fr.tsMs}")
      val body = java.util.Arrays.copyOfRange(avi, fr.offset.toInt,
        (fr.offset + fr.size).toInt)
      assert(body.sameElements(frames(k)), s"frame $k bytes drifted")
    }
    val imgs = Multimodal.decodeAviVideoFrames(avi)
      .getOrElse(fail("mjpeg decode failed"))
    assert(imgs.length == 3)
    imgs.zipWithIndex.foreach { case (img, f) =>
      assert(img.width == 16 && img.height == 16 && img.channels == 3)
      // flat-block exactness per frame, same contract as the stills
      for (y <- 0 until 16; x <- 0 until 16) {
        val p = (y / 8) * bw + (x / 8)
        val (er, eg, eb) = Multimodal.ycbcrToRgb(
          128 + (((p * 11 + f * 9) % 50) - 25) * 2,
          128 + (((p * 7 + f) % 40) - 20) * 2,
          128 + (((p * 13 + f * 7) % 40) - 20) * 2)
        val o = (y * 16 + x) * 3
        assert((img.pixels(o) & 0xff) == er &&
          (img.pixels(o + 1) & 0xff) == eg &&
          (img.pixels(o + 2) & 0xff) == eb,
          s"frame $f pixel drift at ($x,$y)")
      }
    }
    // declines: a WAV (RIFF but not AVI), a truncated AVI, an AVI
    // whose video chunk is not a decodable JPEG
    val wav = Multimodal.encodeWavPcm16(Array(1, 2, 3), 8000)
    assert(Multimodal.demuxAviFrames(wav).isEmpty)
    assert(Multimodal.decodeAviVideoFrames(avi.take(40)).isEmpty)
    val junk = Multimodal.aviEncodeMjpeg(16, 16, 40000,
      Seq(Array[Byte](1, 2, 3, 4)))
    assert(Multimodal.demuxAviFrames(junk).isDefined) // demux is fine
    assert(Multimodal.decodeAviVideoFrames(junk).isEmpty) // decode declines
  }

  test("DIB AVI: BI_RGB and RLE8 frames round-trip through the raw-" +
      "frame decode; audio-declared-first resolves the video stream") {
    val (w, h) = (5, 4)
    val rgb = Array.tabulate(w * h * 3)(j => ((j * 7 + 3) % 256).toByte)
    // 24-bit BI_RGB, video as stream 0
    val avi24 = Multimodal.aviEncodeDib(w, h, 40000,
      Seq(Multimodal.dibFromRgb24(w, h, rgb)), 24, 0)
    val v24 = Multimodal.demuxAvi(avi24).getOrElse(fail("demux 24"))
    assert(v24.vidStream == 0 && v24.bitCount == 24 &&
      v24.compression == 0 && v24.w == w && v24.h == h)
    val img24 = Multimodal.decodeAviVideoFrames(avi24)
      .getOrElse(fail("decode 24")).head
    assert(img24.pixels.sameElements(rgb), "BI_RGB raster drift")
    // RLE8 with gray palette, AUDIO STREAM DECLARED FIRST: chunks are
    // '01dc' — a stream-0-only walk finds no frames at all
    val idx = Array.tabulate(w * h)(p => ((p * 11 + 5) % 256).toByte)
    val pal = Array.tabulate(256 * 4)(i =>
      if (i % 4 == 3) 0.toByte else (i / 4).toByte)
    val aviRle = Multimodal.aviEncodeDib(w, h, 40000,
      Seq(Multimodal.rle8FromIndices(w, h, idx)), 8, 1, pal,
      audioFirst = true)
    val vRle = Multimodal.demuxAvi(aviRle).getOrElse(fail("demux rle"))
    assert(vRle.vidStream == 1, s"video stream ${vRle.vidStream}")
    assert(vRle.compression == 1 && vRle.bitCount == 8)
    val imgRle = Multimodal.decodeAviVideoFrames(aviRle)
      .getOrElse(fail("decode rle")).head
    for (p <- 0 until w * h; c <- 0 until 3)
      assert((imgRle.pixels(p * 3 + c) & 0xff) == (idx(p) & 0xff),
        s"RLE8 raster drift at pixel $p channel $c")
    // RLE escapes beyond what the encoder emits: delta + absolute mode
    val manual = Array[Byte](
      2, 9, // run: 2 px of index 9 at (0,0)-(1,0), bottom row
      0, 3, 7, 8, 6, 0, // absolute: 3 px (7,8,6), padded to word
      0, 0, // EOL -> (0,1)
      0, 2, 2, 0, // delta: dx=2 dy=0 -> (2,1); skipped px stay black
      1, 4, // run: 1 px of index 4 at (2,1)
      0, 0, // EOL
      0, 1) // EOB
    val img = Multimodal.decodeDibPixels(5, 2, 8, 1, pal, manual)
      .getOrElse(fail("manual RLE decode"))
    // bottom RLE row (y=0) is raster row 1; delta-skipped px are black
    val row1 = (0 until 5).map(x => img.pixels((1 * 5 + x) * 3) & 0xff)
    val row0 = (0 until 5).map(x => img.pixels(x * 3) & 0xff)
    assert(row1 == Seq(9, 9, 7, 8, 6), s"manual RLE bottom row $row1")
    assert(row0 == Seq(0, 0, 4, 0, 0), s"manual RLE top row $row0")
    // declines: RLE stream without EOB, oversized run
    assert(Multimodal.decodeDibPixels(5, 2, 8, 1, pal,
      Array[Byte](2, 9)).isEmpty)
    assert(Multimodal.decodeDibPixels(5, 2, 8, 1, pal,
      Array[Byte](99, 9, 0, 1)).isEmpty)
  }

  test("top-down DIB (negative biHeight): BI_RGB skips the bottom-up " +
      "row flip; top-down RLE8 declines (out-of-spec)") {
    // 2x2 24-bit BGR, stride 8 (2*3 padded to 4): rows in STORAGE
    // order are [A B] then [C D]
    val data = Array[Byte](
      1, 2, 3, 4, 5, 6, 0, 0, // storage row 0: A=BGR(1,2,3) B=(4,5,6)
      7, 8, 9, 10, 11, 12, 0, 0) // storage row 1: C, D
    val up = Multimodal.decodeDibPixels(2, 2, 24, 0,
      Array.emptyByteArray, data).getOrElse(fail("bottom-up"))
    val down = Multimodal.decodeDibPixels(2, 2, 24, 0,
      Array.emptyByteArray, data, topDown = true)
      .getOrElse(fail("top-down"))
    // bottom-up: storage row 0 is the BOTTOM raster row; top-down:
    // storage row 0 is the TOP raster row — the two decodes are
    // vertical mirrors
    for (x <- 0 until 2; c <- 0 until 3) {
      assert(up.pixels((0 * 2 + x) * 3 + c) ==
        down.pixels((1 * 2 + x) * 3 + c), s"mirror x=$x c=$c")
      assert(up.pixels((1 * 2 + x) * 3 + c) ==
        down.pixels((0 * 2 + x) * 3 + c), s"mirror x=$x c=$c")
    }
    // RGB order: raster top row of the top-down decode is storage row
    // 0 = pixels A,B with BGR->RGB swap
    assert((down.pixels(0) & 0xff) == 3 && (down.pixels(1) & 0xff) == 2 &&
      (down.pixels(2) & 0xff) == 1)
    // top-down + RLE8 declines instead of mirroring
    val pal = Array.tabulate(256 * 4)(i =>
      if (i % 4 == 3) 0.toByte else (i / 4).toByte)
    assert(Multimodal.decodeDibPixels(5, 2, 8, 1, pal,
      Array[Byte](2, 9, 0, 1), topDown = true).isEmpty)
  }

  test("Microsoft RLE inter-frame: delta frames inherit the previous " +
      "canvas; standalone decode of the same delta is black-backed") {
    val (w, h) = (4, 3)
    val pal = Array.tabulate(256 * 4)(i =>
      if (i % 4 == 3) 0.toByte else (i / 4).toByte)
    val full = Multimodal.rle8FromIndices(w, h,
      Array.tabulate(w * h)(p => ((p * 3 + 10) % 256).toByte))
    // delta touches exactly two pixels: top-left-ish p=1 and p=9
    val delta = Multimodal.rle8DeltaFrame(w, h, Seq(1 -> 200, 9 -> 201))
    val avi = Multimodal.aviEncodeDib(w, h, 40000, Seq(full, delta),
      8, 1, pal)
    val imgs = Multimodal.decodeAviVideoFrames(avi)
      .getOrElse(fail("delta avi decode"))
    assert(imgs.length == 2)
    for (p <- 0 until w * h) {
      val expect0 = (p * 3 + 10) % 256
      assert((imgs(0).pixels(p * 3) & 0xff) == expect0, s"f0 px $p")
      val expect1 =
        if (p == 1) 200 else if (p == 9) 201 else expect0 // INHERITED
      assert((imgs(1).pixels(p * 3) & 0xff) == expect1, s"f1 px $p")
    }
    // the SAME delta frame decoded standalone has no canvas to
    // inherit: untouched pixels are black — the two semantics differ,
    // which is what makes the inter-frame path a real decoder and not
    // a re-label
    val alone = Multimodal.decodeDibPixels(w, h, 8, 1, pal, delta).get
    assert((alone.pixels(1 * 3) & 0xff) == 200 &&
      (alone.pixels(9 * 3) & 0xff) == 201)
    assert((alone.pixels(0) & 0xff) == 0 &&
      (alone.pixels(5 * 3) & 0xff) == 0)
  }

  test("MP4 sample-table demux: offsets, sizes and stts timing from " +
      "the fixture layout") {
    val sizes = Seq(10L, 25L, 40L, 15L)
    val deltas = Seq(100L, 100L, 150L, 150L)
    val mp4 = Multimodal.mp4Fixture(sizes, deltas, timescale = 1000)
    val samples = Multimodal.demuxMp4Samples(mp4)
      .getOrElse(fail("demux failed"))
    assert(samples.map(_.size) == sizes)
    // single chunk at byte 24: offsets are the running prefix sum
    assert(samples.map(_.offset) == Seq(24L, 34L, 59L, 99L))
    assert(samples.map(_.tsMs) == Seq(0L, 100L, 200L, 350L))
    // the offsets really point inside mdat
    assert(samples.forall(sm =>
      sm.offset + sm.size <= 24 + sizes.sum))
  }

  test("MP4 demux: multi-chunk stsc mapping resets offsets per chunk") {
    def be(v: Int): Array[Byte] = be32(v)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be(body.length + 8) ++ typ.getBytes ++ body
    // 7 samples of 10 bytes over 3 chunks: 3 + 2 + 2
    // (stsc runs: chunk 1 -> 3 samples, chunks 2.. -> 2 samples)
    val ftyp = box("ftyp", "isom".getBytes ++ be(0))
    val payload = Array.fill(90)(0x11.toByte)
    val mdat = box("mdat", payload)
    // chunks at 24, 60, 90 (gaps are legal: mdat can hold slack)
    val stts = box("stts", be(0) ++ be(1) ++ be(7) ++ be(40))
    val stsc = box("stsc", be(0) ++ be(2) ++
      (be(1) ++ be(3) ++ be(1)) ++ (be(2) ++ be(2) ++ be(1)))
    val stsz = box("stsz", be(0) ++ be(10) ++ be(7)) // uniform size 10
    val stco = box("stco", be(0) ++ be(3) ++ be(24) ++ be(60) ++ be(90))
    val stbl = box("stbl", stts ++ stsc ++ stsz ++ stco)
    val minf = box("minf", stbl)
    val mdhd = box("mdhd", be(0) ++ be(0) ++ be(0) ++ be(1000) ++ be(280))
    val mdia = box("mdia", mdhd ++ minf)
    val trak = box("trak", mdia)
    val mvhd = box("mvhd", be(0) ++ be(0) ++ be(0) ++ be(1000) ++ be(280))
    val moov = box("moov", mvhd ++ trak)
    val mp4 = ftyp ++ mdat ++ moov
    val samples = Multimodal.demuxMp4Samples(mp4)
      .getOrElse(fail("demux failed"))
    assert(samples.map(_.offset) ==
      Seq(24L, 34L, 44L, 60L, 70L, 90L, 100L))
    assert(samples.map(_.tsMs) == (0 until 7).map(_ * 40L))
    // real demux feeds sampleFrames' MP4 route: stride-2 keeps 0,2,4,6
    assert(samples.filter(_.idx % 2 == 0).map(_.idx) == Seq(0, 2, 4, 6))
  }

  test("MP4 demux declines what it cannot resolve") {
    assert(Multimodal.demuxMp4Samples("nonsense".getBytes).isEmpty)
    val ok = Multimodal.mp4Fixture(Seq(10L, 10L), Seq(50L, 50L))
    // corrupt the stbl walk: damage the stsz box type
    val broken = ok.clone()
    val at = broken.indices.find(i =>
      broken(i) == 's' && broken(i + 1) == 't' && broken(i + 2) == 's' &&
        broken(i + 3) == 'z').get
    broken(at) = 'x'
    assert(Multimodal.demuxMp4Samples(broken).isEmpty)
    // truncation mid-moov declines
    assert(Multimodal.demuxMp4Samples(ok.take(ok.length - 30)).isEmpty)
  }

  test("resampleNearest: integer mapping and resizeImages routing") {
    val px = raster(8, 6, 3)
    val img = Multimodal.PngImage(8, 6, 3, px)
    val rs = Multimodal.resampleNearest(img, 4, 3)
    for (ty <- 0 until 3; tx <- 0 until 4; c <- 0 until 3) {
      val sy = ty * 6 / 3; val sx = tx * 8 / 4
      assert(rs((ty * 4 + tx) * 3 + c) == px((sy * 8 + sx) * 3 + c))
    }
    // upscale repeats source pixels, never reads out of range
    val up = Multimodal.resampleNearest(img, 17, 13)
    assert(up.length == 17 * 13 * 3)
  }
}
