package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions.BinaryCodecs
import graft.ops.Multimodal
import graft.fixtures.MediaFixtures

/** PNG codec: writer/decoder roundtrip, all five scanline filters
  * reconstructed against hand-computed vectors, quarantine on every
  * malformation class, and the cross-format identities (BMP transcode,
  * dhash equality) the q386–q389 oracles rely on.
  */
class PngSpec extends SparkSpec {
  import spark.implicits._

  private def mkChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val buf = ByteBuffer.allocate(12 + data.length).order(ByteOrder.BIG_ENDIAN)
    buf.putInt(data.length).put(t).put(data)
    val crc = new java.util.zip.CRC32
    crc.update(t); crc.update(data)
    buf.putInt(crc.getValue.toInt)
    buf.array()
  }

  private def mkIhdr(w: Int, h: Int, colorType: Int): Array[Byte] =
    ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }

  private val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  test("png writer/decoder roundtrip: exact pixels, cycled fill, viewer-valid layout") {
    val px = Array.tabulate(3 * 4 * 3)(i => (i * 7 % 251).toByte) // exactly 4x3
    val file = BinaryCodecs.png(4, 3, px)
    val (w, h, ch, got) = BinaryCodecs.pngDecode(file).get
    assert((w, h, ch) == (4, 3, 3))
    assert(got.sameElements(px))
    assert(BinaryCodecs.pngDimensions(file).contains((4, 3)))
    // cycled fill: a short byte source wraps module its length
    val cyc = BinaryCodecs.pngDecode(BinaryCodecs.png(2, 2, Array[Byte](1, 2, 3, 4, 5))).get._4
    assert(cyc.sameElements(Array[Byte](1, 2, 3, 4, 5, 1, 2, 3, 4, 5, 1, 2)))
    // empty source decodes to zeros
    assert(BinaryCodecs.pngDecode(BinaryCodecs.png(2, 1, Array.emptyByteArray)).get
      ._4.forall(_ == 0))
  }

  test("filter reconstruction: Sub/Up/Average/Paeth against hand-computed scanlines") {
    // 2x5 RGB (stride 6, bpp 3), one row per filter; expected outputs
    // computed by hand from the spec's reconstruction formulas
    val raw = Array[Byte](
      0, 100.toByte, 110, 120, 127, 127, 127, // f=None → verbatim
      1, 10, 10, 10, 20, 20, 20,              // f=Sub: +left(bpp back)
      2, 5, 5, 5, 5, 5, 5,                    // f=Up: +up
      3, 1, 1, 1, 2, 2, 2,                    // f=Average: +(left+up)/2
      4, 3, 3, 3, 4, 4, 4)                    // f=Paeth
    val file = sig ++ mkChunk("IHDR", mkIhdr(2, 5, 2)) ++
      mkChunk("IDAT", deflate(raw)) ++ mkChunk("IEND", Array.emptyByteArray)
    val (_, _, _, out) = BinaryCodecs.pngDecode(file).get
    val expected = Array[Int](
      100, 110, 120, 127, 127, 127,
      10, 10, 10, 30, 30, 30,     // Sub: 20+10
      15, 15, 15, 35, 35, 35,     // Up: 5+10, 5+30
      8, 8, 8, 23, 23, 23,        // Avg: 1+(0+15)/2, 2+(8+35)/2
      11, 11, 11, 27, 27, 27)     // Paeth: 3+b(8), 4+b(23)
    assert(out.map(_ & 0xff).toSeq == expected.toSeq)
  }

  test("quarantine: bad CRC, palette/gray/16-bit, interlace, truncation, length lies, bombs") {
    val good = BinaryCodecs.png(6, 4, Array[Byte](9, 8, 7))
    assert(BinaryCodecs.pngDecode(good).nonEmpty)
    val badCrc = good.clone
    badCrc(badCrc.length - 1) = (badCrc(badCrc.length - 1) ^ 0xff).toByte // IEND CRC
    assert(BinaryCodecs.pngDecode(badCrc).isEmpty)
    assert(BinaryCodecs.pngDecode(good.dropRight(6)).isEmpty) // truncated chunk
    assert(BinaryCodecs.pngDecode("not a png at all, sorry".getBytes).isEmpty)
    // unsupported color types / bit depths / interlace
    def withIhdr(ihdr: Array[Byte]) =
      sig ++ mkChunk("IHDR", ihdr) ++
        mkChunk("IDAT", deflate(new Array[Byte](7))) ++ mkChunk("IEND", Array.emptyByteArray)
    assert(BinaryCodecs.pngDecode(withIhdr(mkIhdr(2, 1, 3))).isEmpty) // palette
    assert(BinaryCodecs.pngDecode(withIhdr(mkIhdr(2, 1, 0))).isEmpty) // grayscale
    val i16 = mkIhdr(2, 1, 2); i16(8) = 16
    assert(BinaryCodecs.pngDecode(withIhdr(i16)).isEmpty) // 16-bit
    val inter = mkIhdr(2, 1, 2); inter(12) = 1
    assert(BinaryCodecs.pngDecode(withIhdr(inter)).isEmpty) // Adam7
    // decompression bomb: a declared 30000x30000 geometry exceeds the
    // output cap BEFORE any inflation happens
    assert(BinaryCodecs.pngDecode(withIhdr(mkIhdr(30000, 30000, 2))).isEmpty)
    // IDAT that inflates to the wrong size (raw too short for geometry)
    val short = sig ++ mkChunk("IHDR", mkIhdr(4, 4, 2)) ++
      mkChunk("IDAT", deflate(new Array[Byte](10))) ++ mkChunk("IEND", Array.emptyByteArray)
    assert(BinaryCodecs.pngDecode(short).isEmpty)
    // an invalid filter id in a scanline
    val badF = Array[Byte](9, 0, 0, 0, 0, 0, 0)
    val bf = sig ++ mkChunk("IHDR", mkIhdr(2, 1, 2)) ++
      mkChunk("IDAT", deflate(badF)) ++ mkChunk("IEND", Array.emptyByteArray)
    assert(BinaryCodecs.pngDecode(bf).isEmpty)
  }

  test("RGBA decodes; stats exclude alpha; ancillary chunks skip") {
    // 2x1 RGBA, filter 0
    val raw = Array[Byte](0, 10, 20, 30, 40, 50, 60, 70, 80)
    val file = sig ++ mkChunk("IHDR", mkIhdr(2, 1, 6)) ++
      mkChunk("tEXt", "Comment\u0000hi".getBytes("US-ASCII")) ++ // ancillary, skipped
      mkChunk("IDAT", deflate(raw)) ++ mkChunk("IEND", Array.emptyByteArray)
    val (w, h, ch, px) = BinaryCodecs.pngDecode(file).get
    assert((w, h, ch) == (2, 1, 4))
    assert(px.map(_ & 0xff).toSeq == Seq(10, 20, 30, 40, 50, 60, 70, 80))
    val (sb, sg, sr) = BinaryCodecs.pixelStats(BinaryCodecs.decodeImage(file).get)
    assert((sr, sg, sb) == (10L + 50, 20L + 60, 30L + 70)) // alphas 40/80 excluded
  }

  test("pngPixelStats/pngDhash/pngResize agree with the BMP twins on identical pixels") {
    val src = "the quick brown fox jumps over the lazy dog 0123456789".getBytes
    val bmp = BinaryCodecs.bmp(20, 12, src)
    def decode(p: Array[Byte]) = BinaryCodecs.decodeImage(p).get
    def stats(p: Array[Byte]): Option[(Int, Int, Long, Long, Long)] =
      BinaryCodecs.decodeImage(p).map { i =>
        val (b, g, r) = BinaryCodecs.pixelStats(i)
        (i.width, i.height, b, g, r)
      }
    val bmpImg = BinaryCodecs.bmpRaster(bmp).get
    val png = BinaryCodecs.toPng(bmpImg).get
    // stats: same sums (BMP walks padded BGR bottom-up; PNG unpadded RGB
    // top-down — identical pixels either way)
    assert(stats(bmp) == stats(png))
    // dhash: bit-identical (the q389 invariant)
    val (bw, bh, bd) = (bmpImg.width, bmpImg.height, BinaryCodecs.dhash(bmpImg))
    val pngImg = decode(png)
    val (pw, ph, pd) = (pngImg.width, pngImg.height, BinaryCodecs.dhash(pngImg))
    assert((bw, bh) == (pw, ph) && bd == pd)
    // resize: the same nearest-neighbor map → the same resized pixels
    val (bmpMime, rb) = BinaryCodecs.resizeImage(bmpImg, 8, 8)
    val (pngMime, rp) = BinaryCodecs.resizeImage(pngImg, 8, 8)
    assert(bmpMime == "image/bmp" && pngMime == "image/png")
    assert(stats(rb) == stats(rp))
    // identity resize preserves everything
    assert(stats(BinaryCodecs.resizeImage(pngImg, 20, 12)._2) == stats(png))
    assert(BinaryCodecs.decodeImage("nope".getBytes).isEmpty)
  }

  test("Dataset ops route PNG: imageStats/imageDhash/resizeImages/transcodeToPng") {
    val docs = Seq((0L, "alpha bravo"), (2L, "charlie delta echo"), (4L, ""))
      .toDF("doc_id", "text")
    val pngs = MediaFixtures.syntheticPngMedia(docs)
    val stats = Multimodal.imageStats(pngs).collect().sortBy(_.media_id)
    assert(stats.length == 3 && stats.head.width == 8 && stats.head.height == 8)
    val hashes = Multimodal.imageDhash(pngs).collect()
    assert(hashes.length == 3)
    val resized = Multimodal.resizeImages(pngs, 8, 8).collect()
    assert(resized.length == 3 && resized.forall(_.mime_type == "image/png"))
    // transcode: BMP corpus → PNG corpus with identical fingerprints
    val bmps = MediaFixtures.syntheticMedia(docs) // even ids → BMP
    val before = Multimodal.imageDhash(bmps).collect().map(d => d.media_id -> d.dhash).toMap
    val after = Multimodal.imageDhash(Multimodal.transcodeToPng(bmps)).collect()
    assert(after.nonEmpty && after.forall(d => before(d.media_id) == d.dhash))
    // PNG input passes through transcode untouched
    assert(Multimodal.transcodeToPng(pngs).collect().length == 3)
  }
}
