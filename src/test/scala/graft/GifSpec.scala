package graft

import graft.functions.BinaryCodecs
import graft.ops.Multimodal
import graft.fixtures.MediaFixtures

/** GIF codec: LZW roundtrips (width growth, dictionary reset, KwKwK),
  * javax.imageio cross-validation in BOTH directions (the real-world
  * interop proof), interlace, transparency/background compositing,
  * frame offsets, the first-frame contract, cross-format dHash parity,
  * and the quarantine contract.
  */
class GifSpec extends SparkSpec {

  private val pal64 = Array.tabulate(64)(i =>
    ((4 * i) << 16) | ((7 * i % 256) << 8) | (255 - 3 * i))

  /** Palette-map indices to the expected top-down RGB plane. */
  private def expand(pal: Array[Int], idx: Array[Byte]): Array[Byte] =
    idx.flatMap { b =>
      val c = pal(b & 0xff)
      Array(((c >> 16) & 0xff).toByte, ((c >> 8) & 0xff).toByte, (c & 0xff).toByte)
    }

  test("LZW roundtrip: random + repetitive content, 12-bit growth, dictionary reset") {
    val rnd = new scala.util.Random(11)
    for ((w, h) <- Seq((1, 1), (3, 2), (22, 14), (80, 60))) {
      val idx = Array.tabulate(w * h)(_ => rnd.nextInt(64).toByte)
      val (dw, dh, ch, px) = BinaryCodecs.gifDecode(BinaryCodecs.gif(w, h, pal64, idx)).get
      assert((dw, dh, ch) == (w, h, 3))
      assert(px.sameElements(expand(pal64, idx)), s"random $w x $h")
      // repetitive content drives long chains (the KwKwK case arises here)
      val rep = Array.tabulate(w * h)(p => ((p / 7) % 3).toByte)
      val dec2 = BinaryCodecs.gifDecode(BinaryCodecs.gif(w, h, pal64, rep)).get
      assert(dec2._4.sameElements(expand(pal64, rep)), s"repetitive $w x $h")
    }
    // large image: dictionary passes 512/1024/2048/4096 → 12-bit codes
    // and at least one clear-code reset
    val w = 300; val h = 200
    val big = Array.tabulate(w * h)(p => (((p.toLong * p) / 31 + p / 13) % 64).toByte)
    val dec = BinaryCodecs.gifDecode(BinaryCodecs.gif(w, h, pal64, big)).get
    assert((dec._1, dec._2) == (w, h))
    assert(dec._4.sameElements(expand(pal64, big)))
    // tiny palette (2 colors, min code size clamps to 2)
    val pal2 = Array(0x000000, 0xffffff)
    val bits = Array.tabulate(40 * 30)(p => (p % 2).toByte)
    val d2 = BinaryCodecs.gifDecode(BinaryCodecs.gif(40, 30, pal2, bits)).get
    assert(d2._4.sameElements(expand(pal2, bits)))
  }

  test("javax.imageio reads our GIFs pixel-exactly (plain and interlaced)") {
    val w = 37; val h = 23
    val idx = Array.tabulate(w * h)(p => ((p * 31 + 7) % 64).toByte)
    for (interlace <- Seq(false, true)) {
      val bytes = BinaryCodecs.gif(w, h, pal64, idx, interlace = interlace)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) == pal64(idx(y * w + x) & 0xff),
          s"interlace=$interlace ($x,$y)")
    }
  }

  test("our decoder reads javax.imageio-written GIFs pixel-exactly") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    val w = 41; val h = 29
    val r = Array[Byte](0, 255.toByte, 17, 200.toByte)
    val g = Array[Byte](10, 20, 30, 40)
    val b = Array[Byte](5, 6, 7, 8)
    val cm = new IndexColorModel(8, 4, r, g, b)
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      bi.getRaster.setSample(x, y, 0, (x * 3 + y) % 4)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos))
    val (dw, dh, _, px) = BinaryCodecs.gifDecode(bos.toByteArray).get
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val p = 3 * (y * w + x)
      val got = ((px(p) & 0xff) << 16) | ((px(p + 1) & 0xff) << 8) | (px(p + 2) & 0xff)
      assert(got == (bi.getRGB(x, y) & 0xffffff), s"($x,$y)")
    }
  }

  test("interlaced decode equals plain decode; GCE passes through") {
    val w = 22; val h = 14
    val idx = Array.tabulate(w * h)(p => (((p % w) * 5 + (p / w) * 11) % 64).toByte)
    val plain = BinaryCodecs.gifDecode(BinaryCodecs.gif(w, h, pal64, idx)).get
    val inter = BinaryCodecs.gifDecode(
      BinaryCodecs.gif(w, h, pal64, idx, interlace = true)).get
    assert(plain._4.sameElements(inter._4))
    val gce = BinaryCodecs.gifDecode(
      BinaryCodecs.gif(w, h, pal64, idx, withGce = true)).get
    assert(plain._4.sameElements(gce._4))
  }

  test("transparency: transparent pixels keep the background color") {
    val pal4 = Array(0x112233, 0xff0000, 0x00ff00, 0x0000ff)
    val w = 8; val h = 4
    val idx = Array.tabulate(w * h)(p => (p % 4).toByte)
    val bytes = BinaryCodecs.gif(w, h, pal4, idx, transparentIdx = 2)
    val (_, _, _, px) = BinaryCodecs.gifDecode(bytes).get
    for (p <- 0 until w * h) {
      val expected = if (idx(p) == 2) pal4(0) else pal4(idx(p) & 0xff) // bg index 0
      val got = ((px(3 * p) & 0xff) << 16) | ((px(3 * p + 1) & 0xff) << 8) |
        (px(3 * p + 2) & 0xff)
      assert(got == expected, s"pixel $p")
    }
  }

  test("frame offset composites onto the background-filled canvas") {
    val w = 12; val h = 6
    val idx = Array.tabulate(w * h)(p => ((p % 63) + 1).toByte) // never index 0
    val bytes = BinaryCodecs.gif(w, h, pal64, idx)
    // enlarge the canvas by (3, 2) and shift the frame to (3, 2): LSD
    // w/h at bytes 6..9, descriptor left/top right after the GCT
    val patched = bytes.clone
    def putU16(pos: Int, v: Int): Unit = {
      patched(pos) = (v & 0xff).toByte; patched(pos + 1) = ((v >> 8) & 0xff).toByte
    }
    putU16(6, w + 3); putU16(8, h + 2)
    val desc = 13 + 3 * 64
    assert((patched(desc) & 0xff) == 0x2c)
    putU16(desc + 1, 3); putU16(desc + 3, 2)
    val (dw, dh, _, px) = BinaryCodecs.gifDecode(patched).get
    assert((dw, dh) == (w + 3, h + 2))
    val bg = pal64(0)
    for (y <- 0 until h + 2; x <- 0 until w + 3) {
      val p = 3 * (y * (w + 3) + x)
      val got = ((px(p) & 0xff) << 16) | ((px(p + 1) & 0xff) << 8) | (px(p + 2) & 0xff)
      val expected =
        if (x >= 3 && y >= 2) pal64(idx((y - 2) * w + (x - 3)) & 0xff) else bg
      assert(got == expected, s"($x,$y)")
    }
  }

  test("first-frame contract, cross-format dHash parity, stats routing") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val media = MediaFixtures.syntheticGifMedia(docs.select(col("doc_id")))
    val stats = Multimodal.imageStats(media).collect().map(s => s.media_id -> s).toMap
    assert(stats.size == 40)
    // replay one doc's expected sums from the formulas (id 10: second
    // frame present — must NOT composite; interlaced)
    for (id <- Seq(10L, 3L)) {
      val w = 8 + (id % 3).toInt * 7
      val h = 5 + (id % 4).toInt * 3
      var sb = 0L; var sg = 0L; var sr = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val i = ((x * 5 + y * 11 + id) % 64).toInt
        sr += 4 * i; sg += 7 * i % 256; sb += 255 - 3 * i
      }
      val s = stats(id)
      assert((s.width, s.height, s.sum_b, s.sum_g, s.sum_r)
        == ((w.toLong, h.toLong, sb, sg, sr)), s"id $id")
    }
    // dHash parity: GIF / PNG / BMP encodings of the same pixels
    val w = 24; val h = 16
    val idx = Array.tabulate(w * h)(p => (((p % w) * 5 + (p / w) * 11) % 64).toByte)
    val rgb = expand(pal64, idx)
    def dhash(p: Array[Byte]): Option[(Int, Int, Long)] =
      BinaryCodecs.decodeImage(p).map(i => (i.width, i.height, BinaryCodecs.dhash(i)))
    val gifHash = dhash(BinaryCodecs.gif(w, h, pal64, idx)).get
    val pngHash = dhash(BinaryCodecs.png(w, h, rgb)).get
    assert(gifHash == pngHash)
    val bgrBottomUp = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val s = 3 * (y * w + x); val d = 3 * ((h - 1 - y) * w + x)
      bgrBottomUp(d) = rgb(s + 2); bgrBottomUp(d + 1) = rgb(s + 1)
      bgrBottomUp(d + 2) = rgb(s)
    }
    val bmpHash = dhash(BinaryCodecs.bmp(w, h, bgrBottomUp)).get
    assert(gifHash == bmpHash,
      "GIF and BMP encodings of the same pixels must land in the same dedup bucket")
    // transcode + thumbnail routes
    val gifImg = BinaryCodecs.decodeImage(BinaryCodecs.gif(w, h, pal64, idx)).get
    assert(BinaryCodecs.toPng(gifImg).flatMap(dhash).get == gifHash)
    assert(BinaryCodecs.resizeImage(gifImg, 8, 8)._1 == "image/png")
  }

  test("malformed GIFs quarantine; non-GIF payloads route past the decoder") {
    val w = 22; val h = 14
    val idx = Array.tabulate(w * h)(p => (p % 64).toByte)
    val good = BinaryCodecs.gif(w, h, pal64, idx)
    assert(BinaryCodecs.gifDecode(good).nonEmpty)
    // truncated entropy stream
    assert(BinaryCodecs.gifDecode(good.dropRight(12)).isEmpty)
    // corrupt LZW: smash a data byte mid-stream (code beyond dictionary
    // or pixel shortfall — either way, quarantine not garbage)
    val smashed = good.clone
    val dataAt = 13 + 3 * 64 + 10 + 3 // into the first sub-block
    smashed(dataAt) = 0xff.toByte
    smashed(dataAt + 1) = 0xff.toByte
    val dec = BinaryCodecs.gifDecode(smashed)
    assert(dec.isEmpty || dec.get._4.length == 3 * w * h) // never misshapen
    // index past the palette: 8-color palette, index 7 valid, then a
    // palette shrunk in the header
    val pal8 = Array.tabulate(8)(i => i * 0x010101 * 30)
    val g8 = BinaryCodecs.gif(4, 4, pal8, Array.tabulate(16)(i => (i % 8).toByte))
    val shrunk = g8.clone
    shrunk(10) = (shrunk(10) & 0xf8 | 0x01).toByte // GCT size 2 bits → 4 entries
    // (the color table length changes, so the stream misparses → None)
    assert(BinaryCodecs.gifDecode(shrunk).isEmpty)
    // not a GIF at all
    assert(BinaryCodecs.gifDecode("GIF89a but not really".getBytes).isEmpty)
    assert(BinaryCodecs.gifDecode(Array.emptyByteArray).isEmpty)
    assert(BinaryCodecs.gifDecode(null).isEmpty)
    // trailer before any image
    assert(BinaryCodecs.gifDecode(good.take(13 + 3 * 64) :+ 0x3b.toByte).isEmpty)
  }
}
