package graft

import graft.functions.JpegCodec
import graft.fixtures.MediaFixtures

/** Baseline JPEG codec: exact flat-block roundtrips (the oracle
  * foundation), tolerance roundtrips on smooth content, byte stuffing,
  * restart markers, edge replication, and the quarantine contract.
  */
class JpegSpec extends SparkSpec {

  /** Gray image whose 8×8 blocks are flat EVEN values — the exact-
    * roundtrip class (DC = 8·(v−128) divisible by Q₀₀ = 16, zero AC).
    */
  private def flatBlocks(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      v(x / 8, y / 8).toByte
    }

  test("flat even-valued blocks roundtrip EXACTLY through the gray path") {
    val w = 24; val h = 16
    val src = flatBlocks(w, h, (bx, by) => 2 * ((bx * 7 + by * 13 + 30) % 128))
    val jpg = JpegCodec.encodeGray(w, h, src)
    val (dw, dh, ch, px) = JpegCodec.decode(jpg).get
    assert((dw, dh, ch) == (w, h, 1))
    assert(px.sameElements(src), "flat even blocks must decode bit-exactly")
  }

  test("flat gray blocks roundtrip EXACTLY through the 4:4:4 color path") {
    val w = 16; val h = 16
    val gray = flatBlocks(w, h, (bx, by) => 2 * ((bx * 11 + by * 5 + 64) % 128))
    val rgb = gray.flatMap(b => Array(b, b, b))
    val jpg = JpegCodec.encodeColor444(w, h, rgb)
    val (dw, dh, ch, px) = JpegCodec.decode(jpg).get
    assert((dw, dh, ch) == (w, h, 3))
    // gray input: Y = v, Cb = Cr = 128 exactly; inverse restores R = G = B = v
    assert(px.sameElements(rgb), "flat gray blocks must decode bit-exactly in color")
  }

  test("4:2:0 subsampling: flat gray blocks roundtrip EXACTLY; MCU padding crops clean") {
    // 16x16 = exactly one MCU (4 luma + 1 Cb + 1 Cr)
    val gray16 = flatBlocks(16, 16, (bx, by) => 2 * ((bx * 3 + by * 19 + 40) % 128))
    val rgb16 = gray16.flatMap(b => Array(b, b, b))
    val (w1, h1, ch1, px1) = JpegCodec.decode(JpegCodec.encodeColor420(16, 16, rgb16)).get
    assert((w1, h1, ch1) == (16, 16, 3))
    assert(px1.sameElements(rgb16), "4:2:0 flat gray must decode bit-exactly")
    // 24x8: one MCU column is half-covered → MCU padding + crop path
    val gray24 = flatBlocks(24, 8, (bx, _) => 2 * ((bx * 31 + 12) % 128))
    val rgb24 = gray24.flatMap(b => Array(b, b, b))
    val (w2, h2, _, px2) = JpegCodec.decode(JpegCodec.encodeColor420(24, 8, rgb24)).get
    assert((w2, h2) == (24, 8))
    assert(px2.sameElements(rgb24))
    // a REAL color image through 4:2:0: chroma halves, so only assert
    // tolerance on a smooth ramp (no wrap)
    val w = 32; val h = 32
    val rgb = Array.tabulate(3 * w * h) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      (i % 3 match { case 0 => x * 4; case 1 => y * 4; case _ => 64 }).toByte
    }
    val (_, _, _, px) = JpegCodec.decode(JpegCodec.encodeColor420(w, h, rgb)).get
    val maxErr = px.zip(rgb).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 32, s"4:2:0 ramp error too large: $maxErr")
    // 4:2:2 (luma 2x1): the decoder's generic factor path on a pair no
    // other writer produces — flat gray stays exact there too
    val gray422 = flatBlocks(32, 8, (bx, _) => 2 * ((bx * 23 + 6) % 128))
    val rgb422 = gray422.flatMap(b => Array(b, b, b))
    val (w4, h4, _, px4) = JpegCodec.decode(JpegCodec.encodeColor422(32, 8, rgb422)).get
    assert((w4, h4) == (32, 8))
    assert(px4.sameElements(rgb422), "4:2:2 flat gray must decode bit-exactly")
  }

  test("smooth gradients roundtrip within JPEG tolerance; stuffed 0xFF bytes handled") {
    // NON-wrapping ramp (max 40·4 + 24·2 = 208 < 255): within each block
    // the content is linear, so quantization error stays small — a
    // wrapping sawtooth would put a step edge inside blocks and earn
    // legitimate ~50-level Gibbs ringing at Annex K quantization
    val w = 40; val h = 24
    val src = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (x * 4 + y * 2).toByte
    }
    val jpg = JpegCodec.encodeGray(w, h, src)
    // entropy data of varied content contains stuffed FF00 pairs often;
    // find at least one anywhere in the stream to prove the writer path
    val hasStuffed = jpg.sliding(2).exists(p => (p(0) & 0xff) == 0xff && p(1) == 0)
    val (_, _, _, px) = JpegCodec.decode(jpg).get
    val maxErr = px.zip(src).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 24, s"gradient roundtrip error too large: $maxErr")
    // sawtooth content (high frequency) also roundtrips structurally
    val saw = Array.tabulate(w * h)(i => ((i * 37) % 256).toByte)
    val jpg2 = JpegCodec.encodeGray(w, h, saw)
    assert(JpegCodec.decode(jpg2).nonEmpty)
    val anyStuffed = hasStuffed ||
      jpg2.sliding(2).exists(p => (p(0) & 0xff) == 0xff && p(1) == 0)
    assert(anyStuffed, "expected at least one byte-stuffed 0xFF00 across the two streams")
  }

  test("restart markers: DRI/RSTn streams decode identically to the plain encoding") {
    val w = 32; val h = 24 // 4x3 = 12 MCUs
    val src = flatBlocks(w, h, (bx, by) => 2 * ((bx * 9 + by * 17 + 10) % 128))
    val plain = JpegCodec.decode(JpegCodec.encodeGray(w, h, src)).get._4
    val rst = JpegCodec.decode(JpegCodec.encodeGray(w, h, src, restartInterval = 2)).get._4
    assert(plain.sameElements(rst))
    assert(rst.sameElements(src))
  }

  test("non-multiple-of-8 dims: edge replication keeps flat content exact after crop") {
    val w = 10; val h = 12
    val src = Array.fill(w * h)(120.toByte) // one flat even value everywhere
    val (dw, dh, _, px) = JpegCodec.decode(JpegCodec.encodeGray(w, h, src)).get
    assert((dw, dh) == (w, h))
    assert(px.sameElements(src))
  }

  test("Dataset ops route JPEG: stats/dhash/resize/transcode across all three formats") {
    import spark.implicits._
    import graft.ops.Multimodal
    import graft.functions.BinaryCodecs
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("doc_id", "text")
    val jpgs = MediaFixtures.syntheticJpegMedia(docs)
    val stats = Multimodal.imageStats(jpgs).collect().sortBy(_.media_id)
    assert(stats.length == 4)
    // gray and color legs: all three channel sums equal (gray content)
    assert(stats.forall(s => s.sum_b == s.sum_g && s.sum_g == s.sum_r))
    assert(Multimodal.imageDhash(jpgs).collect().length == 4)
    // JPEG thumbnails come out PNG (no second generation loss)
    val resized = Multimodal.resizeImages(jpgs, 8, 8).collect()
    assert(resized.length == 4 && resized.forall(_.mime_type == "image/png"))
    assert(resized.forall(r => BinaryCodecs.pngDimensions(r.payload).contains((8, 8))))
    // transcode: pixel sums preserved bit-exactly across the format change
    val before = stats.map(s => s.media_id -> (s.sum_b, s.sum_g, s.sum_r)).toMap
    val after = Multimodal.imageStats(Multimodal.transcodeToPng(jpgs)).collect()
    assert(after.length == 4 &&
      after.forall(s => before(s.media_id) == ((s.sum_b, s.sum_g, s.sum_r))))
  }

  test("quarantine: mislabeled frame type, truncation, missing tables, garbage, geometry bomb") {
    val good = JpegCodec.encodeGray(16, 8, Array.tabulate(128)(_.toByte))
    assert(JpegCodec.decode(good).nonEmpty)
    // a BASELINE stream whose SOF0 is patched to SOF2: the progressive
    // path rejects its scan header (a full-band interleaved scan is not
    // a legal progressive scan), so the mislabel still quarantines
    val prog = good.clone
    val at = prog.sliding(2).indexWhere(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc0)
    assert(at >= 0)
    prog(at + 1) = 0xc2.toByte
    assert(JpegCodec.decode(prog).isEmpty)
    // truncated entropy stream
    assert(JpegCodec.decode(good.dropRight(8)).isEmpty)
    // not a JPEG at all
    assert(JpegCodec.decode("definitely not a jpeg".getBytes).isEmpty)
    assert(JpegCodec.decode(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    // geometry cap: decode with a tiny maxBytes must refuse before work
    assert(JpegCodec.decode(good, maxBytes = 16).isEmpty)
    // truncated PROGRESSIVE stream (mid-scan, and missing EOI)
    val fullProg = JpegCodec.encodeGrayProgressive(16, 8, Array.tabulate(128)(_.toByte))
    assert(JpegCodec.decode(fullProg.dropRight(8)).isEmpty)
  }

  test("progressive decode equals baseline decode on random content (gray + 4:4:4)") {
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((8, 8), (24, 16), (13, 9), (40, 33))) {
      val gray = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val base = JpegCodec.decode(JpegCodec.encodeGray(w, h, gray)).get
      val prog = JpegCodec.decode(JpegCodec.encodeGrayProgressive(w, h, gray)).get
      assert(prog._1 == w && prog._2 == h && prog._3 == 1)
      assert(base._4.sameElements(prog._4),
        s"gray $w x $h: progressive pixels must equal baseline's")
      val rgb = Array.fill(3 * w * h)(rnd.nextInt(256).toByte)
      val cBase = JpegCodec.decode(JpegCodec.encodeColor444(w, h, rgb)).get
      val cProg = JpegCodec.decode(JpegCodec.encodeColor444Progressive(w, h, rgb)).get
      assert(cBase._4.sameElements(cProg._4),
        s"color $w x $h: progressive pixels must equal baseline's")
    }
  }

  test("progressive flat blocks decode exactly; dHash matches the baseline encoding's") {
    import graft.functions.BinaryCodecs
    val w = 24; val h = 16
    val src = flatBlocks(w, h, (bx, by) => 2 * ((bx * 7 + by * 13 + 30) % 128))
    val (dw, dh, ch, px) = JpegCodec.decode(JpegCodec.encodeGrayProgressive(w, h, src)).get
    assert((dw, dh, ch) == (w, h, 1))
    assert(px.sameElements(src), "flat even blocks must decode bit-exactly via SOF2 too")
    // the image-dedup invariant: both encodings of the same pixels
    // fingerprint identically, so progressive files join the dedup
    // buckets instead of silently vanishing
    def dhash(p: Array[Byte]): Option[(Int, Int, Long)] =
      BinaryCodecs.decodeImage(p).map(i => (i.width, i.height, BinaryCodecs.dhash(i)))
    val dhBase = dhash(JpegCodec.encodeGray(w, h, src)).get
    val dhProg = dhash(JpegCodec.encodeGrayProgressive(w, h, src)).get
    assert(dhBase == dhProg)
    val rgb = src.flatMap(b => Array(b, b, b))
    val dhcBase = dhash(JpegCodec.encodeColor444(w, h, rgb)).get
    val dhcProg = dhash(JpegCodec.encodeColor444Progressive(w, h, rgb)).get
    assert(dhcBase == dhcProg)
  }

  test("progressive: mid-frame DQT changing an in-use table quarantines; identical redefinition passes") {
    val w = 24; val h = 16
    val src = flatBlocks(w, h, (bx, by) => 2 * ((bx * 7 + by * 13 + 30) % 128))
    val jpg = JpegCodec.encodeGrayProgressive(w, h, src)
    val base = JpegCodec.decode(jpg).get
    // marker positions are unambiguous: entropy data byte-stuffs 0xFF
    def markers(m: Int): Seq[Int] =
      (0 until jpg.length - 1).filter(i =>
        (jpg(i) & 0xff) == 0xff && (jpg(i + 1) & 0xff) == m)
    val sos2 = markers(0xda)(1) // between scan 1 and scan 2
    def inject(seg: Array[Byte]): Array[Byte] =
      jpg.take(sos2) ++ seg ++ jpg.drop(sos2)
    // the stream's own DQT segment re-sent verbatim between scans:
    // an identical redefinition is harmless and must pass
    val dqtPos = markers(0xdb).head
    val dqtLen = (((jpg(dqtPos + 2) & 0xff) << 8) | (jpg(dqtPos + 3) & 0xff)) + 2
    val same = JpegCodec.decode(inject(jpg.slice(dqtPos, dqtPos + dqtLen)))
    assert(same.nonEmpty && same.get._4.sameElements(base._4))
    // a CHANGED table 0 between scans: quant tables latched at the first
    // scan (libjpeg semantics) — decode-or-quarantine says drop
    val changed = Array[Byte](0xff.toByte, 0xdb.toByte, 0, 67, 0) ++
      Array.fill[Byte](64)(1)
    assert(JpegCodec.decode(inject(changed)).isEmpty)
  }
}
