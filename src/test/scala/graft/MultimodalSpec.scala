package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.ops.Multimodal.{DecodeStub, MediaRow}
import graft.fixtures.{CrawlFixtures, MediaFixtures}

/** Multimodal plumbing: binary payload column + typed metadata through the
  * batched per-partition decode. The codec is a stub; the schema, batching
  * and determinism contracts are the real thing under test.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    MediaRow(1L, "image", "fake-image-bytes-#1".getBytes, "application/x-fake-image", 19L),
    MediaRow(2L, "video", ("frame" * 40).getBytes, "application/x-fake-video", 200L),
    MediaRow(3L, "audio", Array.emptyByteArray, "application/x-fake-audio", 0L))

  test("extractFeatures: one row per input, deterministic, video frame-sampled") {
    val out = Multimodal.extractFeatures(rows.toDS())
      .collect().sortBy(_.media_id)
    assert(out.length == 3)
    assert(out.map(_.kind).toSeq == Seq("image", "video", "audio"))
    assert(out(1).n_frames == 8) // video sampled to maxFrames
    assert(out(0).n_frames == 1) // image is a single frame
    assert(out.forall(_.features.length == 16))
    // deterministic across runs (stub contract — same payload, same features)
    val again = Multimodal.extractFeatures(rows.toDS())
      .collect().sortBy(_.media_id)
    assert(out.map(_.features.toSeq).toSeq == again.map(_.features.toSeq).toSeq)
    // empty payload doesn't crash, yields zero features
    assert(out(2).features.forall(_ == 0.0f))
  }

  test("mediaFromDocuments runs the binary pipeline over real testdata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
    assert(feats.count() == docs.count())
    val kinds = feats.groupByKey(_.kind).count().collect().toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
  }

  test("syntheticMediaTri: real BMP dims on image AND video legs, stub RIFF read on audio") {
    val docs = Seq((0L, "abc"), (1L, "defg"), (2L, "hij"), (3L, ""), (25L, "xyz"))
      .toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(MediaFixtures.syntheticMediaTri(docs))
      .collect().map(f => f.media_id -> f).toMap
    // image (id%3==0): dims are the writer's params decoded by the REAL parser
    assert(feats(0L).kind == "image" && feats(0L).width == 8 && feats(0L).height == 8)
    assert(feats(3L).width == 11 && feats(3L).height == 11) // 8+3%24, 8+3%16
    // audio (id%3==1): stub header read of the RIFF magic — constants
    assert(feats(1L).kind == "audio" && feats(1L).width == 128 && feats(1L).height == 352)
    assert(feats(25L).kind == "audio" && feats(25L).width == 128 && feats(25L).height == 352)
    // video (id%3==2): BMP-framed payload — real dims, 8 sampled frames
    assert(feats(2L).kind == "video" && feats(2L).width == 10 && feats(2L).height == 10)
    assert(feats(2L).n_frames == 8 && feats(0L).n_frames == 1)
  }

  test("frame sampling is bounded and covers the payload") {
    val frames = DecodeStub.sampleFrames((1 to 1000).map(_.toByte).toArray, maxFrames = 8)
    assert(frames.size == 8)
    assert(frames.map(_.length).sum >= 1000 - 8) // near-complete coverage
  }

  test("BMP codec roundtrip and rejection") {
    import graft.functions.BinaryCodecs
    val payload = BinaryCodecs.bmp(33, 7, Array[Byte](10, 20, 30)) // odd width → row padding
    assert(BinaryCodecs.bmpDimensions(payload) == Some((33, 7)))
    // spec: rows pad to 4-byte boundaries
    assert(payload.length == 54 + ((24 * 33 + 31) / 32) * 4 * 7)
    assert(BinaryCodecs.bmpDimensions("not a bitmap".getBytes) == None)
    assert(BinaryCodecs.bmpDimensions(Array[Byte]('B', 'M')) == None)
    // text that merely STARTS with the magic must not parse as garbage dims
    assert(BinaryCodecs.bmpDimensions(
      "BMW drivers appreciate precision engineering in every detail of it".getBytes) == None)
    // truncated WAV (one data byte short) must not parse either
    val wavOk = BinaryCodecs.wav(8000, Array.tabulate(10)(_.toShort))
    assert(BinaryCodecs.wavMeta(wavOk.dropRight(1)) == None)
  }

  test("WAV codec roundtrip, chunk walking, and rejection") {
    import graft.functions.BinaryCodecs
    val payload = BinaryCodecs.wav(16000, Array.tabulate(320)(_.toShort))
    assert(BinaryCodecs.wavMeta(payload) == Some((16000, 320L)))
    assert(payload.length == 44 + 640)
    // LIST chunk inserted before data must be skipped, not break parsing
    val withList = {
      val head = payload.take(36) // RIFF..WAVE + fmt chunk
      val list = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
      val out = head ++ list ++ payload.drop(36)
      // fix RIFF size
      val buf = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.putInt(4, out.length - 8)
      out
    }
    assert(BinaryCodecs.wavMeta(withList) == Some((16000, 320L)))
    assert(BinaryCodecs.wavMeta("RIFFxxxxJUNK".getBytes ++ new Array[Byte](40)) == None)
  }

  test("synthetic media parses back to its formula metadata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val metas = Multimodal.parseMeta(MediaFixtures.syntheticMedia(docs)).collect()
    assert(metas.length == docs.count())
    metas.foreach { m =>
      if (m.media_id % 2 == 0) {
        assert(m.kind == "image" && m.sample_rate.isEmpty)
        assert(m.width.contains(8 + (m.media_id % 24).toInt))
        assert(m.height.contains(8 + (m.media_id % 16).toInt))
      } else {
        val rate = 8000 + (m.media_id % 8).toInt * 1000
        assert(m.kind == "audio" && m.width.isEmpty)
        assert(m.sample_rate.contains(rate))
        assert(m.duration_ms.contains((500 + m.media_id % 1000) * 1000L / rate))
      }
    }
  }

  test("wavPcmStats: exact integer PCM statistics, negatives included; rejects non-PCM") {
    import graft.functions.BinaryCodecs
    val samples = Array[Short](100, -200, 0, 32767, -32768)
    val payload = BinaryCodecs.wav(16000, samples)
    val Some((rate, n, sumSq, sumAbs, peak)) = BinaryCodecs.wavPcmStats(payload)
    assert(rate == 16000 && n == 5L)
    assert(sumSq == samples.map(s => s.toLong * s).sum)
    assert(sumAbs == samples.map(s => math.abs(s.toLong)).sum)
    assert(peak == 32768)
    assert(BinaryCodecs.wavPcmStats("RIFFjunk".getBytes("US-ASCII")).isEmpty)
    assert(BinaryCodecs.wavPcmStats(BinaryCodecs.bmp(4, 4, Array[Byte](1, 2, 3))).isEmpty)
  }

  test("audioStats: real decode over the dataset; non-audio rows drop out") {
    import spark.implicits._
    val wav = graft.functions.BinaryCodecs.wav(8000, Array[Short](256, -512, 1024))
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, "audio/wav", wav.length.toLong),
      Multimodal.MediaRow(2L, "image", Array[Byte](1, 2, 3), "application/x-fake", 3L))
      .toDS()
    val out = Multimodal.audioStats(media).collect()
    assert(out.length == 1)
    val a = out.head
    assert(a.media_id == 1L && a.sample_rate == 8000L && a.n_samples == 3L)
    assert(a.energy == 256L * 256 + 512L * 512 + 1024L * 1024)
    assert(a.mean_abs == (256L + 512 + 1024) / 3)
    assert(a.peak_abs == 1024L)
  }

  test("bmpPixelStats: channel sums skip row padding, read bytes unsigned; rejects non-BMP") {
    import graft.functions.BinaryCodecs
    // 2×2 at 24bpp: rowSize = 8, so bytes 6-7 of each row are padding the
    // cycled pixel fill also writes — the decoder must NOT count them.
    val pixels = Array.tabulate[Byte](16)(i => (i * 16 + 200 % 251).toByte)
    val payload = BinaryCodecs.bmp(2, 2, pixels)
    val img = BinaryCodecs.bmpRaster(payload).get
    val (w, h) = (img.width, img.height)
    val (sumB, sumG, sumR) = BinaryCodecs.pixelStats(img)
    assert(w == 2 && h == 2)
    val expected = (0 until 2).flatMap { row =>
      (0 until 2).flatMap { c =>
        (0 until 3).map(ch => (ch, pixels((row * 8 + 3 * c + ch) % pixels.length) & 0xff))
      }
    }
    assert(sumB == expected.collect { case (0, v) => v.toLong }.sum)
    assert(sumG == expected.collect { case (1, v) => v.toLong }.sum)
    assert(sumR == expected.collect { case (2, v) => v.toLong }.sum)
    assert(BinaryCodecs.bmpRaster("BMjunk".getBytes("US-ASCII")).isEmpty)
    assert(BinaryCodecs.bmpRaster(
      BinaryCodecs.wav(8000, Array[Short](1, 2))).isEmpty)
  }

  test("imageStats: real decode over the dataset; non-image rows drop out") {
    import spark.implicits._
    val bmp = graft.functions.BinaryCodecs.bmp(3, 2, Array[Byte](10, 20, 30))
    val media = Seq(
      Multimodal.MediaRow(2L, "image", bmp, "image/bmp", bmp.length.toLong),
      Multimodal.MediaRow(3L, "audio", Array[Byte](9, 9), "application/x-fake", 2L))
      .toDS()
    val out = Multimodal.imageStats(media).collect()
    assert(out.length == 1)
    val s = out.head
    assert(s.media_id == 2L && s.width == 3L && s.height == 2L && s.n_pixels == 6L)
    // rowSize=12; pixel bytes at in-row offsets 0-8 cycle (10,20,30) —
    // every pixel is exactly (10,20,30) BGR; padding bytes 9-11 ignored.
    assert(s.sum_b == 6L * 10 && s.sum_g == 6L * 20 && s.sum_r == 6L * 30)
  }

  test("bmpDhash: grid replay on a hand-built gradient, invariances and rejection") {
    import graft.functions.BinaryCodecs
    // 18×16 left-dark/right-bright gradient: every horizontal comparison
    // gray(x) < gray(x+1) holds → all 64 bits set (-1L)
    val w = 18; val h = 16
    val grad = Array.tabulate[Byte](w * h * 3) { i => ((i / 3 % w) * 14).toByte }
    // build row-major BGR with correct padding manually via the codec's
    // cycled fill: rowSize = 56 = 3*18+2 pad — cycling would misalign
    // rows, so build the padded array explicitly
    val rowSize = ((24 * w + 31) / 32) * 4
    val padded = Array.tabulate[Byte](rowSize * h) { j =>
      val r = j / rowSize; val o = j % rowSize
      if (o < 3 * w) ((o / 3) * 14).toByte else 0
    }
    val payload = BinaryCodecs.bmp(w, h, padded)
    val img = BinaryCodecs.bmpRaster(payload).get
    val (gw, gh, hash) = (img.width, img.height, BinaryCodecs.dhash(img))
    assert(gw == w && gh == h)
    assert(hash == -1L, s"gradient must set all 64 bits, got $hash")
    // a flat image has no rising comparisons → hash 0
    val flat = BinaryCodecs.bmp(9, 8, Array[Byte](77))
    assert(BinaryCodecs.dhash(BinaryCodecs.bmpRaster(flat).get) == 0L)
    // in-memory replay of the exact kernel contract on the cycled fill
    val pix = Array.tabulate[Byte](23)(i => (i * 37).toByte)
    val p2 = BinaryCodecs.bmp(10, 9, pix)
    val img2 = BinaryCodecs.bmpRaster(p2).get
    val (w2, h2, got) = (img2.width, img2.height, BinaryCodecs.dhash(img2))
    def v(j: Int): Int = pix(j % pix.length) & 0xff
    val rs = ((24 * 10 + 31) / 32) * 4
    def gray(x: Int, y: Int): Int = {
      val base = (h2 - 1 - y) * rs + 3 * x
      (v(base) + v(base + 1) + v(base + 2)) / 3
    }
    var want = 0L
    for (cy <- 0 until 8; cx <- 0 until 8) {
      val y = (2 * cy + 1) * h2 / 16
      if (gray((2 * cx + 1) * w2 / 18, y) < gray((2 * cx + 3) * w2 / 18, y))
        want |= 1L << (cy * 8 + cx)
    }
    assert(got == want)
    assert(BinaryCodecs.bmpRaster(BinaryCodecs.wav(8000, Array[Short](1))).isEmpty)
  }

  test("hammingPairs: banding is lossless vs brute force, bounds enforced") {
    import spark.implicits._
    import graft.ops.Dedup
    val rnd = new scala.util.Random(17)
    // clustered hashes: a few seeds each with several low-hamming mutants
    val seeds = Seq.fill(5)(rnd.nextLong())
    val hashes = seeds.zipWithIndex.flatMap { case (s, i) =>
      (0 until 6).map { j =>
        var v = s
        (0 until rnd.nextInt(5)).foreach(_ => v ^= 1L << rnd.nextInt(64))
        (i * 10L + j, v)
      }
    }
    val got = Dedup.hammingPairs(hashes.toDF("id", "hash"), maxHamming = 7, bands = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield ((a, b), d.toLong)).toMap
    assert(got == want, "banded pairs diverge from brute force")
    assert(want.nonEmpty, "fixture produced no qualifying pairs — not testing anything")
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs(hashes.toDF("id", "hash"), maxHamming = 8, bands = 8)
    }
  }

  test("hammingTopK: only band-sharing candidates rank; recall measures the unreachable") {
    import spark.implicits._
    import graft.ops.{Dedup, Similarity}
    // query 0L: 1L and 3L share bands (zero high bands); 0x0001000100010001
    // differs in EVERY 16-bit band → unreachable by the index despite
    // hamming 4 — exactly what recall@k must charge the banding for.
    val unreachable = 0x0001000100010001L
    val hashes = Seq((0L, 0L), (1L, 1L), (2L, unreachable), (3L, 3L))
      .toDF("id", "hash")
    val queries = Seq((0L, 0L)).toDF("query_id", "hash")
    val ann = Dedup.hammingTopK(hashes, queries, k = 3, bands = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ann.toSeq == Seq((1L, 1L, 1L), (3L, 2L, 2L)), s"got ${ann.toSeq}")
    val brute = Dedup.hammingBruteTopK(hashes, queries, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(brute.toSeq == Seq((1L, 1L, 1L), (3L, 2L, 2L), (2L, 4L, 3L)))
    val rec = Similarity.recallAt(
      Dedup.hammingTopK(hashes, queries, k = 3, bands = 4),
      Dedup.hammingBruteTopK(hashes, queries, k = 3), k = 3)
      .collect().head
    assert(rec.getLong(1) == 2L && rec.getLong(2) == 666666L)
  }

  test("imageDhash: dataset path drops non-images, equal payloads hash equal") {
    import spark.implicits._
    val a = graft.functions.BinaryCodecs.bmp(12, 10, Array[Byte](1, 5, 9, 13))
    val media = Seq(
      Multimodal.MediaRow(1L, "image", a, "image/bmp", a.length.toLong),
      Multimodal.MediaRow(2L, "image", a.clone(), "image/bmp", a.length.toLong),
      Multimodal.MediaRow(3L, "audio", Array[Byte](9), "application/x-fake", 1L)).toDS()
    val out = Multimodal.imageDhash(media).collect().map(d => d.media_id -> d.dhash).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == out(2L))
  }

  test("wavEnergyHash: amplitude-invariant, order-sensitive, window replay; rejects non-WAV") {
    import graft.functions.BinaryCodecs
    // 130 samples = 2 per window: energies rise monotonically → all 64
    // difference bits set
    val rising = BinaryCodecs.wav(8000, Array.tabulate(130)(i => (i * 10).toShort))
    val Some((rate, n, hRising)) = BinaryCodecs.wavEnergyHash(rising)
    assert(rate == 8000 && n == 130L)
    assert(hRising == -1L, "strictly rising window energies set every bit")
    // falling energies clear every bit
    val falling = BinaryCodecs.wav(8000, Array.tabulate(130)(i => ((129 - i) * 10).toShort))
    assert(BinaryCodecs.wavEnergyHash(falling).get._3 == 0L)
    // amplitude rescaling (the re-encode) preserves the hash exactly
    val base = Array.tabulate(700)(i => ((i * 37) % 113 - 56).toShort)
    val loud = base.map(s => (s * 2).toShort)
    val hBase = BinaryCodecs.wavEnergyHash(BinaryCodecs.wav(8000, base)).get._3
    val hLoud = BinaryCodecs.wavEnergyHash(BinaryCodecs.wav(8000, loud)).get._3
    assert(hBase == hLoud, "perceptual invariance under volume change")
    // a different signal hashes differently
    val hRev = BinaryCodecs.wavEnergyHash(BinaryCodecs.wav(8000, base.reverse)).get._3
    assert(hBase != hRev)
    // n < 65 stays deterministic (tail windows read energy 0), n = 0 is 0
    assert(BinaryCodecs.wavEnergyHash(BinaryCodecs.wav(8000, Array[Short](5, 3))).isDefined)
    assert(BinaryCodecs.wavEnergyHash(BinaryCodecs.wav(8000, Array.empty[Short])).get._3 == 0L)
    assert(BinaryCodecs.wavEnergyHash("RIFFxxxx".getBytes).isEmpty)
  }

  test("syntheticAudioReencodes: re-encode pairs fingerprint identically and survive hammingPairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "even ids skipped"), (3L, "delta epsilon"))
      .toDF("doc_id", "text")
    val media = MediaFixtures.syntheticAudioReencodes(docs, reencodeOffset = 100L)
    val hashes = Multimodal.audioEnergyHash(media).collect()
      .map(h => h.media_id -> h.ehash).toMap
    assert(hashes.keySet == Set(1L, 101L, 3L, 103L))
    assert(hashes(1L) == hashes(101L) && hashes(3L) == hashes(103L))
    val pairs = graft.ops.Dedup.hammingPairs(
      Multimodal.audioEnergyHash(media).toDF()
        .select(col("media_id").as("id"), col("ehash").as("hash")),
      maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 101L, 0L)) && pairs.contains((3L, 103L, 0L)))
  }

  test("bmpDhash/bmpPixelStats: crafted huge-width header returns None, not a crash") {
    import graft.functions.BinaryCodecs
    // width 90,000,000: 24*w wraps negative in Int — the pre-fix bounds
    // check passed and the pixel walk threw ArrayIndexOutOfBounds
    val evil = BinaryCodecs.bmp(4, 4, Array[Byte](1, 2, 3))
    val buf = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(18, 90000000) // declared width
    buf.putInt(22, 4)
    assert(BinaryCodecs.bmpRaster(evil).isEmpty)
    assert(BinaryCodecs.decodeImage(evil).isEmpty)
  }

  test("gzip roundtrip; the bomb guard caps inflation; non-gzip quarantines") {
    import graft.functions.BinaryCodecs
    val data = "compressed corpus row é中".getBytes("UTF-8")
    assert(BinaryCodecs.gunzip(BinaryCodecs.gzip(data)).get.sameElements(data))
    // 4 MB of zeros compresses to ~4 KB; a 1 MB cap must refuse to inflate it
    val bomb = BinaryCodecs.gzip(new Array[Byte](4 << 20))
    assert(bomb.length < (64 << 10))
    assert(BinaryCodecs.gunzip(bomb, maxBytes = 1 << 20).isEmpty)
    assert(BinaryCodecs.gunzip(bomb).isDefined) // default cap admits it
    assert(BinaryCodecs.gunzip("not gzip".getBytes).isEmpty)
    assert(BinaryCodecs.gunzip(Array[Byte](0x1f, 0x8b.toByte, 9, 9)).isEmpty) // corrupt
    // dataset path: roundtrip through the binary column, UTF-8 preserved
    import spark.implicits._
    val docs = Seq((1L, "plain"), (2L, "unicode üß")).toDF("doc_id", "text")
    val got = Multimodal.gunzipText(MediaFixtures.syntheticGzipDocs(docs))
      .collect().map(t => t.media_id -> (t.n_bytes, t.text_out)).toMap
    assert(got(1L) == ((5L, "plain")))
    assert(got(2L) == (("unicode üß".getBytes("UTF-8").length.toLong, "unicode üß")))
  }

  test("resizeAll rewrites payloads to the target budget, keeps ids and kinds") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Array[Byte](1, 2, 3), "application/x-fake-image", 3L),
      Multimodal.MediaRow(2L, "video", (1 to 5000).map(_.toByte).toArray, "application/x-fake-video", 5000L))
      .toDS()
    val out = Multimodal.resizeAll(media, w = 128, h = 128).collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq == Seq(1L, 2L))
    assert(out.forall(_.payload.length == 128 * 128 / 256))
    assert(out.forall(m => m.size_bytes == m.payload.length.toLong))
    // deterministic: same input → same bytes
    val again = Multimodal.resizeAll(media, w = 128, h = 128).collect().sortBy(_.media_id)
    assert(out.zip(again).forall { case (a, b) => a.payload.sameElements(b.payload) })
  }

  test("wavResample: nearest-neighbor sample map, identity at equal rates, garbage quarantined") {
    import graft.functions.BinaryCodecs
    val samples = Array.tabulate(10)(i => (i * 100).toShort)
    val src = BinaryCodecs.wav(8000, samples)
    // 8000 → 4000: every 2nd sample, n_out = 5
    val down = BinaryCodecs.wavResample(src, 4000).get
    assert(BinaryCodecs.wavMeta(down).contains((4000, 5L)))
    assert(BinaryCodecs.wavPcmStats(down).map(_._5).contains(800)) // peak = sample 8
    // identity rate preserves every sample
    val same = BinaryCodecs.wavResample(src, 8000).get
    assert(BinaryCodecs.wavPcmStats(same) == BinaryCodecs.wavPcmStats(src))
    assert(BinaryCodecs.wavResample("not a wav".getBytes, 4000).isEmpty)
    intercept[IllegalArgumentException](BinaryCodecs.wavResample(src, 0))
    // amplification-bomb quarantine: a parseable header declaring a 1 Hz
    // source rate against a real data chunk asks for a ~10⁶× expansion
    // whose output would overflow/exhaust memory — must return None, not
    // throw or truncate (the declared-rate field lives at fmt offset 12)
    val bomb = BinaryCodecs.wav(8000, Array.tabulate(8192)(i => i.toShort))
    val bb = java.nio.ByteBuffer.wrap(bomb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(24, 1) // sampleRate := 1 Hz, 8192 samples on disk
    assert(BinaryCodecs.wavResample(bomb, 1000000).isEmpty)
  }

  test("gzipMedia/gunzipMedia: binary payloads roundtrip byte-exact; garbage drops") {
    import graft.functions.BinaryCodecs
    val avi = BinaryCodecs.avi(8, 8, 1000, Seq(Array[Byte](1, 2, 3)))
    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, "video/x-msvideo", avi.length.toLong),
      Multimodal.MediaRow(2L, "junk", Array[Byte](9, 9), "application/octet-stream", 2L))
      .toDS()
    val round = Multimodal.gunzipMedia(Multimodal.gzipMedia(media)).collect().sortBy(_.media_id)
    assert(round.length == 2 && round(0).payload.sameElements(avi))
    // a non-gzip payload fed straight to the reader half quarantines
    assert(Multimodal.gunzipMedia(media).collect().isEmpty)
  }

  test("videoThumbnails: sampled frames resize to uniform geometry, bytes equal direct resize") {
    import graft.functions.BinaryCodecs
    val frames = (0 until 3).map(i => BinaryCodecs.bmp(10 + i, 12, Array((i + 1).toByte)))
    val media = Seq(Multimodal.MediaRow(5L, "video",
      BinaryCodecs.avi(10, 12, 33000, frames), "video/x-msvideo", 0L)).toDS()
    val got = Multimodal.videoThumbnails(media, k = 3, w = 4, h = 4)
      .collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq == Seq(0L, 1L, 2L))
    got.foreach { fr =>
      val direct = BinaryCodecs.resizeImage(
        BinaryCodecs.bmpRaster(frames(fr.frame_idx.toInt)).get, 4, 4)._2
      assert(fr.payload.sameElements(direct), s"frame ${fr.frame_idx} diverges from direct resize")
    }
  }

  test("avi writer/parser roundtrip: meta, frame extraction, word alignment") {
    import graft.functions.BinaryCodecs
    val f0 = Array[Byte](1, 2, 3)        // odd length → pad byte exercised
    val f1 = Array[Byte](4, 5, 6, 7)
    val payload = BinaryCodecs.avi(320, 240, 40000, Seq(f0, f1))
    assert(BinaryCodecs.aviMeta(payload).contains((320, 240, 2, 40000)))
    assert(BinaryCodecs.aviFrame(payload, 0).exists(_.sameElements(f0)))
    assert(BinaryCodecs.aviFrame(payload, 1).exists(_.sameElements(f1)))
    assert(BinaryCodecs.aviFrame(payload, 2).isEmpty)
    assert(BinaryCodecs.aviFrame(payload, -1).isEmpty)
  }

  test("avi parser quarantines garbage instead of throwing") {
    import graft.functions.BinaryCodecs
    val good = BinaryCodecs.avi(8, 8, 1000, Seq(Array[Byte](9)))
    for (bad <- Seq(
      Array.empty[Byte],
      "RIFFxxxxWAVE".getBytes("US-ASCII"),          // wrong form type
      good.take(20),                                 // truncated mid-header
      { val g = good.clone(); g(16) = -1; g })) {    // corrupt LIST size
      assert(BinaryCodecs.aviMeta(bad).isEmpty, s"meta accepted ${bad.length} bytes")
      assert(BinaryCodecs.aviFrame(bad, 0).isEmpty)
    }
  }

  test("sampleVideoFrames: evenly-spaced indices, k > n takes all, bytes verbatim") {
    import graft.functions.BinaryCodecs
    val frames = (0 until 5).map(i => Array.fill(4)(i.toByte))
    val media = Seq(Multimodal.MediaRow(7L, "video",
      BinaryCodecs.avi(16, 16, 33000, frames), "video/x-msvideo", 0L)).toDS()
    // k=2 of 5 → indices 0 and (1*5)//2 = 2
    val two = Multimodal.sampleVideoFrames(media, k = 2).collect().sortBy(_.frame_idx)
    assert(two.map(_.frame_idx).toSeq == Seq(0L, 2L))
    assert(two.forall(f => f.payload.forall(_ == f.frame_idx.toByte)))
    // k=9 > n → all 5, in order
    val all = Multimodal.sampleVideoFrames(media, k = 9).collect().sortBy(_.frame_idx)
    assert(all.map(_.frame_idx).toSeq == (0L to 4L))
  }

  test("videoFrameDhash equals imageDhash of the identical source BMPs (cross-modal identity)") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"), (2L, "epsilon zeta"), (4L, "eta theta iota"),
      (6L, "kappa"), (10L, "lambda mu nu xi omicron"), (12L, "pi rho"),
      (14L, "sigma tau"), (16L, "upsilon phi chi")).toDF("doc_id", "text")
    val videos = MediaFixtures.syntheticFrameVideos(docs)
    val got = Multimodal.videoFrameDhash(videos, k = 4).collect()
      .map(v => (v.media_id, v.frame_idx) -> v.dhash).toMap
    val want = Multimodal.imageDhash(MediaFixtures.syntheticMedia(docs))
      .collect().map(i => i.media_id -> i.dhash).toMap
    def src(id: Long, f: Long) = if (f == 3) id else id + f * 2
    assert(got.nonEmpty && got.forall { case ((id, f), d) => want(src(id, f)) == d },
      s"frame dhash diverges from the source image dhash: $got vs $want")
    // the planted duplicate: frame 3 always fingerprints like frame 0
    assert(got.collect { case ((id, 0L), d) => d == got((id, 3L)) }.forall(identity))
  }

  test("mediaTriage: junk surfaces as parsed=false rows, never drops; gunzip one level only") {
    import graft.functions.{BinaryCodecs => C}
    val bmp = C.bmp(5, 3, "px".getBytes)
    val corruptBmp = bmp.take(20) // valid magic, truncated header
    val wav = C.wav(8000, Array.tabulate(80)(_.toShort))
    val rows = Seq(
      Multimodal.MediaRow(1L, "m", bmp, "x", bmp.length.toLong),
      Multimodal.MediaRow(2L, "m", corruptBmp, "x", corruptBmp.length.toLong),
      Multimodal.MediaRow(3L, "m", C.gzip(wav), "x", 1L),
      Multimodal.MediaRow(4L, "m", C.gzip(C.gzip(wav)), "x", 1L), // double wrap
      Multimodal.MediaRow(5L, "m", C.gzip("junk".getBytes).dropRight(2), "x", 1L),
      Multimodal.MediaRow(6L, "m", "WARC/1.0\r\n".getBytes, "x", 1L),
      Multimodal.MediaRow(7L, "m", Array[Byte](1, 2), "x", 2L))
      .toDS()
    val got = Multimodal.mediaTriage(rows).collect()
      .map(r => r.media_id -> r).toMap
    assert(got.size == 7, "triage must emit one row per payload, junk included")
    assert(got(1L).parsed && got(1L).format == "bmp" && got(1L).width.contains(5))
    // valid magic + broken header: labeled, flagged, kept
    assert(!got(2L).parsed && got(2L).format == "bmp")
    // gzip wrap is transparent (one level), flagged
    assert(got(3L).parsed && got(3L).format == "wav" && got(3L).gzipped &&
      got(3L).sample_rate.contains(8000) && got(3L).duration_us.contains(10000L))
    // double-gzip: inner sniff says gzip again, and the one-level rule
    // stops there — parsed=false, format gzip, gzipped=true
    assert(!got(4L).parsed && got(4L).format == "gzip" && got(4L).gzipped)
    // corrupt gzip: the wrapper itself fails to inflate
    assert(!got(5L).parsed && got(5L).format == "gzip" && !got(5L).gzipped)
    // WARC files are labeled for the container pipeline, not parsed here
    assert(!got(6L).parsed && got(6L).format == "warc")
    assert(!got(7L).parsed && got(7L).format == "unknown")
  }

  test("flacMeta: STREAMINFO roundtrip, unknown total, quarantines") {
    import graft.functions.{BinaryCodecs => C}
    val f = C.flac(44100, 2, 16, 441000L)
    assert(C.flacMeta(f).contains((44100, 2, 16, 441000L)))
    assert(C.sniffFormat(f) == "flac")
    // total 0 is the spec's "unknown", passes through
    assert(C.flacMeta(C.flac(48000, 1, 24, 0L)).contains((48000, 1, 24, 0L)))
    // quarantines: bad magic, short, wrong first block type, zero rate
    assert(C.flacMeta("fLaX0000".getBytes ++ new Array[Byte](40)).isEmpty)
    assert(C.flacMeta(f.take(30)).isEmpty)
    val wrongFirst = f.clone
    wrongFirst(4) = 0x84.toByte // last-block | type 4 (VORBIS_COMMENT)
    assert(C.flacMeta(wrongFirst).isEmpty)
    val zeroRate = f.clone
    // rate lives in the top 20 bits of the packed field at offset 18
    zeroRate(18) = 0; zeroRate(19) = 0
    zeroRate(20) = (zeroRate(20) & 0x0F).toByte
    assert(C.flacMeta(zeroRate).isEmpty)
  }

  test("webpDimensions: VP8X, lossy VP8 and lossless VP8L headers; quarantines") {
    import graft.functions.{BinaryCodecs => C}
    val x = C.webp(640, 480)
    assert(C.webpDimensions(x).contains((640, 480)))
    assert(C.sniffFormat(x) == "webp")
    // hand-built lossy VP8 header: frame tag + 9D 01 2A sync + 14-bit dims
    def le32(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val vp8 = "RIFF".getBytes ++ le32(22) ++ "WEBP".getBytes ++
      "VP8 ".getBytes ++ le32(10) ++ Array[Byte](0, 0, 0) ++
      Array(0x9D.toByte, 0x01.toByte, 0x2A.toByte) ++ le16(320) ++ le16(240)
    assert(C.webpDimensions(vp8).contains((320, 240)))
    // lossless VP8L: 0x2F signature + packed 14-bit minus-one fields
    val w = 100 - 1; val h = 80 - 1
    val packed = (w & 0x3FFF) | ((h & 0x3FFF) << 14)
    val vp8l = "RIFF".getBytes ++ le32(17) ++ "WEBP".getBytes ++
      "VP8L".getBytes ++ le32(5) ++ Array(0x2F.toByte) ++ le32(packed)
    assert(C.webpDimensions(vp8l).contains((100, 80)))
    // quarantines: non-WEBP RIFF, broken VP8 sync, unknown chunk, short
    assert(C.webpDimensions(C.wav(8000, Array[Short](1, 2))).isEmpty)
    val badSync = vp8.clone; badSync(23) = 0
    assert(C.webpDimensions(badSync).isEmpty)
    val unk = "RIFF".getBytes ++ le32(12) ++ "WEBP".getBytes ++
      "XXXX".getBytes ++ le32(4) ++ le32(0)
    assert(C.webpDimensions(unk).isEmpty)
    assert(C.webpDimensions(x.take(18)).isEmpty)
    // both families route through the triage
    val media = Seq(
      Multimodal.MediaRow(1L, "m", C.flac(32000, 1, 16, 64000L), "x", 1L),
      Multimodal.MediaRow(2L, "m", vp8l, "x", 1L)).toDS()
    val got = Multimodal.mediaTriage(media).collect().map(r => r.media_id -> r).toMap
    assert(got(1L).format == "flac" && got(1L).sample_rate.contains(32000) &&
      got(1L).duration_us.contains(2000000L))
    assert(got(2L).format == "webp" && got(2L).width.contains(100))
  }

  test("oggAudioMeta: Vorbis and Opus id packets, real CRC verified, quarantines") {
    import graft.functions.{BinaryCodecs => C}
    val vorbis = C.ogg(C.vorbisIdPacket(44100, 2))
    assert(C.oggAudioMeta(vorbis).contains(("vorbis", 44100, 2)))
    assert(C.sniffFormat(vorbis) == "ogg")
    val opus = C.ogg(C.opusIdPacket(48000, 1))
    assert(C.oggAudioMeta(opus).contains(("opus", 48000, 1)))
    // the CRC is the REAL Ogg polynomial: a flipped byte ANYWHERE in
    // the page quarantines — payload byte, lacing byte, header byte
    for (pos <- Seq(6, 27, vorbis.length - 3)) {
      val bad = vorbis.clone
      bad(pos) = (bad(pos) ^ 0x41).toByte
      assert(C.oggAudioMeta(bad).isEmpty, s"flipped byte at $pos must fail CRC")
    }
    // quarantines: non-BOS first page, truncation, neither dialect,
    // a continued (lacing 255) packet, bad vorbis version
    val nonBos = vorbis.clone; nonBos(5) = 0
    assert(C.oggAudioMeta(nonBos).isEmpty)
    assert(C.oggAudioMeta(vorbis.dropRight(2)).isEmpty)
    assert(C.oggAudioMeta(C.ogg("neither dialect".getBytes)).isEmpty)
    assert(C.oggAudioMeta("OggS and then garbage".getBytes ++ new Array[Byte](20)).isEmpty)
    // triage routes the family with its sample clock
    val media = Seq(Multimodal.MediaRow(1L, "m", opus, "x", 1L)).toDS()
    val t = Multimodal.mediaTriage(media).collect().head
    assert(t.format == "ogg" && t.parsed && t.sample_rate.contains(48000))
  }

  test("archiveMediaTriage: declared-vs-sniffed verdicts over archived bodies") {
    import graft.functions.{BinaryCodecs => C}
    val bmp = C.bmp(6, 4, "px".getBytes)
    val wav = C.wav(8000, Array.tabulate(40)(_.toShort))
    def msg(ct: String, body: Array[Byte], gz: Boolean): Array[Byte] = {
      val ce = if (gz) "Content-Encoding: gzip\r\n" else ""
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n$ce\r\n").getBytes("US-ASCII") ++
        (if (gz) C.gzip(body) else body)
    }
    val docs = Seq(
      (0L, msg("image/bmp", bmp, gz = false)),   // honest
      (1L, msg("audio/wav", wav, gz = true)),    // honest, coded on the wire
      (2L, msg("image/png", bmp, gz = false)),   // MISLABEL: bmp served as png
      (3L, msg("text/html", "<p>hi</p>".getBytes, gz = false)), // no verdict
      (4L, msg("image/bmp", "junk".getBytes, gz = false))) // label lies, junk
      .map { case (id, p) => (id, p, s"https://a/m/$id") }
      .toDF("doc_id", "payload", "uri")
    val got = graft.ops.Multimodal.archiveMediaTriage(
      graft.ops.Warc.httpResponses(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(docs))))
      .collect().map(r => r.getAs[String]("target_uri").split("/").last.toLong -> r).toMap
    def verdict(id: Long): Any =
      if (got(id).isNullAt(got(id).fieldIndex("type_matches"))) null
      else got(id).getAs[Boolean]("type_matches")
    assert(got(0L).getAs[String]("format") == "bmp" && verdict(0L) == true)
    // the wire coding is invisible: the DECODED body sniffs wav
    assert(got(1L).getAs[String]("format") == "wav" && verdict(1L) == true &&
      got(1L).getAs[Int]("sample_rate") == 8000)
    // a bmp served as image/png: sniff wins, verdict false
    assert(got(2L).getAs[String]("format") == "bmp" && verdict(2L) == false)
    // declared type outside the sniffable set: no verdict either way
    assert(verdict(3L) == null && got(3L).getAs[String]("format") == "unknown")
    // junk under an image label: labeled by sniff as unknown, flagged
    assert(!got(4L).getAs[Boolean]("parsed") && verdict(4L) == false)
  }
}
