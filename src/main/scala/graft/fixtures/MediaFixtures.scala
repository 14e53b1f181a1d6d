package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.{BinaryCodecs, JpegCodec}
import graft.ops.Multimodal.MediaRow

/** Synthetic media corpora built from the documents table: every
  * container parameter is a pure function of `doc_id` and the payload
  * content comes from the text bytes, so an oracle replays the expected
  * metadata analytically and writer and parser must agree byte for byte.
  * The encoders are [[graft.functions.BinaryCodecs]] and
  * [[graft.functions.JpegCodec]], which the operators share.
  */
object MediaFixtures {

  private implicit val rowEncoder: Encoder[MediaRow] = Encoders.product[MediaRow]
  private implicit val idEncoder: Encoder[Long] = Encoders.scalaLong
  private implicit val idTextEncoder: Encoder[(Long, String)] = Encoders.product[(Long, String)]

  /** The skeleton of the per-document builders: `spreadIn` goes to every
    * core ([[graft.io.Spread.toDefaultParallelism]]) as it is, `cols`
    * (all of them when none are named) are read as `T`, and `build` makes
    * each input's row.
    */
  private def perDoc[T: Encoder](spreadIn: DataFrame, cols: Column*)(
      build: T => MediaRow): Dataset[MediaRow] =
    spreadAs[T](spreadIn, cols: _*).map(build)

  private def spreadAs[T: Encoder](spreadIn: DataFrame, cols: Column*): Dataset[T] = {
    val spread = graft.io.Spread.toDefaultParallelism(spreadIn)
    (if (cols.isEmpty) spread else spread.select(cols: _*)).as[T]
  }

  /** A media row of `payload`, sized by its bytes. */
  private def row(id: Long, kind: String, mime: String, payload: Array[Byte]): MediaRow =
    MediaRow(id, kind, payload, mime, payload.length.toLong)

  private def utf8(text: String): Array[Byte] = Option(text).getOrElse("").getBytes("UTF-8")

  /** [[syntheticMp3s]] with REAL ID3v2 metadata: every doc's stream
    * leads with a tag carrying TIT2/TPE1/TALB from id formulas (plus
    * TRCK on 4≡1 docs) — v2.3 ISO-8859-1 on even docs, v2.4 UTF-8
    * with synchsafe frame sizes on odd docs, so both wire formats
    * parse at every scale.
    */
  def syntheticTaggedMp3s(docs: DataFrame): Dataset[MediaRow] =
    perDoc[Long](docs.select(col("doc_id"))) { id =>
      val frames = Seq(
        "TIT2" -> s"Title $id",
        "TPE1" -> s"Artist ${id % 7}",
        "TALB" -> s"Album ${id % 3}") ++
        (if (id % 4 == 1) Seq("TRCK" -> s"${id % 12 + 1}") else Nil)
      row(id, "audio", "audio/mpeg",
        BinaryCodecs.id3v2(frames, version = if (id % 2 == 0) 3 else 4) ++
          BinaryCodecs.mp3("1", (id % 3).toInt, Seq.fill(5)(9)))
    }

  /** Synthetic MPEG audio corpus — one Layer III stream per document,
    * every field a pure function of `doc_id`: MPEG2 on 7≡3 docs (576
    * samples/frame, the 72000 length coefficient) else MPEG1, sample
    * rate by `id%3` on the version's own clock table, `20 + id%9`
    * frames at bitrate index `4 + (id%4)*3` — except 6≡1 docs, which
    * alternate two bitrate indices per frame parity (the VBR leg). A
    * leading ID3v2 tag of `id%17` content bytes on even docs and a
    * trailing ID3v1 tag on 5≡2 docs exercise both skip paths.
    */
  def syntheticMp3s(docs: DataFrame): Dataset[MediaRow] =
    perDoc[Long](docs.select(col("doc_id"))) { id =>
      val version = if (id % 7 == 3) "2" else "1"
      val n = 20 + (id % 9).toInt
      val base = 4 + (id % 4).toInt * 3
      val idxs =
        if (id % 6 == 1) (0 until n).map(f => if (f % 2 == 0) base else 5)
        else Seq.fill(n)(base)
      row(id, "audio", "audio/mpeg", BinaryCodecs.mp3(version, (id % 3).toInt, idxs,
        id3v2Bytes = if (id % 2 == 0) (id % 17).toInt else 0,
        id3v1 = id % 5 == 2))
    }

  /** Mixed-container corpus for [[graft.ops.Multimodal.mediaTriage]]:
    * `doc_id % 9` (bmp, png, gif, jpeg, wav, avi, mp4, mp3, raw-bytes
    * unknown) with that family's id-formula parameters, and every even
    * doc's payload additionally gzip-wraps — so the triage exercises
    * every route, the re-sniff leg, and the parsed=false leg at every
    * scale.
    */
  def syntheticMixedMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))) { case (id, text) =>
      val inner = mixedMediaPayload(id, text)
      row(id, "mixed", "application/octet-stream",
        if (id % 2 == 0) BinaryCodecs.gzip(inner) else inner)
    }

  /** The nine-family payload formula behind [[syntheticMixedMedia]]
    * (and the q432 crawl-archive fixture): `doc_id % 9` picks the
    * container, every parameter an id formula — one definition, so
    * the standalone and HTTP-embedded fixtures cannot drift.
    */
  private[graft] def mixedMediaPayload(id: Long, text: String): Array[Byte] = {
    import graft.functions.{BinaryCodecs => C}
    val bytes = text.getBytes("UTF-8")
    (id % 9) match {
      case 0 => C.bmp(8 + (id % 24).toInt, 8 + (id % 16).toInt, bytes)
      case 1 => C.png(4 + (id % 9).toInt, 3 + (id % 7).toInt, bytes)
      case 2 =>
        val w = 6 + (id % 5).toInt
        val h = 4 + (id % 6).toInt
        C.gif(w, h, Array.tabulate(4)(i => i * 0x111111),
          Array.tabulate(w * h)(p => (p % 4).toByte))
      case 3 => JpegCodec.encodeGray(8 * (1 + (id % 3).toInt),
        8 * (1 + (id % 2).toInt), bytes)
      case 4 => C.wav(8000 + (id % 4).toInt * 4000,
        Array.tabulate(100 + (id % 50).toInt)(i => (i * 31 + id).toShort))
      case 5 => C.avi(8 + (id % 24).toInt, 8 + (id % 16).toInt,
        33000 + (id % 5).toInt * 1000, Seq(bytes, bytes))
      case 6 => C.mp4(Seq(C.Mp4Track(1L, "vide", "avc1",
        16 + (id % 8).toInt * 4, 12 + (id % 5).toInt * 4,
        1000000L, 20000L + (id % 3) * 5000L, 3L + id % 4)), 1000000L)
      case 7 => C.mp3("1", (id % 3).toInt,
        Seq.fill(20 + (id % 9).toInt)(4 + (id % 4).toInt * 3))
      case _ => ("?" + text).getBytes("UTF-8") // deterministic unknown
    }
  }

  /** The MIME label each [[mixedMediaPayload]] family would be served
    * with — the declared-type half of the q432 integrity check.
    */
  private[graft] def mixedMediaMime(id: Long): String = (id % 9) match {
    case 0 => "image/bmp"
    case 1 => "image/png"
    case 2 => "image/gif"
    case 3 => "image/jpeg"
    case 4 => "audio/wav"
    case 5 => "video/x-msvideo"
    case 6 => "video/mp4"
    case 7 => "audio/mpeg"
    case _ => "application/octet-stream"
  }

  /** Synthetic 4-frame video corpus from the documents table, in the
    * RIFF AVI container or (`mp4`) the ISO-BMFF one — every container
    * parameter a pure function of doc ids so oracles replay
    * analytically: videos anchor at every 10th doc id (clamped so all 4
    * frame sources exist), geometry/rate from the anchor id, and frame f
    * IS the [[syntheticMedia]] BMP of doc `id + 2f` for f < 3 while
    * frame 3 REUSES frame 0's source (every video ends on a repeat of
    * its opening shot — the planted duplicate that guarantees
    * [[graft.ops.Multimodal.videoFrameDhash]] + hammingPairs finds at
    * least one exact pair per video at every scale), so a sampled
    * frame's dHash equals the q349 image fingerprint of its source doc
    * — the cross-modal identity q376's oracle pins.
    *
    * The MP4 carries the same frames as real stsz/stsc/stco-indexed
    * samples (3 samples in chunk 1, the fourth in chunk 2, so the
    * extractor crosses a chunk boundary on every file), avih's fields
    * mapped onto the video track (µs clock ⇒ `sampleDelta` IS
    * usec-per-frame). A frame sampled from the MP4 corpus is
    * byte-identical to the one sampled from the AVI corpus — the
    * cross-container identity the q428 oracle (q375's, reused
    * verbatim) pins. A documents table without ids gives no videos.
    */
  def syntheticFrameVideos(docs: DataFrame, mp4: Boolean = false): Dataset[MediaRow] = {
    val maxId = docs.agg(max(col("doc_id"))).head()
    if (maxId.isNullAt(0)) return docs.sparkSession.emptyDataset[MediaRow]
    val anchors = docs.select(col("doc_id"), col("text"))
      .where(col("doc_id") % 10 === 0 && col("doc_id") + 6 <= maxId.getLong(0))
    val sources = docs.select(col("doc_id").as("__src"), col("text").as("__stext"))
    val joined = anchors.select(col("doc_id"))
      .crossJoin(docs.sparkSession.range(4).select(col("id").as("f")))
      .withColumn("__src",
        when(col("f") === 3, col("doc_id")).otherwise(col("doc_id") + col("f") * 2))
      .join(sources, Seq("__src"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(col("f").as("_1"), col("__stext").as("_2")))).as("__fr"))
      .as(Encoders.product[(Long, Seq[(Long, String)])])
    joined.map { case (id, frames) =>
      val frameBytes = frames.map { case (f, text) =>
        val src = if (f == 3) id else id + f * 2
        bmpOf(src, text)
      }
      val (w, h) = (8 + (id % 24).toInt, 8 + (id % 16).toInt)
      if (mp4) row(id, "video", "video/mp4", BinaryCodecs.mp4WithSamples(
        Seq(BinaryCodecs.Mp4Track(1L, "vide", "avc1", w, h,
          1000000L, 33000L + (id % 5) * 1000L, 4L)),
        movieTimescale = 1000000L, videoSamples = frameBytes,
        samplesPerChunk = 3,
        // frames 0 and 3 are the sync samples (1-based stss) — frame 3
        // repeats frame 0, so the keyframe sampler lands on the
        // planted-duplicate pair, distinguishable from even spacing
        syncSamples = Seq(1, 4)))
      else row(id, "video", "video/x-msvideo",
        BinaryCodecs.avi(w, h, 33000 + (id % 5).toInt * 1000, frameBytes))
    }
  }

  /** Synthetic ISO-BMFF corpus — one MP4 per document, every field a
    * pure function of `doc_id` so the oracle is analytic: a video
    * track (id 1, `avc1`, µs media clock, `3 + id%4` samples of
    * `20000 + (id%3)·5000` µs) on every doc, plus an audio track
    * (id 2, `mp4a`, 8 kHz clock, `5 + id%7` samples of 320 ticks =
    * 40 ms) on even docs — so the fixture exercises multi-track walks,
    * cross-clock rescaling and sound-track 0×0 dims. The `mdat`
    * payload is the doc text (free bytes; metadata-only container,
    * matching [[graft.functions.BinaryCodecs.mp4Meta]]'s scope).
    */
  def syntheticMp4s(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))) { case (id, text) =>
      val video = BinaryCodecs.Mp4Track(1L, "vide", "avc1",
        16 + (id % 8).toInt * 4, 12 + (id % 5).toInt * 4,
        1000000L, 20000L + (id % 3) * 5000L, 3L + id % 4)
      val tracks =
        if (id % 2 == 0)
          Seq(video, BinaryCodecs.Mp4Track(2L, "soun", "mp4a", 0, 0,
            8000L, 320L, 5L + id % 7))
        else Seq(video)
      row(id, "video", "video/mp4",
        BinaryCodecs.mp4(tracks, 1000000L, mdat = text.getBytes("UTF-8")))
    }

  /** gzip each document's text into a binary media row — the writer half
    * of the q364 roundtrip (compression happens distributed too; the
    * compressed bytes are JVM-deflate-specific and never compared
    * cross-engine, only roundtripped).
    */
  def syntheticGzipDocs(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](docs, col("doc_id"), col("text")) { case (id, text) =>
      row(id, "text", "application/gzip", BinaryCodecs.gzip(utf8(text)))
    }

  /** RE-ENCODED audio corpus for perceptual dedup exercises: each odd-id
    * document's WAV at TWO amplitudes — the [[syntheticMedia]] encode
    * (byte × 128) under the original id, and an amplitude-rescaled
    * re-encode (byte × 127) under `id + reencodeOffset`. Positive
    * rescaling preserves every energy inequality, so the two encodes'
    * [[graft.ops.Multimodal.audioEnergyHash]] fingerprints are
    * bit-IDENTICAL — the controlled near-duplicate that makes the
    * downstream Hamming join's match set provable instead of incidental.
    */
  def syntheticAudioReencodes(
      docs: DataFrame,
      reencodeOffset: Long = 1000000000L): Dataset[MediaRow] =
    spreadAs[(Long, String)](docs, col("doc_id"), col("text")).flatMap { case (id, text) =>
      if (id % 2 == 0) Iterator.empty
      else Iterator(wavOf(id, id, text, 128), wavOf(id + reencodeOffset, id, text, 127))
    }

  /** The WAV leg of [[syntheticMedia]] under `mediaId`: the text bytes
    * cycled to `500 + id%1000` samples scaled by `amp`, at
    * `8000 + (id%8)·1000` Hz.
    */
  private def wavOf(mediaId: Long, id: Long, text: String, amp: Int): MediaRow = {
    val bytes = utf8(text)
    val samples = Array.tabulate(500 + (id % 1000).toInt)(i =>
      (if (bytes.isEmpty) 0 else bytes(i % bytes.length) * amp).toShort)
    row(mediaId, "audio", "audio/wav", BinaryCodecs.wav(8000 + (id % 8).toInt * 1000, samples))
  }

  /** The BMP of doc `id`'s text at `(8 + id%24) × (8 + id%16)`. */
  private def bmpOf(id: Long, text: String): Array[Byte] =
    BinaryCodecs.bmp(8 + (id % 24).toInt, 8 + (id % 16).toInt, utf8(text))

  /** Synthesize VALID media binaries from the documents table — real BMP
    * for even ids, real WAV for odd — with container parameters that are
    * pure functions of the id (so any engine can replay the expected
    * metadata) and payload content drawn from the text bytes. This is how
    * the binary pipeline is exercised end-to-end without native codecs:
    * writer and parser must agree byte-for-byte or the roundtrip breaks.
    */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](docs, col("doc_id"), col("text")) { case (id, text) =>
      if (id % 2 == 0) row(id, "image", "image/bmp", bmpOf(id, text))
      else wavOf(id, id, text, 128)
    }

  /** [[syntheticMedia]] extended to all three modalities — id%3==0 a real
    * BMP, id%3==1 a real WAV, id%3==2 an 8-frame "video" whose payload is
    * a real BMP (frame sampling is byte-window based, so a valid BMP is a
    * valid frame source) — so [[graft.ops.Multimodal.extractFeatures]]'
    * dimension path runs the REAL container parser
    * ([[graft.functions.BinaryCodecs.bmpDimensions]]) on two of three
    * legs; only the audio leg falls through to the stub's deterministic
    * header read (dims (128, 352), a pure function of the 'RI' RIFF
    * magic). Container params are pure functions of the id, so the
    * expected metadata replays analytically in any engine.
    */
  def syntheticMediaTri(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](docs, col("doc_id"), col("text")) { case (id, text) =>
      (id % 3) match {
        case 0 => row(id, "image", "image/bmp", bmpOf(id, text))
        case 1 => wavOf(id, id, text, 128)
        case _ => row(id, "video", "video/x-bmp-frames", bmpOf(id, text))
      }
    }

  /** Mixed-encoding synthetic corpus for the charset-ingest oracle —
    * five legs by id residue, each a pure byte function of the (ASCII)
    * text so the expected decode replays analytically: plain ASCII,
    * BOM'd UTF-8 with a non-ASCII tail, BOM'd UTF-16LE, meta-declared
    * latin-1 with a 0xE9 byte, and UNDECLARED latin-1 with the same
    * byte — the leg that must fall back flagged.
    */
  def syntheticEncodedDocs(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](docs, col("doc_id"), col("text")) { case (id, text) =>
      import java.nio.charset.StandardCharsets._
      val t = Option(text).getOrElse("")
      row(id, "text", "application/octet-stream", (id % 5) match {
        case 0 => t.getBytes(US_ASCII)
        case 1 => Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ (t + " \u00e9").getBytes(UTF_8)
        case 2 => Array(0xFF, 0xFE).map(_.toByte) ++ t.getBytes(UTF_16LE)
        case 3 => ("<meta charset=\"iso-8859-1\">" + t + "\u00e9").getBytes(ISO_8859_1)
        case _ => (t + "\u00e9").getBytes(ISO_8859_1)
      })
    }

  /** Synthetic PNG corpus from the documents table — every doc a real
    * 8-bit RGB PNG (zlib-deflated, CRC'd chunks) whose geometry comes
    * from the [[syntheticMedia]] id formula and whose pixel array cycles
    * the text bytes row-major top-down, UNPADDED (PNG scanlines carry no
    * row padding, so the oracle's byte formula is a plain modulus —
    * simpler than the BMP twin). The compressed bytes are
    * JVM-deflate-specific and never compared cross-engine; only the
    * decoded pixels are (the q364 compression-roundtrip rule).
    */
  def syntheticPngMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[(Long, String)](docs, col("doc_id"), col("text")) { case (id, text) =>
      row(id, "image", "image/png",
        BinaryCodecs.png(8 + (id % 24).toInt, 8 + (id % 16).toInt, utf8(text)))
    }

  /** Synthetic GIF corpus from the documents table — every doc a REAL
    * GIF89a through the real LZW compressor: a fixed 64-color global
    * palette (`palette[i] = (r = 4i, g = 7i mod 256, b = 255 − 3i)`),
    * pixel indices from `index(x, y) = (5x + 11y + id) mod 64`, so
    * every decoded pixel replays from the id formula. Even ids write
    * INTERLACED (the decode must undo the 4-pass row order), odd ids
    * carry a Graphic Control Extension (the skip-and-capture path),
    * and every 5th id appends a SECOND frame — the first-frame
    * contract must ignore it.
    */
  def syntheticGifMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[Long](docs, col("doc_id")) { id =>
      val w = 8 + (id % 3).toInt * 7
      val h = 5 + (id % 4).toInt * 3
      val pal = Array.tabulate(64)(i =>
        ((4 * i) << 16) | ((7 * i % 256) << 8) | (255 - 3 * i))
      val idx = Array.tabulate(w * h)(p =>
        (((p % w) * 5 + (p / w) * 11 + id) % 64).toByte)
      val gif = BinaryCodecs.gif(w, h, pal, idx,
        interlace = id % 2 == 0, withGce = id % 2 == 1)
      row(id, "image", "image/gif",
        if (id % 5 == 0) {
          // splice a throwaway second frame (same canvas, flat index
          // 0) before the trailer: animation the first-frame decode
          // must NOT composite
          val f2 = BinaryCodecs.gif(w, h, pal, new Array[Byte](w * h))
          val descPos = 13 + 3 * pal.length // header + LSD + GCT
          gif.dropRight(1) ++ f2.slice(descPos, f2.length - 1) :+ 0x3b.toByte
        } else gif)
    }

  /** The flat gray image of the JPEG fixtures for doc `id`: `(w, h,
    * pixels)` with geometry from the id (block multiples) and every 8×8
    * block a flat EVEN value `2·((id·7 + bx·13 + by·29) mod 128)` — DC =
    * 8·(v−128) divisible by the Annex K Q₀₀ = 16, zero AC — so
    * quantization is the identity and every pixel replays from the id
    * formula through a genuine Huffman+DCT roundtrip.
    */
  private def grayBlocks(id: Long): (Int, Int, Array[Byte]) = {
    val w = 8 * (1 + (id % 3).toInt)
    val h = 8 * (1 + (id % 2).toInt)
    def v(bx: Int, by: Int): Int = 2 * (((id * 7 + bx * 13 + by * 29) % 128).toInt)
    (w, h, Array.tabulate(w * h)(i => v((i % w) / 8, (i / w) / 8).toByte))
  }

  /** Synthetic baseline-JPEG corpus from the documents table — REAL
    * lossy-codec files of [[grayBlocks]], so the decode is analytically
    * exact. The leg rotates through ALL THREE supported layouts — gray,
    * 4:4:4 and subsampled 4:2:0; gray pixel values keep every leg exact
    * (Y = v, Cb = Cr = 128 flat at any subsampling).
    */
  def syntheticJpegMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[Long](docs, col("doc_id")) { id =>
      val (w, h, gray) = grayBlocks(id)
      row(id, "image", "image/jpeg", (id % 3) match {
        case 0 => JpegCodec.encodeGray(w, h, gray)
        case 1 => JpegCodec.encodeColor444(w, h, gray.flatMap(b => Array(b, b, b)))
        case _ => JpegCodec.encodeColor420(w, h, gray.flatMap(b => Array(b, b, b)))
      })
    }

  /** Progressive-JPEG twin of [[syntheticJpegMedia]]: the SAME flat
    * even-valued blocks emitted as SOF2 scan scripts (spectral
    * selection + DC/AC successive approximation, the shape real
    * progressive encoders write) — even ids grayscale, odd ids the
    * 4:4:4 color path. Decoded pixels equal the baseline fixture's by
    * construction, so the q395 stats oracle replays VERBATIM: any
    * disagreement between the progressive scan accumulation and the
    * baseline path goes red.
    */
  def syntheticProgressiveJpegMedia(docs: DataFrame): Dataset[MediaRow] =
    perDoc[Long](docs, col("doc_id")) { id =>
      val (w, h, gray) = grayBlocks(id)
      row(id, "image", "image/jpeg",
        if (id % 2 == 0) JpegCodec.encodeGrayProgressive(w, h, gray)
        else JpegCodec.encodeColor444Progressive(w, h, gray.flatMap(b => Array(b, b, b))))
    }
}
