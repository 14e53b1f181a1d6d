package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/audio/video travel
  * as opaque `binary` columns with typed metadata, and decode / feature
  * extraction runs as per-row map-side transforms.
  *
  * The codec layer is REAL for the formats that matter: BMP, PNG
  * (zlib + all five scanline filters) and baseline JPEG (Huffman + DCT)
  * for images, 16-bit PCM WAV for audio, RIFF AVI for video frames,
  * gzip/WARC for containers — all pure-JVM byte-level implementations in
  * [[graft.functions.BinaryCodecs]] / [[graft.functions.JpegCodec]].
  * [[DecodeStub]] remains ONLY as the documented fallback for codecs that
  * genuinely need native libraries absent from this environment (H.264,
  * MP3, …): [[extractFeatures]]' embedding vector and [[resizeAll]]'s
  * byte-window resample say so explicitly; swapping in libjpeg-turbo/
  * ffmpeg at deployment changes only those bodies.
  *
  * Every codec op is a typed `map`/`flatMap` over the rows: multi-KB
  * binary decode is not an `Expression` fit, no codec keeps state across
  * rows, and `Dataset.flatMap` runs inside each partition's iterator, so
  * the plans stay partition-local and shuffle-free.
  */
object Multimodal {

  /** A media row: id + modality + opaque payload + source metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], mime_type: String, size_bytes: Long)

  /** Decoded, model-ready features. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int,
      features: Array[Float])

  /** STUB codec — deterministic fake in place of a real image/audio/video
    * library (not installed in this container). Decode derives dimensions
    * from the first payload bytes and features from a rolling hash, so
    * results are stable across runs/executors; replace the three methods
    * with actual libjpeg/ffmpeg/etc. calls at deployment.
    */
  object DecodeStub {
    def dimensions(payload: Array[Byte]): (Int, Int) = {
      val b0 = if (payload.length > 0) payload(0) & 0xff else 0
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      (64 + (b0 % 16) * 32, 64 + (b1 % 16) * 32)
    }

    /** Deterministic frame sampling for video payloads: every `stride`-th
      * fixed-size byte window. Real impl: keyframe extraction.
      */
    def sampleFrames(payload: Array[Byte], maxFrames: Int): Seq[Array[Byte]] = {
      if (payload.isEmpty) return Seq.empty
      val frameSize = math.max(1, payload.length / math.max(1, maxFrames))
      payload.grouped(frameSize).take(maxFrames).toSeq
    }

    /** Deterministic stand-in for a pixel resample: payload truncated or
      * cycle-padded to the byte budget of the target dimensions. Real
      * impl: bilinear/areal resample via an image library.
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val target = math.max(1, (w * h) / 256)
      val out = new Array[Byte](target)
      if (payload.nonEmpty) {
        var i = 0
        while (i < target) { out(i) = payload(i % payload.length); i += 1 }
      }
      out
    }

    /** Rolling-hash feature vector — stands in for a vision/audio encoder. */
    def features(payload: Array[Byte], dim: Int = 16): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) {
        h = 31 * h + payload(i)
        out(i % dim) += ((h % 1000).toFloat / 1000.0f)
        i += 1
      }
      out
    }
  }

  /** Decode + feature extraction. One output row per input row,
    * pipelined per partition — no shuffle, scales linearly with
    * partitions at 100 TB.
    */
  def extractFeatures(media: Dataset[MediaRow], featureDim: Int = 16): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.map { m =>
      // real container parse when the magic is recognized; stub otherwise
      val (w, h) = graft.functions.BinaryCodecs.bmpDimensions(m.payload)
        .getOrElse(DecodeStub.dimensions(m.payload))
      val frames =
        if (m.kind == "video") DecodeStub.sampleFrames(m.payload, maxFrames = 8) else Seq(m.payload)
      val feats = frames
        .map(DecodeStub.features(_, featureDim))
        .reduceOption((a, b) => a.zip(b).map { case (x, y) => x + y })
        .getOrElse(new Array[Float](featureDim))
      MediaFeatures(m.media_id, m.kind, w, h, frames.size, feats)
    }
  }

  /** Resize to a uniform target resolution — the standard
    * normalization pass before feature extraction. Same map-side
    * shape as [[extractFeatures]]; payloads are rewritten, metadata
    * (dims encoded by the stub header contract) updated in place.
    */
  def resizeAll(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val resized = DecodeStub.resize(m.payload, w, h)
      m.copy(payload = resized, size_bytes = resized.length.toLong)
    }
  }

  /** Parsed container metadata: exactly one of the (width, height) /
    * (sample_rate, duration_ms) pairs is set depending on modality;
    * unrecognized payloads leave all four null.
    */
  final case class MediaMeta(
      media_id: Long,
      kind: String,
      width: Option[Int],
      height: Option[Int],
      sample_rate: Option[Int],
      duration_ms: Option[Long])

  /** REAL header decode over the binary column: BMP dimensions and WAV
    * sample-rate/duration via [[graft.functions.BinaryCodecs]] (actual
    * byte-level container parsing, not the stub). Map-side like
    * [[extractFeatures]]; unknown magic → null metadata rather than a
    * guess. */
  def parseMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.map { m =>
      BinaryCodecs.bmpDimensions(m.payload) match {
        case Some((w, h)) => MediaMeta(m.media_id, m.kind, Some(w), Some(h), None, None)
        case None =>
          BinaryCodecs.wavMeta(m.payload) match {
            case Some((rate, nSamples)) =>
              MediaMeta(m.media_id, m.kind, None, None, Some(rate),
                Some(nSamples * 1000L / rate))
            case None => MediaMeta(m.media_id, m.kind, None, None, None, None)
          }
      }
    }
  }

  final case class AudioStats(
      media_id: Long, sample_rate: Long, n_samples: Long,
      energy: Long, mean_abs: Long, peak_abs: Long)

  /** REAL audio feature extraction over the binary column: integer-exact
    * PCM statistics (energy Σs², floor-mean |s|, peak |s|) from an actual
    * int16 sample scan ([[graft.functions.BinaryCodecs.wavPcmStats]]) —
    * no stub anywhere on this path. Rows whose payload is not parseable
    * 16-bit mono PCM are dropped (the caller's schema gate). Same
    * map-side, shuffle-free shape as [[parseMeta]].
    */
  def audioStats(media: Dataset[MediaRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.wavPcmStats(m.payload).map { case (rate, n, sumSq, sumAbs, peak) =>
        AudioStats(m.media_id, rate.toLong, n, sumSq,
          if (n > 0) sumAbs / n else 0L, peak.toLong)
      }
    }
  }

  final case class ImageStats(
      media_id: Long, width: Long, height: Long, n_pixels: Long,
      sum_b: Long, sum_g: Long, sum_r: Long)

  /** REAL image feature extraction over the binary column: integer-exact
    * per-channel pixel sums ([[graft.functions.BinaryCodecs.pixelStats]],
    * row padding and alpha excluded) from an actual decode — 24bpp BMP,
    * PNG, JPEG or GIF ([[graft.functions.BinaryCodecs.decodeImage]]).
    * Bytes unsigned, no stub anywhere on this path; rows in no decodable
    * format drop. Same map-side, shuffle-free shape as [[audioStats]].
    */
  def imageStats(media: Dataset[MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.decodeImage(m.payload).map { img =>
        val (sumB, sumG, sumR) = BinaryCodecs.pixelStats(img)
        ImageStats(m.media_id, img.width.toLong, img.height.toLong,
          img.width.toLong * img.height, sumB, sumG, sumR)
      }
    }
  }

  final case class ImageDhash(media_id: Long, width: Long, height: Long, dhash: Long)

  /** Perceptual near-duplicate fingerprints over the binary image
    * column: the 64-bit dHash of a REAL decode
    * ([[graft.functions.BinaryCodecs.dhash]] — 9×8 nearest-neighbor
    * grayscale grid, horizontal difference bits), the same for
    * identical pixels in any format. Rows whose payload does not decode
    * are dropped. Pair with
    * [[graft.ops.Dedup.hammingPairs]] for the banded near-dup join —
    * together they are image-level MinHash/LSH: fingerprint map-side,
    * bucket-join, verify exactly. Same map-side, shuffle-free
    * shape as [[imageStats]].
    */
  def imageDhash(media: Dataset[MediaRow]): Dataset[ImageDhash] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.decodeImage(m.payload).map(img =>
        ImageDhash(m.media_id, img.width.toLong, img.height.toLong,
          BinaryCodecs.dhash(img)))
    }
  }

  final case class AudioEhash(
      media_id: Long, sample_rate: Long, n_samples: Long, ehash: Long)

  /** Perceptual near-duplicate fingerprints over the binary AUDIO
    * column: the 64-bit energy-difference hash from a REAL 16-bit PCM
    * decode ([[graft.functions.BinaryCodecs.wavEnergyHash]] — 65 frame
    * windows, adjacent-energy difference bits; invariant under amplitude
    * rescaling, so a re-encode at another volume fingerprints
    * identically). Rows whose payload is not parseable PCM WAV are
    * dropped. Pair with [[graft.ops.Dedup.hammingPairs]] for the banded
    * near-dup join — the audio leg of the same image-level LSH story as
    * [[imageDhash]]. Same map-side, shuffle-free shape.
    */
  def audioEnergyHash(media: Dataset[MediaRow]): Dataset[AudioEhash] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.wavEnergyHash(m.payload).map { case (rate, n, h) =>
        AudioEhash(m.media_id, rate.toLong, n, h)
      }
    }
  }

  /** REAL thumbnailing over the binary image column: every decodable
    * image resizes to `w × h` by the integer nearest-neighbor map
    * ([[graft.functions.BinaryCodecs.resizeImage]]) — an actual pixel
    * resample, unlike [[resizeAll]]'s documented byte-window stub for
    * codecs this environment can't decode. BMP stays BMP; PNG, JPEG and
    * GIF thumbnails leave as PNG. Rows that do not decode drop (route
    * them to [[resizeAll]] if a stub thumbnail is better than none).
    * Map-side, shuffle-free; output bytes per row collapse to the fixed
    * thumbnail size — the 100 TB point of thumbnailing at ingest.
    */
  def resizeImages(
      media: Dataset[MediaRow],
      w: Int,
      h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.decodeImage(m.payload).map { img =>
        val (mime, p) = BinaryCodecs.resizeImage(img, w, h)
        MediaRow(m.media_id, m.kind, p, mime, p.length.toLong)
      }
    }
  }

  /** Format normalization at ingest: every decodable BMP, JPEG or GIF
    * re-encodes as a pixel-exact RGB PNG
    * ([[graft.functions.BinaryCodecs.toPng]] through the real zlib
    * writer), so one on-disk layout feeds every downstream image op.
    * Rows that are structurally PNG
    * ([[graft.functions.BinaryCodecs.pngDimensions]]) pass through
    * untouched, without a decode; other payloads drop. The q389
    * invariant: a transcoded image's [[imageDhash]] is bit-identical to
    * its source's. Map-side, shuffle-free.
    */
  def transcodeToPng(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      if (BinaryCodecs.pngDimensions(m.payload).nonEmpty) Some(m)
      else BinaryCodecs.decodeImage(m.payload).flatMap(BinaryCodecs.toPng)
        .map(p => MediaRow(m.media_id, m.kind, p, "image/png", p.length.toLong))
    }
  }

  /** REAL sample-rate conversion over the binary audio column: every
    * parseable 16-bit mono PCM WAV resamples to `dstRate` by the
    * integer nearest-neighbor map
    * ([[graft.functions.BinaryCodecs.wavResample]]) — the audio
    * analogue of [[resizeImages]]. Non-PCM rows drop. Map-side,
    * shuffle-free; output bytes per row scale by `dstRate/srcRate` —
    * downsampling at ingest is the audio thumbnailing.
    */
  def resampleAudio(
      media: Dataset[MediaRow],
      dstRate: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.wavResample(m.payload, dstRate).map(p =>
        MediaRow(m.media_id, m.kind, p, "audio/wav", p.length.toLong))
    }
  }

  /** Writer half of compressed-binary ingest: gzip every payload
    * (WARC-style corpora ship members gzip'd). Map-side,
    * shuffle-free.
    */
  def gzipMedia(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.map { m =>
      val p = BinaryCodecs.gzip(m.payload)
      MediaRow(m.media_id, m.kind, p, "application/gzip", p.length.toLong)
    }
  }

  /** Reader half: distributed gunzip of BINARY payloads (the
    * [[gunzipText]] sibling for media bytes — a gzip'd AVI/BMP/WAV
    * member decodes back into the container parsers' input), with the
    * same HARD zip-bomb cap; over-cap, non-gzip and corrupt rows
    * quarantine (drop). Map-side, shuffle-free.
    */
  def gunzipMedia(
      media: Dataset[MediaRow],
      maxBytes: Int = 1 << 26): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.gunzip(m.payload, maxBytes).map(p =>
        MediaRow(m.media_id, m.kind, p, "application/octet-stream", p.length.toLong))
    }
  }

  final case class VideoMeta(media_id: Long, width: Long, height: Long,
      n_frames: Long, usec_per_frame: Long)

  /** Container metadata from the binary VIDEO column: a REAL RIFF AVI
    * header walk ([[graft.functions.BinaryCodecs.aviMeta]] — `hdrl`/
    * `avih`), falling back to the ISO-BMFF (MP4/MOV) box walk
    * ([[graft.functions.BinaryCodecs.mp4Meta]]) — the dominant real-web
    * container: dims from the first `vide` track's tkhd, frame count
    * from its `stts` sample runs, and `usec_per_frame` rescaled from
    * the track's own media clock (`delta · 10⁶ / timescale`, floor).
    * Rows that parse as neither — or whose MP4 has no video track —
    * drop. Same map-side, shuffle-free shape as
    * [[imageStats]].
    */
  def videoMeta(media: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.aviMeta(m.payload).map { case (w, h, n, mspf) =>
        VideoMeta(m.media_id, w.toLong, h.toLong, n.toLong, mspf.toLong)
      }.orElse {
        BinaryCodecs.mp4Meta(m.payload).flatMap { info =>
          info.tracks.find(t => t.handler == "vide" && t.timescale > 0)
            .map(t => VideoMeta(m.media_id, t.width.toLong, t.height.toLong,
              t.nSamples, t.sampleDelta * 1000000L / t.timescale))
        }
      }
    }
  }

  /** The full per-track ISO-BMFF metadata surface — one row per track
    * of every parseable MP4/MOV payload: movie clock, track identity,
    * handler (`vide`/`soun`/…), the sample entry's codec fourcc, tkhd
    * pixel dims (0×0 for sound), the track's media timescale and its
    * uniform `stts` timing. What a corpus triage job filters on before
    * any decode (keep H.264 video under 4K, route audio by codec,
    * flag zero-sample tracks). Non-BMFF payloads drop (quarantine —
    * pair with [[videoMeta]]'s AVI route for RIFF input). Map-side,
    * shuffle-free.
    */
  def mp4Tracks(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.mp4Meta(m.payload).toSeq.flatMap { info =>
        info.tracks.map(t => (m.media_id, info.timescale, info.duration,
          t.trackId, t.handler, t.codec, t.width, t.height,
          t.timescale, t.sampleDelta * t.nSamples, t.nSamples, t.sampleDelta))
      }
    }.toDF("media_id", "movie_timescale", "movie_duration", "track_id",
      "handler", "codec", "width", "height", "track_timescale",
      "track_duration", "n_samples", "sample_delta")
  }

  /** MPEG audio metadata from the binary AUDIO column — the frame-
    * header walk ([[graft.functions.BinaryCodecs.mp3Meta]]: sync scan,
    * strict tiling, ID3 tags skipped, no audio decode), WAV's
    * compressed-world sibling: per file the version/layer identity,
    * sample clock, exact frame count, floor-µs duration, frame 0's
    * bitrate and a VBR flag (any frame's bitrate differing). Rows that
    * don't parse as a clean MPEG stream drop (quarantine). Same
    * map-side, shuffle-free shape as [[videoMeta]].
    */
  def mp3Meta(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.mp3Meta(m.payload).filter(_.nFrames > 0).map { a =>
        (m.media_id, a.version, a.layer, a.sampleRate, a.nFrames,
          a.durationUs, a.frameBitratesKbps.head,
          a.frameBitratesKbps.exists(_ != a.frameBitratesKbps.head))
      }
    }.toDF("media_id", "mpeg_version", "layer", "sample_rate", "n_frames",
      "duration_us", "bitrate_kbps", "vbr")
  }

  /** The ID3v2 TEXT frames of every tagged audio payload, exploded to
    * `(media_id, frame_pos, frame_id, value)` rows — title/artist/
    * album and friends, the curation metadata an audio corpus filters
    * and joins on without decoding a single sample
    * ([[graft.functions.BinaryCodecs.id3TextFrames]]' contract:
    * v2.3 + v2.4, all four text encodings, padding/extended-header
    * handling; unsynchronised and v2.2 tags quarantine, untagged
    * payloads drop). Map-side, shuffle-free.
    */
  def audioTags(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.id3TextFrames(m.payload).toSeq.flatMap { frames =>
        frames.zipWithIndex.map { case (f, i) =>
          (m.media_id, i, f.frameId, f.text)
        }
      }
    }.toDF("media_id", "frame_pos", "frame_id", "value")
  }

  /** Ogg stream identity from the BOS page's identification packet —
    * codec (vorbis/opus), sample clock and channel count, with the
    * page's REAL CRC verified
    * ([[graft.functions.BinaryCodecs.oggAudioMeta]]); non-Ogg,
    * CRC-corrupt and neither-dialect payloads drop. The third audio
    * container next to WAV and MP3, and the one podcasts actually
    * ship in. Map-side, shuffle-free.
    */
  def oggMeta(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.oggAudioMeta(m.payload).map { case (codec, rate, ch) =>
        (m.media_id, codec, rate, ch)
      }
    }.toDF("media_id", "codec", "sample_rate", "channels")
  }

  /** One triaged payload: its sniffed container family, whether it
    * arrived gzip-wrapped, whether the family's parser accepted it,
    * and the family's header-grain metadata (nulls where the modality
    * has no such field).
    */
  final case class TriageRow(
      media_id: Long, format: String, gzipped: Boolean, parsed: Boolean,
      width: Option[Int], height: Option[Int], n_frames: Option[Long],
      sample_rate: Option[Int], duration_us: Option[Long])

  /** Corpus MEDIA TRIAGE — the first job over a crawl's binary
    * payloads, before any expensive decode: sniff each payload's
    * container family by magic
    * ([[graft.functions.BinaryCodecs.sniffFormat]]), gunzip-and-resniff
    * ONE level when it arrives gzip-wrapped (capped — the zip-bomb
    * discipline), route to that family's HEADER-GRAIN parser (BMP/PNG/
    * GIF/JPEG dims, WAV/MP3 clock+duration, AVI/MP4 dims+frames+
    * duration), and emit one row per payload with `parsed = false` —
    * never a dropped row — when the family's parser rejects it or the
    * magic is unknown: triage EXISTS to count and route the junk, so
    * quarantining-by-drop here would be self-defeating. Map-side,
    * shuffle-free; at 100 TB this is the pass that
    * decides what the decode fleet actually fetches.
    */
  def mediaTriage(
      media: Dataset[MediaRow],
      maxGunzipBytes: Int = 1 << 26): Dataset[TriageRow] = {
    import media.sparkSession.implicits._
    media.map(m =>
      triageOne(m.media_id, m.payload, gzipped0 = false, maxGunzipBytes))
  }

  /** One payload through the triage rules — the shared core of
    * [[mediaTriage]] (standalone payload rows) and
    * [[archiveMediaTriage]] (crawl-archive response bodies).
    */
  private def triageOne(
      id: Long, payload0: Array[Byte], gzipped0: Boolean,
      maxGunzipBytes: Int): TriageRow = {
    import graft.functions.{BinaryCodecs => C, JpegCodec}
    def triage(id: Long, payload: Array[Byte], gzipped: Boolean): TriageRow = {
      def none = TriageRow(id, C.sniffFormat(payload), gzipped, parsed = false,
        None, None, None, None, None)
      C.sniffFormat(payload) match {
        case "gzip" if !gzipped =>
          C.gunzip(payload, maxGunzipBytes)
            .map(inner => triage(id, inner, gzipped = true))
            .getOrElse(none)
        case "bmp" => C.bmpDimensions(payload).map { case (w, h) =>
          TriageRow(id, "bmp", gzipped, parsed = true, Some(w), Some(h),
            None, None, None)
        }.getOrElse(none)
        case "png" => C.pngDimensions(payload).map { case (w, h) =>
          TriageRow(id, "png", gzipped, parsed = true, Some(w), Some(h),
            None, None, None)
        }.getOrElse(none)
        case "gif" => C.gifDimensions(payload).map { case (w, h) =>
          TriageRow(id, "gif", gzipped, parsed = true, Some(w), Some(h),
            None, None, None)
        }.getOrElse(none)
        case "jpeg" => JpegCodec.dimensions(payload).map { case (w, h) =>
          TriageRow(id, "jpeg", gzipped, parsed = true, Some(w), Some(h),
            None, None, None)
        }.getOrElse(none)
        case "wav" => C.wavMeta(payload).map { case (rate, frames) =>
          TriageRow(id, "wav", gzipped, parsed = true, None, None, None,
            Some(rate), Some(frames * 1000000L / rate))
        }.getOrElse(none)
        case "avi" => C.aviMeta(payload).map { case (w, h, n, uspf) =>
          TriageRow(id, "avi", gzipped, parsed = true, Some(w), Some(h),
            Some(n.toLong), None, Some(n.toLong * uspf))
        }.getOrElse(none)
        case "mp4" => C.mp4Meta(payload).map { info =>
          val v = info.tracks.find(_.handler == "vide")
          TriageRow(id, "mp4", gzipped, parsed = true,
            v.map(_.width), v.map(_.height), v.map(_.nSamples), None,
            Some(info.duration * 1000000L / info.timescale))
        }.getOrElse(none)
        case "mp3" => C.mp3Meta(payload).filter(_.nFrames > 0).map { a =>
          TriageRow(id, "mp3", gzipped, parsed = true, None, None, None,
            Some(a.sampleRate), Some(a.durationUs))
        }.getOrElse(none)
        case "ogg" => C.oggAudioMeta(payload).map { case (_, rate, _) =>
          TriageRow(id, "ogg", gzipped, parsed = true, None, None, None,
            Some(rate), None) // duration needs the tail granule scan
        }.getOrElse(none)
        case "flac" => C.flacMeta(payload).map { case (rate, _, _, total) =>
          TriageRow(id, "flac", gzipped, parsed = true, None, None, None,
            Some(rate),
            if (total > 0) Some(total * 1000000L / rate) else None)
        }.getOrElse(none)
        case "webp" => C.webpDimensions(payload).map { case (w, h) =>
          TriageRow(id, "webp", gzipped, parsed = true, Some(w), Some(h),
            None, None, None)
        }.getOrElse(none)
        case _ => none
      }
    }
    triage(id, payload0, gzipped0)
  }

  /** Media triage over a CRAWL ARCHIVE's response records — the
    * "what's actually in my crawl" job: each archived HTTP body (wire
    * codings already undone by [[graft.ops.Warc.httpResponses]]) runs
    * the same [[mediaTriage]] rules, keyed by its record identity, and
    * gains `type_matches`: the declared `Content-Type` mapped to its
    * promised family ([[mimeFormat]]) compared with the SNIFFED
    * format — null (no verdict) when the declared type is outside the
    * sniffable set, false on the mislabels every real archive carries
    * (the integrity signal a decode fleet filters on before paying for
    * a decode the label lied about). Map-side,
    * shuffle-free.
    */
  def archiveMediaTriage(
      responses: Dataset[graft.ops.Warc.HttpRecordRow],
      maxGunzipBytes: Int = 1 << 26): DataFrame = {
    import responses.sparkSession.implicits._
    responses.map { h =>
      val t = triageOne(h.media_id, h.body, gzipped0 = false, maxGunzipBytes)
      (h.media_id, h.record_idx, h.target_uri, h.content_type,
        t.format, t.parsed, t.width, t.height, t.n_frames,
        t.sample_rate, t.duration_us)
    }.toDF("media_id", "record_idx", "target_uri", "content_type",
      "format", "parsed", "width", "height", "n_frames",
      "sample_rate", "duration_us")
      .withColumn("type_matches",
        when(mimeFormat(col("content_type")).isNotNull,
          mimeFormat(col("content_type")) === col("format")))
  }

  /** The sniffed-format family a declared MIME type promises — the
    * comparison rule of [[archiveMediaTriage]]'s `type_matches`
    * column: null (no verdict) for types outside the sniffable set.
    */
  def mimeFormat(contentType: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ct = lower(trim(regexp_extract(contentType, "^([^;]*)", 1)))
    when(ct === "image/bmp", "bmp")
      .when(ct === "image/png", "png")
      .when(ct === "image/gif", "gif")
      .when(ct === "image/jpeg" || ct === "image/jpg", "jpeg")
      .when(ct === "audio/wav" || ct === "audio/x-wav" || ct === "audio/wave", "wav")
      .when(ct === "video/x-msvideo" || ct === "video/avi", "avi")
      .when(ct === "video/mp4" || ct === "video/quicktime", "mp4")
      .when(ct === "audio/mpeg" || ct === "audio/mp3", "mp3")
      .when(ct === "audio/flac" || ct === "audio/x-flac", "flac")
      .when(ct === "audio/ogg" || ct === "application/ogg" || ct === "audio/opus", "ogg")
      .when(ct === "image/webp", "webp")
  }

  final case class FrameRow(media_id: Long, frame_idx: Long, payload: Array[Byte],
      n_bytes: Long)

  /** Deterministic FRAME SAMPLING from the binary video column: up to
    * `k` evenly-spaced frames per video — indices `⌊i·n/take⌋` for
    * `i < take = min(k, n)`, strictly increasing, always including frame
    * 0 — extracted by a real byte walk from whichever container the
    * payload is: the AVI `movi` chunk list
    * ([[graft.functions.BinaryCodecs.aviFrames]]) or the MP4 video
    * track's stsz/stsc/stco sample tables
    * ([[graft.functions.BinaryCodecs.mp4Samples]]), the [[videoMeta]]
    * routing one level deeper. The classic decode-free pre-step of
    * every video featurizer: sample at ingest, ship only the sampled
    * frames onward. Rows that don't parse drop; a video with no frames
    * yields no rows. Map-side, shuffle-free; output bytes ≤ k
    * frames per video by construction.
    */
  def sampleVideoFrames(
      media: Dataset[MediaRow],
      k: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    // frame COUNT from whichever container walk recognizes the
    // payload (AVI avih, else the MP4 video track's stts), then
    // ONE chunk-table walk for all k frames — per-index extraction
    // would re-scan from byte 0 every time
    media.flatMap(m => sampleVideoFramesOne(m, k))
  }

  /** Uniform video THUMBNAILS: [[sampleVideoFrames]] then the real
    * nearest-neighbor [[graft.functions.BinaryCodecs.resizeImage]] per
    * sampled BMP frame — the preprocessing shape a vision encoder wants
    * (fixed geometry per frame, k frames per video, all decided at
    * ingest). Frames that aren't parseable BMP drop. Output bytes per
    * video collapse to k × the fixed thumbnail size.
    */
  def videoThumbnails(
      media: Dataset[MediaRow],
      k: Int,
      w: Int,
      h: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    sampleVideoFrames(media, k).flatMap { fr =>
      BinaryCodecs.bmpRaster(fr.payload).map { img =>
        val (_, p) = BinaryCodecs.resizeImage(img, w, h)
        FrameRow(fr.media_id, fr.frame_idx, p, p.length.toLong)
      }
    }
  }

  final case class VideoFrameDhash(media_id: Long, frame_idx: Long, dhash: Long)

  /** Perceptual fingerprints of SAMPLED video frames: [[sampleVideoFrames]]
    * then the real BMP [[graft.functions.BinaryCodecs.dhash]] per frame — the video leg of the banded
    * near-dup family ([[imageDhash]] for images, [[audioEnergyHash]] for
    * audio): two videos sharing visually-near sampled frames surface via
    * [[graft.ops.Dedup.hammingPairs]] over `(media_id·k + frame_idx)`
    * keys, exactly the frame-sampling + perceptual-hash shape production
    * video dedup uses. Frames that aren't parseable BMP drop (the codec
    * contract: this pipeline stores DIB frames).
    */
  def videoFrameDhash(
      media: Dataset[MediaRow],
      k: Int): Dataset[VideoFrameDhash] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    sampleVideoFrames(media, k).flatMap { fr =>
      BinaryCodecs.bmpRaster(fr.payload).map(img =>
        VideoFrameDhash(fr.media_id, fr.frame_idx, BinaryCodecs.dhash(img)))
    }
  }

  /** KEYFRAME-preferring frame sampling: like [[sampleVideoFrames]],
    * but when the payload is an MP4 whose video track carries an
    * `stss` sync-sample table, the k evenly-spaced picks come from the
    * KEYFRAME list — the frames a real featurizer can actually decode
    * standalone (a non-sync sample needs its predecessors; sampling it
    * from a real codec stream buys a grey smear). Files with no stss
    * (ISO: every sample is sync) and AVI payloads fall back to
    * [[sampleVideoFrames]]'s all-samples spacing — the same rule, one
    * level up. Same map-side, shuffle-free shape.
    */
  def sampleKeyframes(
      media: Dataset[MediaRow],
      k: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    require(k >= 1, s"k must be >= 1: $k")
    media.flatMap { m =>
      BinaryCodecs.mp4SyncSamples(m.payload) match {
        case Some(sync) if sync.nonEmpty =>
          val take = math.min(k, sync.length)
          val idxs = (0 until take)
            .map(i => (sync((i.toLong * sync.length / take).toInt) - 1).toInt)
          BinaryCodecs.mp4Samples(m.payload, idxs).toSeq.flatten.map {
            case (idx, f) => FrameRow(m.media_id, idx.toLong, f, f.length.toLong)
          }
        case _ =>
          sampleVideoFramesOne(m, k)
      }
    }
  }

  /** One payload through [[sampleVideoFrames]]' rule — shared by the
    * plain sampler and [[sampleKeyframes]]' fallback leg.
    */
  private def sampleVideoFramesOne(m: MediaRow, k: Int): Seq[FrameRow] = {
    import graft.functions.BinaryCodecs
    val nOpt = BinaryCodecs.aviMeta(m.payload).map(_._3).orElse(
      BinaryCodecs.mp4Meta(m.payload).flatMap(
        _.tracks.find(_.handler == "vide").map(_.nSamples.toInt)))
    nOpt.toSeq.flatMap { n =>
      val take = math.min(k, n)
      val idxs = (0 until take).map(i => (i.toLong * n / take).toInt)
      BinaryCodecs.aviFrames(m.payload, idxs)
        .orElse(BinaryCodecs.mp4Samples(m.payload, idxs))
        .toSeq.flatten.map {
          case (idx, f) => FrameRow(m.media_id, idx.toLong, f, f.length.toLong)
        }
    }
  }

  final case class TextPayload(media_id: Long, n_bytes: Long, text_out: String)

  /** Distributed gunzip of the binary column into UTF-8 text — the
    * WET/WARC-style compressed-corpus ingest step, with
    * [[graft.functions.BinaryCodecs.gunzip]]'s zip-bomb cap per row
    * (over-cap, non-gzip and corrupt payloads drop — the quarantine
    * contract). Same map-side, shuffle-free shape as the other
    * codec paths.
    */
  def gunzipText(
      media: Dataset[MediaRow],
      maxBytes: Int = 1 << 26): Dataset[TextPayload] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.gunzip(m.payload, maxBytes).map { bytes =>
        TextPayload(m.media_id, bytes.length.toLong, new String(bytes, "UTF-8"))
      }
    }
  }

  final case class DecodedText(
      media_id: Long, encoding: String, bom: Boolean, mojibake_risk: Boolean,
      text_out: String)

  /** Charset sniff + transcode at crawl ingest
    * ([[graft.functions.BinaryCodecs.sniffCharset]]: BOM → meta
    * declaration → strict UTF-8 validation → flagged windows-1252
    * fallback): every binary page decodes to UTF-8 text BEFORE
    * [[Html.stripMarkup]] and the lexical chain see it, with a
    * per-document encoding label and mojibake-risk flag — the ~5–10 % of
    * real crawls that is not UTF-8 otherwise corrupts silently upstream
    * of every dedup/quality op. Total (every row decodes; the flag says
    * how trustworthy); map-side, shuffle-free.
    */
  def decodeCharset(media: Dataset[MediaRow]): Dataset[DecodedText] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.map { m =>
      val s = BinaryCodecs.sniffCharset(m.payload)
      DecodedText(m.media_id, s.encoding, s.bom, s.mojibakeRisk, s.text)
    }
  }

  /** Test-path adapter: treat document text bytes as opaque media payloads
    * so the full binary-column pipeline runs against real testdata.
    */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    graft.io.Spread.toDefaultParallelism(docs).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")), (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))
      .withColumn("mime_type", concat(lit("application/x-fake-"), col("kind")))
      .withColumn("size_bytes", length(col("payload")).cast("long"))
      .as[MediaRow]
  }
}
