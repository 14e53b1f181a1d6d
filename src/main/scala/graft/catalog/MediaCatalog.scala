package graft.catalog

import org.apache.spark.sql.functions._
import graft.fixtures.{CrawlFixtures, MediaFixtures}
import graft.ops.{Dedup, Multimodal}
import graft.SparkEntry.t

/** Media queries: image, audio and video containers built by
  * [[graft.fixtures.MediaFixtures]], decoded, measured, fingerprinted,
  * resized and transcoded. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object MediaCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- multimodal binary roundtrip: synthesize REAL BMP/WAV payloads
    // (container params = pure functions of the id), then parse the
    // headers back with the byte-level codecs. The oracle replays the
    // parameter formulas — writer and parser must agree byte-for-byte for
    // the metadata to land on the formula values. ------------------------
    QueryCase("q59_media_meta", (s, dir) => {
      Multimodal.parseMeta(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("duration_ms"))
    },
      // q59: the synthesis formulas, replayed — duration uses the same
      // floor integer division as the parser's nSamples*1000/rate.
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        | CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 24 END AS width,
        | CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 16 END AS height,
        | CASE WHEN doc_id % 2 = 1 THEN 8000 + (doc_id % 8) * 1000 END AS sample_rate,
        | CASE WHEN doc_id % 2 = 1
        |   THEN (500 + doc_id % 1000) * 1000 // (8000 + (doc_id % 8) * 1000) END AS duration_ms
        |FROM documents""".stripMargin),

    // ---- multimodal binary-column pipeline over VALID containers: the
    // REAL BMP dimension parser decodes the image and video legs (writer
    // and parser must agree byte-for-byte), the audio leg falls through
    // to the stub's deterministic RIFF-magic header read — so the oracle
    // is an analytic formula, not a pinned fixture. ------------------------
    QueryCase("q22_multimodal", (s, dir) => {
      Multimodal.extractFeatures(MediaFixtures.syntheticMediaTri(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("kind"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    },
      // q22: analytic multimodal oracle — kind by id%3; image/video dims
      // replay the BMP writer's (8 + id%24, 8 + id%16) params THROUGH the
      // real parser; the audio leg's (128, 352) is the stub's deterministic
      // read of the 'RI' RIFF magic (ascii 82, 73 -> 64+(b%16)*32); video
      // n_frames = 8 byte-window frames (payload always >= 8 bytes).
      """SELECT doc_id AS media_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(CASE WHEN doc_id % 3 = 1 THEN 128 ELSE 8 + doc_id % 24 END AS BIGINT) AS width,
        | CAST(CASE WHEN doc_id % 3 = 1 THEN 352 ELSE 8 + doc_id % 16 END AS BIGINT) AS height,
        | CAST(CASE WHEN doc_id % 3 = 2 THEN 8 ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents""".stripMargin),

    // ---- REAL audio decode features: integer-exact PCM stats (energy,
    // floor-mean |s|, peak) from an actual int16 sample scan of the
    // synthesized WAVs — writer and parser must agree byte-for-byte AND
    // the oracle replays the sample formula analytically. ---------------
    QueryCase("q149_audio_stats", (s, dir) =>
      Multimodal.audioStats(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("energy"), col("mean_abs"), col("peak_abs")),
      // q149: the WAV writer's sample formula (ascii byte at i mod len,
      // ×128) replayed analytically — text is pure ASCII (strlen ==
      // octet_length, asserted over all SFs), so char indexing == byte
      // indexing. Sums are exact integers; mean is truncating division of
      // non-negatives on both sides.
      """WITH d AS (
        | SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 1),
        |par AS (
        | SELECT doc_id, t, strlen(t) AS l, 500 + doc_id % 1000 AS n,
        |  8000 + (doc_id % 8) * 1000 AS rate
        | FROM d),
        |ix AS (SELECT doc_id, rate, n, t, l, unnest(range(n)) AS i FROM par),
        |v AS (
        | SELECT doc_id, rate, n,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(i % l AS INT) + 1, 1)) * 128 END AS s
        | FROM ix)
        |SELECT doc_id AS media_id, CAST(rate AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples,
        | CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
        | CAST(sum(s) // n AS BIGINT) AS mean_abs,
        | CAST(max(s) AS BIGINT) AS peak_abs
        |FROM v GROUP BY doc_id, rate, n""".stripMargin),

    // ---- REAL image decode features: integer-exact per-channel pixel
    // sums (B, G, R) from an actual 24bpp BMP pixel walk over the
    // synthesized images — row padding excluded on both sides; the oracle
    // replays the writer's cycled-byte formula analytically. -------------
    QueryCase("q150_image_stats", (s, dir) =>
      Multimodal.imageStats(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q150: the BMP writer cycles the doc's ascii bytes over the PADDED
      // pixel array (rowSize = ceil(3w/4)·4), so the oracle walks byte
      // offsets j, keeps only in-row pixel bytes (j%rowSize < 3w), and
      // assigns channel j%3 (BGR order). Text is pure ASCII (strlen ==
      // octet_length asserted over all SFs), so char indexing == byte
      // indexing; empty text decodes to all-zero pixels on both sides.
      """WITH d AS (
        | SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 0),
        |par AS (
        | SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
        |  8 + doc_id % 16 AS h
        | FROM d),
        |geom AS (SELECT *, ((24 * w + 31) // 32) * 4 AS row_size FROM par),
        |ix AS (
        | SELECT doc_id, w, h, row_size, t, l, unnest(range(row_size * h)) AS j
        | FROM geom),
        |px AS (
        | SELECT doc_id, w, h, j % row_size AS pir,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(j % l AS INT) + 1, 1)) END AS v
        | FROM ix),
        |ch AS (SELECT doc_id, w, h, v, pir % 3 AS c FROM px WHERE pir < 3 * w)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        | CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels,
        | CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r
        |FROM ch GROUP BY doc_id, w, h""".stripMargin),

    // ---- perceptual image fingerprints from the REAL BMP decode: the
    // 9x8 nearest-neighbor grayscale dHash per synthesized image — the
    // image-level analogue of simhashText. ----------------------------------
    QueryCase("q349_image_dhash", (s, dir) =>
      Multimodal.imageDhash(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("dhash")),
      // q349: the dHash replayed from the q150 analytic pixel function
      // (pixel-array byte j = text byte j % len, rows bottom-up): grays
      // sampled at the 9x8 grid centers in image orientation, horizontal
      // comparisons summed into the 64-bit hash (bit 63 wraps negative in
      // both engines; DuckDB's HUGEINT sum casts back exactly).
      s"""WITH $DhashCte
         |SELECT dh.media_id, CAST(p.w AS BIGINT) AS width,
         | CAST(p.h AS BIGINT) AS height, dh.dhash
         |FROM dh JOIN par p ON p.doc_id = dh.media_id""".stripMargin),

    // ---- banded Hamming near-dup join over those fingerprints: 8 bands
    // of 8 bits (complete for hamming <= 7 by pigeonhole), popcount
    // verify — image MinHash/LSH end to end. The oracle brute-forces
    // all pairs, so it also PROVES the banding loses nothing. ---------------
    QueryCase("q350_dhash_neardup", (s, dir) =>
      Dedup.hammingPairs(
        Multimodal.imageDhash(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
          .toDF().select(col("media_id").as("id"), col("dhash").as("hash")),
        maxHamming = 7, bands = 8),
      // q350: the oracle brute-forces ALL image pairs — matching it proves
      // the operator's 8x8 banding is lossless for hamming <= 7.
      s"""WITH $DhashCte
         |SELECT a.media_id AS a_id, b.media_id AS b_id,
         | CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM dh a JOIN dh b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7""".stripMargin),

    // ---- perceptual audio fingerprints from the REAL PCM decode: the
    // 65-window energy-difference hash per synthesized WAV — the audio
    // analogue of q349's image dHash; the oracle replays the window
    // energies analytically from the WAV writer's sample formula. ------------
    QueryCase("q356_audio_ehash", (s, dir) =>
      Multimodal.audioEnergyHash(MediaFixtures.syntheticMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"), col("ehash")),
      // q356: the energy-difference hash replayed analytically from the WAV
      // writer's sample formula — window energies in BIGINT, bit assembly in
      // HUGEINT (bit 63 is the sign bit; DuckDB's 1<<63 throws, so it
      // contributes -(2^63) and the two's-complement sum casts back).
      s"""WITH ${AudioEhashCte("(128, 0)")}
        |SELECT mid AS media_id, CAST(rate AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples, ehash
        |FROM eh""".stripMargin),

    // ---- banded Hamming near-dup join over audio fingerprints, with the
    // match set made PROVABLE: the corpus carries an amplitude-rescaled
    // re-encode of every WAV (energy ratios preserved → identical hash),
    // so each original/re-encode pair MUST surface at hamming 0. The
    // oracle brute-forces all pairs — banding provably loses nothing. -------
    QueryCase("q357_audio_ehash_neardup", (s, dir) =>
      Dedup.hammingPairs(
        Multimodal.audioEnergyHash(
          MediaFixtures.syntheticAudioReencodes(t(s, dir, "documents")))
          .toDF().select(col("media_id").as("id"), col("ehash").as("hash")),
        maxHamming = 7, bands = 8),
      // q357: brute-forced Hamming pairs over BOTH encodes (amp 128 under
      // the doc id, amp 127 re-encode under id + 1e9) — proving banding
      // drops nothing AND that every original/re-encode pair surfaces.
      s"""WITH ${AudioEhashCte("(128, 0), (127, 1000000000)")}
        |SELECT a.mid AS a_id, b.mid AS b_id,
        | CAST(bit_count(xor(a.ehash, b.ehash)) AS BIGINT) AS hamming
        |FROM eh a JOIN eh b ON a.mid < b.mid
        |WHERE bit_count(xor(a.ehash, b.ehash)) <= 7""".stripMargin),

    // ---- compressed-corpus ingest roundtrip: every document's text is
    // gzip'd distributed (writer half) and gunzip'd distributed with the
    // zip-bomb cap (reader half); the oracle is the identity derivation —
    // text and its byte length straight from the table. --------------------
    QueryCase("q364_gzip_roundtrip", (s, dir) =>
      Multimodal.gunzipText(MediaFixtures.syntheticGzipDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("text_out")),
      // q364: identity derivation — a correct compress/decompress roundtrip
      // must reproduce the text column and its byte length exactly (text is
      // pure ASCII in this corpus, so strlen == octet_length; asserted by
      // the q149-family oracles).
      """SELECT doc_id AS media_id,
        | CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        | coalesce(text, '') AS text_out
        |FROM documents""".stripMargin),

    // ---- video container metadata: a real RIFF AVI header walk over
    // the synthetic 4-frame corpus; every avih field derives from the
    // anchor id, so the oracle is fully analytic. ---------------------------
    QueryCase("q374_video_meta", (s, dir) =>
      Multimodal.videoMeta(MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("usec_per_frame")),
      // q374: every avih field is a pure function of the anchor id; the
      // clamp keeps only anchors whose 4 frame sources exist. (Shared with
      // q382, whose gzip roundtrip must land on the identical bytes.)
      VideoMetaOracleSql),

    // ---- deterministic frame sampling (k = 2 of 4 → indices 0 and 2 by
    // the evenly-spaced rule): frames extracted by the movi byte walk;
    // each sampled frame is a real BMP whose byte length the oracle
    // derives from the source doc's geometry formula. ------------------------
    QueryCase("q375_video_frame_sample", (s, dir) =>
      Multimodal.sampleVideoFrames(
        MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")), k = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("n_bytes")),
      // q375: the evenly-spaced index rule ((i·n)//take) and the BMP size
      // formula of each sampled frame's SOURCE doc geometry.
      FrameSampleOracleSql),

    // ---- the video near-dup leg: sampled frames fingerprint through the
    // REAL BMP dHash. Frame f of video v IS the q349 image of doc v+2f,
    // so the oracle replays the full 9×8 analytic dHash chain and joins
    // it to the frame table — a cross-modal identity any mistake in the
    // sampler, the chunk walk, or the decoder breaks. ------------------------
    QueryCase("q376_video_frame_dhash", (s, dir) =>
      Multimodal.videoFrameDhash(
        MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")), k = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("dhash")),
      // q376: the q349 analytic dHash chain joined to the frame table on
      // the frame-source identity (frame f of video v = image of doc
      // v + 2f) — sampler, movi walk, and BMP decode all on the hook.
      s"""WITH $DhashCte,
         |v AS (SELECT doc_id AS vid FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)),
         |fr AS (SELECT vid, f.f AS frame_idx,
         |  CASE WHEN f.f = 3 THEN vid ELSE vid + 2 * f.f END AS src
         |       FROM v CROSS JOIN range(4) f(f))
         |SELECT fr.vid AS media_id, CAST(fr.frame_idx AS BIGINT) AS frame_idx, dh.dhash
         |FROM fr JOIN dh ON dh.media_id = fr.src""".stripMargin),

    // ---- VIDEO near-dup pairs: the sampled-frame fingerprints through
    // the same banded Hamming join images (q350) and text (q353) use —
    // the third modality of the family. The oracle brute-forces all
    // frame pairs over the analytic dHash chain, so it again PROVES the
    // banding drops nothing. -------------------------------------------------
    QueryCase("q377_video_neardup", (s, dir) =>
      Dedup.hammingPairs(
        Multimodal.videoFrameDhash(
          MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")), k = 4)
          .toDF()
          .select((col("media_id") * 4 + col("frame_idx")).as("id"),
            col("dhash").as("hash")),
        maxHamming = 7, bands = 8),
      // q377: brute-forced pairs over the q376 frame-fingerprint table —
      // matching it proves the 8x8 banding is lossless on video frames too.
      s"""WITH $DhashCte,
         |v AS (SELECT doc_id AS vid FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)),
         |fr AS (SELECT vid, f.f AS frame_idx,
         |  CASE WHEN f.f = 3 THEN vid ELSE vid + 2 * f.f END AS src
         |       FROM v CROSS JOIN range(4) f(f)),
         |fh AS (SELECT fr.vid * 4 + fr.frame_idx AS id, dh.dhash AS h
         |       FROM fr JOIN dh ON dh.media_id = fr.src)
         |SELECT a.id AS a_id, b.id AS b_id,
         | CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM fh a JOIN fh b ON a.id < b.id
         |WHERE bit_count(xor(a.h, b.h)) <= 7""".stripMargin),

    // ---- REAL thumbnailing: every synthetic image resizes to 8×8 by the
    // integer nearest-neighbor map, then the real pixel walk sums the
    // thumbnail's channels. The oracle recomputes every one of the 192
    // sampled source bytes analytically — the resample map, the BMP
    // round-trip and the stats walk all on the hook. -------------------------
    QueryCase("q378_image_resize", (s, dir) =>
      Multimodal.imageStats(
        Multimodal.resizeImages(
          MediaFixtures.syntheticMedia(t(s, dir, "documents")), w = 8, h = 8))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q378: every one of the 8x8x3 thumbnail bytes recomputed from the
      // source formula — nearest-neighbor source pixel (X*w//8, Y*h//8),
      // bottom-up offset, text-byte cycle — then the channel sums.
      """WITH d AS (
        | SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 0),
        |par AS (SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
        |  8 + doc_id % 16 AS h FROM d),
        |geom AS (SELECT *, ((24 * w + 31) // 32) * 4 AS row_size FROM par),
        |px AS (
        | SELECT doc_id,
        |  (h - 1 - (yy.y * h) // 8) * row_size + 3 * ((xx.x * w) // 8) + cc.c AS o,
        |  cc.c AS c, l, t
        | FROM geom CROSS JOIN range(8) yy(y) CROSS JOIN range(8) xx(x)
        |   CROSS JOIN range(3) cc(c)),
        |v AS (SELECT doc_id, c,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(o % l AS INT) + 1, 1)) END AS v
        | FROM px)
        |SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height, CAST(64 AS BIGINT) AS n_pixels,
        | CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r
        |FROM v GROUP BY doc_id""".stripMargin),

    // ---- REAL audio downsampling: every synthetic WAV resamples to
    // 6 kHz by the integer nearest-neighbor map, then the real PCM scan
    // sums the result. The oracle recomputes every output sample from
    // the source formula at the remapped index — resampler, WAV
    // round-trip and stats walk all on the hook (q378's audio twin). --------
    QueryCase("q381_audio_resample", (s, dir) =>
      Multimodal.audioStats(
        Multimodal.resampleAudio(
          MediaFixtures.syntheticMedia(t(s, dir, "documents")), dstRate = 6000))
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("energy"), col("mean_abs"), col("peak_abs")),
      // q381: the q149 analytic sample formula at the nearest-neighbor
      // remapped index (i·srcRate // 6000), output length n·6000 // srcRate
      // — then the same integer PCM statistics.
      """WITH d AS (
        | SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 1),
        |par AS (
        | SELECT doc_id, t, strlen(t) AS l, 500 + doc_id % 1000 AS n,
        |  8000 + (doc_id % 8) * 1000 AS rate
        | FROM d),
        |res AS (SELECT *, (n * 6000) // rate AS n_out FROM par),
        |ix AS (SELECT doc_id, n_out, t, l, rate, unnest(range(n_out)) AS i FROM res),
        |v AS (
        | SELECT doc_id, n_out,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(((i * rate) // 6000) % l AS INT) + 1, 1)) * 128 END AS s
        | FROM ix)
        |SELECT doc_id AS media_id, CAST(6000 AS BIGINT) AS sample_rate,
        | CAST(n_out AS BIGINT) AS n_samples,
        | CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
        | CAST(sum(s) // n_out AS BIGINT) AS mean_abs,
        | CAST(max(s) AS BIGINT) AS peak_abs
        |FROM v GROUP BY doc_id, n_out""".stripMargin),

    // ---- compressed BINARY ingest roundtrip (the WARC shape: gzip'd
    // container members): synthetic AVIs gzip distributed, gunzip
    // distributed under the zip-bomb cap, and parse — matching q374's
    // oracle proves the binary roundtrip byte-preserving through the
    // whole chain. -----------------------------------------------------------
    QueryCase("q382_gzip_video_ingest", (s, dir) =>
      Multimodal.videoMeta(
        Multimodal.gunzipMedia(
          Multimodal.gzipMedia(
            MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")))))
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("usec_per_frame")),
      // q382: q374's derivation verbatim — the gzip/gunzip roundtrip must
      // reproduce the container bytes exactly for the parse to agree.
      VideoMetaOracleSql),

    // ---- the vision-encoder preprocessing COMPOSITE: sample k frames,
    // thumbnail each to 8×8, stat the pixels — movi walk, per-frame BMP
    // decode, nearest-neighbor resample and the stats walk in one plan.
    // The oracle recomputes every thumbnail byte from the frame-source
    // identity (frame f of video v = image of doc v+2f, f=3 repeats 0)
    // through q378's resample arithmetic. ------------------------------------
    QueryCase("q383_video_thumbnails", (s, dir) => {
      import s.implicits._
      Multimodal.imageStats(
        Multimodal.videoThumbnails(
          MediaFixtures.syntheticFrameVideos(t(s, dir, "documents")),
          k = 4, w = 8, h = 8)
          .map(fr => Multimodal.MediaRow(fr.media_id * 4 + fr.frame_idx, "image",
            fr.payload, "image/bmp", fr.n_bytes)))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r"))
    },
      // q383: q378's 8x8 resample arithmetic applied per FRAME through the
      // q376 frame-source identity — sampler, decoder, resampler and stats
      // walk all replayed from the id formulas.
      """WITH vv AS (SELECT doc_id AS vid FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)),
        |fr AS (SELECT vid, f.f AS frame_idx,
        |  CASE WHEN f.f = 3 THEN vid ELSE vid + 2 * f.f END AS src
        | FROM vv CROSS JOIN range(4) f(f)),
        |d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |par AS (SELECT fr.vid, fr.frame_idx, d.t, strlen(d.t) AS l,
        |  8 + fr.src % 24 AS w, 8 + fr.src % 16 AS h
        | FROM fr JOIN d ON d.doc_id = fr.src),
        |geom AS (SELECT *, ((24 * w + 31) // 32) * 4 AS row_size FROM par),
        |px AS (
        | SELECT vid, frame_idx,
        |  (h - 1 - (yy.y * h) // 8) * row_size + 3 * ((xx.x * w) // 8) + cc.c AS o,
        |  cc.c AS c, l, t
        | FROM geom CROSS JOIN range(8) yy(y) CROSS JOIN range(8) xx(x)
        |   CROSS JOIN range(3) cc(c)),
        |v2 AS (SELECT vid, frame_idx, c,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(o % l AS INT) + 1, 1)) END AS v
        | FROM px)
        |SELECT vid * 4 + frame_idx AS media_id, CAST(8 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height, CAST(64 AS BIGINT) AS n_pixels,
        | CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r
        |FROM v2 GROUP BY vid, frame_idx""".stripMargin),

    // ---- REAL PNG decode feature extraction: per-channel pixel sums
    // through the full chunk-walk + zlib-inflate + filter-reconstruction
    // decoder over synthesized real PNGs (every doc; geometry from the q150
    // id formula, pixels the text bytes cycled top-down UNPADDED — PNG
    // scanlines carry no row padding, so the oracle's byte formula is a
    // plain modulus, RGB channel order). ------------------------------------
    QueryCase("q386_png_stats", (s, dir) =>
      Multimodal.imageStats(MediaFixtures.syntheticPngMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q386: the q150 idiom minus row padding — PNG scanlines are
      // unpadded, so byte j of the pixel stream is channel j%3 (RGB order:
      // 0→r, 1→g, 2→b) and the cycled-text formula is a plain modulus.
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |par AS (SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
        |  8 + doc_id % 16 AS h FROM d),
        |ix AS (SELECT doc_id, w, h, t, l, unnest(range(3 * w * h)) AS j FROM par),
        |px AS (SELECT doc_id, w, h, j % 3 AS c,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST(j % l AS INT) + 1, 1)) END AS v
        | FROM ix)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        | CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels,
        | CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r
        |FROM px GROUP BY doc_id, w, h""".stripMargin),

    // ---- PNG perceptual fingerprints: the q349 dHash through the PNG
    // decoder — same 9×8 grid, top-down unpadded geometry; the oracle
    // replays the grid on the cycled-byte formula. --------------------------
    QueryCase("q387_png_dhash", (s, dir) =>
      Multimodal.imageDhash(MediaFixtures.syntheticPngMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("dhash")),
      // q387: the q349 grid replay in PNG geometry — top-down rows, no row
      // padding, base = 3·(y·w + x); gray is channel-order-free.
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |par AS (SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
        |  8 + doc_id % 16 AS h FROM d),
        |cells AS (
        | SELECT doc_id, l, t,
        |  3 * ((((2 * cy.cy + 1) * h) // 16) * w + ((2 * cx.cx + 1) * w) // 18) AS base,
        |  cy.cy AS cy, cx.cx AS cx
        | FROM par CROSS JOIN range(8) cy(cy) CROSS JOIN range(9) cx(cx)),
        |gcell AS (
        | SELECT doc_id, cy, cx,
        |  ((CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST(base % l AS INT) + 1, 1)) END)
        |   + (CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST((base + 1) % l AS INT) + 1, 1)) END)
        |   + (CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST((base + 2) % l AS INT) + 1, 1)) END)) // 3 AS gray
        | FROM cells),
        |dh AS (
        | SELECT a.doc_id AS media_id,
        |  CAST(coalesce(sum(CASE WHEN a.gray < b.gray THEN
        |    CASE WHEN a.cy * 8 + a.cx = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
        |         ELSE CAST(CAST(1 AS BIGINT) << (a.cy * 8 + a.cx) AS HUGEINT) END
        |    ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
        | FROM gcell a JOIN gcell b
        |   ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
        | WHERE a.cx < 8
        | GROUP BY 1)
        |SELECT dh.media_id, CAST(p.w AS BIGINT) AS width,
        | CAST(p.h AS BIGINT) AS height, dh.dhash
        |FROM dh JOIN par p ON p.doc_id = dh.media_id""".stripMargin),

    // ---- PNG thumbnailing: nearest-neighbor resize to 8×8 through the
    // real decoder/encoder, verified by per-channel sums of the resized
    // pixels — the oracle replays the integer source-pixel map. -------------
    QueryCase("q388_png_resize", (s, dir) =>
      Multimodal.imageStats(
        Multimodal.resizeImages(
          MediaFixtures.syntheticPngMedia(t(s, dir, "documents")), w = 8, h = 8))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q388: the integer source-pixel map replayed — target (x, y) of the
      // 8×8 thumbnail reads source (x·w//8, y·h//8), then the q386 channel
      // sums over the 64 sampled pixels.
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
        |par AS (SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
        |  8 + doc_id % 16 AS h FROM d),
        |tgt AS (
        | SELECT doc_id, t, l,
        |  3 * (((yy.y * h) // 8) * w + (xx.x * w) // 8) AS base
        | FROM par CROSS JOIN range(8) yy(y) CROSS JOIN range(8) xx(x)),
        |ch AS (
        | SELECT doc_id, cc.c AS c,
        |  CASE WHEN l = 0 THEN 0
        |   ELSE ascii(substring(t, CAST((base + cc.c) % l AS INT) + 1, 1)) END AS v
        | FROM tgt CROSS JOIN range(3) cc(c))
        |SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width,
        | CAST(8 AS BIGINT) AS height, CAST(64 AS BIGINT) AS n_pixels,
        | CAST(sum(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
        | CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r
        |FROM ch GROUP BY doc_id""".stripMargin),

    // ---- format normalization invariant: BMP corpus transcoded to PNG
    // (decode padded bottom-up BGR → re-encode unpadded top-down RGB →
    // decode again) fingerprints BIT-IDENTICALLY — the output equals
    // q349's, so the oracle is q349's replay verbatim. Proves the two
    // decoders agree pixel-for-pixel end to end. ----------------------------
    QueryCase("q389_transcode_dhash", (s, dir) =>
      Multimodal.imageDhash(
        Multimodal.transcodeToPng(
          MediaFixtures.syntheticMedia(t(s, dir, "documents"))))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("dhash")),
      // q389: transcoding must be pixel-invisible, so the oracle is q349's
      // replay VERBATIM — if the BMP decoder, PNG encoder and PNG decoder
      // disagree anywhere, the hashes diverge and this query goes red.
      s"""WITH $DhashCte
         |SELECT dh.media_id, CAST(p.w AS BIGINT) AS width,
         | CAST(p.h AS BIGINT) AS height, dh.dhash
         |FROM dh JOIN par p ON p.doc_id = dh.media_id""".stripMargin),

    // ---- charset sniff + transcode at crawl ingest (BOM → meta
    // declaration → strict UTF-8 validation → flagged windows-1252
    // fallback): a five-leg mixed-encoding corpus — ASCII, BOM'd UTF-8,
    // BOM'd UTF-16LE, meta-declared latin-1, and UNDECLARED latin-1
    // (the leg that must fall back flagged) — decodes to UTF-8 text
    // before the HTML/lexical chain. The oracle derives label, flags and
    // transcoded text from the id formula byte-for-byte (é = chr(233)). -----
    QueryCase("q390_charset_decode", (s, dir) =>
      Multimodal.decodeCharset(
        MediaFixtures.syntheticEncodedDocs(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id").as("doc_id"), col("encoding"), col("bom"),
          col("mojibake_risk"), col("text_out")),
      // q390: pure identity derivation — each leg's label/flags are fixed
      // by the residue and the transcoded text is the ASCII text plus the
      // leg's known non-ASCII tail (chr(233) = é, identical in latin-1 and
      // windows-1252 for bytes ≥ 0xA0); the BOM'd legs strip their BOM.
      // Declared iso-8859-1 aliases to windows-1252 per WHATWG (the
      // mislabeled-page rule), so legs 3 and 4 share the label.
      """SELECT doc_id,
        | CASE WHEN doc_id % 5 = 2 THEN 'utf-16le'
        |  WHEN doc_id % 5 IN (3, 4) THEN 'windows-1252' ELSE 'utf-8' END AS encoding,
        | doc_id % 5 IN (1, 2) AS bom,
        | doc_id % 5 = 4 AS mojibake_risk,
        | CASE doc_id % 5
        |  WHEN 1 THEN coalesce(text, '') || ' ' || chr(233)
        |  WHEN 3 THEN '<meta charset="iso-8859-1">' || coalesce(text, '') || chr(233)
        |  WHEN 4 THEN coalesce(text, '') || chr(233)
        |  ELSE coalesce(text, '') END AS text_out
        |FROM documents""".stripMargin),

    // ---- REAL baseline JPEG decode (Huffman + DCT, the format most
    // web images use): per-channel sums through the full marker walk /
    // entropy decode / dequant / IDCT over the flat-even-block fixture,
    // where quantization is provably the identity — analytic oracle
    // through a genuinely lossy codec. Even ids grayscale, odd ids the
    // 4:4:4 color path with gray values (exact YCbCr). ----------------------
    QueryCase("q395_jpeg_stats", (s, dir) =>
      Multimodal.imageStats(MediaFixtures.syntheticJpegMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q395: the flat-block derivation — every 8×8 block decodes to its
      // formula value exactly (even values make dequantization the
      // identity), so channel sums are Σ 64·v over the block grid; gray
      // and color legs share the formula (gray pixels through YCbCr are
      // exact).
      JpegFlatStatsSql),

    // ---- JPEG perceptual fingerprints: the q349 dHash grid over the
    // DECODED flat-block pixels — gray(x, y) = the block formula, so the
    // oracle replays the grid analytically through the lossy codec. --------
    QueryCase("q396_jpeg_dhash", (s, dir) =>
      Multimodal.imageDhash(MediaFixtures.syntheticJpegMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("dhash")),
      // q396: the q349/q387 grid replay where gray at a sample point IS
      // the block formula of its 8×8 cell.
      """WITH par AS (SELECT doc_id, 8 * (1 + doc_id % 3) AS w,
        |  8 * (1 + doc_id % 2) AS h FROM documents),
        |cells AS (
        | SELECT doc_id, cy.cy AS cy, cx.cx AS cx,
        |  (((2 * cx.cx + 1) * w) // 18) // 8 AS bx,
        |  (((2 * cy.cy + 1) * h) // 16) // 8 AS byy
        | FROM par CROSS JOIN range(8) cy(cy) CROSS JOIN range(9) cx(cx)),
        |gcell AS (
        | SELECT doc_id, cy, cx,
        |  2 * ((doc_id * 7 + bx * 13 + byy * 29) % 128) AS gray
        | FROM cells),
        |dh AS (
        | SELECT a.doc_id AS media_id,
        |  CAST(coalesce(sum(CASE WHEN a.gray < b.gray THEN
        |    CASE WHEN a.cy * 8 + a.cx = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
        |         ELSE CAST(CAST(1 AS BIGINT) << (a.cy * 8 + a.cx) AS HUGEINT) END
        |    ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
        | FROM gcell a JOIN gcell b
        |   ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
        | WHERE a.cx < 8
        | GROUP BY 1)
        |SELECT dh.media_id, CAST(p.w AS BIGINT) AS width,
        | CAST(p.h AS BIGINT) AS height, dh.dhash
        |FROM dh JOIN par p ON p.doc_id = dh.media_id""".stripMargin),

    // ---- third-format normalization invariant: JPEG → PNG transcode
    // (real decode, lossless re-emit) must preserve every pixel sum —
    // the oracle is q395's VERBATIM, so any disagreement between the
    // JPEG decoder and the PNG writer/decoder chain goes red. ---------------
    QueryCase("q397_jpeg_transcode", (s, dir) =>
      Multimodal.imageStats(
        Multimodal.transcodeToPng(
          MediaFixtures.syntheticJpegMedia(t(s, dir, "documents"))))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q397: transcoding must be pixel-invisible across the THIRD format
      // too — the oracle is q395's verbatim.
      JpegFlatStatsSql),

    // ---- PROGRESSIVE JPEG decode (SOF2 — a double-digit share of web
    // JPEGs; a corpus pipeline that quarantines them all has a silent
    // coverage hole in image dedup): the q395 flat-block fixture
    // re-emitted as progressive scan scripts (spectral selection +
    // DC/AC successive approximation), decoded through the full Annex G
    // accumulation. The oracle is q395's VERBATIM — progressive and
    // baseline must land on identical pixels. -------------------------------
    QueryCase("q406_jpeg_progressive", (s, dir) =>
      Multimodal.imageStats(
        MediaFixtures.syntheticProgressiveJpegMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q406: q395's flat-block derivation verbatim — the progressive
      // scan accumulation must reconstruct the identical pixels.
      JpegFlatStatsSql),

    // ---- GIF decode (the q150/q406 family, fourth image format): REAL
    // GIF89a files — LZW-compressed, interlaced on even ids, GCE on odd
    // ids, an ignored second frame every 5th — through the first-frame
    // decoder into integer-exact pixel stats; every pixel replays from
    // the palette/index id formulas in the oracle. ------------------------
    QueryCase("q418_gif_decode", (s, dir) =>
      Multimodal.imageStats(MediaFixtures.syntheticGifMedia(
        t(s, dir, "documents").select(col("doc_id"))))
        .toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"),
          col("sum_b"), col("sum_g"), col("sum_r")),
      // q418: every pixel from the palette/index formulas — interlace and
      // the second frame are invisible to order-free sums BY DESIGN (the
      // sbt spec pins row order via dHash parity with a BMP of the same
      // pixels and via javax.imageio cross-decode).
      """WITH par AS (SELECT doc_id, 8 + (doc_id % 3) * 7 AS w,
        |  5 + (doc_id % 4) * 3 AS h FROM documents),
        |px AS (
        | SELECT doc_id, w, h, (x.x * 5 + y.y * 11 + doc_id) % 64 AS i
        | FROM par CROSS JOIN range(22) x(x) CROSS JOIN range(14) y(y)
        | WHERE x.x < w AND y.y < h),
        |s AS (SELECT doc_id, w, h,
        |  CAST(sum(255 - 3 * i) AS BIGINT) AS sb,
        |  CAST(sum((i * 7) % 256) AS BIGINT) AS sg,
        |  CAST(sum(4 * i) AS BIGINT) AS sr
        | FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
        | CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels,
        | sb AS sum_b, sg AS sum_g, sr AS sum_r
        |FROM s""".stripMargin),

    // ---- ISO-BMFF (MP4) container metadata: the moov/mvhd/trak/tkhd/
    // mdhd/hdlr/stsd/stts box walk over the synthetic two-track corpus
    // (video on every doc, audio on even docs) — one row per TRACK,
    // dims from tkhd's 16.16 fixed point, frame counts from the stts
    // runs, durations on each track's own media clock; every field an
    // id formula, so the oracle is fully analytic. --------------------------
    QueryCase("q425_mp4_tracks", (s, dir) =>
      Multimodal.mp4Tracks(MediaFixtures.syntheticMp4s(t(s, dir, "documents"))),
      // q425: both track legs straight from the id formulas — the video
      // leg on every doc (µs clock, so track_duration = n·delta), the
      // audio leg on even docs with the 8 kHz → µs movie-clock rescale
      // (n·320/8000 s = n·40000 µs) feeding the movie duration max.
      """WITH v AS (
        | SELECT doc_id, 3 + doc_id % 4 AS nv,
        |  20000 + (doc_id % 3) * 5000 AS dv
        | FROM documents),
        |a AS (
        | SELECT doc_id, 5 + doc_id % 7 AS na
        | FROM documents WHERE doc_id % 2 = 0),
        |md AS (
        | SELECT v.doc_id, greatest(v.nv * v.dv, coalesce(a.na * 40000, 0)) AS mdur
        | FROM v LEFT JOIN a USING (doc_id))
        |SELECT v.doc_id AS media_id, CAST(1000000 AS BIGINT) AS movie_timescale,
        | CAST(md.mdur AS BIGINT) AS movie_duration, CAST(1 AS BIGINT) AS track_id,
        | 'vide' AS handler, 'avc1' AS codec,
        | CAST(16 + (v.doc_id % 8) * 4 AS INT) AS width,
        | CAST(12 + (v.doc_id % 5) * 4 AS INT) AS height,
        | CAST(1000000 AS BIGINT) AS track_timescale,
        | CAST(nv * dv AS BIGINT) AS track_duration,
        | CAST(nv AS BIGINT) AS n_samples, CAST(dv AS BIGINT) AS sample_delta
        |FROM v JOIN md USING (doc_id)
        |UNION ALL
        |SELECT a.doc_id, 1000000, md.mdur, 2, 'soun', 'mp4a', 0, 0, 8000,
        | na * 320, na, 320
        |FROM a JOIN md USING (doc_id)""".stripMargin),

    // ---- MPEG audio metadata by frame-header walk (no audio decode):
    // sync scan with strict tiling over the synthetic Layer III corpus
    // — MPEG1 and MPEG2 clocks, CBR and alternating-bitrate VBR files,
    // ID3v2/ID3v1 tags skipped — frame counts exact, duration on the
    // sample clock, frame-0 bitrate + VBR flag; every field an id
    // formula. --------------------------------------------------------------
    QueryCase("q427_mp3_meta", (s, dir) =>
      Multimodal.mp3Meta(MediaFixtures.syntheticMp3s(t(s, dir, "documents"))),
      // q427: version, clock, frame count, floor-µs duration and the
      // bitrate-table lookups replayed straight from the id formulas
      // (VBR files report frame 0's bitrate, i.e. the base index).
      """WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN '2' ELSE '1' END AS ver,
        |  20 + doc_id % 9 AS n,
        |  4 + (doc_id % 4) * 3 AS bi
        | FROM documents),
        |r AS (
        | SELECT doc_id, ver, n, bi,
        |  CASE WHEN ver = '1' THEN
        |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |  ELSE
        |    CASE doc_id % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000 ELSE 16000 END
        |  END AS rate,
        |  CASE WHEN ver = '1' THEN 1152 ELSE 576 END AS spf,
        |  CASE WHEN ver = '1' THEN
        |    CASE bi WHEN 4 THEN 56 WHEN 7 THEN 96 WHEN 10 THEN 160 ELSE 256 END
        |  ELSE
        |    CASE bi WHEN 4 THEN 32 WHEN 7 THEN 56 WHEN 10 THEN 96 ELSE 144 END
        |  END AS kbps
        | FROM p)
        |SELECT doc_id AS media_id, ver AS mpeg_version, CAST(3 AS INT) AS layer,
        | CAST(rate AS INT) AS sample_rate, CAST(n AS BIGINT) AS n_frames,
        | CAST((n * spf * 1000000) // rate AS BIGINT) AS duration_us,
        | CAST(kbps AS INT) AS bitrate_kbps,
        | doc_id % 6 = 1 AS vbr
        |FROM r""".stripMargin),

    // ---- MP4 frame sampling: the q375 sampler over the ISO-BMFF
    // corpus — the stsz/stsc/stco sample-table walk resolves each
    // requested frame to an absolute byte span (3+1 chunk layout, so
    // every file crosses a chunk boundary) and the extracted frames
    // are byte-identical to the AVI corpus's (same BMPs, same
    // geometry formulas), which is why the oracle IS q375's, shared
    // verbatim. -------------------------------------------------------------
    QueryCase("q428_mp4_frame_sample", (s, dir) =>
      Multimodal.sampleVideoFrames(
        MediaFixtures.syntheticFrameVideos(t(s, dir, "documents"), mp4 = true), k = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("n_bytes")),
      // q428: the SAME derivation verbatim — the MP4 sampler must land on
      // byte-identical frames (the cross-container identity).
      FrameSampleOracleSql),

    // ---- Ogg audio identity (the podcast container): Vorbis on even
    // docs, Opus on odd, each BOS page carrying its real RFC 3533 CRC
    // — codec, clock and channel count straight from the id packet. ----------
    QueryCase("q437_ogg_meta", (s, dir) => {
      import s.implicits._
      import graft.functions.BinaryCodecs
      val media = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val packet =
            if (id % 2 == 0) BinaryCodecs.vorbisIdPacket(
              8000 + (id % 4).toInt * 4000, 1 + ((id / 2) % 2).toInt)
            else BinaryCodecs.opusIdPacket(48000, 1 + (id % 3).toInt)
          val p = BinaryCodecs.ogg(packet, serial = id.toInt)
          Multimodal.MediaRow(id, "audio", p, "audio/ogg", p.length.toLong)
        }
      Multimodal.oggMeta(media)
    },
      // q437: the parity routing — vorbis rate formula on even docs,
      // opus 48k on odd, channel formulas per dialect.
      """SELECT doc_id AS media_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 4) * 4000
        |  ELSE 48000 END AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2
        |  ELSE 1 + doc_id % 3 END AS INT) AS channels
        |FROM documents""".stripMargin),

    // ---- FLAC STREAMINFO (the lossless-audio family): fixed-layout
    // decode of the spec-mandatory first metadata block — rate,
    // channels, bit depth, total samples; a zero total is the spec's
    // "unknown" and yields a null duration rather than a fake zero.
    // Routed through the same triage surface as every other family. ----------
    QueryCase("q435_flac_meta", (s, dir) => {
      import s.implicits._
      val media = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val total = if (id % 9 == 0) 0L else 44100L + (id % 1000) * 50L
          val p = graft.functions.BinaryCodecs.flac(
            32000 + (id % 5).toInt * 8000, 1 + (id % 2).toInt, 16, total)
          Multimodal.MediaRow(id, "audio", p, "audio/flac", p.length.toLong)
        }
      Multimodal.mediaTriage(media).toDF()
        .select(col("media_id"), col("format"), col("parsed"),
          col("sample_rate"), col("duration_us"))
    },
      // q435: rate/total formulas, the 9≡0 unknown-total leg null.
      """SELECT doc_id AS media_id, 'flac' AS format, TRUE AS parsed,
        | CAST(32000 + (doc_id % 5) * 8000 AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 9 = 0 THEN NULL
        |  ELSE ((44100 + (doc_id % 1000) * 50) * 1000000) //
        |       (32000 + (doc_id % 5) * 8000) END AS BIGINT) AS duration_us
        |FROM documents""".stripMargin),

    // ---- WebP canvas dims (the image format a third of the modern
    // web serves): the VP8X extended-header read through the triage
    // surface; the VP8/VP8L wire variants are spec-pinned in the sbt
    // spec with hand-built headers. -------------------------------------------
    QueryCase("q436_webp_dims", (s, dir) => {
      import s.implicits._
      val media = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map { id =>
          val p = graft.functions.BinaryCodecs.webp(
            10 + (id % 100).toInt, 5 + (id % 50).toInt)
          Multimodal.MediaRow(id, "image", p, "image/webp", p.length.toLong)
        }
      Multimodal.mediaTriage(media).toDF()
        .select(col("media_id"), col("format"), col("parsed"),
          col("width"), col("height"))
    },
      // q436: the minus-one canvas fields undone by the id formulas.
      """SELECT doc_id AS media_id, 'webp' AS format, TRUE AS parsed,
        | CAST(10 + doc_id % 100 AS INT) AS width,
        | CAST(5 + doc_id % 50 AS INT) AS height
        |FROM documents""".stripMargin),

    // ---- KEYFRAME sampling (MP4 stss): the sampler's picks come from
    // the sync-sample table — frames 0 and 3 in the fixture (1-based
    // stss {1,4}), NOT the even-spacing {0,2} of q428, so the result
    // proves stss is actually consulted; frame 3 repeats frame 0, so
    // both sampled frames share the anchor doc's BMP geometry. ---------------
    QueryCase("q434_mp4_keyframes", (s, dir) =>
      Multimodal.sampleKeyframes(
        MediaFixtures.syntheticFrameVideos(t(s, dir, "documents"), mp4 = true), k = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"), col("n_bytes")),
      // q434: both keyframes map to the ANCHOR doc's geometry (frame 3
      // repeats frame 0 by construction), frame indices pinned to the
      // stss picks {0, 3}.
      """WITH v AS (SELECT doc_id AS vid FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)),
        |fr AS (SELECT vid, f.f AS frame_idx FROM v
        |       CROSS JOIN (VALUES (0), (3)) f(f)),
        |geom AS (SELECT vid, frame_idx,
        |  8 + vid % 24 AS w, 8 + vid % 16 AS h FROM fr)
        |SELECT vid AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(54 + ((24 * w + 31) // 32) * 4 * h AS BIGINT) AS n_bytes
        |FROM geom""".stripMargin),

    // ---- ID3v2 audio metadata: the text frames (title/artist/album,
    // TRCK on 4≡1 docs) of every tagged stream, both wire formats —
    // v2.3 plain-u32 ISO-8859-1 on even docs, v2.4 synchsafe UTF-8 on
    // odd — exploded to rows; every value an id formula. -----------------------
    QueryCase("q433_id3_tags", (s, dir) =>
      Multimodal.audioTags(MediaFixtures.syntheticTaggedMp3s(t(s, dir, "documents"))),
      // q433: the four frame formulas in tag order — the v2.3/v2.4 wire
      // split is invisible to the decoded values (ASCII text in both
      // encodings), which is exactly the reader's job.
      """WITH f AS (
        | SELECT doc_id, 0 AS pos, 'TIT2' AS frame_id,
        |  'Title ' || CAST(doc_id AS VARCHAR) AS value FROM documents
        | UNION ALL SELECT doc_id, 1, 'TPE1',
        |  'Artist ' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        | UNION ALL SELECT doc_id, 2, 'TALB',
        |  'Album ' || CAST(doc_id % 3 AS VARCHAR) FROM documents
        | UNION ALL SELECT doc_id, 3, 'TRCK',
        |  CAST(doc_id % 12 + 1 AS VARCHAR) FROM documents WHERE doc_id % 4 = 1)
        |SELECT doc_id AS media_id, CAST(pos AS INT) AS frame_pos, frame_id, value
        |FROM f""".stripMargin),

    // ---- crawl-ARCHIVE media triage, the flagship of the round's
    // multimodal surface: mixed-family payloads arrive as archived
    // HTTP responses (gzip content-coding on even docs, a planted
    // Content-Type mislabel on 10≡9 docs), the wire codings come off
    // in httpResponses, each body runs the same sniff-and-parse rules
    // as q429, and type_matches compares the DECLARED type's promised
    // family with the sniffed one — the integrity signal a decode
    // fleet filters on before paying for a decode the label lied
    // about. ------------------------------------------------------------------
    QueryCase("q432_archive_media_triage", (s, dir) => {
      import s.implicits._
      import graft.functions.BinaryCodecs
      val msgs = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          val inner = MediaFixtures.mixedMediaPayload(id, text)
          val declared =
            if (id % 10 == 9) "image/png" else MediaFixtures.mixedMediaMime(id)
          val (ceHdr, wire) =
            if (id % 2 == 0) ("Content-Encoding: gzip\r\n", BinaryCodecs.gzip(inner))
            else ("", inner)
          val head = s"HTTP/1.1 200 OK\r\nContent-Type: $declared\r\n" +
            ceHdr + "\r\n"
          (id, head.getBytes("US-ASCII") ++ wire,
            s"https://host${id % 20}.example.com/m/$id")
        }.toDF("doc_id", "payload", "uri")
      Multimodal.archiveMediaTriage(
        graft.ops.Warc.httpResponses(
          graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs))))
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("content_type"), col("format"),
          // string-typed: a NULLABLE boolean round-trips asymmetrically
          // through the comparison harness (NaN vs None)
          col("type_matches").cast("string").as("type_matches"),
          col("parsed"), col("width"), col("height"), col("n_frames"),
          col("sample_rate"), col("duration_us"))
    },
      // q432: the same family metadata through the archive lens — the
      // declared Content-Type from the id routing (mislabeled to
      // image/png on 10≡9 docs), type_matches true on honest sniffable
      // rows, false on mislabels (unless the lie is accidentally true:
      // a 10≡9 doc whose family really is png), null where the declared
      // type has no sniffable family.
      (MixedMediaCte +
      """SELECT id AS doc_id,
        | CASE WHEN id % 10 = 9 THEN 'image/png' ELSE
        |   CASE r WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |          WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/jpeg'
        |          WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'video/x-msvideo'
        |          WHEN 6 THEN 'video/mp4' WHEN 7 THEN 'audio/mpeg'
        |          ELSE 'application/octet-stream' END
        | END AS content_type,
        | format,
        | CAST(CASE WHEN id % 10 = 9 THEN format = 'png'
        |      WHEN r = 8 THEN NULL ELSE TRUE END AS VARCHAR) AS type_matches,
        | parsed, width, height, n_frames, sample_rate, duration_us
        |FROM m""".stripMargin)),

    // ---- corpus MEDIA TRIAGE: magic sniff → gunzip-and-resniff one
    // level → header-grain parse, one row per payload ALWAYS (junk
    // surfaces as parsed=false, never a dropped row) — over the
    // nine-family mixed corpus (doc_id%9 picks the container, even
    // docs gzip-wrap). Every family's metadata is an id formula, so
    // the oracle is a routed CASE union. --------------------------------------
    QueryCase("q429_media_triage", (s, dir) =>
      Multimodal.mediaTriage(MediaFixtures.syntheticMixedMedia(t(s, dir, "documents")))
        .toDF(),
      // q429: the nine-family routing replayed as a CASE union — each
      // family's header fields from its own id formulas, the gzip wrap
      // on even docs invisible to everything but the gzipped flag, and
      // the raw-bytes family parsed=false with all fields null.
      (MixedMediaCte +
      """SELECT id AS media_id, format, id % 2 = 0 AS gzipped, parsed,
        | width, height, n_frames, sample_rate, duration_us
        |FROM m""".stripMargin))
  )

  /** The flat-block JPEG stats derivation, shared verbatim by q395 and
    * the q397 transcode invariant (a transcode that changes any pixel
    * breaks the second consumer).
    */
  private lazy val JpegFlatStatsSql: String =
    """WITH par AS (SELECT doc_id, 8 * (1 + doc_id % 3) AS w,
      |  8 * (1 + doc_id % 2) AS h FROM documents),
      |blk AS (
      | SELECT doc_id, w, h,
      |  2 * ((doc_id * 7 + bx.bx * 13 + byy.byy * 29) % 128) AS v
      | FROM par CROSS JOIN range(3) bx(bx) CROSS JOIN range(2) byy(byy)
      | WHERE bx.bx < w // 8 AND byy.byy < h // 8),
      |s AS (SELECT doc_id, w, h, CAST(sum(64 * v) AS BIGINT) AS sv
      |      FROM blk GROUP BY 1, 2, 3)
      |SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
      | CAST(h AS BIGINT) AS height, CAST(w * h AS BIGINT) AS n_pixels,
      | sv AS sum_b, sv AS sum_g, sv AS sum_r
      |FROM s""".stripMargin

  /** The nine-family mixed-media metadata derivation — family label
    * and per-family header fields from the id formulas, ending in CTE
    * `m(id, r, format, parsed, width, height, n_frames, sample_rate,
    * duration_us)` — shared by q429 (standalone payloads) and q432
    * (the same payloads as archived HTTP bodies), so the two lenses
    * cannot drift.
    */
  private lazy val MixedMediaCte: String =
    """WITH b AS (SELECT doc_id AS id, doc_id % 9 AS r FROM documents),
      |m AS (
      | SELECT id, r,
      |  CASE r WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
      |         WHEN 3 THEN 'jpeg' WHEN 4 THEN 'wav' WHEN 5 THEN 'avi'
      |         WHEN 6 THEN 'mp4' WHEN 7 THEN 'mp3' ELSE 'unknown' END AS format,
      |  r <> 8 AS parsed,
      |  CAST(CASE r WHEN 0 THEN 8 + id % 24 WHEN 1 THEN 4 + id % 9
      |         WHEN 2 THEN 6 + id % 5 WHEN 3 THEN 8 * (1 + id % 3)
      |         WHEN 5 THEN 8 + id % 24 WHEN 6 THEN 16 + (id % 8) * 4
      |         ELSE NULL END AS INT) AS width,
      |  CAST(CASE r WHEN 0 THEN 8 + id % 16 WHEN 1 THEN 3 + id % 7
      |         WHEN 2 THEN 4 + id % 6 WHEN 3 THEN 8 * (1 + id % 2)
      |         WHEN 5 THEN 8 + id % 16 WHEN 6 THEN 12 + (id % 5) * 4
      |         ELSE NULL END AS INT) AS height,
      |  CAST(CASE r WHEN 5 THEN 2 WHEN 6 THEN 3 + id % 4
      |         ELSE NULL END AS BIGINT) AS n_frames,
      |  CAST(CASE r WHEN 4 THEN 8000 + (id % 4) * 4000
      |         WHEN 7 THEN CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |                     ELSE 32000 END
      |         ELSE NULL END AS INT) AS sample_rate,
      |  CAST(CASE r
      |   WHEN 4 THEN ((100 + id % 50) * 1000000) // (8000 + (id % 4) * 4000)
      |   WHEN 5 THEN 2 * (33000 + (id % 5) * 1000)
      |   WHEN 6 THEN (3 + id % 4) * (20000 + (id % 3) * 5000)
      |   WHEN 7 THEN ((20 + id % 9) * 1152 * 1000000) //
      |     (CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)
      |   ELSE NULL END AS BIGINT) AS duration_us
      | FROM b)
      |""".stripMargin

  /** The k=2 evenly-spaced frame-sample derivation (indices 0 and 2,
    * BMP byte sizes from the geometry formulas) — shared VERBATIM by
    * q375 (AVI `movi` walk) and q428 (MP4 sample-table walk): the two
    * containers carry the same frames, so one oracle pins both and the
    * cross-container identity cannot drift.
    */
  private lazy val FrameSampleOracleSql: String =
    """WITH v AS (SELECT doc_id AS vid FROM documents
      |  WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)),
      |fr AS (SELECT vid, (f.f * 4) // 2 AS frame_idx FROM v CROSS JOIN range(2) f(f)),
      |geom AS (SELECT vid, frame_idx,
      |  8 + (vid + 2 * frame_idx) % 24 AS w, 8 + (vid + 2 * frame_idx) % 16 AS h
      | FROM fr)
      |SELECT vid AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      | CAST(54 + ((24 * w + 31) // 32) * 4 * h AS BIGINT) AS n_bytes
      |FROM geom""".stripMargin

  /** q374's avih derivation, shared verbatim with q382 (whose gzip
    * roundtrip must land on identical container bytes).
    */
  private lazy val VideoMetaOracleSql: String =
    """SELECT doc_id AS media_id,
      | CAST(8 + doc_id % 24 AS BIGINT) AS width,
      | CAST(8 + doc_id % 16 AS BIGINT) AS height,
      | CAST(4 AS BIGINT) AS n_frames,
      | CAST(33000 + (doc_id % 5) * 1000 AS BIGINT) AS usec_per_frame
      |FROM documents
      |WHERE doc_id % 10 = 0 AND doc_id + 6 <= (SELECT max(doc_id) FROM documents)""".stripMargin

  /** Shared energy-hash replay CTE for q356/q357: the q149 analytic WAV
    * sample formula (ascii byte at i mod len, × amp) bucketed into the 65
    * windows of [[graft.functions.BinaryCodecs.wavEnergyHash]]
    * (`w = i·65 div n`; n ≥ 500 > 65 in this fixture, so every window is
    * populated and all 64 adjacent pairs exist). `ampValues` rows are
    * `(amp, media-id offset)` — q356 replays the syntheticMedia encode,
    * q357 adds the amplitude re-encode leg. Emits `eh(mid, rate, n,
    * ehash)`.
    */
  private def AudioEhashCte(ampValues: String): String =
    s"""d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
      |  WHERE doc_id % 2 = 1),
      |amps(amp, off) AS (VALUES $ampValues),
      |par AS (SELECT doc_id + off AS mid, t, strlen(t) AS l,
      |  500 + doc_id % 1000 AS n, 8000 + (doc_id % 8) * 1000 AS rate, amp
      | FROM d CROSS JOIN amps),
      |ix AS (SELECT mid, rate, n, t, l, amp, unnest(range(n)) AS i FROM par),
      |v AS (SELECT mid, rate, n, CAST((i * 65) // n AS INT) AS w,
      |  CASE WHEN l = 0 THEN 0
      |   ELSE ascii(substring(t, CAST(i % l AS INT) + 1, 1)) * amp END AS s
      | FROM ix),
      |e AS (SELECT mid, rate, n, w, sum(CAST(s AS BIGINT) * s) AS en
      | FROM v GROUP BY mid, rate, n, w),
      |bits AS (SELECT a.mid, a.rate, a.n,
      |  CASE WHEN a.en < b.en THEN
      |    CASE WHEN a.w = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
      |         ELSE CAST(CAST(1 AS BIGINT) << a.w AS HUGEINT) END
      |  ELSE CAST(0 AS HUGEINT) END AS contrib
      | FROM e a JOIN e b ON a.mid = b.mid AND b.w = a.w + 1
      | WHERE a.w < 64),
      |eh AS (SELECT mid, any_value(rate) AS rate, any_value(n) AS n,
      |  CAST(sum(contrib) AS BIGINT) AS ehash FROM bits GROUP BY mid)""".stripMargin

  /** Shared dHash replay CTE for q349/q350: the q150 analytic pixel
    * function sampled at the dHash grid. `dh` = (media_id, dhash); `par`
    * carries (doc_id, w, h).
    */
  private val DhashCte: String =
    """d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 2 = 0),
      |par AS (SELECT doc_id, t, strlen(t) AS l, 8 + doc_id % 24 AS w,
      |  8 + doc_id % 16 AS h FROM d),
      |geom AS (SELECT *, ((24 * w + 31) // 32) * 4 AS row_size FROM par),
      |cells AS (
      | SELECT doc_id, l, t,
      |  (h - 1 - ((2 * cy.cy + 1) * h) // 16) * row_size
      |    + 3 * (((2 * cx.cx + 1) * w) // 18) AS base,
      |  cy.cy AS cy, cx.cx AS cx
      | FROM geom CROSS JOIN range(8) cy(cy) CROSS JOIN range(9) cx(cx)),
      |gcell AS (
      | SELECT doc_id, cy, cx,
      |  ((CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST(base % l AS INT) + 1, 1)) END)
      |   + (CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST((base + 1) % l AS INT) + 1, 1)) END)
      |   + (CASE WHEN l = 0 THEN 0 ELSE ascii(substring(t, CAST((base + 2) % l AS INT) + 1, 1)) END)) // 3 AS gray
      | FROM cells),
      |dh AS (
      | SELECT a.doc_id AS media_id,
      |  CAST(coalesce(sum(CASE WHEN a.gray < b.gray THEN
      |    CASE WHEN a.cy * 8 + a.cx = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
      |         ELSE CAST(CAST(1 AS BIGINT) << (a.cy * 8 + a.cx) AS HUGEINT) END
      |    ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
      | FROM gcell a JOIN gcell b
      |   ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
      | WHERE a.cx < 8
      | GROUP BY 1)""".stripMargin
}
