package graft

import org.apache.spark.sql.functions._
import graft.functions.BinaryCodecs
import graft.functions.BinaryCodecs.Mp4Track
import graft.ops.Multimodal
import graft.fixtures.MediaFixtures

/** ISO-BMFF (MP4) container metadata: the box-tree walk (big-endian
  * sizes, 64-bit largesize, to-end size-0), the moov descent
  * (mvhd/tkhd/mdhd version 0 AND 1, hdlr, stsd fourcc, stts runs), the
  * whole-file quarantine contract on malformed sizes, and the
  * Multimodal routing next to AVI.
  */
class Mp4Spec extends SparkSpec {
  import spark.implicits._

  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xFFFFFFFFL)
  private def box(tp: String, parts: Array[Byte]*): Array[Byte] = {
    val body = parts.foldLeft(Array.emptyByteArray)(_ ++ _)
    be32(8L + body.length) ++ tp.getBytes("US-ASCII") ++ body
  }

  private val twoTrack = BinaryCodecs.mp4(Seq(
    Mp4Track(1L, "vide", "avc1", 64, 48, 1000000L, 25000L, 7L),
    Mp4Track(2L, "soun", "mp4a", 0, 0, 8000L, 320L, 11L)),
    movieTimescale = 1000000L, mdat = "payload".getBytes)

  test("mp4 writer/reader roundtrip: movie clock, both tracks, dims, codecs, stts") {
    val info = BinaryCodecs.mp4Meta(twoTrack).get
    assert(info.timescale == 1000000L)
    // movie duration = max(7*25000, 11*320/8000 s = 11*40000 µs)
    assert(info.duration == math.max(7L * 25000L, 11L * 40000L))
    assert(info.tracks.length == 2)
    val Vector(v, a) = info.tracks
    assert(v == Mp4Track(1L, "vide", "avc1", 64, 48, 1000000L, 25000L, 7L))
    assert(a == Mp4Track(2L, "soun", "mp4a", 0, 0, 8000L, 320L, 11L))
  }

  test("mp4Meta: version-1 boxes (64-bit times), largesize and size-0 boxes parse") {
    // hand-built file: every full box at version 1, mdat with a 64-bit
    // largesize, and a trailing size-0 ("to end of file") free box
    val identity = be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)
    val mvhd = box("mvhd", Array(1.toByte, 0, 0, 0), be64(0), be64(0),
      be32(90000L), be64(180000L), be32(0x00010000L),
      Array(0x01.toByte, 0), new Array[Byte](10), identity,
      new Array[Byte](24), be32(3))
    val tkhd = box("tkhd", Array(1.toByte, 0, 0, 7), be64(0), be64(0),
      be32(9L), be32(0), be64(180000L), new Array[Byte](8),
      new Array[Byte](8), identity,
      be32(320L << 16), be32(240L << 16))
    val mdhd = box("mdhd", Array(1.toByte, 0, 0, 0), be64(0), be64(0),
      be32(90000L), be64(180000L), Array(0x55.toByte, 0xC4.toByte), Array(0, 0))
    val hdlr = box("hdlr", be32(0), be32(0), "vide".getBytes("US-ASCII"),
      new Array[Byte](12), Array(0.toByte))
    val stsd = box("stsd", be32(0), be32(1),
      be32(16) ++ "hvc1".getBytes("US-ASCII") ++ new Array[Byte](6) ++ Array(0.toByte, 1.toByte))
    // two stts runs: delta reported from run 0, count summed exactly
    val stts = box("stts", be32(0), be32(2),
      be32(5L), be32(3000L), be32(4L), be32(1500L))
    val trak = box("trak", tkhd,
      box("mdia", mdhd, hdlr, box("minf", box("stbl", stsd, stts))))
    val mdatBody = "x".getBytes
    val mdat = be32(1) ++ "mdat".getBytes("US-ASCII") ++
      be64(16L + mdatBody.length) ++ mdatBody
    val free = be32(0) ++ "free".getBytes("US-ASCII") ++ "tail bytes".getBytes
    val file = box("ftyp", "isom".getBytes("US-ASCII"), be32(0)) ++
      box("moov", mvhd, trak) ++ mdat ++ free
    val info = BinaryCodecs.mp4Meta(file).get
    assert(info.timescale == 90000L && info.duration == 180000L)
    assert(info.tracks == Vector(
      Mp4Track(9L, "vide", "hvc1", 320, 240, 90000L, 3000L, 9L)))
  }

  test("mp4Meta: malformed input quarantines whole — sizes, counts, missing boxes") {
    assert(BinaryCodecs.mp4Meta("not an mp4 at all".getBytes).isEmpty)
    assert(BinaryCodecs.mp4Meta(Array.emptyByteArray).isEmpty)
    // truncation anywhere quarantines (box size runs past the file)
    assert(BinaryCodecs.mp4Meta(twoTrack.dropRight(1)).isEmpty)
    assert(BinaryCodecs.mp4Meta(twoTrack.take(40)).isEmpty)
    // a corrupted top-level size misframes the walk
    val bad = twoTrack.clone
    bad(0) = 0x7F.toByte // ftyp size high byte → way past EOF
    assert(BinaryCodecs.mp4Meta(bad).isEmpty)
    // size < 8 (non-tiling) quarantines
    val tiny = twoTrack.clone
    tiny(0) = 0; tiny(1) = 0; tiny(2) = 0; tiny(3) = 4
    assert(BinaryCodecs.mp4Meta(tiny).isEmpty)
    // an stts run count that overruns its own box quarantines (hostile
    // counts must not drive reads); find the stts box and bump its count
    val idx = twoTrack.indexOfSlice("stts".getBytes("US-ASCII"))
    val hostile = twoTrack.clone
    hostile(idx + 8) = 0x7F.toByte // entry_count high byte
    assert(BinaryCodecs.mp4Meta(hostile).isEmpty)
    // a file with no moov quarantines
    val noMoov = box("ftyp", "isom".getBytes("US-ASCII"), be32(0)) ++
      box("mdat", "b".getBytes)
    assert(BinaryCodecs.mp4Meta(noMoov).isEmpty)
  }

  test("mp4 sample tables: stsz/stsc/stco roundtrip, chunk boundaries, quarantines") {
    val samples = (0 until 7).map(i => Array.fill[Byte](10 + i * 3)((0x40 + i).toByte))
    val file = BinaryCodecs.mp4WithSamples(
      Seq(Mp4Track(1L, "vide", "avc1", 32, 24, 1000000L, 40000L, 7L)),
      movieTimescale = 1000000L, videoSamples = samples, samplesPerChunk = 3)
    // the table-bearing file still reads as plain metadata
    val info = BinaryCodecs.mp4Meta(file).get
    assert(info.tracks.head.nSamples == 7L)
    // every sample extracts byte-identical — 3+3+1 chunks, so indices
    // 3 and 6 cross chunk boundaries
    val got = BinaryCodecs.mp4Samples(file, 0 until 7).get
    assert(got.map(_._1) == (0 until 7))
    got.foreach { case (i, bytes) => assert(bytes.sameElements(samples(i))) }
    // sparse requests walk the tables once and skip the rest
    val sparse = BinaryCodecs.mp4Samples(file, Seq(6, 2)).get
    assert(sparse.map(_._1) == Seq(2, 6))
    // unknown indices are absent, not errors
    assert(BinaryCodecs.mp4Samples(file, Seq(99)).get.isEmpty)
    // a chunk offset past EOF quarantines (the span bounds check)
    val stcoAt = file.indexOfSlice("stco".getBytes("US-ASCII"))
    val bad = file.clone
    bad(stcoAt + 12) = 0x7F.toByte // chunk 0 offset high byte
    assert(BinaryCodecs.mp4Samples(bad, Seq(0)).isEmpty)
    // a hostile stsz count overrunning its box quarantines
    val szAt = file.indexOfSlice("stsz".getBytes("US-ASCII"))
    val hostile = file.clone
    hostile(szAt + 12) = 0x7F.toByte // sample_count high byte
    assert(BinaryCodecs.mp4Samples(hostile, Seq(0)).isEmpty)
    // a file without sample tables (the metadata-only writer) yields
    // no samples rather than an error-shaped crash
    assert(BinaryCodecs.mp4Samples(twoTrack, Seq(0)).isEmpty)
    // a hostile UNIFORM-size stsz (sample_size != 0) with a huge count
    // must quarantine, not allocate: uniform*count is bounded by the
    // file itself
    val szBody = szAt + 4 // stsz body start (ver/flags at +4)
    val hostileUniform = file.clone
    hostileUniform(szBody + 4) = 0 // sample_size -> 1
    hostileUniform(szBody + 5) = 0
    hostileUniform(szBody + 6) = 0
    hostileUniform(szBody + 7) = 1
    hostileUniform(szBody + 8) = 0x7F.toByte // sample_count -> huge
    assert(BinaryCodecs.mp4Samples(hostileUniform, Seq(0)).isEmpty)
    // a u32 stsc samples-per-chunk past Int.MaxValue must quarantine,
    // not wrap negative and silently skip every sample
    val scAt = file.indexOfSlice("stsc".getBytes("US-ASCII"))
    val wrap = file.clone
    wrap(scAt + 16) = 0x80.toByte // first run's samples_per_chunk high byte
    assert(BinaryCodecs.mp4Samples(wrap, Seq(0)).isEmpty)
  }

  test("stss sync samples: keyframe sampler consults the table, falls back without it") {
    val samples = (0 until 6).map(i => Array.fill[Byte](8 + i)((0x30 + i).toByte))
    val keyed = BinaryCodecs.mp4WithSamples(
      Seq(Mp4Track(1L, "vide", "avc1", 16, 12, 1000000L, 40000L, 6L)),
      movieTimescale = 1000000L, videoSamples = samples, samplesPerChunk = 4,
      syncSamples = Seq(2, 5)) // 1-based: frames 1 and 4 are keyframes
    assert(BinaryCodecs.mp4SyncSamples(keyed).contains(Vector(2L, 5L)))
    // absent stss: ISO says every sample is sync — reader reports None
    // and the sampler falls back to all-samples spacing
    val plain = BinaryCodecs.mp4WithSamples(
      Seq(Mp4Track(1L, "vide", "avc1", 16, 12, 1000000L, 40000L, 6L)),
      movieTimescale = 1000000L, videoSamples = samples, samplesPerChunk = 4)
    assert(BinaryCodecs.mp4SyncSamples(plain).isEmpty)
    // a hostile stss count overrunning its box quarantines
    val ssAt = keyed.indexOfSlice("stss".getBytes("US-ASCII"))
    val hostile = keyed.clone
    hostile(ssAt + 8) = 0x7F.toByte
    assert(BinaryCodecs.mp4SyncSamples(hostile).isEmpty)
    // the sampler: keyed file yields the KEYFRAMES (0-based 1 and 4),
    // byte-identical to the written samples; plain file yields the
    // even spacing (0 and 3)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", keyed, "video/mp4", keyed.length.toLong),
      Multimodal.MediaRow(2L, "video", plain, "video/mp4", plain.length.toLong))
      .toDS()
    val got = Multimodal.sampleKeyframes(media, k = 2).collect()
      .map(f => (f.media_id, f.frame_idx) -> f.payload.toSeq).toMap
    assert(got.keySet == Set((1L, 1L), (1L, 4L), (2L, 0L), (2L, 3L)))
    assert(got((1L, 1L)) == samples(1).toSeq && got((1L, 4L)) == samples(4).toSeq)
    // the PLAIN sampler ignores stss entirely (decode-free spacing)
    val all = Multimodal.sampleVideoFrames(media, k = 2).collect()
      .map(f => (f.media_id, f.frame_idx)).toSet
    assert(all == Set((1L, 0L), (1L, 3L), (2L, 0L), (2L, 3L)))
  }

  test("syntheticFrameVideos: empty and one-row documents give no videos in either container") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((10L, "pixels")).toDF("doc_id", "text")
    for (docs <- Seq(empty, one); mp4 <- Seq(false, true)) {
      val videos = MediaFixtures.syntheticFrameVideos(docs, mp4)
      assert(videos.schema == MediaFixtures.syntheticFrameVideos(one, mp4).schema)
      assert(videos.count() == 0L, s"mp4=$mp4 on ${docs.count()} docs")
    }
  }

  test("sampleVideoFrames routes MP4 next to AVI; frames byte-identical across containers") {
    val docs = (0L until 20L).map(i => (i, s"pixels $i")).toDF("doc_id", "text")
    val avi = Multimodal.sampleVideoFrames(MediaFixtures.syntheticFrameVideos(docs), k = 4)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.payload.toSeq).toMap
    val mp4 = Multimodal.sampleVideoFrames(MediaFixtures.syntheticFrameVideos(docs, mp4 = true), k = 4)
      .collect().map(f => (f.media_id, f.frame_idx) -> f.payload.toSeq).toMap
    assert(avi.nonEmpty && avi.keySet == mp4.keySet)
    // the cross-container identity: same doc, same frame, same bytes —
    // sampler, chunk walk and sample-table walk all on the hook
    avi.foreach { case (k, bytes) => assert(mp4(k) == bytes) }
  }

  test("videoMeta routes AVI and MP4 side by side; soundless-video-less MP4 drops") {
    val avi = BinaryCodecs.avi(32, 16, 40000, Seq("f0".getBytes, "f1".getBytes))
    val audioOnly = BinaryCodecs.mp4(
      Seq(Mp4Track(1L, "soun", "mp4a", 0, 0, 8000L, 320L, 5L)), 1000000L)
    val media = Seq(
      Multimodal.MediaRow(1L, "video", avi, "video/x-msvideo", avi.length.toLong),
      Multimodal.MediaRow(2L, "video", twoTrack, "video/mp4", twoTrack.length.toLong),
      Multimodal.MediaRow(3L, "video", audioOnly, "video/mp4", audioOnly.length.toLong),
      Multimodal.MediaRow(4L, "video", "junk".getBytes, "video/mp4", 4L)).toDS()
    val got = Multimodal.videoMeta(media).collect().sortBy(_.media_id)
    assert(got.map(_.media_id).toSeq == Seq(1L, 2L))
    assert(got(0).width == 32 && got(0).n_frames == 2 && got(0).usec_per_frame == 40000L)
    assert(got(1).width == 64 && got(1).height == 48 &&
      got(1).n_frames == 7 && got(1).usec_per_frame == 25000L)
    // the per-track surface sees ALL parseable MP4s, AVI/junk drop
    val tracks = Multimodal.mp4Tracks(media).collect()
    assert(tracks.map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(tracks.length == 3)
  }
}
