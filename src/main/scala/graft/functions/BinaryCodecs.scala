package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

/** Real pure-JVM binary codecs for the multimodal pipeline: byte-exact
  * writers and parsers for the two classic uncompressed container formats
  * — BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp), WAV (RIFF /
  * `fmt ` / `data`, 16-bit PCM) and the RIFF AVI container (`hdrl`/`avih`
  * metadata + `movi` frame chunks). These are actual on-disk formats, not
  * fakes: a file produced by [[bmp]] opens in any image viewer and one
  * from [[wav]] plays in any audio player. Compressed codecs (JPEG, MP3,
  * H.264) still need native libraries absent from this environment —
  * [[graft.ops.Multimodal.DecodeStub]] remains the documented fallback
  * for payloads these parsers don't recognize.
  */
object BinaryCodecs {

  // ---------------------------------------------------------------- BMP --

  /** 24bpp bottom-up BMP. Rows are padded to 4-byte boundaries per the
    * spec; `pixels` supplies BGR bytes row-major and is cycled/zero-padded
    * to fill the pixel array.
    */
  def bmp(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "bmp dimensions must be positive")
    val rowSize = ((24 * width + 31) / 32) * 4
    val dataSize = rowSize * height
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize) // file size
    buf.putInt(0)             // reserved
    buf.putInt(54)            // pixel-array offset
    buf.putInt(40)            // BITMAPINFOHEADER size
    buf.putInt(width)
    buf.putInt(height)
    buf.putShort(1)           // planes
    buf.putShort(24)          // bpp
    buf.putInt(0)             // BI_RGB (uncompressed)
    buf.putInt(dataSize)
    buf.putInt(2835).putInt(2835) // 72 DPI
    buf.putInt(0).putInt(0)   // palette
    var i = 0
    while (i < dataSize) {
      buf.put(if (pixels.nonEmpty) pixels(i % pixels.length) else 0: Byte)
      i += 1
    }
    buf.array()
  }

  /** The BITMAPFILEHEADER + BITMAPINFOHEADER fields the BMP readers
    * here use: pixel-array offset, width, signed height (negative =
    * top-down rows), bit depth and compression.
    */
  private final case class BmpHeader(
      dataOff: Int, width: Int, height: Int, bpp: Int, compression: Int)

  private val LegalBmpBpp = Set[Short](1, 4, 8, 16, 24, 32)

  /** The one BMP header read. The 2-byte magic alone is far too weak
    * (any text starting with "BM" matches), so the fixed header fields
    * are validated too: BITMAPINFOHEADER size, plane count, a legal bit
    * depth, a positive width and a nonzero height.
    */
  private def bmpHeader(payload: Array[Byte]): Option[BmpHeader] =
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') None
    else {
      val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      val w = buf.getInt(18)
      val h = buf.getInt(22)
      val bpp = buf.getShort(28)
      if (buf.getInt(14) == 40 && buf.getShort(26) == 1 && LegalBmpBpp(bpp) &&
        w > 0 && h != 0)
        Some(BmpHeader(buf.getInt(10), w, h, bpp, buf.getInt(30)))
      else None
    }

  /** (width, height) if the payload is a parseable BMP of any legal bit
    * depth and row order, else None.
    */
  def bmpDimensions(payload: Array[Byte]): Option[(Int, Int)] =
    bmpHeader(payload).map(hd => (hd.width, math.abs(hd.height)))

  /** A 24bpp uncompressed bottom-up BMP as a zero-copy [[Raster]] over
    * its payload: BGR, padded rows, top image row stored last (so the
    * stride is negative). None for any other BMP, and when the padded
    * rows overrun the payload.
    */
  private[graft] def bmpRaster(payload: Array[Byte]): Option[Raster] =
    bmpHeader(payload).flatMap { hd =>
      // rowSize in Long: a crafted header with w ≳ 89.5M wraps 24*w
      // negative in Int, which would pass the bounds check and crash the
      // pixel walk
      val rowSizeL = ((24L * hd.width + 31) / 32) * 4
      if (hd.bpp != 24 || hd.compression != 0 || hd.height < 0 || hd.dataOff < 54 ||
        hd.dataOff.toLong + rowSizeL * hd.height > payload.length) None
      else {
        val rowSize = rowSizeL.toInt // safe: bounded by payload.length above
        Some(Raster(hd.width, hd.height, 3, payload,
          hd.dataOff + (hd.height - 1) * rowSize, -rowSize, bgr = true))
      }
    }

  // ---------------------------------------------------------------- WAV --

  /** 16-bit mono PCM WAV. `samples` are little-endian int16 frames. */
  def wav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0, "sampleRate must be positive")
    val dataSize = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(36 + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16)            // PCM fmt chunk size
    buf.putShort(1)           // PCM
    buf.putShort(1)           // mono
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * 2) // byte rate
    buf.putShort(2)           // block align
    buf.putShort(16)          // bits per sample
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** (sampleRate, nSamples) if the payload is parseable 16-bit mono PCM
    * WAV, else None. Walks the chunk list (spec-conformant files may carry
    * LIST/INFO chunks before `data`).
    */
  def wavMeta(payload: Array[Byte]): Option[(Int, Long)] = {
    if (payload.length < 44) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var sampleRate = -1
    var bytesPerFrame = -1
    var dataBytes = -1L
    while (off + 8 <= payload.length && (sampleRate < 0 || dataBytes < 0)) {
      val id = tag(off)
      val size = buf.getInt(off + 4)
      if (size < 0 || off + 8 + size.toLong > payload.length) return None
      if (id == "fmt " && size >= 16) {
        sampleRate = buf.getInt(off + 12)
        bytesPerFrame = buf.getShort(off + 20).toInt // block align
      } else if (id == "data") {
        dataBytes = size.toLong
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (sampleRate > 0 && bytesPerFrame > 0 && dataBytes >= 0)
      Some((sampleRate, dataBytes / bytesPerFrame))
    else None
  }

  // ---------------------------------------------------------------- AVI --

  /** Minimal spec-conformant RIFF AVI container:
    * `RIFF('AVI ' LIST('hdrl' avih) LIST('movi' '00dc'×frames))` — the
    * header layout every AVI parser reads first (the full spec also
    * carries per-stream headers and an index; players tolerate their
    * absence, and the metadata surface this pipeline needs lives
    * entirely in `avih`). Frame payloads are stored verbatim as `00dc`
    * chunks — [[graft.ops.Multimodal]] writes real BMPs there, so a
    * sampled frame round-trips through the real image decoders.
    */
  def avi(
      width: Int,
      height: Int,
      microSecPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && microSecPerFrame > 0,
      s"avi: width/height/microSecPerFrame must be positive: $width x $height @ $microSecPerFrame")
    val framesSize = frames.map(f => 8L + f.length + (f.length & 1)).sum
    val hdrlSize = 4L + 8L + 56L
    val moviSize = 4L + framesSize
    val riffSize = 4L + (8L + hdrlSize) + (8L + moviSize)
    require(8L + riffSize <= Int.MaxValue, s"avi: payload too large: ${8L + riffSize}")
    val buf = ByteBuffer.allocate((8L + riffSize).toInt).order(ByteOrder.LITTLE_ENDIAN)
    def tag(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    tag("RIFF"); buf.putInt(riffSize.toInt); tag("AVI ")
    tag("LIST"); buf.putInt(hdrlSize.toInt); tag("hdrl")
    tag("avih"); buf.putInt(56)
    buf.putInt(microSecPerFrame)
    buf.putInt(0) // dwMaxBytesPerSec
    buf.putInt(0) // dwPaddingGranularity
    buf.putInt(0) // dwFlags
    buf.putInt(frames.length) // dwTotalFrames
    buf.putInt(0) // dwInitialFrames
    buf.putInt(1) // dwStreams
    buf.putInt(0) // dwSuggestedBufferSize
    buf.putInt(width)
    buf.putInt(height)
    (1 to 4).foreach(_ => buf.putInt(0)) // dwReserved
    tag("LIST"); buf.putInt(moviSize.toInt); tag("movi")
    frames.foreach { f =>
      tag("00dc"); buf.putInt(f.length); buf.put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Body range (start, end-exclusive) of the first top-level LIST
    * chunk of `listType` in a RIFF file of `formType` — the ONE chunk
    * walk [[aviMeta]] and [[aviFrames]] share, so the bounds discipline
    * (unsigned 32-bit sizes compared in Long, word-aligned stepping —
    * the bmp rowSize lesson) lives in exactly one place.
    */
  private def riffListBody(
      payload: Array[Byte],
      formType: String,
      listType: String): Option[(Int, Int)] = {
    if (payload.length < 12) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != formType) return None
    var off = 12L
    while (off + 8 <= payload.length) {
      val id = tag(off.toInt)
      val size = buf.getInt(off.toInt + 4).toLong & 0xFFFFFFFFL
      if (off + 8 + size > payload.length) return None
      if (id == "LIST" && size >= 4 && tag(off.toInt + 8) == listType)
        return Some(((off + 12).toInt, (off + 8 + size).toInt))
      off += 8 + size + (size & 1)
    }
    None
  }

  /** All sub-chunks (id, bodyOffset, bodySize) of [start, end) in file
    * order, None when any declared size runs past the range — shared
    * malformed-input handling for both AVI consumers.
    */
  private def subChunks(
      payload: Array[Byte],
      start: Int,
      end: Int): Option[Vector[(String, Int, Int)]] = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val out = Vector.newBuilder[(String, Int, Int)]
    var sub = start.toLong
    while (sub + 8 <= end) {
      val sid = new String(payload, sub.toInt, 4, "US-ASCII")
      val ssize = buf.getInt(sub.toInt + 4).toLong & 0xFFFFFFFFL
      if (sub + 8 + ssize > end) return None
      out += ((sid, (sub + 8).toInt, ssize.toInt))
      sub += 8 + ssize + (ssize & 1)
    }
    Some(out.result())
  }

  /** `(width, height, totalFrames, microSecPerFrame)` if the payload is
    * parseable AVI, else None — the `hdrl` LIST's `avih` header.
    */
  def aviMeta(payload: Array[Byte]): Option[(Int, Int, Int, Int)] =
    for {
      (start, end) <- riffListBody(payload, "AVI ", "hdrl")
      chunks <- subChunks(payload, start, end)
      (_, b, _) <- chunks.find { case (id, _, size) => id == "avih" && size >= 56 }
      buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      mspf = buf.getInt(b)
      totalFrames = buf.getInt(b + 16)
      w = buf.getInt(b + 32)
      h = buf.getInt(b + 36)
      if w > 0 && h > 0 && mspf > 0 && totalFrames >= 0
    } yield (w, h, totalFrames, mspf)

  /** The requested `00dc` frames (by 0-based frame index, returned as
    * (index, bytes) in file order) in ONE pass over the `movi` chunk
    * list — the batch form [[graft.ops.Multimodal.sampleVideoFrames]]
    * uses so k sampled frames cost one walk, not k. Unknown indices are
    * simply absent from the result; None when the container is
    * malformed.
    */
  def aviFrames(
      payload: Array[Byte],
      indices: Seq[Int]): Option[Seq[(Int, Array[Byte])]] = {
    val wanted = indices.filter(_ >= 0).toSet
    for {
      (start, end) <- riffListBody(payload, "AVI ", "movi")
      chunks <- subChunks(payload, start, end)
    } yield chunks.iterator
      .filter(_._1 == "00dc")
      .zipWithIndex
      .collect { case ((_, off, size), i) if wanted(i) =>
        val out = new Array[Byte](size)
        System.arraycopy(payload, off, out, 0, size)
        (i, out)
      }
      .toSeq
  }

  /** The `idx`-th (0-based) `00dc` frame payload, if present. */
  def aviFrame(payload: Array[Byte], idx: Int): Option[Array[Byte]] =
    aviFrames(payload, Seq(idx)).flatMap(_.headOption.map(_._2))

  // --------------------------------------------------------------- FLAC --

  /** Minimal FLAC file: the `fLaC` marker + a last-block STREAMINFO
    * (the spec-mandatory FIRST metadata block) — metadata-only, no
    * frames, the [[mp3]] judgment for the lossless-audio family.
    */
  def flac(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      totalSamples: Long): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), s"flac: bad rate $sampleRate")
    require(channels >= 1 && channels <= 8, s"flac: bad channels $channels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, s"flac: bad bps $bitsPerSample")
    require(totalSamples >= 0 && totalSamples < (1L << 36), s"flac: bad count $totalSamples")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80) // last-block flag | type 0 (STREAMINFO)
    out.write(0); out.write(0); out.write(34) // block length
    out.write(0x10); out.write(0) // min blocksize 4096
    out.write(0x10); out.write(0) // max blocksize 4096
    (0 until 6).foreach(_ => out.write(0)) // min/max framesize unknown
    // 20-bit rate | 3-bit channels-1 | 5-bit bps-1 | 36-bit samples
    val packed = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bitsPerSample - 1).toLong << 36) | totalSamples
    (7 to 0 by -1).foreach(i => out.write(((packed >>> (8 * i)) & 0xFF).toInt))
    (0 until 16).foreach(_ => out.write(0)) // MD5 unset
    out.toByteArray
  }

  /** FLAC STREAMINFO — `(sampleRate, channels, bitsPerSample,
    * totalSamples)`: the spec requires STREAMINFO as the FIRST
    * metadata block, so the read is one fixed-layout decode after the
    * marker; anything else (bad marker, wrong first block type, short
    * block, zero rate) quarantines. `totalSamples` of 0 is legal
    * ("unknown") and passes through — duration derivation is the
    * caller's `when(total > 0, ...)`.
    */
  def flacMeta(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (payload == null || payload.length < 42) return None
    if (new String(payload, 0, 4, "US-ASCII") != "fLaC") return None
    if ((payload(4) & 0x7F) != 0) return None // first block must be STREAMINFO
    val blockLen = ((payload(5) & 0xFF) << 16) | ((payload(6) & 0xFF) << 8) |
      (payload(7) & 0xFF)
    if (blockLen < 34 || 8 + blockLen > payload.length) return None
    var packed = 0L
    (0 until 8).foreach(i => packed = (packed << 8) | (payload(18 + i) & 0xFFL))
    val rate = (packed >>> 44).toInt
    val channels = ((packed >>> 41) & 0x7).toInt + 1
    val bps = ((packed >>> 36) & 0x1F).toInt + 1
    val total = packed & ((1L << 36) - 1)
    if (rate <= 0) return None
    Some((rate, channels, bps, total))
  }

  // ---------------------------------------------------------------- OGG --

  /** The Ogg page CRC (ITU V.42 polynomial 0x04C11DB7, UNREFLECTED,
    * init 0, no final xor — deliberately not zlib's reflected CRC32),
    * computed over the page with its CRC field zeroed.
    */
  private def oggCrc(page: Array[Byte]): Int = {
    var crc = 0
    var i = 0
    while (i < page.length) {
      crc = crc ^ ((page(i) & 0xFF) << 24)
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04C11DB7 else crc << 1
        b += 1
      }
      i += 1
    }
    crc
  }

  /** One BOS Ogg page carrying a single identification packet — what
    * every real Ogg stream leads with (RFC 3533 framing, REAL CRC).
    * Packets ≤ 255 bytes (id headers are), one lacing segment.
    */
  def ogg(idPacket: Array[Byte], serial: Int = 1): Array[Byte] = {
    require(idPacket.length <= 255, "ogg: id packet must fit one segment")
    val page = ByteBuffer.allocate(28 + idPacket.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    page.put("OggS".getBytes("US-ASCII"))
    page.put(0.toByte) // version
    page.put(0x02.toByte) // header type: beginning-of-stream
    page.putLong(0L) // granule position
    page.putInt(serial)
    page.putInt(0) // page sequence
    page.putInt(0) // CRC placeholder
    page.put(1.toByte) // one lacing segment
    page.put(idPacket.length.toByte)
    page.put(idPacket)
    val bytes = page.array()
    val crc = oggCrc(bytes)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(22, crc)
    bytes
  }

  /** A Vorbis identification packet (`vorbis` + version 0 +
    * channels + rate — the header every Vorbis stream opens with).
    */
  def vorbisIdPacket(sampleRate: Int, channels: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(30).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).put("vorbis".getBytes("US-ASCII"))
    b.putInt(0) // vorbis version
    b.put(channels.toByte)
    b.putInt(sampleRate)
    b.putInt(0).putInt(0).putInt(0) // bitrate max/nominal/min
    b.put(0xB8.toByte) // blocksizes
    b.put(1.toByte) // framing bit
    b.array()
  }

  /** An `OpusHead` identification packet (RFC 7845 §5.1). */
  def opusIdPacket(inputSampleRate: Int, channels: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
    b.put("OpusHead".getBytes("US-ASCII"))
    b.put(1.toByte) // version
    b.put(channels.toByte)
    b.putShort(312.toShort) // pre-skip
    b.putInt(inputSampleRate)
    b.putShort(0.toShort) // output gain
    b.put(0.toByte) // channel mapping family 0
    b.array()
  }

  /** Ogg audio identity — `(codec, sampleRate, channels)` from the
    * BOS page's identification packet, Vorbis and Opus dialects (the
    * two codecs the web's Ogg streams actually carry): RFC 3533 page
    * framing with the REAL Ogg CRC verified (unreflected 0x04C11DB7 —
    * a flipped byte anywhere in the page quarantines), version-0
    * pages only, the first packet assembled from the lacing table.
    * None for non-Ogg, a CRC mismatch, a non-BOS first page, a
    * truncated lacing table, or an id packet of neither dialect.
    * Header-grain: DURATION needs the final page's granule position —
    * a tail scan this read deliberately does not pay.
    */
  def oggAudioMeta(payload: Array[Byte]): Option[(String, Int, Int)] = {
    if (payload == null || payload.length < 28) return None
    if (new String(payload, 0, 4, "US-ASCII") != "OggS") return None
    if (payload(4) != 0) return None // stream structure version
    if ((payload(5) & 0x02) == 0) return None // first page must be BOS
    val nsegs = payload(26) & 0xFF
    if (27 + nsegs > payload.length) return None
    // first packet: segments up to (and including) the first lacing
    // value < 255 (RFC 3533 §5: 255 means the packet continues)
    var packetLen = 0
    var seg = 0
    var open = true
    while (open && seg < nsegs) {
      val l = payload(27 + seg) & 0xFF
      packetLen += l
      seg += 1
      if (l < 255) open = false
    }
    if (open) return None // packet continues past this page: not an id header
    val dataStart = 27 + nsegs
    val pageDataLen = (0 until nsegs).map(i => payload(27 + i) & 0xFF).sum
    if (dataStart + pageDataLen > payload.length) return None
    // CRC over the whole page with the CRC field zeroed
    val page = java.util.Arrays.copyOfRange(payload, 0, dataStart + pageDataLen)
    val declared = ByteBuffer.wrap(page).order(ByteOrder.LITTLE_ENDIAN).getInt(22)
    page(22) = 0; page(23) = 0; page(24) = 0; page(25) = 0
    if (oggCrc(page) != declared) return None
    if (packetLen < 7) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    if (payload(dataStart) == 1 &&
      new String(payload, dataStart + 1, 6, "US-ASCII") == "vorbis") {
      if (packetLen < 16) return None
      if (buf.getInt(dataStart + 7) != 0) return None // vorbis version
      val channels = payload(dataStart + 11) & 0xFF
      val rate = buf.getInt(dataStart + 12)
      if (rate <= 0 || channels < 1) None else Some(("vorbis", rate, channels))
    } else if (packetLen >= 19 &&
      new String(payload, dataStart, 8, "US-ASCII") == "OpusHead") {
      if ((payload(dataStart + 8) & 0xFF) != 1) return None // OpusHead version
      val channels = payload(dataStart + 9) & 0xFF
      val rate = buf.getInt(dataStart + 12)
      if (rate <= 0 || channels < 1) None else Some(("opus", rate, channels))
    } else None
  }

  // --------------------------------------------------------------- WEBP --

  /** Minimal WebP: the RIFF/WEBP container with a VP8X extended-format
    * chunk (canvas size as 24-bit minus-one fields) — the header every
    * modern WebP carries; dims-only, no bitstream, the family
    * judgment.
    */
  def webp(width: Int, height: Int): Array[Byte] = {
    require(width >= 1 && width <= (1 << 24) &&
      height >= 1 && height <= (1 << 24), s"webp: bad dims $width x $height")
    val buf = ByteBuffer.allocate(30).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(22)
    buf.put("WEBP".getBytes("US-ASCII"))
    buf.put("VP8X".getBytes("US-ASCII")).putInt(10)
    buf.putInt(0) // flags + reserved
    def u24(v: Int): Unit = {
      buf.put((v & 0xFF).toByte); buf.put(((v >> 8) & 0xFF).toByte)
      buf.put(((v >> 16) & 0xFF).toByte)
    }
    u24(width - 1); u24(height - 1)
    buf.array()
  }

  /** WebP canvas dimensions across all three wire formats: `VP8X`
    * (24-bit minus-one canvas fields), lossy `VP8 ` (the frame tag's
    * 0x9D012A sync + 14-bit dims) and lossless `VP8L` (0x2F signature
    * + packed 14-bit minus-one dims) — the header-grain triage read
    * for the image format a third of the modern web serves. None for
    * a non-WEBP RIFF, an unknown first chunk, or malformed headers.
    */
  def webpDimensions(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload == null || payload.length < 20) return None
    if (new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
      new String(payload, 8, 4, "US-ASCII") != "WEBP") return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val chunkSize = buf.getInt(16).toLong & 0xFFFFFFFFL
    if (20 + chunkSize > payload.length) return None
    def u24(off: Int): Int = (payload(off) & 0xFF) | ((payload(off + 1) & 0xFF) << 8) |
      ((payload(off + 2) & 0xFF) << 16)
    new String(payload, 12, 4, "US-ASCII") match {
      case "VP8X" =>
        if (chunkSize < 10 || payload.length < 30) None
        else Some((u24(24) + 1, u24(27) + 1))
      case "VP8 " =>
        // frame tag (3 bytes) then the 0x9D 0x01 0x2A start code, then
        // 14-bit width/height in the next two u16s
        if (chunkSize < 10 || payload.length < 30) None
        else if ((payload(23) & 0xFF) != 0x9D || (payload(24) & 0xFF) != 0x01 ||
          (payload(25) & 0xFF) != 0x2A) None
        else {
          val w = buf.getShort(26) & 0x3FFF
          val h = buf.getShort(28) & 0x3FFF
          if (w > 0 && h > 0) Some((w, h)) else None
        }
      case "VP8L" =>
        if (chunkSize < 5 || payload.length < 25 ||
          (payload(20) & 0xFF) != 0x2F) None
        else {
          val bits = buf.getInt(21)
          val w = (bits & 0x3FFF) + 1
          val h = ((bits >> 14) & 0x3FFF) + 1
          Some((w, h))
        }
      case _ => None
    }
  }

  // ------------------------------------------------------- FORMAT SNIFF --

  /** Magic-byte format identification — the FIRST pass of a corpus
    * media-triage job: label the payload's container family so each
    * row routes to the right parser (which then decides validity; the
    * sniff itself never parses). Order matters: BMP's two-byte "BM" is
    * the weakest magic and tests last; the MP3 frame-sync fallback
    * (0xFFEx) is weak too and sits just above it. Returns "unknown"
    * rather than guessing.
    */
  def sniffFormat(payload: Array[Byte]): String = {
    if (payload == null || payload.length < 4) return "unknown"
    def ascii(off: Int, n: Int): String =
      if (payload.length >= off + n) new String(payload, off, n, "US-ASCII") else ""
    if ((payload(0) & 0xff) == 0x1f && (payload(1) & 0xff) == 0x8b) "gzip"
    else if ((payload(0) & 0xff) == 0x89 && ascii(1, 3) == "PNG") "png"
    else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8 &&
      (payload(2) & 0xff) == 0xff) "jpeg"
    else if (ascii(0, 6) == "GIF87a" || ascii(0, 6) == "GIF89a") "gif"
    else if (ascii(0, 4) == "RIFF" && payload.length >= 12)
      ascii(8, 4) match {
        case "WAVE" => "wav"
        case "AVI " => "avi"
        case "WEBP" => "webp"
        case _ => "unknown"
      }
    else if (payload.length >= 12 && ascii(4, 4) == "ftyp") "mp4"
    else if (ascii(0, 4) == "fLaC") "flac"
    else if (ascii(0, 4) == "OggS") "ogg"
    else if (ascii(0, 5) == "WARC/") "warc"
    else if (ascii(0, 3) == "ID3") "mp3"
    else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xe0) == 0xe0) "mp3"
    else if (payload(0) == 'B' && payload(1) == 'M') "bmp"
    else "unknown"
  }

  /** GIF logical-screen dimensions — header-grain (magic + LSD only,
    * no LZW decode): the cheap triage read, [[gifDecode]]'s gate.
    */
  def gifDimensions(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload == null || payload.length < 13) return None
    val magic = new String(payload, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return None
    val w = (payload(6) & 0xff) | ((payload(7) & 0xff) << 8)
    val h = (payload(8) & 0xff) | ((payload(9) & 0xff) << 8)
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  // ---------------------------------------------------------------- MP3 --

  /** One MP3 stream's header-walk result: MPEG version ("1"/"2"/"2.5"),
    * layer (1–3), sample rate, and the per-frame bitrates (kbps) in
    * file order — everything a corpus triage needs (duration, CBR/VBR,
    * codec identity) with NO audio decode, [[mp4Meta]]'s judgment one
    * modality over.
    */
  final case class Mp3Meta(
      version: String, layer: Int, sampleRate: Int, frameBitratesKbps: Vector[Int]) {
    def nFrames: Long = frameBitratesKbps.length.toLong
    def samplesPerFrame: Int =
      if (layer == 1) 384 else if (layer == 2) 1152
      else if (version == "1") 1152 else 576
    /** Total duration in µs (floor) — frame count × samples-per-frame
      * on the stream's sample clock.
      */
    def durationUs: Long = nFrames * samplesPerFrame * 1000000L / sampleRate
  }

  /** The ISO 11172-3 / 13818-3 bitrate tables (kbps), by version then
    * layer; index 0 is "free format" and 15 forbidden — both quarantine
    * (a free-format stream's frame length is undeclared, so a header
    * walk cannot frame it).
    */
  private val Mp3Bitrates: Map[(String, Int), Vector[Int]] = {
    val m1l1 = Vector(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
    val m1l2 = Vector(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
    val m1l3 = Vector(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val m2l1 = Vector(32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
    val m2l23 = Vector(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    Map(("1", 1) -> m1l1, ("1", 2) -> m1l2, ("1", 3) -> m1l3,
      ("2", 1) -> m2l1, ("2", 2) -> m2l23, ("2", 3) -> m2l23,
      ("2.5", 1) -> m2l1, ("2.5", 2) -> m2l23, ("2.5", 3) -> m2l23)
  }

  private val Mp3SampleRates: Map[String, Vector[Int]] = Map(
    "1" -> Vector(44100, 48000, 32000),
    "2" -> Vector(22050, 24000, 16000),
    "2.5" -> Vector(11025, 12000, 8000))

  /** Synthesize an MPEG audio stream frame-by-frame (headers real,
    * bodies zero bytes — metadata-only, the [[mp4]] judgment): Layer
    * III at the given version/sample-rate index, one frame per bitrate
    * index in `bitrateIdxs` (1–14; vary them for a VBR fixture), an
    * optional leading ID3v2 tag of `id3v2Bytes` content bytes
    * (synchsafe-sized, as written) and an optional trailing 128-byte
    * ID3v1 tag.
    */
  def mp3(
      version: String,
      sampleRateIdx: Int,
      bitrateIdxs: Seq[Int],
      id3v2Bytes: Int = 0,
      id3v1: Boolean = false): Array[Byte] = {
    require(Mp3SampleRates.contains(version), s"mp3: bad version $version")
    require(sampleRateIdx >= 0 && sampleRateIdx <= 2, s"mp3: bad rate idx $sampleRateIdx")
    require(bitrateIdxs.forall(i => i >= 1 && i <= 14), "mp3: bitrate idx in 1..14")
    val rate = Mp3SampleRates(version)(sampleRateIdx)
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2Bytes > 0) {
      require(id3v2Bytes < (1 << 28), "mp3: id3v2 too large")
      out.write("ID3".getBytes("US-ASCII"))
      out.write(3); out.write(0); out.write(0) // version 2.3, flags 0
      // synchsafe: 4 × 7 bits, high bit of every byte clear
      out.write((id3v2Bytes >>> 21) & 0x7F); out.write((id3v2Bytes >>> 14) & 0x7F)
      out.write((id3v2Bytes >>> 7) & 0x7F); out.write(id3v2Bytes & 0x7F)
      out.write(new Array[Byte](id3v2Bytes))
    }
    val verBits = version match { case "1" => 3; case "2" => 2; case _ => 0 }
    bitrateIdxs.foreach { bi =>
      val kbps = Mp3Bitrates((version, 3))(bi - 1)
      val len = (if (version == "1") 144000 else 72000) * kbps / rate
      out.write(0xFF)
      out.write(0xE0 | (verBits << 3) | (1 << 1) | 1) // layer III, no CRC
      out.write((bi << 4) | (sampleRateIdx << 2)) // padding 0, private 0
      out.write(0) // stereo, no emphasis
      out.write(new Array[Byte](len - 4))
    }
    if (id3v1) {
      out.write("TAG".getBytes("US-ASCII"))
      out.write(new Array[Byte](125))
    }
    out.toByteArray
  }

  /** One ID3v2 text frame: the 4-char frame id (`TIT2` title, `TPE1`
    * artist, `TALB` album, …) and its decoded text.
    */
  final case class Id3Frame(frameId: String, text: String)

  private def synchsafe4(v: Int): Array[Byte] = {
    require(v >= 0 && v < (1 << 28), s"synchsafe overflow: $v")
    Array(((v >>> 21) & 0x7F).toByte, ((v >>> 14) & 0x7F).toByte,
      ((v >>> 7) & 0x7F).toByte, (v & 0x7F).toByte)
  }

  /** Build an ID3v2.3 or v2.4 tag carrying TEXT frames — the metadata
    * block real MP3s lead with. v2.3 writes ISO-8859-1 bodies with
    * plain 32-bit frame sizes; v2.4 writes UTF-8 with synchsafe frame
    * sizes (the two versions' actual wire differences). Prepend to an
    * [[mp3]] stream for a tagged fixture — [[mp3Meta]] skips the tag,
    * [[id3TextFrames]] reads it.
    */
  def id3v2(frames: Seq[(String, String)], version: Int = 3): Array[Byte] = {
    require(version == 3 || version == 4, s"id3v2: version 3 or 4, got $version")
    val body = frames.flatMap { case (id, text) =>
      require(id.length == 4 && id.forall(c => c.isUpper || c.isDigit),
        s"id3v2: bad frame id $id")
      val t =
        if (version == 3) text.getBytes("ISO-8859-1") else text.getBytes("UTF-8")
      val fbody = (if (version == 3) 0 else 3).toByte +: t
      val sz =
        if (version == 3) Array((fbody.length >>> 24).toByte,
          (fbody.length >>> 16).toByte, (fbody.length >>> 8).toByte,
          fbody.length.toByte)
        else synchsafe4(fbody.length)
      id.getBytes("US-ASCII") ++ sz ++ Array[Byte](0, 0) ++ fbody
    }.toArray
    "ID3".getBytes("US-ASCII") ++ Array(version.toByte, 0.toByte, 0.toByte) ++
      synchsafe4(body.length) ++ body
  }

  /** The TEXT frames of a leading ID3v2.3/v2.4 tag, in tag order —
    * title/artist/album and friends, the curation metadata an audio
    * corpus filters and joins on without decoding a single sample.
    * Encodings per the frame's own marker byte (ISO-8859-1, UTF-16
    * with BOM, UTF-16BE, UTF-8), trailing NULs stripped, padding ends
    * the walk, a v2.3/v2.4 extended header is skipped by its own size
    * rule (v2.4's includes itself, v2.3's excludes the size field).
    * None (quarantine) for: no tag, ID3v2.2 (3-char frame ids — a
    * different wire format), the unsynchronisation flag (bytes would
    * need de-stuffing this reader does not do — flagged, never
    * misread), a malformed frame id, a frame size past the tag, or an
    * unknown encoding byte. Compressed/encrypted frames (v2.3 frame
    * flags) are SKIPPED, not quarantined — the rest of the tag is
    * still sound.
    */
  def id3TextFrames(payload: Array[Byte]): Option[Vector[Id3Frame]] = {
    if (payload == null || payload.length < 10 ||
      payload(0) != 'I' || payload(1) != 'D' || payload(2) != '3') return None
    val ver = payload(3).toInt & 0xFF
    if (ver != 3 && ver != 4) return None
    val flags = payload(5).toInt & 0xFF
    if ((flags & 0x80) != 0) return None // unsynchronised: quarantine
    if ((payload(6) | payload(7) | payload(8) | payload(9)) < 0) return None
    val size = ((payload(6) & 0x7F) << 21) | ((payload(7) & 0x7F) << 14) |
      ((payload(8) & 0x7F) << 7) | (payload(9) & 0x7F)
    val end = 10 + size
    if (end > payload.length) return None
    var off = 10
    if ((flags & 0x40) != 0) { // extended header
      if (off + 4 > end) return None
      if (ver == 4) {
        if ((payload(off) | payload(off + 1) | payload(off + 2) | payload(off + 3)) < 0)
          return None
        val eh = ((payload(off) & 0x7F) << 21) | ((payload(off + 1) & 0x7F) << 14) |
          ((payload(off + 2) & 0x7F) << 7) | (payload(off + 3) & 0x7F)
        if (eh < 4 || off + eh > end) return None
        off += eh // v2.4 ext size includes itself
      } else {
        val eh = ByteBuffer.wrap(payload).getInt(off)
        if (eh < 0 || off + 4 + eh > end) return None
        off += 4 + eh // v2.3 ext size excludes the size field
      }
    }
    val out = Vector.newBuilder[Id3Frame]
    var open = true
    while (open && off + 10 <= end) {
      if (payload(off) == 0) open = false // padding
      else {
        val id = new String(payload, off, 4, "US-ASCII")
        if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
          return None
        val fsize =
          if (ver == 4) {
            if ((payload(off + 4) | payload(off + 5) | payload(off + 6) |
              payload(off + 7)) < 0) return None
            ((payload(off + 4) & 0x7F) << 21) | ((payload(off + 5) & 0x7F) << 14) |
              ((payload(off + 6) & 0x7F) << 7) | (payload(off + 7) & 0x7F)
          } else ByteBuffer.wrap(payload).getInt(off + 4)
        if (fsize < 0 || off + 10 + fsize > end) return None
        val fflags = payload(off + 9).toInt & 0xFF
        // v2.3 compression (0x80) / encryption (0x40); v2.4 moved them
        // to 0x08/0x04 — skip either set, the body is not plain text
        val obscured = (fflags & (if (ver == 4) 0x0C else 0xC0)) != 0
        if (id.startsWith("T") && fsize >= 1 && !obscured) {
          val cs = (payload(off + 10).toInt & 0xFF) match {
            case 0 => "ISO-8859-1"
            case 1 => "UTF-16"
            case 2 => "UTF-16BE"
            case 3 => "UTF-8"
            case _ => return None
          }
          val text = new String(payload, off + 11, fsize - 1, cs)
            .reverse.dropWhile(_ == '\u0000').reverse // trailing NUL terminators
          out += Id3Frame(id, text)
        }
        off += 10 + fsize
      }
    }
    Some(out.result())
  }

  /** MPEG audio (MP3 and friends) metadata by FRAME-HEADER WALK — sync
    * scan with strict tiling, no audio decode: skip a leading ID3v2 tag
    * (synchsafe size), then every frame header must parse (11-bit sync,
    * version, layer, bitrate and sample-rate indices) and declare a
    * length that lands exactly on the next frame, the trailing ID3v1
    * tag, or end-of-file. None (whole-file quarantine) for anything
    * else: broken sync mid-file, free-format or forbidden bitrate,
    * reserved version/layer/rate codes, a frame running past EOF, or a
    * mid-stream version/layer/rate change — real decoders resync on
    * garbage; a CORPUS walk must not, because a resync that silently
    * skips bytes misreports duration, the [[warcRecords]] lesson.
    * Layer I/II/III all framed per their own length formulas; CRC
    * frames accepted (the 16-bit CRC lives inside the declared length).
    */
  def mp3Meta(payload: Array[Byte]): Option[Mp3Meta] = {
    var off = 0
    val end = payload.length
    if (end >= 10 && payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3') {
      val size = ((payload(6) & 0x7F) << 21) | ((payload(7) & 0x7F) << 14) |
        ((payload(8) & 0x7F) << 7) | (payload(9) & 0x7F)
      if ((payload(6) | payload(7) | payload(8) | payload(9)) < 0) return None
      // the v2.4 footer flag (flags bit 4) adds a 10-byte footer that
      // the synchsafe size EXCLUDES (ID3v2.4 §3.1) — without skipping
      // it, every footered file would false-quarantine on the tiling
      val footer = if ((payload(5) & 0x10) != 0) 10 else 0
      off = 10 + size + footer
      if (off > end) return None
    }
    var version: String = null
    var layer = 0
    var rate = 0
    val frames = Vector.newBuilder[Int]
    var n = 0
    while (off < end) {
      if (end - off == 128 && payload(off) == 'T' && payload(off + 1) == 'A' &&
        payload(off + 2) == 'G') {
        off = end // trailing ID3v1 tag
      } else {
        if (off + 4 > end) return None
        val b1 = payload(off) & 0xFF
        val b2 = payload(off + 1) & 0xFF
        val b3 = payload(off + 2) & 0xFF
        if (b1 != 0xFF || (b2 & 0xE0) != 0xE0) return None
        val v = (b2 >> 3) & 3 match {
          case 3 => "1"; case 2 => "2"; case 0 => "2.5"; case _ => return None
        }
        val l = (b2 >> 1) & 3 match {
          case 3 => 1; case 2 => 2; case 1 => 3; case _ => return None
        }
        val bi = (b3 >> 4) & 0xF
        val si = (b3 >> 2) & 3
        if (bi == 0 || bi == 15 || si == 3) return None
        val r = Mp3SampleRates(v)(si)
        if (version == null) { version = v; layer = l; rate = r }
        else if (version != v || layer != l || rate != r) return None
        val kbps = Mp3Bitrates((v, l))(bi - 1)
        val padding = (b3 >> 1) & 1
        val len = l match {
          case 1 => (12000 * kbps / r + padding) * 4
          case 2 => 144000 * kbps / r + padding
          case _ => (if (v == "1") 144000 else 72000) * kbps / r + padding
        }
        if (len < 4 || off + len > end) return None
        frames += kbps
        n += 1
        off += len
      }
    }
    if (version == null) None
    else Some(Mp3Meta(version, layer, rate, frames.result()))
  }

  // ------------------------------------------------------ MP4 / ISO-BMFF --

  /** One track's spec for the [[mp4]] writer (and its parse-back row
    * from [[mp4Meta]]): identity, handler (`vide`/`soun`), the sample
    * entry's codec fourcc, tkhd pixel dims (0×0 for sound tracks), the
    * media timescale and the uniform `stts` timing.
    */
  final case class Mp4Track(
      trackId: Long, handler: String, codec: String,
      width: Int, height: Int, timescale: Long,
      sampleDelta: Long, nSamples: Long)

  /** Movie-level metadata + per-track rows — [[mp4Meta]]'s result.
    * `duration` is mvhd's, in `timescale` units (the max track duration
    * rescaled, as real muxers write it).
    */
  final case class Mp4Info(timescale: Long, duration: Long,
      tracks: Vector[Mp4Track])

  /** Minimal spec-conformant ISO-BMFF (MP4) container — the box tree a
    * real muxer writes and every demuxer walks first:
    * `ftyp` + `moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stsd,
    * stts)))))` + `mdat`. Metadata-only by design (the `mdat` payload
    * is free bytes, no codec bitstream): the surface this pipeline
    * needs is duration/timescale/track dims/codec fourcc, the same
    * judgment as the AVI writer. ISO-BMFF is BIG-endian throughout
    * (ISO/IEC 14496-12 §4.2), the mirror of RIFF's little-endian.
    * `movieTimescale` units govern mvhd and tkhd durations; each
    * track's media clock runs in its own `timescale` — the writer
    * requires the rescale to land on integers (synthetic fixtures pick
    * divisible clocks; real muxers round).
    */
  def mp4(tracks: Seq[Mp4Track], movieTimescale: Long,
      mdat: Array[Byte] = Array.emptyByteArray): Array[Byte] =
    mp4Build(tracks, movieTimescale, mdat, Nil, 0)

  /** [[mp4]] with a REAL sample layout on the first `vide` track: the
    * `videoSamples` bytes concatenate into `mdat` and the track's
    * `stbl` gains the stsz/stsc/stco tables that make each sample
    * random-accessible — sizes per sample, `samplesPerChunk` samples
    * per chunk (the trailing chunk partial when it doesn't divide),
    * chunk offsets ABSOLUTE into the file, as ISO 14496-12 specifies.
    * The video track's `nSamples` must equal `videoSamples.length`
    * (one stts/stsz source of truth).
    */
  def mp4WithSamples(
      tracks: Seq[Mp4Track], movieTimescale: Long,
      videoSamples: Seq[Array[Byte]], samplesPerChunk: Int = 4,
      syncSamples: Seq[Int] = Nil): Array[Byte] = {
    require(videoSamples.nonEmpty, "mp4WithSamples: at least one sample")
    require(samplesPerChunk >= 1, s"mp4WithSamples: bad samplesPerChunk $samplesPerChunk")
    val v = tracks.find(_.handler == "vide")
    require(v.exists(_.nSamples == videoSamples.length),
      "mp4WithSamples: video track nSamples must equal videoSamples.length")
    require(syncSamples.forall(n => n >= 1 && n <= videoSamples.length),
      "mp4WithSamples: sync sample numbers are 1-based within the track")
    mp4Build(tracks, movieTimescale,
      videoSamples.foldLeft(Array.emptyByteArray)(_ ++ _),
      videoSamples.map(_.length), samplesPerChunk, syncSamples)
  }

  private def mp4Build(tracks: Seq[Mp4Track], movieTimescale: Long,
      mdat: Array[Byte], sampleSizes: Seq[Int], samplesPerChunk: Int,
      syncSamples: Seq[Int] = Nil): Array[Byte] = {
    require(tracks.nonEmpty, "mp4: at least one track")
    require(movieTimescale > 0, s"mp4: movieTimescale must be positive: $movieTimescale")
    def be32(v: Long): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def box(tp: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.foldLeft(Array.emptyByteArray)(_ ++ _)
      be32(8L + body.length) ++ tp.getBytes("US-ASCII") ++ body
    }
    def movieDur(t: Mp4Track): Long = {
      val media = t.sampleDelta * t.nSamples
      require(media * movieTimescale % t.timescale == 0,
        s"mp4: track ${t.trackId} duration does not rescale to integer movie units")
      media * movieTimescale / t.timescale
    }
    val identity = be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)
    val mvhd = box("mvhd",
      be32(0), // version 0 + flags
      be32(0), be32(0), // creation/modification
      be32(movieTimescale), be32(tracks.map(movieDur).max),
      be32(0x00010000L), // rate 1.0
      Array(0x01.toByte, 0x00.toByte), // volume 1.0
      new Array[Byte](10), // reserved
      identity,
      new Array[Byte](24), // pre_defined
      be32(tracks.map(_.trackId).max + 1)) // next_track_ID
    val nChunks =
      if (sampleSizes.isEmpty) 0
      else (sampleSizes.length + samplesPerChunk - 1) / samplesPerChunk
    // stco carries ABSOLUTE file offsets, and the moov box precedes
    // mdat — so build moov twice: once with zeroed offsets to learn its
    // byte length (offset VALUES are fixed-width, the length cannot
    // change), then again with the real offsets.
    def buildMoov(chunkOffsets: Seq[Long]): Array[Byte] = {
      var tablesDone = false
      val traks = tracks.map { t =>
        require(t.timescale > 0 && t.sampleDelta >= 0 && t.nSamples >= 0,
          s"mp4: bad track timing for ${t.trackId}")
        val tkhd = box("tkhd",
          be32(7), // version 0, flags: enabled | in-movie | in-preview
          be32(0), be32(0), be32(t.trackId), be32(0),
          be32(movieDur(t)),
          new Array[Byte](8), // reserved
          Array(0, 0, 0, 0), // layer + alternate_group
          Array(0, 0, 0, 0), // volume + reserved
          identity,
          be32(t.width.toLong << 16), be32(t.height.toLong << 16))
        val mdhd = box("mdhd",
          be32(0), be32(0), be32(0),
          be32(t.timescale), be32(t.sampleDelta * t.nSamples),
          Array(0x55.toByte, 0xC4.toByte), // language 'und'
          Array(0, 0)) // pre_defined
        val hdlr = box("hdlr",
          be32(0), be32(0), t.handler.getBytes("US-ASCII"),
          new Array[Byte](12), Array(0.toByte)) // reserved + empty name
        val sampleEntry = be32(16) ++ t.codec.getBytes("US-ASCII") ++
          new Array[Byte](6) ++ Array(0.toByte, 1.toByte) // data_ref_idx 1
        val stsd = box("stsd", be32(0), be32(1), sampleEntry)
        val stts = box("stts", be32(0), be32(1),
          be32(t.nSamples), be32(t.sampleDelta))
        val tables =
          if (sampleSizes.isEmpty || t.handler != "vide" || tablesDone) Nil
          else {
            tablesDone = true
            val stsz = box("stsz", be32(0), be32(0), // per-sample sizes
              be32(sampleSizes.length),
              sampleSizes.map(s => be32(s.toLong))
                .foldLeft(Array.emptyByteArray)(_ ++ _))
            // run-length stsc: full chunks, then the partial trailer
            val rem = sampleSizes.length % samplesPerChunk
            val runs =
              if (rem == 0 || nChunks == 1) Seq((1L, math.min(samplesPerChunk, sampleSizes.length).toLong))
              else Seq((1L, samplesPerChunk.toLong), (nChunks.toLong, rem.toLong))
            val stsc = box("stsc", be32(0), be32(runs.length),
              runs.map { case (fc, spc) => be32(fc) ++ be32(spc) ++ be32(1) }
                .foldLeft(Array.emptyByteArray)(_ ++ _))
            val stco = box("stco", be32(0), be32(chunkOffsets.length),
              chunkOffsets.map(be32).foldLeft(Array.emptyByteArray)(_ ++ _))
            // stss: present only when the caller marks keyframes —
            // ISO rule: an ABSENT box means every sample is sync
            val stss =
              if (syncSamples.isEmpty) Nil
              else Seq(box("stss", be32(0), be32(syncSamples.length),
                syncSamples.map(n => be32(n.toLong))
                  .foldLeft(Array.emptyByteArray)(_ ++ _)))
            Seq(stsz, stsc, stco) ++ stss
          }
        box("trak", tkhd,
          box("mdia", mdhd, hdlr,
            box("minf", box("stbl", (Seq(stsd, stts) ++ tables): _*))))
      }
      box("moov", (mvhd +: traks): _*)
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(0x200),
      "isom".getBytes("US-ASCII"), "mp41".getBytes("US-ASCII"))
    if (sampleSizes.isEmpty)
      ftyp ++ buildMoov(Nil) ++ box("mdat", mdat)
    else {
      val moovLen = buildMoov(Seq.fill(nChunks)(0L)).length
      val mdatBody = ftyp.length.toLong + moovLen + 8L
      val offsets = (0 until nChunks).map(c =>
        mdatBody + sampleSizes.take(c * samplesPerChunk).map(_.toLong).sum)
      ftyp ++ buildMoov(offsets) ++ box("mdat", mdat)
    }
  }

  /** All boxes `(fourcc, bodyStart, bodyEnd)` tiling `[start, end)` in
    * file order — the one ISO-BMFF walk every [[mp4Meta]] descent
    * shares, so the bounds discipline lives in exactly one place:
    * 32-bit sizes read unsigned and compared in Long; `size == 1` reads
    * the 64-bit largesize; `size == 0` means to-end-of-enclosing-box
    * (legal only for the last box); any declared size running past the
    * range, or a gap the walk cannot tile, quarantines the whole file —
    * record-level salvage after a size corruption would misframe every
    * later box, the WARC lesson.
    */
  private def bmffBoxes(
      payload: Array[Byte], start: Long, end: Long): Option[Vector[(String, Long, Long)]] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var off = start
    while (off < end) {
      if (off + 8 > end) return None
      val buf = ByteBuffer.wrap(payload)
      val size32 = buf.getInt(off.toInt).toLong & 0xFFFFFFFFL
      val tp = new String(payload, off.toInt + 4, 4, "US-ASCII")
      val (bodyStart, boxEnd) =
        if (size32 == 0L) (off + 8, end) // to end of enclosing box
        else if (size32 == 1L) {
          if (off + 16 > end) return None
          val size64 = buf.getLong(off.toInt + 8)
          if (size64 < 16 || off + size64 > end) return None
          (off + 16, off + size64)
        } else {
          if (size32 < 8 || off + size32 > end) return None
          (off + 8, off + size32)
        }
      out += ((tp, bodyStart, boxEnd))
      off = boxEnd
    }
    Some(out.result())
  }

  /** First child box of `fourcc` within a body range. */
  private def bmffChild(
      payload: Array[Byte], range: (String, Long, Long),
      fourcc: String): Option[(String, Long, Long)] =
    bmffBoxes(payload, range._2, range._3).flatMap(_.find(_._1 == fourcc))

  /** The full-box version byte + the (version-dependent) u32/u64 field
    * reader ISO-BMFF headers share: mvhd/tkhd/mdhd carry 32-bit times
    * in version 0 and 64-bit in version 1.
    */
  private def bmffU(payload: Array[Byte], off: Long, v: Int): Long =
    if (v == 0) bmffU32(payload, off)
    else ByteBuffer.wrap(payload).getLong(off.toInt)

  /** The unsigned big-endian 32-bit field at `off`. */
  private def bmffU32(payload: Array[Byte], off: Long): Long =
    ByteBuffer.wrap(payload).getInt(off.toInt).toLong & 0xFFFFFFFFL

  /** ISO-BMFF (MP4/MOV) metadata — the moov/mvhd/trak/tkhd/mdhd/hdlr/
    * stsd/stts walk, metadata only, no codec decode (frame EXTRACTION
    * needs the stsc/stsz/stco sample tables and a codec bitstream;
    * the pipeline's video surface is dims/duration/codec identity,
    * [[aviMeta]]'s judgment). None (whole-file quarantine) for
    * anything that is not a cleanly tiling box tree with an `ftyp`
    * lead box and a parseable moov: a corrupted size, a truncated
    * header, a sample-table entry count that overruns its box — the
    * zip-bomb-style caps are the body-bounds checks (every claimed
    * count must fit inside its own box, so a hostile count cannot
    * drive allocation). A track with several `stts` runs reports
    * `sampleDelta` of run 0 and the exact total `nSamples`.
    */
  def mp4Meta(payload: Array[Byte]): Option[Mp4Info] = {
    if (payload.length < 12 ||
      new String(payload, 4, 4, "US-ASCII") != "ftyp") return None
    val buf = ByteBuffer.wrap(payload)
    for {
      top <- bmffBoxes(payload, 0L, payload.length.toLong)
      moov <- top.find(_._1 == "moov")
      kids <- bmffBoxes(payload, moov._2, moov._3)
      mvhd <- kids.find(_._1 == "mvhd")
      mvhdV = payload(mvhd._2.toInt).toInt & 0xFF
      if mvhd._3 - mvhd._2 >= (if (mvhdV == 0) 20 else 32)
      // version 1 widens TIMES and DURATIONS to 64-bit; timescale
      // stays u32 in both versions (ISO 14496-12 §8.2.2)
      ts = bmffU(payload, mvhd._2 + (if (mvhdV == 0) 12 else 20), 0)
      dur = bmffU(payload, mvhd._2 + (if (mvhdV == 0) 16 else 24), mvhdV)
      if ts > 0
      tracks <- traverseOpt(kids.filter(_._1 == "trak"))(parseTrak(payload, buf, _))
    } yield Mp4Info(ts, dur, tracks)
  }

  /** Option-traverse: None if any element parses to None (all-or-
    * nothing quarantine over a file's tracks).
    */
  private def traverseOpt[A, B](xs: Vector[A])(f: A => Option[B]): Option[Vector[B]] = {
    val out = Vector.newBuilder[B]
    for (x <- xs) f(x) match {
      case Some(b) => out += b
      case None => return None
    }
    Some(out.result())
  }

  private def parseTrak(
      payload: Array[Byte], buf: ByteBuffer,
      trak: (String, Long, Long)): Option[Mp4Track] =
    for {
      tkhd <- bmffChild(payload, trak, "tkhd")
      v = payload(tkhd._2.toInt).toInt & 0xFF
      if tkhd._3 - tkhd._2 >= (if (v == 0) 84 else 96)
      trackId = bmffU(payload, tkhd._2 + (if (v == 0) 12 else 20), 0)
      w = buf.getInt((tkhd._2 + (if (v == 0) 76 else 88)).toInt)
      h = buf.getInt((tkhd._2 + (if (v == 0) 80 else 92)).toInt)
      mdia <- bmffChild(payload, trak, "mdia")
      mdhd <- bmffChild(payload, mdia, "mdhd")
      mv = payload(mdhd._2.toInt).toInt & 0xFF
      if mdhd._3 - mdhd._2 >= (if (mv == 0) 20 else 24)
      // timescale is u32 in BOTH mdhd versions (the mvhd rule)
      mts = bmffU(payload, mdhd._2 + (if (mv == 0) 12 else 20), 0)
      if mts > 0
      hdlr <- bmffChild(payload, mdia, "hdlr")
      if hdlr._3 - hdlr._2 >= 12
      handler = new String(payload, hdlr._2.toInt + 8, 4, "US-ASCII")
      stbl <- bmffChild(payload, mdia, "minf").flatMap(bmffChild(payload, _, "stbl"))
      stsd <- bmffChild(payload, stbl, "stsd")
      if stsd._3 - stsd._2 >= 8
      nEntries = buf.getInt(stsd._2.toInt + 4)
      // the first sample entry's format fourcc; the entry header must
      // fit inside the stsd box (hostile counts cannot overrun)
      if nEntries >= 1 && stsd._3 - stsd._2 >= 16
      codec = new String(payload, stsd._2.toInt + 12, 4, "US-ASCII")
      stts <- bmffChild(payload, stbl, "stts")
      if stts._3 - stts._2 >= 8
      nRuns = buf.getInt(stts._2.toInt + 4)
      if nRuns >= 0 && 8L + 8L * nRuns <= stts._3 - stts._2
    } yield {
      var n = 0L
      var i = 0
      while (i < nRuns) {
        n += buf.getInt((stts._2 + 8 + 8L * i).toInt).toLong & 0xFFFFFFFFL
        i += 1
      }
      val delta =
        if (nRuns > 0) buf.getInt(stts._2.toInt + 12).toLong & 0xFFFFFFFFL else 0L
      Mp4Track(trackId, handler, codec,
        w >>> 16, h >>> 16, // 16.16 fixed point → integer pixels
        mts, delta, n)
    }

  /** The `stbl` box of the first `vide` track — the walk [[mp4Samples]]
    * and [[mp4SyncSamples]] share: `ftyp` lead box, then `moov`, the
    * first `trak` whose `hdlr` names `vide`, then mdia/minf/stbl. None
    * when any step is missing or malformed.
    */
  private def mp4VideoStbl(payload: Array[Byte]): Option[(String, Long, Long)] = {
    if (payload.length < 12 ||
      new String(payload, 4, 4, "US-ASCII") != "ftyp") return None
    for {
      top <- bmffBoxes(payload, 0L, payload.length.toLong)
      moov <- top.find(_._1 == "moov")
      kids <- bmffBoxes(payload, moov._2, moov._3)
      trak <- kids.filter(_._1 == "trak").find(t =>
        bmffChild(payload, t, "mdia").flatMap(bmffChild(payload, _, "hdlr"))
          .exists(h => h._3 - h._2 >= 12 &&
            new String(payload, h._2.toInt + 8, 4, "US-ASCII") == "vide"))
      stbl <- bmffChild(payload, trak, "mdia")
        .flatMap(bmffChild(payload, _, "minf"))
        .flatMap(bmffChild(payload, _, "stbl"))
    } yield stbl
  }

  /** The requested video samples (by 0-based index, returned as
    * (index, bytes) in index order) from the first `vide` track's
    * stsz/stsc/stco sample tables — [[aviFrames]]' ISO-BMFF twin, one
    * table walk for all requested indices. The stsc run list expands
    * chunk by chunk (first_chunk runs must start at 1 and strictly
    * increase), each sample's file offset is its chunk's stco/co64
    * offset plus the sizes of the chunk's earlier samples, and every
    * span is bounds-checked against the file. None (whole-file
    * quarantine) for malformed tables: counts overrunning their box,
    * a non-tiling run list, uniform-size stsz (`sample_size != 0` is
    * legal ISO-BMFF but absent from this writer's fixtures — handled),
    * or any span outside the payload. Unknown indices are simply
    * absent, the [[aviFrames]] contract.
    */
  def mp4Samples(
      payload: Array[Byte], indices: Seq[Int]): Option[Seq[(Int, Array[Byte])]] = {
    val wanted = indices.filter(_ >= 0).toSet
    for {
      stbl <- mp4VideoStbl(payload)
      stsz <- bmffChild(payload, stbl, "stsz")
      if stsz._3 - stsz._2 >= 12
      uniform = bmffU32(payload, stsz._2 + 4)
      nSamples = bmffU32(payload, stsz._2 + 8)
      // EVERY count must be bounded before it drives allocation: the
      // per-sample leg by its own box, the uniform leg by the file
      // itself (uniform·count bytes of samples cannot exceed it)
      if nSamples <= Int.MaxValue &&
        (if (uniform == 0L) 12L + 4L * nSamples <= stsz._3 - stsz._2
         else uniform * nSamples <= payload.length)
      sizes = (0 until nSamples.toInt).map(i =>
        if (uniform != 0L) uniform else bmffU32(payload, stsz._2 + 12 + 4L * i))
      stsc <- bmffChild(payload, stbl, "stsc")
      if stsc._3 - stsc._2 >= 8
      nRuns = bmffU32(payload, stsc._2 + 4)
      if 8L + 12L * nRuns <= stsc._3 - stsc._2
      runs = (0 until nRuns.toInt).map(i =>
        (bmffU32(payload, stsc._2 + 8 + 12L * i),
          bmffU32(payload, stsc._2 + 12 + 12L * i)))
      if runs.nonEmpty && runs.head._1 == 1L &&
        runs.sliding(2).forall(w => w.length < 2 || w(0)._1 < w(1)._1) &&
        // upper bound matters too: a u32 samples-per-chunk past
        // Int.MaxValue would wrap negative in the expansion loop and
        // silently skip every sample instead of quarantining
        runs.forall(r => r._2 >= 1L && r._2 <= Int.MaxValue)
      co <- bmffChild(payload, stbl, "stco").map((_, false))
        .orElse(bmffChild(payload, stbl, "co64").map((_, true)))
      (coBox, wide) = co
      if coBox._3 - coBox._2 >= 8
      nChunks = bmffU32(payload, coBox._2 + 4)
      if 8L + (if (wide) 8L else 4L) * nChunks <= coBox._3 - coBox._2
      offsets = (0 until nChunks.toInt).map(i =>
        if (wide) ByteBuffer.wrap(payload).getLong((coBox._2 + 8 + 8L * i).toInt)
        else bmffU32(payload, coBox._2 + 8 + 4L * i))
      res <- mp4ExtractSpans(payload, sizes, runs, offsets, wanted)
    } yield res
  }

  /** The SYNC-SAMPLE (keyframe) numbers of the first `vide` track —
    * the `stss` table, 1-based per ISO 14496-12 §8.6.2. Some(list) when
    * the box is present and well-formed (counts bounded by the box, the
    * hostile-count rule); None when the file is not parseable BMFF, has
    * no video stbl, or carries NO stss — which the spec defines as
    * "every sample is a sync sample", so callers fall back to
    * all-samples sampling, never to a guess.
    */
  def mp4SyncSamples(payload: Array[Byte]): Option[Vector[Long]] =
    for {
      stbl <- mp4VideoStbl(payload)
      stss <- bmffChild(payload, stbl, "stss")
      if stss._3 - stss._2 >= 8
      n = bmffU32(payload, stss._2 + 4)
      if 8L + 4L * n <= stss._3 - stss._2
    } yield (0 until n.toInt).map(i => bmffU32(payload, stss._2 + 8 + 4L * i)).toVector

  /** The chunk-expansion loop behind [[mp4Samples]]: walk the stsc runs
    * chunk by chunk, resolve each sample's absolute span, copy the
    * wanted ones; None on any span outside the payload.
    */
  private def mp4ExtractSpans(
      payload: Array[Byte],
      sizes: Seq[Long],
      runs: Seq[(Long, Long)],
      offsets: Seq[Long],
      wanted: Set[Int]): Option[Seq[(Int, Array[Byte])]] = {
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var sample = 0
    var chunk = 0
    var run = 0
    while (chunk < offsets.length && sample < sizes.length) {
      // advance to the stsc run governing this chunk (runs are keyed
      // by FIRST chunk; a run holds until the next run's first chunk)
      while (run + 1 < runs.length && runs(run + 1)._1 <= chunk + 1) run += 1
      val spc = runs(run)._2.toInt
      var within = 0L
      var i = 0
      while (i < spc && sample < sizes.length) {
        val size = sizes(sample)
        val off = offsets(chunk) + within
        if (wanted(sample)) {
          if (off < 0 || size < 0 || off + size > payload.length) return None
          val bytes = new Array[Byte](size.toInt)
          System.arraycopy(payload, off.toInt, bytes, 0, size.toInt)
          out += ((sample, bytes))
        }
        within += size
        sample += 1
        i += 1
      }
      chunk += 1
    }
    Some(out.result())
  }

  // --------------------------------------------------------------- GZIP --

  /** gzip-compress bytes (RFC 1952, java.util.zip) — the writer half of
    * the compressed-corpus roundtrip; web corpora (WET/WARC-style dumps)
    * arrive gzip'd and the pipeline must decode them distributed.
    */
  def gzip(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(data)
    g.close()
    bos.toByteArray
  }

  /** zlib-wrapped DEFLATE (RFC 1950) — the encode twin of the HTTP
    * `deflate` content-coding decode path; what fixtures and tests use
    * to synthesize deflate-coded bodies.
    */
  def zlibDeflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(data)
      d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val k = d.deflate(buf)
        out.write(buf, 0, k)
      }
      out.toByteArray
    } finally d.end()
  }

  /** Decompress a gzip payload with a HARD output cap — the zip-bomb
    * guard a corpus decoder needs (a few-KB payload can inflate to GBs
    * and OOM the executor; at `maxBytes` the row returns None instead).
    * None also for non-gzip magic or corrupt streams — the same
    * quarantine contract as the BMP/WAV parsers.
    */
  def gunzip(payload: Array[Byte], maxBytes: Int = 1 << 26): Option[Array[Byte]] = {
    if (payload == null || payload.length < 2 ||
      (payload(0) & 0xff) != 0x1f || (payload(1) & 0xff) != 0x8b) return None
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(payload))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > maxBytes) return None // bomb guard
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }
  }

  /** Walk a CONCATENATED-member gzip file (RFC 1952 §2.2: "a gzip file
    * consists of a series of members") into its decompressed members —
    * the container discipline of web-crawl interchange files, where each
    * archived record is its own gzip member so a reader can seek to any
    * member boundary without inflating the prefix. Each member's header
    * is parsed in full (FEXTRA/FNAME/FCOMMENT/FHCRC optional fields
    * skipped per spec), the DEFLATE body inflated with a HARD per-member
    * output cap (the [[gunzip]] zip-bomb guard, per member), and the
    * 8-byte trailer verified (CRC32 + ISIZE mod 2³²) — a corrupt member
    * quarantines the whole file (None), the same contract as the other
    * container parsers. `maxMembers` bounds the member walk itself (a
    * crafted file of millions of empty members is its own bomb) and
    * `maxBytesTotal` bounds the AGGREGATE output — without it, many
    * members each just under the per-member cap amplify a ~10 MB input
    * to tens of GB and the per-member discipline is moot.
    */
  def gzipMembers(
      payload: Array[Byte],
      maxBytesPerMember: Int = 1 << 26,
      maxMembers: Int = 1 << 20,
      maxBytesTotal: Long = 1L << 28): Option[Vector[Array[Byte]]] = {
    if (payload == null || payload.length < 20 ||
      (payload(0) & 0xff) != 0x1f || (payload(1) & 0xff) != 0x8b) return None
    val members = Vector.newBuilder[Array[Byte]]
    var off = 0
    var n = 0
    var total = 0L
    while (off < payload.length) {
      n += 1
      if (n > maxMembers) return None
      inflateMemberAt(payload, off, maxBytesPerMember) match {
        case None => return None
        case Some((member, next)) =>
          total += member.length
          if (total > maxBytesTotal) return None // aggregate bomb guard
          members += member
          off = next
      }
    }
    Some(members.result())
  }

  /** Inflate ONE gzip member starting at `off`: full header parse
    * (FEXTRA/FNAME/FCOMMENT/FHCRC optional fields skipped per RFC 1952),
    * DEFLATE body with the hard per-member output cap, 8-byte trailer
    * verified (CRC32 + ISIZE mod 2\u00b3\u00b2). Returns the member bytes and the
    * offset of the NEXT member; None on any corruption — the shared
    * step behind [[gzipMembers]]'s whole-file walk and [[warcRecords]]'s
    * incremental one.
    */
  private def inflateMemberAt(
      payload: Array[Byte], off: Int, maxBytesPerMember: Int): Option[(Array[Byte], Int)] = {
    // ---- member header: magic, CM=8 (deflate), FLG + optional fields
    if (off + 10 > payload.length ||
      (payload(off) & 0xff) != 0x1f || (payload(off + 1) & 0xff) != 0x8b ||
      (payload(off + 2) & 0xff) != 8) return None
    val flg = payload(off + 3) & 0xff
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + bytes
      if (p + 2 > payload.length) return None
      p += 2 + ((payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8))
    }
    if ((flg & 8) != 0) { // FNAME: zero-terminated
      while (p < payload.length && payload(p) != 0) p += 1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: zero-terminated
      while (p < payload.length && payload(p) != 0) p += 1
      p += 1
    }
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (p >= payload.length) return None
    // ---- DEFLATE body: inflate raw (nowrap), track bytes consumed so
    // the walk can land on the trailer and the next member boundary
    val inf = new java.util.zip.Inflater(true)
    var member: Array[Byte] = null
    var consumed = -1
    try {
      inf.setInput(payload, p, payload.length - p)
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var ok = true
      while (ok && !inf.finished()) {
        val k =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => ok = false; 0 }
        if (k > 0) {
          bos.write(buf, 0, k)
          if (bos.size > maxBytesPerMember) ok = false // bomb guard
        } else if (ok && !inf.finished() && inf.needsInput()) ok = false // truncated
      }
      if (ok && inf.finished()) {
        member = bos.toByteArray
        consumed = (payload.length - p) - inf.getRemaining
      }
    } finally inf.end()
    if (member == null) return None
    // ---- trailer: CRC32 then ISIZE (uncompressed length mod 2\u00b3\u00b2)
    val t = p + consumed
    if (t + 8 > payload.length) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val crcStored = buf.getInt(t).toLong & 0xFFFFFFFFL
    val isize = buf.getInt(t + 4).toLong & 0xFFFFFFFFL
    val crc = new java.util.zip.CRC32
    crc.update(member)
    if (crc.getValue != crcStored || (member.length.toLong & 0xFFFFFFFFL) != isize)
      return None
    Some((member, t + 8))
  }

  // ---------------------------------------------------------------- PNG --

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** One PNG chunk: 4-byte big-endian length, type, data, CRC32 over
    * type+data (the spec's framing, exactly).
    */
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val buf = ByteBuffer.allocate(12 + data.length).order(ByteOrder.BIG_ENDIAN)
    buf.putInt(data.length).put(t).put(data)
    val crc = new java.util.zip.CRC32
    crc.update(t); crc.update(data)
    buf.putInt(crc.getValue.toInt)
    buf.array()
  }

  /** 8-bit RGB (color type 2) non-interlaced PNG — a REAL spec-conformant
    * file (zlib-deflated filter-0 scanlines, CRC'd chunks; opens in any
    * viewer). `pixels` supplies RGB bytes row-major TOP-DOWN and is
    * cycled/zero-padded over the 3·w·h pixel array — the [[bmp]] writer's
    * fill contract, minus BMP's row padding (PNG scanlines are unpadded,
    * which is what keeps the oracle's byte formula a plain modulus).
    */
  def png(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "png dimensions must be positive")
    require(3L * width * height + height <= Int.MaxValue - 64,
      s"png: $width x $height exceeds the size ceiling")
    val stride = 3 * width
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val base = y * (1 + stride) // raw(base) = filter byte 0 (None)
      var i = 0
      while (i < stride) {
        raw(base + 1 + i) =
          if (pixels.nonEmpty) pixels((y * stride + i) % pixels.length) else 0: Byte
        i += 1
      }
      y += 1
    }
    val def_ = new java.util.zip.Deflater()
    val idat = try {
      def_.setInput(raw); def_.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!def_.finished()) bos.write(buf, 0, def_.deflate(buf))
      bos.toByteArray
    } finally def_.end()
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive filter, no interlace
      .array()
    PngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", idat) ++ pngChunk("IEND", Array.emptyByteArray)
  }

  /** Full PNG decode for 8-bit RGB/RGBA non-interlaced images:
    * `(width, height, channels, pixels)` with pixels row-major TOP-DOWN,
    * channels 3 or 4. A REAL decoder, not a header peek: chunk walk with
    * CRC verification, multi-IDAT zlib inflate (output capped — the
    * zip-bomb guard again; a PNG IDAT is a compressed stream like any
    * other), and per-scanline reconstruction of all five spec filters
    * (None/Sub/Up/Average/Paeth). Anything else — palette/gray/16-bit/
    * interlaced images, bad CRCs, length mismatches — quarantines (None),
    * the family contract.
    */
  /** The CRC-verified chunk walk shared by [[pngDecode]] and the
    * structural [[pngDimensions]] check: `(w, h, channels,
    * concatenated IDAT bytes)` for a supported PNG, None otherwise.
    * No inflation, no filter reconstruction — those are the decode
    * phase's cost.
    */
  private def pngWalk(
      payload: Array[Byte],
      maxBytes: Int): Option[(Int, Int, Int, Array[Byte])] = {
    if (payload == null || payload.length < 8 + 25 ||
      !payload.take(8).sameElements(PngSig)) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
    var off = 8
    var w = -1; var h = -1; var channels = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    var first = true
    while (!done) {
      if (off + 12 > payload.length) return None
      val len = buf.getInt(off)
      if (len < 0 || off + 12L + len > payload.length) return None
      val typ = new String(payload, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(payload, off + 4, 4 + len)
      if (crc.getValue.toInt != buf.getInt(off + 8 + len)) return None
      if (first && typ != "IHDR") return None
      typ match {
        case "IHDR" =>
          if (!first || len != 13) return None
          w = buf.getInt(off + 8)
          h = buf.getInt(off + 12)
          val bitDepth = payload(off + 16) & 0xff
          val colorType = payload(off + 17) & 0xff
          val compression = payload(off + 18) & 0xff
          val filter = payload(off + 19) & 0xff
          val interlace = payload(off + 20) & 0xff
          channels = colorType match { case 2 => 3; case 6 => 4; case _ => -1 }
          if (w <= 0 || h <= 0 || bitDepth != 8 || channels < 0 ||
            compression != 0 || filter != 0 || interlace != 0) return None
          // raw-size ceiling BEFORE inflating: the declared geometry
          // bounds the inflate output exactly
          if ((channels.toLong * w + 1) * h > maxBytes) return None
        case "IDAT" => idat.write(payload, off + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks (tEXt, pHYs, …) skip — CRC already checked
      }
      first = false
      off += 12 + len
    }
    if (w < 0 || idat.size == 0) None
    else Some((w, h, channels, idat.toByteArray))
  }

  def pngDecode(
      payload: Array[Byte],
      maxBytes: Int = 1 << 26): Option[(Int, Int, Int, Array[Byte])] = {
    val walked = pngWalk(payload, maxBytes)
    if (walked.isEmpty) return None
    val (w, h, channels, idatBytes) = walked.get
    val stride = channels * w
    val expected = (stride + 1) * h
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    val n = try {
      inf.setInput(idatBytes)
      var total = 0
      var ok = true
      while (ok && !inf.finished() && total < expected) {
        val k = try inf.inflate(raw, total, expected - total)
          catch { case _: java.util.zip.DataFormatException => ok = false; 0 }
        if (k > 0) total += k
        else if (ok && !inf.finished() && inf.needsInput()) ok = false
      }
      if (!ok || total != expected || !inf.finished()) -1 else total
    } finally inf.end()
    if (n < 0) return None
    // ---- filter reconstruction, scanline by scanline (spec §9)
    val out = new Array[Byte](stride * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      val src = y * (stride + 1) + 1
      val dst = y * stride
      if (f > 4) return None
      var x = 0
      while (x < stride) {
        val rv = raw(src + x) & 0xff
        val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0         // left
        val b = if (y > 0) out(dst - stride + x) & 0xff else 0         // up
        val c = if (x >= bpp && y > 0) out(dst - stride + x - bpp) & 0xff else 0 // up-left
        val v = f match {
          case 0 => rv
          case 1 => rv + a
          case 2 => rv + b
          case 3 => rv + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            rv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        out(dst + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, channels, out))
  }

  /** (width, height) if the payload is STRUCTURALLY a supported PNG —
    * the CRC-verified chunk walk without pixel reconstruction (a
    * truncated-but-CRC-clean IDAT passes here and fails at
    * [[pngDecode]]). The cheap gate for passthrough paths that would
    * otherwise pay a full inflate+defilter to produce a no-op.
    */
  def pngDimensions(payload: Array[Byte]): Option[(Int, Int)] =
    pngWalk(payload, 1 << 26).map { case (w, h, _, _) => (w, h) }

  // -------------------------------------------------------------- IMAGE --

  /** A decoded image as the image ops read it: pixel (x, y), top row
    * first, starts at byte `top + y·stride + channels·x` of `bytes`.
    * `channels` is 1 (gray), 3, or 4 (alpha last, never read); `bgr`
    * names the order of the three color bytes. A BMP raster is a
    * zero-copy view over its payload ([[bmpRaster]]); PNG, JPEG and GIF
    * rasters wrap their decoders' top-down RGB/RGBA/gray arrays.
    */
  final case class Raster(
      width: Int, height: Int, channels: Int, bytes: Array[Byte],
      top: Int, stride: Int, bgr: Boolean)

  private def topDownRaster(decoded: (Int, Int, Int, Array[Byte])): Raster = {
    val (w, h, ch, px) = decoded
    Raster(w, h, ch, px, 0, ch * w, bgr = false)
  }

  /** The payload's pixels, trying 24bpp BMP, PNG, JPEG (baseline or
    * progressive) and GIF (the background-composited first frame) in
    * that order; None when none of them parses.
    */
  def decodeImage(payload: Array[Byte]): Option[Raster] =
    bmpRaster(payload)
      .orElse(pngDecode(payload).map(topDownRaster))
      .orElse(JpegCodec.decode(payload).map(topDownRaster))
      .orElse(gifDecode(payload).map(topDownRaster))

  /** Byte offsets of red, green and blue within one pixel (all three 0
    * for gray, so a gray pixel reads as (v, v, v)).
    */
  private def rgbOffsets(img: Raster): (Int, Int, Int) =
    if (img.channels == 1) (0, 0, 0) else if (img.bgr) (2, 1, 0) else (0, 1, 2)

  /** Integer-exact per-channel pixel sums (Σblue, Σgreen, Σred), bytes
    * read unsigned, row padding and alpha excluded; a gray pixel counts
    * as (v, v, v). Exact in 64-bit (255·w·h overflows only past
    * ~3.6×10¹⁶ pixels).
    */
  def pixelStats(img: Raster): (Long, Long, Long) = {
    val (ro, go, bo) = rgbOffsets(img)
    val px = img.bytes
    var sumB = 0L
    var sumG = 0L
    var sumR = 0L
    var y = 0
    while (y < img.height) {
      var p = img.top + y * img.stride
      val end = p + img.channels * img.width
      while (p < end) {
        sumB += px(p + bo) & 0xff
        sumG += px(p + go) & 0xff
        sumR += px(p + ro) & 0xff
        p += img.channels
      }
      y += 1
    }
    (sumB, sumG, sumR)
  }

  /** 64-bit DIFFERENCE HASH (dHash) — the classic perceptual
    * near-duplicate fingerprint: sample a 9×8 grayscale grid
    * (nearest-neighbor at cell centers — integer-exact for ANY source
    * size, where a block average would need w ≥ 9), and set bit
    * (row·8 + col) when gray(col, row) < gray(col+1, row). Gray =
    * (R + G + B) div 3, bytes unsigned, so identical pixels fingerprint
    * identically in every format (the transcode-identity invariant q389
    * pins). Only the 72 grid samples are read.
    */
  def dhash(img: Raster): Long = {
    val (ro, go, bo) = rgbOffsets(img)
    val px = img.bytes
    def gray(x: Int, y: Int): Int = {
      val p = img.top + y * img.stride + img.channels * x
      ((px(p + ro) & 0xff) + (px(p + go) & 0xff) + (px(p + bo) & 0xff)) / 3
    }
    val w = img.width
    val h = img.height
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      val y = (2 * cy + 1) * h / 16
      var cx = 0
      while (cx < 8) {
        val xa = (2 * cx + 1) * w / 18
        val xb = (2 * cx + 3) * w / 18
        if (gray(xa, y) < gray(xb, y)) hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** Integer nearest-neighbor resample into `out`: target pixel (X, Y)
    * copies source pixel (⌊X·w/tw⌋, ⌊Y·h/th⌋) verbatim (no blending, so
    * any engine replays every output byte from the decoded input), as
    * three bytes in BGR or RGB order per `bgr` (gray replicated, alpha
    * dropped), target row Y starting at `top + Y·stride`.
    */
  private def resample(
      img: Raster, tw: Int, th: Int,
      out: Array[Byte], top: Int, stride: Int, bgr: Boolean): Unit = {
    val (ro, go, bo) = rgbOffsets(img)
    val (first, third) = if (bgr) (bo, ro) else (ro, bo)
    val px = img.bytes
    val srcX = Array.tabulate(tw)(x => img.channels * (x.toLong * img.width / tw).toInt)
    var y = 0
    while (y < th) {
      val srcRow = img.top + (y.toLong * img.height / th).toInt * img.stride
      var d = top + y * stride
      var x = 0
      while (x < tw) {
        val s = srcRow + srcX(x)
        out(d) = px(s + first)
        out(d + 1) = px(s + go)
        out(d + 2) = px(s + third)
        d += 3
        x += 1
      }
      y += 1
    }
  }

  /** Nearest-neighbor thumbnail at `tw × th` ([[resample]]'s map) as
    * `(mime type, payload)`. A BGR raster (a BMP) stays a 24bpp BMP;
    * every other raster leaves as RGB PNG — re-encoding a tiny
    * thumbnail lossily or palette-quantized would stack a second
    * generation loss.
    */
  def resizeImage(img: Raster, tw: Int, th: Int): (String, Array[Byte]) = {
    require(tw > 0 && th > 0, s"resizeImage target must be positive: $tw x $th")
    if (img.bgr) {
      // target geometry in Long: rowT·th as an Int product can wrap
      // POSITIVE for absurd targets and corrupt silently instead of failing
      val rowTL = ((24L * tw + 31) / 32) * 4
      require(rowTL * th + 54 <= Int.MaxValue,
        s"resizeImage: target $tw x $th exceeds the BMP size ceiling")
      val rowT = rowTL.toInt
      // exact-size pixel array (padding included, rows bottom-up) so the
      // bmp() writer's cyclic fill is the identity on it
      val px = new Array[Byte](rowT * th)
      resample(img, tw, th, px, (th - 1) * rowT, -rowT, bgr = true)
      ("image/bmp", bmp(tw, th, px))
    } else {
      require(3L * tw * th + th <= Int.MaxValue - 64,
        s"resizeImage: target $tw x $th exceeds the PNG size ceiling")
      val px = new Array[Byte](3 * tw * th)
      resample(img, tw, th, px, 0, 3 * tw, bgr = false)
      ("image/png", png(tw, th, px))
    }
  }

  /** Lossless transcode to RGB PNG — the format-normalization step a
    * real ingest runs so every downstream image op sees one layout.
    * Pixel-exact (gray expands to R = G = B, alpha drops), so the PNG's
    * [[dhash]] equals the source's; None past the PNG size ceiling.
    */
  def toPng(img: Raster): Option[Array[Byte]] = {
    val (w, h) = (img.width, img.height)
    if (3L * w * h + h > Int.MaxValue - 64) None
    else if (img.channels == 3 && !img.bgr && img.top == 0 && img.stride == 3 * w)
      Some(png(w, h, img.bytes))
    else {
      val rgb = new Array[Byte](3 * w * h)
      resample(img, w, h, rgb, 0, 3 * w, bgr = false)
      Some(png(w, h, rgb))
    }
  }

  // ----------------------------------------------------------------- GIF --

  /** Encode an indexed image as GIF89a (GIF87a/89a, the third web image
    * container after PNG/JPEG) with a REAL LZW compressor — variable
    * code width, dictionary growth to 12 bits, clear-code reset at 4096
    * — optional interlace, and an optional Graphic Control Extension:
    * the writer half of the q-family roundtrip and a legitimate export
    * path. `palette` is packed 0xRRGGBB, length a power of two in
    * [2, 256]; `indices` row-major top-down, each < palette length.
    */
  def gif(
      width: Int,
      height: Int,
      palette: Array[Int],
      indices: Array[Byte],
      interlace: Boolean = false,
      withGce: Boolean = false,
      transparentIdx: Int = -1): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
      "gif dimensions out of range")
    require(palette.length >= 2 && palette.length <= 256 &&
      Integer.bitCount(palette.length) == 1, "gif palette must be 2^k in [2,256]")
    require(indices.length == width * height, "gif indices must cover the frame")
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(width); u16(height)
    val gctBits = 31 - Integer.numberOfLeadingZeros(palette.length) // log2
    out.write(0x80 | ((gctBits - 1) & 0x07) | 0x70) // GCT, max color res
    out.write(0) // background color index
    out.write(0) // aspect
    palette.foreach { c =>
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff); out.write(c & 0xff)
    }
    if (withGce || transparentIdx >= 0) {
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(if (transparentIdx >= 0) 1 else 0) // packed: transparency flag
      u16(0) // delay
      out.write(math.max(transparentIdx, 0))
      out.write(0) // terminator
    }
    out.write(0x2c) // image descriptor
    u16(0); u16(0); u16(width); u16(height)
    out.write(if (interlace) 0x40 else 0x00) // no LCT
    // ---- LZW
    val mcs = math.max(2, gctBits)
    out.write(mcs)
    val clear = 1 << mcs
    val eoi = clear + 1
    // sub-block-framed LSB-first bit sink
    val block = new Array[Byte](255)
    var blockLen = 0
    var bitBuf = 0L
    var bitCnt = 0
    def flushBytes(): Unit =
      while (bitCnt >= 8) {
        block(blockLen) = (bitBuf & 0xff).toByte
        blockLen += 1
        bitBuf >>>= 8; bitCnt -= 8
        if (blockLen == 255) { out.write(255); out.write(block, 0, 255); blockLen = 0 }
      }
    def emit(code: Int, width: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += width
      flushBytes()
    }
    // dictionary: (prefix code, next byte) → code. The code WIDTH
    // schedule mirrors the decoder's exactly: the decoder adds one
    // entry per data code read (except the first after a clear) and
    // widens when ITS next-free counter fills the current width — one
    // entry behind the encoder's own dictionary, the classic GIF-LZW
    // lag. Tracking the decoder's counter per EMISSION (not our own
    // adds, which skip the final flush) keeps the EOI width in sync
    // too.
    var dict = new java.util.HashMap[Integer, Integer]()
    var nextCode = eoi + 1
    var codeSize = mcs + 1
    var decNext = eoi + 1
    var firstEmit = true
    def emitData(code: Int): Unit = {
      emit(code, codeSize)
      if (firstEmit) firstEmit = false
      else {
        decNext += 1
        if (decNext == (1 << codeSize) && codeSize < 12) codeSize += 1
      }
    }
    emit(clear, codeSize)
    // interlaced files store rows in pass order — permute before encoding
    val seq =
      if (!interlace) indices
      else {
        val rows = Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s0, st) =>
          s0 until height by st
        }
        val p = new Array[Byte](indices.length)
        var d = 0
        rows.foreach { y =>
          System.arraycopy(indices, y * width, p, d, width); d += width
        }
        p
      }
    var cur = -1
    seq.foreach { b =>
      val k = b & 0xff
      require(k < palette.length, s"gif index $k out of palette")
      if (cur < 0) cur = k
      else {
        val key = Integer.valueOf((cur << 8) | k)
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          emitData(cur)
          dict.put(key, Integer.valueOf(nextCode))
          nextCode += 1
          if (nextCode == 4096) { // dictionary full: reset
            emit(clear, codeSize)
            dict = new java.util.HashMap[Integer, Integer]()
            nextCode = eoi + 1
            codeSize = mcs + 1
            decNext = eoi + 1
            firstEmit = true
          }
          cur = k
        }
      }
    }
    if (cur >= 0) emitData(cur)
    emit(eoi, codeSize)
    if (bitCnt > 0) { // final partial byte
      block(blockLen) = (bitBuf & 0xff).toByte
      blockLen += 1
      if (blockLen == 255) { out.write(255); out.write(block, 0, 255); blockLen = 0 }
    }
    if (blockLen > 0) { out.write(blockLen); out.write(block, 0, blockLen) }
    out.write(0) // data terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Decode the FIRST frame of a GIF87a/89a payload to row-major
    * top-down RGB — the [[pngDecode]] sibling for the third web image
    * format, closing the silent coverage hole where GIF-share images
    * fell out of image stats/dedup. A REAL decoder: header + logical
    * screen descriptor, global/local color tables, extension-block
    * skipping with GCE transparency capture, full variable-width LZW
    * (clear-code resets, KwKwK, 12-bit growth), interlace
    * reconstruction, and first-frame compositing — the frame renders
    * onto the background-color-filled canvas, transparent pixels (and
    * any canvas the frame does not cover) keep the background color;
    * later frames of an animation are ignored by contract. Any
    * malformation — bad magic, frame outside the canvas, LZW code
    * overrun, index past the palette, truncated stream, pixel shortfall
    * — quarantines (None), the family contract. `maxBytes` caps the
    * decoded canvas (zip-bomb guard: LZW is a compressed stream like
    * any other).
    */
  def gifDecode(
      payload: Array[Byte],
      maxBytes: Int = 1 << 26): Option[(Int, Int, Int, Array[Byte])] = {
    if (payload == null || payload.length < 13) return None
    val magic = new String(payload, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u16(p: Int): Int = (payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8)
    val cw = u16(6); val chh = u16(8)
    if (cw <= 0 || chh <= 0) return None
    if (3L * cw * chh > maxBytes) return None
    val packed = payload(10) & 0xff
    var pos = 13
    var gct: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 0x07) + 1)
      if (pos + 3 * n > payload.length) return None
      gct = Array.tabulate(n)(i =>
        ((payload(pos + 3 * i) & 0xff) << 16) |
          ((payload(pos + 3 * i + 1) & 0xff) << 8) |
          (payload(pos + 3 * i + 2) & 0xff))
      pos += 3 * n
    }
    val bgIdx = payload(11) & 0xff
    var transparent = -1
    while (pos < payload.length) {
      (payload(pos) & 0xff) match {
        case 0x3b => return None // trailer before any image
        case 0x21 => // extension: label + sub-blocks
          if (pos + 2 > payload.length) return None
          val label = payload(pos + 1) & 0xff
          pos += 2
          var first = true
          var open = true
          while (open) {
            if (pos >= payload.length) return None
            val n = payload(pos) & 0xff
            if (n == 0) { pos += 1; open = false }
            else {
              if (pos + 1 + n > payload.length) return None
              if (label == 0xf9 && first && n >= 4)
                transparent =
                  if ((payload(pos + 1) & 0x01) != 0) payload(pos + 4) & 0xff
                  else -1
              first = false
              pos += 1 + n
            }
          }
        case 0x2c => // image descriptor: decode this frame and return
          if (pos + 10 > payload.length) return None
          val left = u16(pos + 1); val top = u16(pos + 3)
          val fw = u16(pos + 5); val fh = u16(pos + 7)
          val ip = payload(pos + 9) & 0xff
          pos += 10
          if (fw <= 0 || fh <= 0 || left + fw > cw || top + fh > chh) return None
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 1 << ((ip & 0x07) + 1)
            if (pos + 3 * n > payload.length) return None
            pal = Array.tabulate(n)(i =>
              ((payload(pos + 3 * i) & 0xff) << 16) |
                ((payload(pos + 3 * i + 1) & 0xff) << 8) |
                (payload(pos + 3 * i + 2) & 0xff))
            pos += 3 * n
          }
          if (pal == null) return None // no color table at all
          val interlaced = (ip & 0x40) != 0
          if (pos >= payload.length) return None
          val mcs = payload(pos) & 0xff
          pos += 1
          if (mcs < 2 || mcs > 8) return None
          // ---- LZW decode of the concatenated sub-blocks
          val need = fw * fh
          val outIdx = new Array[Byte](need)
          var got = 0
          val clear = 1 << mcs
          val eoi = clear + 1
          val prefix = new Array[Int](4096)
          val suffix = new Array[Byte](4096)
          val stack = new Array[Byte](4097)
          var nextCode = eoi + 1
          var codeSize = mcs + 1
          var prev = -1
          var bitBuf = 0L
          var bitCnt = 0
          var sawEoi = false
          var open = true
          while (open) {
            if (pos >= payload.length) return None
            val n = payload(pos) & 0xff
            pos += 1
            if (n == 0) open = false
            else {
              if (pos + n > payload.length) return None
              var i = 0
              while (i < n) {
                if (!sawEoi) {
                  bitBuf |= (payload(pos + i) & 0xffL) << bitCnt
                  bitCnt += 8
                  while (!sawEoi && bitCnt >= codeSize) {
                    val code = (bitBuf & ((1 << codeSize) - 1)).toInt
                    bitBuf >>>= codeSize; bitCnt -= codeSize
                    if (code == clear) {
                      nextCode = eoi + 1; codeSize = mcs + 1; prev = -1
                    } else if (code == eoi) {
                      sawEoi = true
                    } else if (code > nextCode || (code == nextCode && prev < 0)) {
                      return None // code beyond the dictionary: corrupt
                    } else {
                      // expand `code` (KwKwK when code == nextCode)
                      var sp = 0
                      var c = code
                      if (code == nextCode) {
                        // prev + first(prev): push placeholder, expand prev
                        var f = prev
                        while (f >= clear + 2) f = prefix(f)
                        stack(sp) = f.toByte; sp += 1
                        c = prev
                      }
                      while (c >= clear + 2) {
                        stack(sp) = suffix(c); sp += 1
                        c = prefix(c)
                      }
                      if (c >= clear) return None // dangling chain
                      stack(sp) = c.toByte; sp += 1
                      val first = c
                      // drain the stack (reversed) into the index plane
                      while (sp > 0) {
                        sp -= 1
                        val v = stack(sp) & 0xff
                        if (v >= pal.length) return None
                        if (got >= need) return None // pixel overrun
                        outIdx(got) = v.toByte; got += 1
                      }
                      if (prev >= 0 && nextCode < 4096) {
                        prefix(nextCode) = prev
                        suffix(nextCode) = first.toByte
                        nextCode += 1
                        // widen when the table fills the current width
                        // (the GIFCOMPR-paired timing: the encoder's
                        // width check uses its PRE-add count, so the
                        // decoder's post-add count hits the boundary at
                        // exactly the right read)
                        if (nextCode == (1 << codeSize) && codeSize < 12)
                          codeSize += 1
                      }
                      prev = code
                    }
                  }
                }
                i += 1
              }
              pos += n
            }
          }
          if (!sawEoi || got != need) return None
          // ---- composite onto the background-filled canvas
          val bg = if (gct != null && bgIdx < gct.length) gct(bgIdx) else 0
          val px = new Array[Byte](3 * cw * chh)
          var p = 0
          while (p < cw * chh) {
            px(3 * p) = ((bg >> 16) & 0xff).toByte
            px(3 * p + 1) = ((bg >> 8) & 0xff).toByte
            px(3 * p + 2) = (bg & 0xff).toByte
            p += 1
          }
          val rows: Seq[Int] =
            if (!interlaced) 0 until fh
            else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s0, st) =>
              s0 until fh by st
            }
          var srcRow = 0
          rows.foreach { y =>
            var x = 0
            while (x < fw) {
              val v = outIdx(srcRow * fw + x) & 0xff
              if (v != transparent) {
                val d = 3 * ((top + y) * cw + (left + x))
                val c = pal(v)
                px(d) = ((c >> 16) & 0xff).toByte
                px(d + 1) = ((c >> 8) & 0xff).toByte
                px(d + 2) = (c & 0xff).toByte
              }
              x += 1
            }
            srcRow += 1
          }
          return Some((cw, chh, 3, px))
        case _ => return None // unknown block type: corrupt
      }
    }
    None // ran out of blocks with no image
  }

  // ------------------------------------------------------------- CHARSET --

  /** A charset-sniffed decode: the label actually used, whether a BOM
    * led, whether the decode was a contradicted-or-guessed fallback
    * (mojibake risk — the flag a corpus health dashboard charts), and
    * the decoded text.
    */
  final case class Sniffed(
      encoding: String, bom: Boolean, mojibakeRisk: Boolean, text: String)

  /** True iff the bytes are one valid UTF-8 sequence (strict decoder —
    * no replacement, no truncated tails).
    */
  def validUtf8(payload: Array[Byte]): Boolean =
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(payload))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  /** Normalize a declared charset label to the small supported set; None
    * for anything unrecognized (the caller falls back to the byte
    * heuristic — an unknown label must not crash ingest). The
    * iso-8859-1/latin-1 labels alias to windows-1252 — the WHATWG
    * encoding table maps them there PRECISELY because mislabeled pages
    * are the common case: bytes 0x80–0x9F are smart quotes and dashes in
    * the wild, and a true ISO-8859-1 decode would turn them into C1
    * control characters that enter the corpus unflagged.
    */
  private def normalizeCharset(label: String): Option[String] = label match {
    case "utf-8" | "utf8" => Some("utf-8")
    case "iso-8859-1" | "iso8859-1" | "latin-1" | "latin1" => Some("windows-1252")
    case "windows-1252" | "cp1252" => Some("windows-1252")
    case _ => None
  }

  private val MetaCharsetRe =
    java.util.regex.Pattern.compile("<meta[^>]*charset\\s*=\\s*[\"']?([a-z0-9_\\-]+)")

  /** Charset sniff + transcode-to-UTF-16-String for crawl ingest — the
    * step real pipelines need because ~5–10 % of the web is not UTF-8
    * and a byte-blind `new String(bytes, UTF_8)` silently corrupts text
    * UPSTREAM of every dedup/quality op. Detection order (the WHATWG
    * encoding-sniffing shape):
    *
    *  1. BOM: EF BB BF → utf-8, FF FE → utf-16le, FE FF → utf-16be
    *     (stripped before decode; authoritative).
    *  2. TRANSPORT declaration (`transport` — the `charset=` parameter
    *     of an HTTP Content-Type header, when the caller has one;
    *     normalized, unknown labels ignored). Precedes the in-document
    *     meta per the WHATWG order.
    *  3. `<meta … charset=…>` in the first 1024 bytes, scanned through
    *     the latin-1 superset (covers both `<meta charset=x>` and the
    *     `http-equiv` `content="…; charset=x"` form). A declared utf-8
    *     CONTRADICTED by invalid UTF-8 bytes falls back to windows-1252
    *     with the mojibake flag raised — trusting a wrong label is how
    *     mojibake enters a corpus (same rule for a transport utf-8).
    *  4. Strict whole-payload UTF-8 validation (pure ASCII passes).
    *  5. windows-1252 fallback (decodes every byte; flagged risky —
    *     it is a GUESS).
    *
    * Total function: every payload decodes to something, the flag says
    * how trustworthy.
    */
  def sniffCharset(payload: Array[Byte], transport: Option[String] = None): Sniffed = {
    import java.nio.charset.StandardCharsets._
    if (payload == null || payload.isEmpty) return Sniffed("utf-8", false, false, "")
    val n = payload.length
    if (n >= 3 && (payload(0) & 0xff) == 0xEF && (payload(1) & 0xff) == 0xBB &&
      (payload(2) & 0xff) == 0xBF)
      return Sniffed("utf-8", true, false, new String(payload, 3, n - 3, UTF_8))
    if (n >= 2 && (payload(0) & 0xff) == 0xFF && (payload(1) & 0xff) == 0xFE)
      return Sniffed("utf-16le", true, false, new String(payload, 2, n - 2, UTF_16LE))
    if (n >= 2 && (payload(0) & 0xff) == 0xFE && (payload(1) & 0xff) == 0xFF)
      return Sniffed("utf-16be", true, false, new String(payload, 2, n - 2, UTF_16BE))
    val head = new String(payload, 0, math.min(1024, n), ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    val m = MetaCharsetRe.matcher(head)
    val declared = transport
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).flatMap(normalizeCharset)
      .orElse(if (m.find()) normalizeCharset(m.group(1)) else None)
    declared match {
      case Some("utf-8") =>
        if (validUtf8(payload)) Sniffed("utf-8", false, false, new String(payload, UTF_8))
        else Sniffed("windows-1252", false, true,
          new String(payload, java.nio.charset.Charset.forName("windows-1252")))
      case Some(cs) => // windows-1252, the only other normalized label
        // (iso-8859-1/latin-1 labels alias here per WHATWG)
        Sniffed(cs, false, false,
          new String(payload, java.nio.charset.Charset.forName("windows-1252")))
      case None =>
        if (validUtf8(payload)) Sniffed("utf-8", false, false, new String(payload, UTF_8))
        else Sniffed("windows-1252", false, true,
          new String(payload, java.nio.charset.Charset.forName("windows-1252")))
    }
  }

  // --------------------------------------------------------------- HTTP --

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The CRLF-terminated line of `buf` starting at `off`, searched up to
    * `end` → (text decoded as `cs`, offset past the CRLF); null when no
    * CRLF ends before `end`. Raw byte arithmetic, NOT text.getBytes: an
    * undecodable byte would decode to a replacement char and
    * desynchronize the byte offsets. The line reader of the HTTP and
    * WARC header parsers.
    */
  private def crlfLine(
      buf: Array[Byte], off: Int, end: Int,
      cs: java.nio.charset.Charset): (String, Int) = {
    var i = off
    while (i + 1 < end && !(buf(i) == '\r' && buf(i + 1) == '\n')) i += 1
    if (i + 1 >= end) null
    else (new String(buf, off, i - off, cs), i + 2)
  }

  /** One parsed HTTP response message: status code, the raw
    * `Content-Type`, `Location`, `Transfer-Encoding` and
    * `Content-Encoding` values (null when absent), header count, body
    * octets, and whether every transfer/content coding was fully undone
    * (`bodyDecoded` — false means an unsupported coding left the body
    * raw from that layer out).
    */
  final case class HttpMessage(
      status: Int, contentType: String, location: String, nHeaders: Int,
      body: Array[Byte], transferEncoding: String = null,
      contentEncoding: String = null, bodyDecoded: Boolean = true)

  /** Parse an HTTP/1.x response MESSAGE (status line, header fields,
    * blank line, body) — the payload a real WARC `response` record
    * carries: crawlers archive the whole WIRE message, so the chain
    * from container to text needs this split AND the wire codings
    * undone: real archives keep `Transfer-Encoding: chunked` framing
    * and `Content-Encoding: gzip|deflate` compression inside the
    * message, and a body that reaches charset sniffing still
    * chunk-framed or compressed is corpus garbage.
    *
    * Coding discipline (undone outermost-first — reversed
    * Transfer-Encoding tokens, then reversed Content-Encoding tokens):
    *  - `chunked` → de-framed (hex size lines, extensions dropped,
    *    trailer fields consumed); malformed chunk framing quarantines
    *    (None) — it is the same corruption class as bad record framing.
    *  - `gzip`/`x-gzip` → inflated ([[gunzip]]'s zip-bomb cap via
    *    `maxBodyBytes`); corrupt data quarantines.
    *  - `deflate` → zlib inflate, with the raw-DEFLATE fallback
    *    browsers apply (servers mislabel raw streams as deflate in the
    *    wild); corrupt under BOTH framings quarantines.
    *  - `zstd` → decompressed (RFC 8878, [[zstdDecompress]]'s
    *    zip-bomb cap — via the zstd-jni Spark itself ships); corrupt
    *    data quarantines.
    *  - `identity` → no-op.
    *  - anything else (`br`, `compress`, …) → UNSUPPORTED: the body
    *    is left as-is from that layer out and `bodyDecoded` flips
    *    false — flagged, never silently dropped.
    *
    * Header names are matched case-insensitively; malformed messages
    * (no HTTP/ magic, non-numeric status, unterminated headers, a
    * field line with no colon) quarantine (None).
    */
  def parseHttpResponse(
      payload: Array[Byte], maxBodyBytes: Int = 1 << 26): Option[HttpMessage] = {
    if (payload == null || payload.length < 12) return None
    val sl = crlfLine(payload, 0, payload.length, Latin1)
    if (sl == null) return None
    val mStat = java.util.regex.Pattern
      .compile("HTTP/\\d\\.\\d (\\d{3})(?: .*)?").matcher(sl._1)
    if (!mStat.matches()) return None
    val status = mStat.group(1).toInt
    var off = sl._2
    var contentType: String = null
    var location: String = null
    var transferEncoding: String = null
    var contentEncoding: String = null
    var nHeaders = 0
    var open = true
    while (open) {
      val ln = crlfLine(payload, off, payload.length, Latin1)
      if (ln == null) return None
      off = ln._2
      if (ln._1.isEmpty) open = false
      else {
        val c = ln._1.indexOf(':')
        if (c <= 0) return None
        nHeaders += 1
        val name = ln._1.substring(0, c).trim
        if (name.equalsIgnoreCase("Content-Type"))
          contentType = ln._1.substring(c + 1).trim
        else if (name.equalsIgnoreCase("Location"))
          location = ln._1.substring(c + 1).trim
        else if (name.equalsIgnoreCase("Transfer-Encoding")) {
          // list-valued field (RFC 9110 §5.3): repeated field lines are
          // equivalent to one comma-joined value — overwriting would
          // silently skip the earlier codings
          val v = ln._1.substring(c + 1).trim
          transferEncoding =
            if (transferEncoding == null) v else transferEncoding + ", " + v
        } else if (name.equalsIgnoreCase("Content-Encoding")) {
          val v = ln._1.substring(c + 1).trim
          contentEncoding =
            if (contentEncoding == null) v else contentEncoding + ", " + v
        }
      }
    }
    var body = new Array[Byte](payload.length - off)
    System.arraycopy(payload, off, body, 0, body.length)
    // ---- undo wire codings, outermost first: TE tokens reversed, then
    // CE tokens reversed (RFC 9112 puts chunked last in TE, so it is
    // the first thing undone)
    def tokens(v: String): List[String] =
      if (v == null) Nil
      else v.split(',').iterator.map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty).toList
    var decoded = true
    val toUndo = tokens(transferEncoding).reverse ++ tokens(contentEncoding).reverse
    val it = toUndo.iterator
    while (decoded && it.hasNext) {
      it.next() match {
        case "identity" => ()
        case "chunked" =>
          dechunk(body) match {
            case Some(b) => body = b
            case None => return None // framing corruption
          }
        case "gzip" | "x-gzip" =>
          gunzip(body, maxBodyBytes) match {
            case Some(b) => body = b
            case None => return None // declared-gzip body that won't inflate
          }
        case "deflate" =>
          inflateBytes(body, raw = false, maxBodyBytes)
            .orElse(inflateBytes(body, raw = true, maxBodyBytes)) match {
            case Some(b) => body = b
            case None => return None
          }
        case "zstd" =>
          zstdDecompress(body, maxBodyBytes) match {
            case Some(b) => body = b
            case None => return None // declared-zstd body that won't decode
          }
        case _ => decoded = false // unsupported coding: flag, leave raw
      }
    }
    Some(HttpMessage(status, contentType, location, nHeaders, body,
      transferEncoding, contentEncoding, decoded))
  }

  /** zstd-compress (RFC 8878) — the encode twin of the `zstd` HTTP
    * content-coding decode path, via the zstd-jni Spark itself ships
    * (no new dependency; the same binding backs Spark's shuffle
    * compression).
    */
  def zstd(data: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data)

  /** Decompress a zstd frame with the HARD output cap every corpus
    * decoder needs (zstd's ratio ceiling is far higher than gzip's, so
    * the zip-bomb guard matters MORE here); None at the cap, for
    * non-zstd magic, or corrupt streams — the [[gunzip]] contract.
    * Streamed so the cap binds before allocation, not after.
    */
  def zstdDecompress(data: Array[Byte], maxBytes: Int = 1 << 26): Option[Array[Byte]] = {
    val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(data))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size + n > maxBytes) return None
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch {
      case _: java.io.IOException => None
    } finally in.close()
  }

  /** Undo HTTP/1.1 chunked transfer framing (RFC 9112 §7.1): hex size
    * line (chunk extensions after `;` dropped), chunk octets + CRLF,
    * repeated to the zero chunk, then trailer fields to the blank line.
    * Strict: junk after the terminator, a non-hex size line, or any
    * truncation → None (the message was framed by the WARC record's
    * Content-Length, so leftovers are corruption, not streaming).
    */
  private[functions] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    def line(): String = {
      var i = off
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) null
      else {
        val s = new String(b, off, i - off, java.nio.charset.StandardCharsets.ISO_8859_1)
        off = i + 2
        s
      }
    }
    while (true) {
      val l = line()
      if (l == null) return None
      val semi = l.indexOf(';')
      val hexs = (if (semi >= 0) l.substring(0, semi) else l).trim
      if (hexs.isEmpty ||
        !hexs.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F'))) return None
      // RFC 9112 permits leading zeros in chunk-size; the value bound
      // (0xFFFFFFFF) applies to the SIGNIFICANT digits only
      val sig = hexs.dropWhile(_ == '0')
      if (sig.length > 8) return None
      val size = if (sig.isEmpty) 0L else java.lang.Long.parseLong(sig, 16)
      if (size == 0) {
        // trailer section: zero or more field lines, then the blank line
        var t = line()
        while (t != null && t.nonEmpty) t = line()
        if (t == null) return None
        if (off != b.length) return None // junk past the terminator
        return Some(out.toByteArray)
      }
      if (off + size + 2 > b.length) return None
      out.write(b, off, size.toInt)
      off += size.toInt
      if (b(off) != '\r' || b(off + 1) != '\n') return None
      off += 2
    }
    None // unreachable
  }

  /** One zstd frame starting at `off`: its decompressed bytes (empty
    * for a skippable frame — the decoder skips it) and the offset just
    * past it — [[inflateMemberAt]]'s `.warc.zst` twin. Frame
    * boundaries come from `Zstd.findFrameCompressedSize` (frames do
    * not declare their compressed size in the header; the binding
    * walks the block chain), the decode streams so the per-member cap
    * binds before allocation, and anything corrupt — including a
    * frame that needs an unavailable dictionary — is None.
    */
  private def zstdFrameAt(
      payload: Array[Byte], off: Int, maxBytesPerMember: Int): Option[(Array[Byte], Int)] = {
    import com.github.luben.zstd.Zstd
    val csize =
      try Zstd.findFrameCompressedSize(payload, off)
      catch { case _: Exception => return None }
    if (Zstd.isError(csize) || csize <= 0 || off + csize > payload.length)
      return None
    val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(payload, off, csize.toInt))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size + n > maxBytesPerMember) return None
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      Some((out.toByteArray, off + csize.toInt))
    } catch {
      case _: java.io.IOException => None
    } finally in.close()
  }

  /** Inflate a DEFLATE stream — zlib-wrapped (`raw = false`) or bare
    * (`raw = true`) — with the standard output cap. None on corruption
    * or cap breach.
    */
  private def inflateBytes(b: Array[Byte], raw: Boolean, maxBytes: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(raw)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val k =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return None }
        if (k > 0) {
          out.write(buf, 0, k)
          if (out.size > maxBytes) return None
        } else if (!inf.finished() && inf.needsInput()) return None // truncated
      }
      Some(out.toByteArray)
    } finally inf.end()
  }

  /** The `charset=` parameter of a Content-Type value (lowercased,
    * unquoted), or None — the transport declaration [[sniffCharset]]
    * consumes.
    */
  def contentTypeCharset(contentType: String): Option[String] =
    Option(contentType).flatMap { ct =>
      val m = java.util.regex.Pattern
        .compile("(?i)charset\\s*=\\s*\"?([A-Za-z0-9_\\-]+)\"?").matcher(ct)
      if (m.find()) Some(m.group(1).toLowerCase(java.util.Locale.ROOT)) else None
    }

  /** One parsed HTTP request message: method, request target (the
    * origin-form path), the `Host` and `User-Agent` values (null when
    * absent), header count.
    */
  final case class HttpRequest(
      method: String, target: String, host: String, userAgent: String,
      nHeaders: Int)

  /** Parse an HTTP/1.x REQUEST message — what a crawl archive's
    * `request` records carry (the fetch as it was made: method, target,
    * the headers that shaped content negotiation). Malformed messages
    * (no tokenizable request line, bad HTTP version magic, unterminated
    * headers, a field line with no colon) quarantine (None). Request
    * bodies are not decoded — crawler requests are overwhelmingly
    * GET/HEAD, and the WARC record already frames the message.
    */
  def parseHttpRequest(payload: Array[Byte]): Option[HttpRequest] = {
    if (payload == null || payload.length < 14) return None
    val rl = crlfLine(payload, 0, payload.length, Latin1)
    if (rl == null) return None
    val m = java.util.regex.Pattern
      .compile("([A-Z]+) (\\S+) HTTP/\\d\\.\\d").matcher(rl._1)
    if (!m.matches()) return None
    var off = rl._2
    var host: String = null
    var userAgent: String = null
    var nHeaders = 0
    var open = true
    while (open) {
      val ln = crlfLine(payload, off, payload.length, Latin1)
      if (ln == null) return None
      off = ln._2
      if (ln._1.isEmpty) open = false
      else {
        val c = ln._1.indexOf(':')
        if (c <= 0) return None
        nHeaders += 1
        val name = ln._1.substring(0, c).trim
        if (name.equalsIgnoreCase("Host")) host = ln._1.substring(c + 1).trim
        else if (name.equalsIgnoreCase("User-Agent"))
          userAgent = ln._1.substring(c + 1).trim
      }
    }
    Some(HttpRequest(m.group(1), m.group(2), host, userAgent, nHeaders))
  }

  // --------------------------------------------------------------- WARC --

  /** One serialized WARC/1.0 record (ISO 28500): version line, named
    * header fields, `Content-Length` (computed — never caller-supplied),
    * the blank line, `payload` octets, and the two-CRLF record
    * terminator. Callers supply the WARC-* headers (`WARC-Type`,
    * `WARC-Target-URI`, …); a `Content-Length` in `headers` is rejected
    * rather than silently doubled.
    */
  def warcRecord(headers: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    require(!headers.exists(_._1.equalsIgnoreCase("Content-Length")),
      "warcRecord computes Content-Length itself")
    require(headers.forall { case (k, v) =>
      !k.exists(c => c == '\r' || c == '\n' || c == ':') &&
        !v.exists(c => c == '\r' || c == '\n')
    }, "warcRecord: header names/values must be single-line (no CR/LF, no ':' in names)")
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** A whole WARC file from its records. `gzipPerRecord = true` writes
    * the standard `.warc.gz` layout — EVERY record its own gzip member
    * (what makes the format seekable and exactly what [[gzipMembers]]
    * walks); `false` writes the plain concatenated `.warc` form.
    */
  def warcFile(
      records: Seq[(Seq[(String, String)], Array[Byte])],
      gzipPerRecord: Boolean = true): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    records.foreach { case (h, p) =>
      val r = warcRecord(h, p)
      bos.write(if (gzipPerRecord) gzip(r) else r)
    }
    bos.toByteArray
  }

  /** [[warcFile]] in the IIPC `.warc.zst` layout: one zstd FRAME per
    * record, concatenated — the member-per-record discipline that keeps
    * records individually seekable (a CDX span is the record's own
    * frame, which standalone-decodes because a frame is
    * self-contained). No shared-dictionary skippable frame is written —
    * dictionary-compressed archives trade that seekability for ratio,
    * and the parser quarantines them rather than misread (the frames
    * fail to decode without the dict).
    */
  def warcFileZst(
      records: Seq[(Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    records.foreach { case (h, p) =>
      bos.write(com.github.luben.zstd.Zstd.compress(warcRecord(h, p)))
    }
    bos.toByteArray
  }

  /** One parsed WARC record: type, target URI, the record's own
    * `WARC-Record-ID`, its `WARC-Refers-To` (the link revisit/
    * conversion/metadata records carry to their source record), header
    * count, payload — each null when the header is absent (legal for
    * some record types).
    */
  final case class WarcRec(
      warcType: String, targetUri: String, nHeaders: Int, payload: Array[Byte],
      recordId: String = null, refersTo: String = null,
      concurrentTo: String = null, warcDate: String = null)

  /** One record plus its byte span IN THE FILE — what a CDX index line
    * points at. For the standard member-per-record `.warc.gz` layout the
    * span is the record's own gzip member (seek `offset`, read `length`
    * bytes, gunzip, parse one record — record-level random access, the
    * reason the layout exists); for a record straddling members the span
    * covers every contributing member; for a plain `.warc` it is the
    * record's own bytes (version line through terminator).
    */
  final case class WarcRecSpan(rec: WarcRec, offset: Long, length: Long)

  /** Parse a WARC file — gzip'd (member-per-record or any member split;
    * detected by magic) or plain — into its records in file order. The
    * header block parses strictly: a `WARC/x.y` version line, `Name:
    * value` fields to the blank line, a mandatory non-negative
    * `Content-Length`, the payload octets, and the two-CRLF terminator.
    * ANY malformation (bad version line, unparseable field, missing
    * length, payload overrun, missing terminator, corrupt gzip member)
    * quarantines the whole FILE (None) — record-level salvage would turn
    * a length corruption into silently misframed downstream records,
    * since every later offset depends on every earlier length.
    *
    * The gzip path is INCREMENTAL: members inflate one at a time into a
    * compacting buffer and complete records drain as they appear, so no
    * single CONTIGUOUS array ever has to hold the whole decompressed
    * file (which can exceed the JVM array ceiling) — the buffer holds
    * one in-flight record plus one member. The returned Vector still
    * retains every record payload: the all-or-nothing quarantine
    * contract requires the whole file to parse before the first record
    * is trusted, so peak HEAP is the file's decompressed size and
    * `maxBytesTotal` (default 4 GiB — sized for real ~1 GB crawl files,
    * caller-widenable) is the knob that keeps that on-heap total sane.
    * Use [[warcValid]] when only validity is needed — it runs the same
    * walk without retaining payloads.
    */
  def warcRecords(
      payload: Array[Byte],
      maxBytesPerMember: Int = 1 << 26,
      maxRecords: Int = 1 << 20,
      maxBytesTotal: Long = 1L << 32): Option[Vector[WarcRec]] =
    warcRecordsImpl(payload, maxBytesPerMember, maxRecords, maxBytesTotal,
      keepPayloads = true)

  /** [[warcRecords]] with each record's FILE byte span ([[WarcRecSpan]]'s
    * contract) — the indexing walk behind CDX export. Same framing, same
    * all-or-nothing quarantine.
    */
  def warcRecordsWithSpans(
      payload: Array[Byte],
      maxBytesPerMember: Int = 1 << 26,
      maxRecords: Int = 1 << 20,
      maxBytesTotal: Long = 1L << 32): Option[Vector[WarcRecSpan]] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    warcRecordsImpl(payload, maxBytesPerMember, maxRecords, maxBytesTotal,
      keepPayloads = true, spans = spans).map { recs =>
      recs.iterator.zip(spans.iterator)
        .map { case (r, (o, l)) => WarcRecSpan(r, o, l) }.toVector
    }
  }

  /** [[warcRecords]]' validity-only twin: the identical walk and
    * quarantine contract, but record payloads are never retained — the
    * cheap path for [[graft.ops.Warc.quarantinedFiles]]-style auditing,
    * where materializing every payload just to test emptiness would pay
    * full peak heap for a boolean.
    */
  def warcValid(
      payload: Array[Byte],
      maxBytesPerMember: Int = 1 << 26,
      maxRecords: Int = 1 << 20,
      maxBytesTotal: Long = 1L << 32): Boolean =
    warcRecordsImpl(payload, maxBytesPerMember, maxRecords, maxBytesTotal,
      keepPayloads = false).nonEmpty

  private def warcRecordsImpl(
      payload: Array[Byte],
      maxBytesPerMember: Int,
      maxRecords: Int,
      maxBytesTotal: Long,
      keepPayloads: Boolean,
      spans: scala.collection.mutable.ArrayBuffer[(Long, Long)] = null): Option[Vector[WarcRec]] = {
    if (payload == null || payload.length == 0) return None
    val out = Vector.newBuilder[WarcRec]
    var nRec = 0
    val isGz = payload.length >= 2 &&
      (payload(0) & 0xff) == 0x1f && (payload(1) & 0xff) == 0x8b
    // zstd data-frame magic (RFC 8878) or a leading skippable frame
    // (0x184D2A50–5F LE — where a dictionary-bearing .warc.zst puts its
    // dict; those quarantine downstream when the frames fail to decode
    // without it, never misread)
    val isZst = payload.length >= 4 && (
      ((payload(0) & 0xff) == 0x28 && (payload(1) & 0xff) == 0xb5 &&
        (payload(2) & 0xff) == 0x2f && (payload(3) & 0xff) == 0xfd) ||
      ((payload(0) & 0xf0) == 0x50 && (payload(1) & 0xff) == 0x2a &&
        (payload(2) & 0xff) == 0x4d && (payload(3) & 0xff) == 0x18))
    if (isGz || isZst) {
      // .warc.gz / .warc.zst: decompress member-by-member (gzip member
      // or zstd frame — one shared walk, the stepper is the only
      // difference), drain complete records from a compacting buffer
      // (records may legally straddle member boundaries — the spec only
      // requires the CONCATENATION to be a valid plain file — so the
      // buffer holds whatever tail is still incomplete)
      val memberAt: (Array[Byte], Int) => Option[(Array[Byte], Int)] =
        if (isGz) inflateMemberAt(_, _, maxBytesPerMember)
        else zstdFrameAt(_, _, maxBytesPerMember)
      var buf = new Array[Byte](64 << 10)
      var bufLen = 0
      var off = 0
      var nMembers = 0
      var total = 0L
      // span bookkeeping (CDX export): members in GLOBAL decompressed-
      // stream coordinates (never shifted by compaction) → file spans.
      // mStarts grows by one tuple per member and is pruned from the
      // front as records drain, so it never exceeds the in-flight tail.
      var globalBase = 0L // global offset of buf(0)
      val mStarts =
        if (spans == null) null
        else scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      while (off < payload.length) {
        nMembers += 1
        if (nMembers > (1 << 20)) return None // member walk is its own bomb
        memberAt(payload, off) match {
          case None => return None
          case Some((member, next)) =>
            total += member.length
            if (total > maxBytesTotal) return None // aggregate bomb guard
            if (bufLen.toLong + member.length > Int.MaxValue - 8)
              return None // a pending record larger than any JVM array: quarantine
            if (bufLen + member.length > buf.length) {
              val grown = new Array[Byte](
                math.max(buf.length * 2L, bufLen.toLong + member.length)
                  .min(Int.MaxValue - 8).toInt)
              System.arraycopy(buf, 0, grown, 0, bufLen)
              buf = grown
            }
            if (mStarts != null && member.length > 0)
              mStarts += ((globalBase + bufLen, off.toLong, next.toLong))
            System.arraycopy(member, 0, buf, bufLen, member.length)
            bufLen += member.length
            off = next
        }
        var start = 0
        var more = true
        while (more) {
          parseWarcRecordAt(buf, start, bufLen, keepPayloads) match {
            case WarcParse.Complete(rec, next) =>
              nRec += 1
              if (nRec > maxRecords) return None
              out += rec
              if (mStarts != null) {
                val gs = globalBase + start
                val ge = globalBase + next
                // file start: the member holding the record's first byte;
                // file end: the end of the member holding its last byte
                var i = mStarts.length - 1
                while (i > 0 && mStarts(i)._1 > gs) i -= 1
                val fileStart = mStarts(i)._2
                var j = mStarts.length - 1
                while (j > 0 && mStarts(j)._1 >= ge) j -= 1
                spans += ((fileStart, mStarts(j)._3 - fileStart))
                // members wholly before the NEXT record's start are dead
                while (mStarts.length > 1 && mStarts(1)._1 <= ge)
                  mStarts.remove(0)
              }
              start = next
            case WarcParse.NeedMore => more = false
            case WarcParse.Malformed => return None
          }
          if (start >= bufLen) more = false
        }
        if (start > 0) { // compact the consumed prefix
          System.arraycopy(buf, start, buf, 0, bufLen - start)
          bufLen -= start
          globalBase += start
        }
      }
      if (bufLen != 0) return None // trailing partial record = corruption
    } else {
      var start = 0
      while (start < payload.length) {
        nRec += 1
        if (nRec > maxRecords) return None
        parseWarcRecordAt(payload, start, payload.length, keepPayloads) match {
          case WarcParse.Complete(rec, next) =>
            out += rec
            if (spans != null) spans += ((start.toLong, (next - start).toLong))
            start = next
          case _ => return None // at EOF, incomplete IS malformed
        }
      }
    }
    Some(out.result())
  }

  /** [[parseWarcRecordAt]]'s three-way result: a complete record (with
    * the offset past its terminator), "need more bytes" (only the
    * incremental gzip walk can supply them), or definitive malformation.
    */
  private object WarcParse {
    sealed trait Result
    final case class Complete(rec: WarcRec, next: Int) extends Result
    case object NeedMore extends Result
    case object Malformed extends Result
  }

  /** Parse ONE WARC record from `buf[start, end)` — the shared step
    * behind both [[warcRecords]] paths. Distinguishes "ran off the end"
    * (NeedMore — legal mid-stream in the incremental walk) from
    * structural malformation (Malformed — quarantine either way).
    */
  private def parseWarcRecordAt(
      buf: Array[Byte], start: Int, end: Int,
      keepPayload: Boolean = true): WarcParse.Result = {
    // ---- version line
    val vl = crlfLine(buf, start, end, Utf8)
    if (vl == null) return WarcParse.NeedMore
    if (!vl._1.matches("WARC/\\d+\\.\\d+")) return WarcParse.Malformed
    var off = vl._2
    // ---- header fields to the blank line
    var warcType: String = null
    var targetUri: String = null
    var recordId: String = null
    var refersTo: String = null
    var concurrentTo: String = null
    var warcDate: String = null
    var contentLength = -1L
    var nHeaders = 0
    var open = true
    while (open) {
      val ln = crlfLine(buf, off, end, Utf8)
      if (ln == null) return WarcParse.NeedMore
      val l = ln._1
      off = ln._2
      if (l.isEmpty) open = false
      else {
        val c = l.indexOf(':')
        if (c <= 0) return WarcParse.Malformed
        val name = l.substring(0, c).trim
        val value = l.substring(c + 1).trim
        nHeaders += 1
        if (name.equalsIgnoreCase("WARC-Type")) warcType = value
        else if (name.equalsIgnoreCase("WARC-Target-URI")) targetUri = value
        else if (name.equalsIgnoreCase("WARC-Record-ID")) recordId = value
        else if (name.equalsIgnoreCase("WARC-Refers-To")) refersTo = value
        else if (name.equalsIgnoreCase("WARC-Concurrent-To")) concurrentTo = value
        else if (name.equalsIgnoreCase("WARC-Date")) warcDate = value
        else if (name.equalsIgnoreCase("Content-Length"))
          contentLength =
            try value.toLong
            catch { case _: NumberFormatException => return WarcParse.Malformed }
      }
    }
    // ---- payload + the two-CRLF terminator
    if (contentLength < 0) return WarcParse.Malformed
    if (contentLength > Int.MaxValue - 8) return WarcParse.Malformed // JVM array ceiling
    if (off.toLong + contentLength + 4 > end) return WarcParse.NeedMore
    val body =
      if (keepPayload) {
        val b = new Array[Byte](contentLength.toInt)
        System.arraycopy(buf, off, b, 0, contentLength.toInt)
        b
      } else Array.emptyByteArray
    var o = off + contentLength.toInt
    if (buf(o) != '\r' || buf(o + 1) != '\n' || buf(o + 2) != '\r' || buf(o + 3) != '\n')
      return WarcParse.Malformed
    o += 4
    WarcParse.Complete(
      WarcRec(warcType, targetUri, nHeaders, body, recordId, refersTo,
        concurrentTo, warcDate), o)
  }

  /** Chunk-walk a 16-bit mono PCM WAV header: (sampleRate, dataOff,
    * nSamples); None on anything else. The shared front half of
    * [[wavPcmStats]] and [[wavEnergyHash]].
    */
  private def pcm16MonoData(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload.length < 44) return None
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int) = new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var sampleRate = -1
    var bitsPerSample = -1
    var dataOff = -1
    var dataBytes = -1
    while (off + 8 <= payload.length && (sampleRate < 0 || dataOff < 0)) {
      val id = tag(off)
      val size = buf.getInt(off + 4)
      if (size < 0 || off + 8 + size.toLong > payload.length) return None
      if (id == "fmt " && size >= 16) {
        if (buf.getShort(off + 8) != 1 || buf.getShort(off + 10) != 1) return None // PCM mono only
        sampleRate = buf.getInt(off + 12)
        bitsPerSample = buf.getShort(off + 22).toInt
      } else if (id == "data") {
        dataOff = off + 8
        dataBytes = size
      }
      off += 8 + size + (size & 1)
    }
    if (sampleRate <= 0 || bitsPerSample != 16 || dataOff < 0) None
    else Some((sampleRate, dataOff, dataBytes / 2))
  }

  /** REAL nearest-neighbor sample-rate conversion of a 16-bit mono PCM
    * WAV to `dstRate`: output sample i copies input sample
    * `⌊i·srcRate/dstRate⌋`, output length `⌊n·dstRate/srcRate⌋` — the
    * audio analogue of [[resizeImage]]'s integer thumbnail map (no
    * interpolation, so any engine replays every output sample from the
    * decoded input). Returns a valid WAV at the new rate; None when the
    * payload isn't parseable 16-bit mono PCM.
    */
  def wavResample(payload: Array[Byte], dstRate: Int): Option[Array[Byte]] = {
    require(dstRate > 0 && dstRate <= 1000000,
      s"wavResample: dstRate out of the sane audio range: $dstRate")
    pcm16MonoData(payload).flatMap { case (srcRate, dataOff, n) =>
      val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      // nOut stays in Long: a corrupt-but-parseable header declaring a
      // tiny srcRate against a large data chunk would wrap .toInt past
      // Int.MaxValue (negative-size crash or silent truncation). The
      // expansion is also an amplification bomb without a ceiling —
      // quarantine (None) past the same output-size cap discipline
      // resizeImage and gunzip enforce, instead of allocating unbounded.
      val nOutL = n.toLong * dstRate / srcRate
      if (44L + 2L * nOutL > Int.MaxValue) None
      else {
        val out = Array.tabulate(nOutL.toInt) { i =>
          buf.getShort(dataOff + 2 * (i.toLong * srcRate / dstRate).toInt)
        }
        Some(wav(dstRate, out))
      }
    }
  }

  /** 64-bit ENERGY-DIFFERENCE HASH from a 16-bit mono WAV payload — the
    * audio analogue of [[dhash]] and the classic shape of perceptual
    * audio fingerprints (energy deltas over fixed frame windows): split
    * the sample stream into 65 contiguous windows (sample i lands in
    * window `i·65 div n` — integer-exact for ANY n), take each window's
    * energy Σs², and set bit j (0–63) when E(j) < E(j+1). Strictly
    * monotone under positive amplitude scaling — a re-encode at a
    * different volume hashes IDENTICALLY, which is exactly the
    * invariance a perceptual dedup wants — and every step is integer
    * arithmetic on decoded samples, so any engine replays the hash
    * bit-for-bit. Returns (sampleRate, nSamples, ehash); None on a
    * non-PCM payload. Windows past the stream (n < 65) have energy 0.
    */
  def wavEnergyHash(payload: Array[Byte]): Option[(Int, Long, Long)] =
    pcm16MonoData(payload).map { case (sampleRate, dataOff, n) =>
      val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      val e = new Array[Long](65)
      var i = 0
      while (i < n) {
        val s = buf.getShort(dataOff + 2 * i).toInt
        e(((i.toLong * 65) / n).toInt) += s.toLong * s
        i += 1
      }
      var hash = 0L
      var j = 0
      while (j < 64) {
        if (e(j) < e(j + 1)) hash |= 1L << j
        j += 1
      }
      (sampleRate, n.toLong, hash)
    }

  /** Integer-exact PCM statistics from a 16-bit mono WAV payload — a REAL
    * audio decode (chunk walk + int16 LE sample scan), not a stub:
    * (sampleRate, nSamples, Σs², Σ|s|, max|s|). All sums are exact in
    * 64-bit (n·32768² per sample bounds Σs² at ~2⁶³ only past 8.5 G
    * samples ≈ 4.9 h of 48 kHz audio per file; callers chunk above that).
    */
  def wavPcmStats(payload: Array[Byte]): Option[(Int, Long, Long, Long, Int)] =
    pcm16MonoData(payload).map { case (sampleRate, dataOff, n) =>
      val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      var sumSq = 0L
      var sumAbs = 0L
      var peak = 0
      while (i < n) {
        val s = buf.getShort(dataOff + 2 * i).toInt
        val a = math.abs(s)
        sumSq += s.toLong * s
        sumAbs += a
        if (a > peak) peak = a
        i += 1
      }
      (sampleRate, n.toLong, sumSq, sumAbs, peak)
    }
}
