package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.functions.{BinaryCodecs, JpegCodec}
import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** Byte-exact pins for the four image operators over every decoded
  * format and the malformed inputs each one must drop: the `imageStats`
  * and `imageDhash` rows, `resizeImages` at two targets and
  * `transcodeToPng`, each output payload pinned by its SHA-256 prefix.
  * The expected values were recorded from the per-format codec
  * functions these operators used to call, so any change in decoding,
  * sampling or encoding shows up as a changed row.
  */
class ImageOpsPinSpec extends SparkSpec {
  import spark.implicits._

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32
    crc.update(t); crc.update(data)
    ByteBuffer.allocate(12 + data.length).order(ByteOrder.BIG_ENDIAN)
      .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
  }

  private def zlib(raw: Array[Byte]): Array[Byte] = BinaryCodecs.zlibDeflate(raw)

  private val PngSig = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** 5×3 RGBA PNG, filter 0 on every row. */
  private val rgbaPng: Array[Byte] = {
    val w = 5; val h = 3
    val raw = new Array[Byte](h * (1 + 4 * w))
    for (y <- 0 until h; x <- 0 until 4 * w) raw(y * (1 + 4 * w) + 1 + x) = (17 * x + 41 * y + 3).toByte
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
      .putInt(w).putInt(h).put(8.toByte).put(6.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlib(raw)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  private val inputs: Seq[(Long, Array[Byte])] = {
    val bgr = Array.tabulate(3 * 7 * 5)(i => (i * 37 + 11).toByte)
    val bmpOdd = BinaryCodecs.bmp(7, 5, bgr) // 21-byte rows padded to 24
    val rgb = Array.tabulate(3 * 6 * 4)(i => (i * 53 + 7).toByte)
    val pngRgb = BinaryCodecs.png(6, 4, rgb)
    val gray = Array.tabulate(12 * 10)(i => ((i % 12) * 19 + (i / 12) * 7).toByte)
    val rgbJ = Array.tabulate(3 * 10 * 9)(i => ((i * 29) % 251).toByte)
    val pal = Array.tabulate(8)(i => (i * 0x1f3b5d) & 0xffffff)
    val gifIdx = Array.tabulate(9 * 6)(i => ((i * 5 + i / 9) % 8).toByte)
    val topDown = bmpOdd.clone()
    ByteBuffer.wrap(topDown).order(ByteOrder.LITTLE_ENDIAN).putInt(22, -5)
    val bpp32 = BinaryCodecs.bmp(7, 5, bgr)
    ByteBuffer.wrap(bpp32).order(ByteOrder.LITTLE_ENDIAN).putShort(28, 32.toShort)
    val badCrc = pngRgb.clone()
    badCrc(pngRgb.length - 20) = (badCrc(pngRgb.length - 20) ^ 0x5a).toByte
    // every chunk CRC-clean, but the IDAT's deflate stream stops short:
    // structurally a PNG, undecodable
    val cutIdat = {
      val raw = new Array[Byte](4 * (1 + 3 * 4))
      val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
        .putInt(4).putInt(4).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      val z = zlib(raw)
      PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z.take(z.length / 2)) ++
        chunk("IEND", Array.emptyByteArray)
    }
    Seq(
      1L -> bmpOdd,
      2L -> pngRgb,
      3L -> rgbaPng,
      4L -> JpegCodec.encodeGray(12, 10, gray),
      5L -> JpegCodec.encodeColor444(10, 9, rgbJ),
      6L -> JpegCodec.encodeColor444Progressive(10, 9, rgbJ),
      7L -> BinaryCodecs.gif(9, 6, pal, gifIdx),
      // malformed: each must drop from every operator
      20L -> Array.emptyByteArray,
      21L -> ("BM" + "junk" * 20).getBytes("US-ASCII"),
      22L -> topDown,
      23L -> bpp32,
      24L -> pngRgb.take(pngRgb.length - 15),
      25L -> badCrc,
      // passes transcodeToPng's structural check, drops everywhere else
      26L -> cutIdat)
  }

  private lazy val media = inputs.map { case (id, p) =>
    MediaRow(id, "image", p, "application/octet-stream", p.length.toLong)
  }.toDS()

  private def sha(p: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(p)
      .take(8).map(b => f"$b%02x").mkString

  private def payloads(ds: org.apache.spark.sql.Dataset[MediaRow]): Seq[String] =
    ds.collect().sortBy(_.media_id).toSeq
      .map(m => s"${m.media_id} ${m.mime_type} ${m.size_bytes} ${sha(m.payload)}")

  test("imageStats rows are pinned; malformed inputs drop") {
    val got = Multimodal.imageStats(media).collect().sortBy(_.media_id).toSeq
      .map(s => s"${s.media_id} ${s.width}x${s.height} ${s.n_pixels} ${s.sum_b} ${s.sum_g} ${s.sum_r}")
    assert(got == Seq(
      "1 7x5 35 4644 4403 4162",
      "2 6x4 24 2820 3084 3092",
      "3 5x3 15 1930 1675 1676",
      "4 12x10 120 15448 15448 15448",
      "5 10x9 90 11058 11466 11031",
      "6 10x9 90 11058 11466 11031",
      "7 9x6 54 5266 5901 5786"), got.mkString("\n"))
  }

  test("imageDhash rows are pinned; malformed inputs drop") {
    val got = Multimodal.imageDhash(media).collect().sortBy(_.media_id).toSeq
      .map(d => s"${d.media_id} ${d.width}x${d.height} ${d.dhash}")
    assert(got == Seq(
      "1 7x5 -7378817493505370731",
      "2 6x4 2604210899753378081",
      "3 5x3 5353172514062866970",
      "4 12x10 9187202502347456511",
      "5 10x9 -2978754340632996821",
      "6 10x9 -2978754340632996821",
      "7 9x6 -7771764585109613531"), got.mkString("\n"))
  }

  test("resizeImages output bytes are pinned at a shrinking and a growing target") {
    val got = payloads(Multimodal.resizeImages(media, 5, 3)).map("5x3 " + _) ++
      payloads(Multimodal.resizeImages(media, 13, 9)).map("13x9 " + _)
    assert(got == Seq(
      "5x3 1 image/bmp 102 c9a3d6c824181988",
      "5x3 2 image/png 116 dd9b01ab7f791197",
      "5x3 3 image/png 116 924c07ac043183cd",
      "5x3 4 image/png 116 a7017ef70458ef50",
      "5x3 5 image/png 116 2fe68144c5e54f8c",
      "5x3 6 image/png 116 2fe68144c5e54f8c",
      "5x3 7 image/png 92 224e5394622d919e",
      "13x9 1 image/bmp 414 21fb19a14beb34af",
      "13x9 2 image/png 188 7bdc63e0c07eba24",
      "13x9 3 image/png 144 d05067a089f0f3eb",
      "13x9 4 image/png 392 b7039a44c727aad2",
      "13x9 5 image/png 396 f96c56ce0d8efece",
      "13x9 6 image/png 396 f96c56ce0d8efece",
      "13x9 7 image/png 122 f4b1e87feffa14e6"), got.mkString("\n"))
  }

  test("transcodeToPng output bytes are pinned; a structurally valid PNG passes through") {
    val got = payloads(Multimodal.transcodeToPng(media))
    assert(got == Seq(
      "1 image/png 170 ed5394b72ade683a",
      "2 application/octet-stream 144 71d02580efa63a6f",
      "3 application/octet-stream 131 66e0c71d097f3aa7",
      "4 image/png 425 3cd0e14d4af6093e",
      "5 image/png 347 a94e11260ff4459c",
      "6 image/png 347 a94e11260ff4459c",
      "7 image/png 112 fd91c0239779caa9",
      "26 application/octet-stream 63 fc90783493a02f38"), got.mkString("\n"))
  }
}
