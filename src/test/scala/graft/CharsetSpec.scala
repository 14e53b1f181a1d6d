package graft

import java.nio.charset.StandardCharsets._

import graft.functions.BinaryCodecs
import graft.ops.{Html, Multimodal}
import graft.fixtures.MediaFixtures

/** Charset sniffing at crawl ingest: BOM precedence, meta declarations
  * (both forms), declaration-vs-bytes contradiction, strict UTF-8
  * validation, the flagged fallback, and the decode-before-strip
  * composite.
  */
class CharsetSpec extends SparkSpec {
  import spark.implicits._

  private val eAcute = "é"

  test("BOMs are authoritative and stripped: UTF-8, UTF-16LE, UTF-16BE") {
    val u8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ s"hi $eAcute".getBytes(UTF_8)
    assert(BinaryCodecs.sniffCharset(u8) ==
      BinaryCodecs.Sniffed("utf-8", true, false, s"hi $eAcute"))
    val le = Array(0xFF, 0xFE).map(_.toByte) ++ "hello".getBytes(UTF_16LE)
    assert(BinaryCodecs.sniffCharset(le) ==
      BinaryCodecs.Sniffed("utf-16le", true, false, "hello"))
    val be = Array(0xFE, 0xFF).map(_.toByte) ++ "world".getBytes(UTF_16BE)
    assert(BinaryCodecs.sniffCharset(be) ==
      BinaryCodecs.Sniffed("utf-16be", true, false, "world"))
  }

  test("meta declarations: both syntaxes, label normalization, unknown labels ignored") {
    val direct = s"<meta charset=iso-8859-1><p>caf$eAcute</p>".getBytes(ISO_8859_1)
    val got = BinaryCodecs.sniffCharset(direct)
    // WHATWG aliases iso-8859-1 to windows-1252: mislabeled pages are the
    // common case, and 0x80-0x9F must decode as smart quotes, not C1 controls
    assert(got.encoding == "windows-1252" && !got.mojibakeRisk &&
      got.text == s"<meta charset=iso-8859-1><p>caf$eAcute</p>")
    val quoted = BinaryCodecs.sniffCharset(
      "<meta charset=iso-8859-1>say ".getBytes(US_ASCII) ++
        Array(0x93.toByte) ++ "hi".getBytes(US_ASCII) ++ Array(0x94.toByte))
    assert(quoted.text.endsWith("say \u201chi\u201d") && !quoted.mojibakeRisk)
    val httpEquiv =
      (s"""<meta http-equiv="Content-Type" content="text/html; charset=latin1">x$eAcute""")
        .getBytes(ISO_8859_1)
    assert(BinaryCodecs.sniffCharset(httpEquiv).encoding == "windows-1252")
    val cp = s"""<META CHARSET="CP1252">a$eAcute""".getBytes(ISO_8859_1)
    assert(BinaryCodecs.sniffCharset(cp).encoding == "windows-1252")
    // unknown label → heuristic path (bytes are invalid UTF-8 → fallback flagged)
    val unk = s"<meta charset=klingon>x$eAcute".getBytes(ISO_8859_1)
    val u = BinaryCodecs.sniffCharset(unk)
    assert(u.encoding == "windows-1252" && u.mojibakeRisk)
  }

  test("declared utf-8 contradicted by bytes falls back flagged; honored when valid") {
    val lying = s"<meta charset=utf-8>caf$eAcute".getBytes(ISO_8859_1) // 0xE9 alone: invalid UTF-8
    val got = BinaryCodecs.sniffCharset(lying)
    assert(got.encoding == "windows-1252" && got.mojibakeRisk)
    assert(got.text == s"<meta charset=utf-8>caf$eAcute") // 0xE9 = é in cp1252 too
    val honest = s"<meta charset=utf-8>caf$eAcute".getBytes(UTF_8)
    assert(BinaryCodecs.sniffCharset(honest) ==
      BinaryCodecs.Sniffed("utf-8", false, false, s"<meta charset=utf-8>caf$eAcute"))
  }

  test("undeclared: valid UTF-8 (incl. pure ASCII) passes; anything else falls back flagged") {
    assert(BinaryCodecs.sniffCharset("plain ascii".getBytes(US_ASCII)) ==
      BinaryCodecs.Sniffed("utf-8", false, false, "plain ascii"))
    assert(BinaryCodecs.sniffCharset(s"caf$eAcute".getBytes(UTF_8)) ==
      BinaryCodecs.Sniffed("utf-8", false, false, s"caf$eAcute"))
    val l1 = BinaryCodecs.sniffCharset(s"caf$eAcute".getBytes(ISO_8859_1))
    assert(l1.encoding == "windows-1252" && l1.mojibakeRisk && l1.text == s"caf$eAcute")
    // windows-1252's C1 range: 0x93/0x94 are curly quotes, not garbage
    val smart = BinaryCodecs.sniffCharset("say ".getBytes(US_ASCII) ++
      Array(0x93.toByte) ++ "hi".getBytes(US_ASCII) ++ Array(0x94.toByte))
    assert(smart.text == "say “hi”" && smart.mojibakeRisk)
    // truncated UTF-8 tail is invalid, not silently replaced
    val truncated = s"caf$eAcute".getBytes(UTF_8).dropRight(1)
    assert(BinaryCodecs.sniffCharset(truncated).mojibakeRisk)
    assert(BinaryCodecs.sniffCharset(Array.emptyByteArray) ==
      BinaryCodecs.Sniffed("utf-8", false, false, ""))
  }

  test("transport declaration precedence: BOM > transport > meta > heuristic") {
    // transport outranks a CONTRADICTING meta
    val metaSaysUtf8 = s"<meta charset=utf-8>caf$eAcute".getBytes(ISO_8859_1)
    val viaTransport = BinaryCodecs.sniffCharset(metaSaysUtf8, Some("iso-8859-1"))
    assert(viaTransport.encoding == "windows-1252" && !viaTransport.mojibakeRisk &&
      viaTransport.text == s"<meta charset=utf-8>caf$eAcute")
    // BOM outranks transport
    val bommed = Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ s"x$eAcute".getBytes(UTF_8)
    assert(BinaryCodecs.sniffCharset(bommed, Some("iso-8859-1")).encoding == "utf-8")
    // a transport utf-8 contradicted by bytes falls back flagged
    val lying = BinaryCodecs.sniffCharset(s"caf$eAcute".getBytes(ISO_8859_1), Some("utf-8"))
    assert(lying.encoding == "windows-1252" && lying.mojibakeRisk)
    // unknown transport labels fall through to the meta/heuristic path
    assert(BinaryCodecs.sniffCharset("ascii".getBytes, Some("ebcdic")).encoding == "utf-8")
  }

  test("decodeCharset + stripMarkup: decode-before-strip yields clean text on every leg") {
    val docs = Seq((0L, "plain zero"), (1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("doc_id", "text")
    val decoded = Multimodal.decodeCharset(MediaFixtures.syntheticEncodedDocs(docs))
    val rows = decoded.collect().sortBy(_.media_id)
    assert(rows.map(_.encoding).toSeq ==
      Seq("utf-8", "utf-8", "utf-16le", "windows-1252", "windows-1252"))
    assert(rows.map(_.bom).toSeq == Seq(false, true, true, false, false))
    assert(rows.map(_.mojibake_risk).toSeq == Seq(false, false, false, false, true))
    assert(rows(3).text_out == s"""<meta charset="iso-8859-1">three$eAcute""")
    // the composite: the meta tag strips out AFTER a correct decode —
    // decode-then-strip is the order that keeps é intact
    val clean = Html.stripMarkup(decoded.toDF(), htmlCol = "text_out", out = "clean")
      .orderBy("media_id").collect().map(_.getAs[String]("clean"))
    assert(clean(3) == s"three$eAcute")
    assert(clean(0) == "plain zero")
  }
}
