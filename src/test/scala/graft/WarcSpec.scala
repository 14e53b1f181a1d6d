package graft

import org.apache.spark.sql.functions._
import graft.functions.BinaryCodecs
import graft.ops.{Multimodal, Warc}
import graft.fixtures.CrawlFixtures

/** WARC container ingest: the gzip member walk (RFC 1952 concatenated
  * members), strict record framing (ISO 28500), roundtrip identity, and
  * the quarantine contract on every malformation class.
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def rec(t: String, uri: String, body: String) =
    (Seq("WARC-Type" -> t) ++ Option(uri).map("WARC-Target-URI" -> _),
      body.getBytes("UTF-8"))

  test("gzipMembers: concatenated members decompress individually, CRC-checked") {
    val a = "first member".getBytes
    val b = "second, rather longer member with more bytes".getBytes
    val c = Array.emptyByteArray
    val file = BinaryCodecs.gzip(a) ++ BinaryCodecs.gzip(b) ++ BinaryCodecs.gzip(c)
    val got = BinaryCodecs.gzipMembers(file).get
    assert(got.length == 3)
    assert(got(0).sameElements(a) && got(1).sameElements(b) && got(2).isEmpty)
    // single member is the degenerate walk
    assert(BinaryCodecs.gzipMembers(BinaryCodecs.gzip(a)).get.head.sameElements(a))
  }

  test("gzipMembers: corruption quarantines — truncation, flipped CRC, garbage tail, bomb cap") {
    val m = BinaryCodecs.gzip("payload bytes here".getBytes)
    assert(BinaryCodecs.gzipMembers(m.dropRight(3)).isEmpty) // truncated trailer
    assert(BinaryCodecs.gzipMembers(m ++ Array[Byte](9, 9, 9)).isEmpty) // non-member tail
    val flipped = m.clone
    flipped(flipped.length - 5) = (flipped(flipped.length - 5) ^ 0xff).toByte // CRC byte
    assert(BinaryCodecs.gzipMembers(flipped).isEmpty)
    // per-member output cap: 1 KB of zeros against a 100-byte ceiling
    val big = BinaryCodecs.gzip(new Array[Byte](1024))
    assert(BinaryCodecs.gzipMembers(big, maxBytesPerMember = 100).isEmpty)
    assert(BinaryCodecs.gzipMembers(big, maxBytesPerMember = 2048).nonEmpty)
    // AGGREGATE cap: many members each under the per-member ceiling must
    // still hit the whole-file budget (the multi-member amplification bomb)
    val multi = (1 to 8).map(_ => big).reduce(_ ++ _)
    assert(BinaryCodecs.gzipMembers(multi, maxBytesPerMember = 2048,
      maxBytesTotal = 4096L).isEmpty)
    assert(BinaryCodecs.gzipMembers(multi, maxBytesPerMember = 2048,
      maxBytesTotal = 16384L).nonEmpty)
    assert(BinaryCodecs.gzipMembers("no magic".getBytes).isEmpty)
  }

  test("warc roundtrip: gzip-per-record and plain files parse to identical records") {
    val records = Seq(
      rec("warcinfo", null, "software: test\r\n"),
      rec("response", "https://a.example.com/1", "<html>one</html>"),
      rec("response", "https://b.example.com/2", ""), // empty body is legal
      rec("request", "https://a.example.com/1", "GET /1 HTTP/1.1\r\n"))
    for (gz <- Seq(true, false)) {
      val file = BinaryCodecs.warcFile(records, gzipPerRecord = gz)
      val got = BinaryCodecs.warcRecords(file).get
      assert(got.length == 4)
      assert(got.map(_.warcType) == Vector("warcinfo", "response", "response", "request"))
      assert(got(0).targetUri == null && got(1).targetUri == "https://a.example.com/1")
      assert(got(1).payload.sameElements("<html>one</html>".getBytes))
      assert(got(2).payload.isEmpty)
      // header count excludes the auto Content-Length? No — it counts all
      // parsed fields: 1 caller header + Content-Length = 2 for warcinfo
      assert(got(0).nHeaders == 2 && got(1).nHeaders == 3)
    }
  }

  test("warcRecords: malformation quarantines the file — framing is all-or-nothing") {
    val good = BinaryCodecs.warcFile(Seq(rec("response", "u:1", "body")), gzipPerRecord = false)
    assert(BinaryCodecs.warcRecords(good).nonEmpty)
    // bad version line
    val badV = "HTTP/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes
    assert(BinaryCodecs.warcRecords(badV).isEmpty)
    // declared length past the file end
    val overrun = new String(good, "UTF-8").replace("Content-Length: 4", "Content-Length: 400")
    assert(BinaryCodecs.warcRecords(overrun.getBytes).isEmpty)
    // missing the two-CRLF terminator
    assert(BinaryCodecs.warcRecords(good.dropRight(2)).isEmpty)
    // a field line with no colon
    val noColon = "WARC/1.0\r\nBroken header line\r\nContent-Length: 0\r\n\r\n\r\n\r\n".getBytes
    assert(BinaryCodecs.warcRecords(noColon).isEmpty)
    // second record malformed → WHOLE file quarantines (not partial salvage)
    val twoRecsOneBad = good ++ badV
    assert(BinaryCodecs.warcRecords(twoRecsOneBad).isEmpty)
    // Content-Length must be present
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n".getBytes
    assert(BinaryCodecs.warcRecords(noLen).isEmpty)
  }

  test("warcRecords: records straddling gzip member boundaries parse (incremental buffer)") {
    val records = (0 until 12).map(i => rec("response", s"u:$i", s"<html>body number $i</html>"))
    val plain = BinaryCodecs.warcFile(records, gzipPerRecord = false)
    // re-split the SAME byte stream into members at arbitrary 37-byte
    // boundaries — the spec only requires the concatenation to be valid,
    // and the incremental walk must carry partial records across members
    val resplit = plain.grouped(37).map(BinaryCodecs.gzip).reduce(_ ++ _)
    val got = BinaryCodecs.warcRecords(resplit).get
    val want = BinaryCodecs.warcRecords(plain).get
    assert(got.length == 12)
    assert(got.map(_.targetUri) == want.map(_.targetUri))
    assert(got.zip(want).forall { case (a, b) => a.payload.sameElements(b.payload) })
  }

  test("warcRecords: maxBytesTotal caps AGGREGATE decompressed output") {
    // 64 members of 8 KiB each = 512 KiB aggregate, each member tiny
    val records = (0 until 64).map(i => rec("response", s"u:$i", "x" * 8192))
    val file = BinaryCodecs.warcFile(records, gzipPerRecord = true)
    assert(BinaryCodecs.warcRecords(file).nonEmpty) // default cap: fine
    assert(BinaryCodecs.warcRecords(file, maxBytesTotal = 128 << 10).isEmpty)
    // the cap must also be caller-widenable PAST gzipMembers' old
    // hard-coded default — parseWarc threads it through
    assert(BinaryCodecs.warcRecords(file, maxBytesTotal = 1L << 40).nonEmpty)
  }

  test("quarantinedFiles: the drops parseWarc makes, surfaced as rows") {
    val docs = (0L until 40L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    val media = CrawlFixtures.syntheticWarc(docs, docsPerFile = 8) // files 0..4
    val corrupted = media.map { m =>
      if (m.media_id % 2 == 1) m.copy(payload = m.payload.dropRight(3)) else m
    }
    val q = Warc.quarantinedFiles(corrupted).collect().map(_.getLong(0)).sorted
    assert(q.toSeq == Seq(1L, 3L))
    // parseWarc on the same input drops exactly those files
    val kept = Warc.parseWarc(corrupted).collect().map(_.media_id).distinct.sorted
    assert(kept.toSeq == Seq(0L, 2L, 4L))
  }

  test("warcRecord: rejects caller Content-Length and multi-line header values") {
    intercept[IllegalArgumentException](
      BinaryCodecs.warcRecord(Seq("Content-Length" -> "7"), Array.emptyByteArray))
    intercept[IllegalArgumentException](
      BinaryCodecs.warcRecord(Seq("X" -> "a\r\nInjected: b"), Array.emptyByteArray))
  }

  test("parseWarc + syntheticWarc: distributed roundtrip reproduces every document") {
    val docs = Seq(
      (0L, "alpha text"), (1L, "beta"), (2L, ""), (3L, "delta longer body"),
      (8L, "ninth doc opens file 1"), (9L, "tenth")).toDF("doc_id", "text")
    val files = CrawlFixtures.syntheticWarc(docs, docsPerFile = 8)
    assert(files.count() == 2) // files 0 and 1
    val recs = Warc.parseWarc(files).collect().sortBy(r => (r.media_id, r.record_idx))
    // file 0: warcinfo + 4 responses; file 1: warcinfo + 2
    assert(recs.length == 8)
    assert(recs.count(_.warc_type == "warcinfo") == 2)
    val resp = recs.filter(_.warc_type == "response")
    assert(resp.map(r => new String(r.payload, "UTF-8")).toSeq ==
      Seq("alpha text", "beta", "", "delta longer body", "ninth doc opens file 1", "tenth"))
    assert(resp.map(_.target_uri).forall(_ != null))
    assert(resp.head.target_uri == "https://host0.example.com/p/0")
    assert(recs.filter(_.media_id == 0L).map(_.record_idx).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // responsePages: the handoff frame carries the payload as text
    val pages = Warc.responsePages(Warc.parseWarc(files))
      .orderBy("file_id", "record_idx").collect()
    assert(pages.length == 6 && pages.head.getString(3) == "alpha text")
    // caller-supplied uri column wins over the formula
    val withUri = docs.withColumn("uri",
      concat(lit("https://u/"), col("doc_id").cast("string")))
    val u = Warc.parseWarc(CrawlFixtures.syntheticWarc(withUri, docsPerFile = 8))
      .filter(_.warc_type == "response").collect().map(_.target_uri).sorted
    assert(u.forall(_.startsWith("https://u/")))
  }

  test("parseHttpResponse: status line, headers, body split; malformations quarantine") {
    val msg = ("HTTP/1.1 301 Moved Permanently\r\nLocation: /new\r\n" +
      "Content-Type: text/html; charset=ISO-8859-1\r\n\r\n<html>body</html>").getBytes("ISO-8859-1")
    val got = BinaryCodecs.parseHttpResponse(msg).get
    assert(got.status == 301 && got.nHeaders == 2)
    assert(got.contentType == "text/html; charset=ISO-8859-1")
    assert(got.body.sameElements("<html>body</html>".getBytes))
    // empty body; no reason phrase; header-name case-insensitivity
    val noBody = BinaryCodecs.parseHttpResponse("HTTP/1.0 204\r\ncontent-type: a/b\r\n\r\n".getBytes).get
    assert(noBody.status == 204 && noBody.body.isEmpty && noBody.contentType == "a/b")
    // malformations
    assert(BinaryCodecs.parseHttpResponse("GET / HTTP/1.1\r\n\r\n".getBytes).isEmpty) // a request
    assert(BinaryCodecs.parseHttpResponse("HTTP/1.1 xyz OK\r\n\r\n".getBytes).isEmpty)
    assert(BinaryCodecs.parseHttpResponse("HTTP/1.1 200 OK\r\nno colon here\r\n\r\n".getBytes).isEmpty)
    assert(BinaryCodecs.parseHttpResponse("HTTP/1.1 200 OK\r\nA: b\r\n".getBytes).isEmpty) // unterminated
    // Location header captured for the redirect chain
    val redir = BinaryCodecs.parseHttpResponse(
      "HTTP/1.1 301 Moved\r\nlocation: /new/place\r\n\r\n".getBytes).get
    assert(redir.status == 301 && redir.location == "/new/place")
    assert(noBody.location == null)
    // charset parameter extraction
    assert(BinaryCodecs.contentTypeCharset("text/html; charset=UTF-8").contains("utf-8"))
    assert(BinaryCodecs.contentTypeCharset("""text/html;charset="latin1"""").contains("latin1"))
    assert(BinaryCodecs.contentTypeCharset("text/html").isEmpty)
    assert(BinaryCodecs.contentTypeCharset(null).isEmpty)
  }

  test("zstd content-coding: roundtrip, stacked and chunked legs, cap and corruption quarantine") {
    val body = ("zstd body " * 40).getBytes("UTF-8")
    // codec roundtrip + the zip-bomb cap
    assert(BinaryCodecs.zstdDecompress(BinaryCodecs.zstd(body)).get.sameElements(body))
    assert(BinaryCodecs.zstdDecompress(BinaryCodecs.zstd(new Array[Byte](4096)),
      maxBytes = 1024).isEmpty)
    assert(BinaryCodecs.zstdDecompress("not zstd".getBytes).isEmpty)
    def msg(hdrs: String, wire: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n$hdrs\r\n")
        .getBytes("US-ASCII") ++ wire
    // plain zstd decodes through the chain
    val plain = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: zstd\r\n", BinaryCodecs.zstd(body))).get
    assert(plain.bodyDecoded && plain.body.sameElements(body))
    // stacked gzip-then-zstd: outermost (zstd) undone first
    val stacked = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: gzip, zstd\r\n",
        BinaryCodecs.zstd(BinaryCodecs.gzip(body)))).get
    assert(stacked.bodyDecoded && stacked.body.sameElements(body))
    // declared-zstd garbage quarantines (same class as declared-gzip)
    assert(BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: zstd\r\n", "junk".getBytes)).isEmpty)
    val truncated = BinaryCodecs.zstd(body).dropRight(3)
    assert(BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: zstd\r\n", truncated)).isEmpty)
    // br stays FLAGGED, not decoded — zstd support must not widen that
    val br = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: br\r\n", body)).get
    assert(!br.bodyDecoded && br.body.sameElements(body))
  }

  test("parseHttpResponse: wire codings undone — chunked, gzip, deflate, composed, flagged") {
    import java.nio.charset.StandardCharsets.US_ASCII
    val text = "hello chunked world, with enough bytes to span several chunks"
    def msg(codingHdrs: String, wire: Array[Byte]) =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n$codingHdrs\r\n")
        .getBytes(US_ASCII) ++ wire
    def chunked(b: Array[Byte], n: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.grouped(n).foreach { c =>
        out.write((c.length.toHexString + "\r\n").getBytes(US_ASCII))
        out.write(c); out.write("\r\n".getBytes(US_ASCII))
      }
      out.write("0\r\n\r\n".getBytes(US_ASCII))
      out.toByteArray
    }
    // chunked de-framing (with an extension and a trailer field)
    val withExtras = ("5;ext=1\r\nhello\r\n1\r\n \r\n5\r\nworld\r\n0\r\n" +
      "X-T: v\r\n\r\n").getBytes(US_ASCII)
    val ch = BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n", withExtras)).get
    assert(new String(ch.body, US_ASCII) == "hello world" && ch.bodyDecoded)
    // gzip and deflate content codings
    val gz = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: gzip\r\n", BinaryCodecs.gzip(text.getBytes(US_ASCII)))).get
    assert(new String(gz.body, US_ASCII) == text && gz.contentEncoding == "gzip")
    val df = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: deflate\r\n",
        BinaryCodecs.zlibDeflate(text.getBytes(US_ASCII)))).get
    assert(new String(df.body, US_ASCII) == text && df.bodyDecoded)
    // raw-DEFLATE mislabeled as deflate (the browser fallback)
    val rawDeflate = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(text.getBytes(US_ASCII)); d.finish()
      val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](8192)
      while (!d.finished()) { val k = d.deflate(buf); out.write(buf, 0, k) }
      d.end(); out.toByteArray
    }
    val rdf = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: deflate\r\n", rawDeflate)).get
    assert(new String(rdf.body, US_ASCII) == text)
    // chunked over gzip: undone outermost-first
    val composed = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
        chunked(BinaryCodecs.gzip(text.getBytes(US_ASCII)), 7))).get
    assert(new String(composed.body, US_ASCII) == text && composed.bodyDecoded)
    // unsupported coding: flagged, body left raw, NOT dropped
    val br = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: br\r\n", "opaque".getBytes(US_ASCII))).get
    assert(!br.bodyDecoded && new String(br.body, US_ASCII) == "opaque" &&
      br.contentEncoding == "br")
    // framing corruption under a DECLARED supported coding quarantines
    assert(BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n", "zz\r\nhello\r\n".getBytes(US_ASCII))).isEmpty)
    assert(BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n",
        chunked(text.getBytes(US_ASCII), 7).dropRight(3))).isEmpty) // truncated terminator
    assert(BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: gzip\r\n", "not gzip at all".getBytes(US_ASCII))).isEmpty)
    // empty chunked body
    val empty = BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n", "0\r\n\r\n".getBytes(US_ASCII))).get
    assert(empty.body.isEmpty && empty.bodyDecoded)
    // REPEATED coding fields are list-valued (RFC 9110): two
    // Content-Encoding lines are equivalent to 'gzip, identity' and the
    // earlier coding must still be undone, not silently skipped
    val repeated = BinaryCodecs.parseHttpResponse(
      msg("Content-Encoding: gzip\r\nContent-Encoding: identity\r\n",
        BinaryCodecs.gzip(text.getBytes(US_ASCII)))).get
    assert(new String(repeated.body, US_ASCII) == text && repeated.bodyDecoded)
    assert(repeated.contentEncoding == "gzip, identity")
    // zero-padded chunk-size lines are legal (RFC 9112 permits leading
    // zeros): the length cap applies to SIGNIFICANT digits only
    val padded = BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n",
        "0000000005\r\nhello\r\n000000000\r\n\r\n".getBytes(US_ASCII))).get
    assert(new String(padded.body, US_ASCII) == "hello" && padded.bodyDecoded)
    // …but significant digits past 8 hex still quarantine (value bound)
    assert(BinaryCodecs.parseHttpResponse(
      msg("Transfer-Encoding: chunked\r\n",
        "0100000005\r\nhello\r\n0\r\n\r\n".getBytes(US_ASCII))).isEmpty)
  }

  test("httpResponses + decodePages: the full container-to-text chain with transport charsets") {
    import java.nio.charset.StandardCharsets._
    def msg(ct: String, body: Array[Byte]) =
      s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n".getBytes(US_ASCII) ++ body
    val rows = Seq(
      // latin-1 body declared by TRANSPORT (no meta, no BOM)
      (0L, msg("text/html; charset=iso-8859-1", "café latin".getBytes(ISO_8859_1)), "https://a/0"),
      // BOM'd UTF-16LE body — BOM outranks the (absent) transport declaration
      (1L, msg("text/html", Array(0xFF.toByte, 0xFE.toByte) ++ "café utf16".getBytes(UTF_16LE)), "https://a/1"),
      // plain UTF-8
      (2L, msg("text/html", "plain ascii page".getBytes(US_ASCII)), "https://a/2"),
      // NOT an HTTP message → quarantines out of httpResponses
      (3L, "just bytes, no status line".getBytes(US_ASCII), "https://a/3"))
      .toDF("doc_id", "payload", "uri")
    val pages = Warc.decodePages(Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(rows, docsPerFile = 8)))
      .collect().sortBy(_.record_idx)
    assert(pages.length == 3) // doc 3 dropped
    assert(pages.map(_.encoding).toSeq == Seq("windows-1252", "utf-16le", "utf-8"))
    assert(pages.map(_.bom).toSeq == Seq(false, true, false))
    assert(pages(0).html == "café latin" && pages(1).html == "café utf16")
    assert(pages.forall(_.status == 200))
    assert(pages.forall(!_.mojibake_risk))
  }

  test("toWet: conversion records with Refers-To/Content-Type, roundtrip through parseWarc") {
    val pages = Seq((0L, "extracted text zero", "https://a/0"),
      (1L, "", "https://a/1"), (9L, "file one text", "https://a/9"))
      .toDF("doc_id", "text", "uri")
    val recs = Warc.parseWarc(Warc.toWet(pages, docsPerFile = 8))
      .collect().sortBy(r => (r.media_id, r.record_idx))
    assert(recs.length == 5) // 2 files x warcinfo + (2, 1) conversions
    val conv = recs.filter(_.warc_type == "conversion")
    assert(conv.length == 3)
    assert(conv.map(r => new String(r.payload, "UTF-8")).toSeq ==
      Seq("extracted text zero", "", "file one text"))
    // conversion envelope: 4 base + Refers-To + Content-Type + Content-Length
    assert(conv.forall(_.n_headers == 7))
    assert(conv.map(_.target_uri).toSeq == Seq("https://a/0", "https://a/1", "https://a/9"))
  }

  test("toWat: metadata records with the JSON envelope, roundtrip through parseWarc") {
    import org.apache.spark.sql.functions.{col, get_json_object}
    val pages = Seq(
      (0L, "https://a.com/0", 200, "text/html", "T0", "D0", "https://cdn/", Seq("/x", "/y")),
      (1L, "https://a.com/1", 404, "text/html", "T1", "D1", null: String, Seq.empty[String])
    ).toDF("doc_id", "uri", "status", "content_type", "title", "meta_desc", "base", "links")
    val recs = Warc.parseWarc(Warc.toWat(pages, docsPerFile = 8))
      .collect().sortBy(_.record_idx)
    assert(recs.map(_.warc_type).toSeq == Seq("warcinfo", "metadata", "metadata"))
    val envs = recs.filter(_.warc_type == "metadata")
      .map(r => new String(r.payload, "UTF-8"))
    // deterministic field order — envelope bytes are interchange surface
    assert(envs(0) == """{"status":200,"content_type":"text/html","title":"T0",""" +
      """"meta_desc":"D0","base":"https://cdn/","links":["/x","/y"]}""")
    // null fields omit (the JSON convention for absent metadata)
    assert(envs(1) == """{"status":404,"content_type":"text/html","title":"T1",""" +
      """"meta_desc":"D1","links":[]}""")
    // refers-to names the SOURCE response record namespace
    val raw = new String(
      graft.functions.BinaryCodecs.gzipMembers(
        Warc.toWat(pages).collect().head.payload).get.apply(1), "UTF-8")
    assert(raw.contains("WARC-Refers-To: <urn:graft:rec:0>"))
    assert(raw.contains("WARC-Record-ID: <urn:graft:meta:0>"))
    assert(raw.contains("Content-Type: application/json"))
    // fields parse back
    val parsed = Warc.parseWarc(Warc.toWat(pages)).toDF()
      .where(col("warc_type") === "metadata")
      .select(get_json_object(col("payload").cast("string"), "$.title").as("t"))
      .collect().map(_.getString(0)).sorted
    assert(parsed.toSeq == Seq("T0", "T1"))
  }

  test("requestResponsePairs: both fetch sides pair via Concurrent-To; orphans drop") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 10L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val recs = Warc.parseWarc(CrawlFixtures.syntheticWarcRequestPairs(docs, docsPerFile = 8))
    val got = Warc.requestResponsePairs(recs)
      .select(col("target"), col("method"), col("host"), col("user_agent"),
        col("status"), col("content_type"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4), r.getString(5)))
      .sortBy(_._1)
    assert(got.length == 10)
    assert(got.head == (("/p/0", "GET", "host0.example.com", "graft/0.1", 200, "text/html")))
    assert(got(2) == (("/p/2", "GET", "host2.example.com", "graft/0.1", 204, "text/html")))
    // a request whose response is missing drops (quarantine)
    val orphaned = Warc.requestResponsePairs(
      recs.filter(r => r.record_id != "<urn:graft:rec:3>"))
    assert(orphaned.count() == 9)
  }

  test("resolveRevisits: body-less revisits inherit the original's payload; orphans drop") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 20L).map(i => (i, s"page $i body")).toDF("doc_id", "text")
    val recs = Warc.parseWarc(CrawlFixtures.syntheticWarcRevisits(docs, docsPerFile = 8))
    // ids on the residue archived as revisit records with no body
    val raw = recs.collect()
    val revisits = raw.filter(_.warc_type == "revisit")
    assert(revisits.map(r => r.target_uri.split("/").last.toLong).sorted.toSeq == Seq(7L, 17L))
    assert(revisits.forall(r => r.payload.isEmpty && r.refers_to != null))
    val resolved = Warc.resolveRevisits(recs)
      .select(col("target_uri"), col("was_revisit"), col("payload").cast("string"))
      .collect().map(r => (r.getString(0).split("/").last.toLong, r.getBoolean(1), r.getString(2)))
      .sortBy(_._1)
    assert(resolved.length == 20)
    assert(resolved(7) == ((7L, true, "page 6 body")), "revisit must inherit the ORIGINAL's body")
    assert(resolved(17) == ((17L, true, "page 16 body")))
    assert(resolved(6) == ((6L, false, "page 6 body")))
    // an orphan revisit (its original absent) quarantines
    val orphaned = Warc.resolveRevisits(
      recs.filter(r => r.record_id != "<urn:graft:rec:6>"))
    assert(orphaned.count() == 18) // 19 remaining records minus the orphan revisit of 6
  }

  test("toCdxj: revisit records index too; warcinfo and request records don't") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 10L).map(i => (i, s"page $i body")).toDF("doc_id", "text")
    val lines = Warc.toCdxj(CrawlFixtures.syntheticWarcRevisits(docs, docsPerFile = 10))
    val byType = lines.groupBy("warc_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("response" -> 9L, "revisit" -> 1L))
    // the revisit is body-less: its digest is sha256 of the empty payload
    val rv = lines.where(col("warc_type") === "revisit").collect().head
    assert(rv.getAs[String]("digest") ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(rv.getAs[String]("ts") == "20240101000000")
    // pairing corpora: requests never index (no HTTP response to point at)
    val pairLines = Warc.toCdxj(
      CrawlFixtures.syntheticWarcRequestPairs(docs, docsPerFile = 10))
    assert(pairLines.select("warc_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("response"))
    assert(pairLines.count() == 10)
    // a record WITHOUT a WARC-Date (spec violation the parser tolerates)
    // indexes with the zero-epoch sentinel — the line stays 3-field and
    // roundtrips through the reader instead of silently misparsing
    val noDate = BinaryCodecs.warcFile(Seq(
      (Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "https://x.example/p"),
        "body".getBytes("UTF-8"))))
    val m = Seq(Multimodal.MediaRow(7L, "warc", noDate, "application/warc",
      noDate.length.toLong)).toDS()
    val nd = Warc.toCdxj(m)
    assert(nd.select("ts").collect().head.getString(0) == "00000000000000")
    val back = Warc.cdxjEntries(nd.select("cdxj_line")).collect().head
    assert(back.getAs[String]("url") == "https://x.example/p" &&
      back.getAs[String]("ts") == "00000000000000")
  }

  test("cdxClusterIndex: shards tile the sorted concatenated index byte-for-byte") {
    val docs = (0L until 23L).map(i => (i, s"page $i")).toDF("doc_id", "text")
    val lines = Warc.toCdxj(CrawlFixtures.syntheticWarc(docs, docsPerFile = 8))
    val idx = Warc.cdxClusterIndex(lines, linesPerShard = 5)
      .collect().sortBy(_.getLong(0))
    assert(idx.length == 5 && idx.map(_.getLong(3)).sum == 23L) // 5+5+5+5+3
    // the two-seek contract: each (byte_offset, shard_bytes) slices the
    // concatenated SORTED index to exactly that shard's lines
    val sorted = lines.select("surt_key", "cdxj_line").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val file = sorted.map(_._2).mkString("", "\n", "\n").getBytes("UTF-8")
    idx.foreach { r =>
      val off = r.getLong(5).toInt; val sz = r.getLong(4).toInt
      val shardLines = new String(file.slice(off, off + sz), "UTF-8")
        .split("\n", -1).dropRight(1)
      assert(shardLines.length == r.getLong(3).toInt)
      assert(shardLines.head.startsWith(r.getString(1) + " "), "first_key")
      assert(shardLines.last.startsWith(r.getString(2) + " "), "last_key")
    }
    assert(idx.head.getLong(5) == 0L)
    assert(idx.map(r => r.getLong(5) + r.getLong(4)).max == file.length.toLong)
  }

  test("randomAccessFetch: two-seek path — only selected shards/containers matter, misses drop, tampering surfaces") {
    val docs = (0L until 40L).map(i => (i, s"page $i")).toDF("doc_id", "text")
    for (gz <- Seq(true, false)) {
      val media = CrawlFixtures.syntheticWarc(docs, docsPerFile = 8) // gz toggled below
      val m = if (gz) media else CrawlFixtures.syntheticWarcBytes(
        docs.selectExpr("doc_id", "cast(text as binary) as payload",
          "concat('https://host', doc_id % 20, '.example.com/p/', doc_id) as uri"),
        docsPerFile = 8, gzipPerRecord = false)
      val containers = m.toDF().select(
        concat(lit("c-"), col("media_id"), lit(".warc")).as("filename"),
        col("payload"))
      val lines = Warc.toCdxj(m,
        filenameCol = concat(lit("c-"), col("media_id"), lit(".warc")))
      val idx = Warc.cdxClusterIndex(lines, linesPerShard = 7)
      val shards = Warc.cdxShardFiles(lines, linesPerShard = 7)
      // the queried set: five present URLs + two guaranteed-miss URLs
      val present = Seq(3L, 11L, 19L, 27L, 35L)
      val urls = (present.map(i => s"https://host${i % 20}.example.com/p/$i") ++
        Seq("https://host1.example.com/p/nosuch", // inside the host key space
          "https://zzz.example.org/x")) // sorts beyond every shard range
        .toDF("url")
      val got = Warc.randomAccessFetch(urls, idx, shards, containers)
        .collect().sortBy(_.url)
      assert(got.length == present.length, "misses must drop, hits must land")
      got.foreach { r =>
        val id = r.url.split("/").last.toLong
        assert(r.body == s"page $id" && r.digest_ok &&
          r.n_body_bytes == s"page $id".length.toLong)
        assert(r.status.isEmpty, "bare (non-HTTP) payloads index without a status")
        assert(r.filename == s"c-${id / 8}.warc")
      }
      // the structural only-what-matches guarantee, pinned by equivalence:
      // deleting every UNSELECTED shard and every UNREFERENCED container
      // leaves the result identical — the plan never needed them
      val usedShards = got.map(_.shard_id).toSet
      val usedFiles = got.map(_.filename).toSet
      val pruned = Warc.randomAccessFetch(urls, idx,
        shards.where(col("shard_id").isInCollection(usedShards)),
        containers.where(col("filename").isInCollection(usedFiles)))
        .collect().sortBy(_.url)
      assert(pruned.map(_.toString).toSeq == got.map(_.toString).toSeq,
        "unselected shards/containers must be irrelevant to the result")
      // a tampered digest SURFACES (digest_ok=false); a tampered offset
      // misframes the slice and the row QUARANTINES (drops)
      val tampered = lines.withColumn("cdxj_line",
        when(col("surt_key").endsWith(")/p/3"),
          regexp_replace(col("cdxj_line"), "\"digest\":\"[0-9a-f]{8}",
            "\"digest\":\"00000000"))
          .when(col("surt_key").endsWith(")/p/11"),
            regexp_replace(col("cdxj_line"), "\"offset\":\"",
              "\"offset\":\"1"))
          .otherwise(col("cdxj_line")))
      val tgot = Warc.randomAccessFetch(urls,
        Warc.cdxClusterIndex(tampered, linesPerShard = 7),
        Warc.cdxShardFiles(tampered, linesPerShard = 7), containers)
        .collect().sortBy(_.url)
      assert(tgot.length == present.length - 1, "the misframed span must drop")
      assert(!tgot.exists(_.url.endsWith("/11")))
      val flags = tgot.map(r => r.url.split("/").last -> r.digest_ok).toMap
      assert(!flags("3") && flags("19") && flags("27") && flags("35"))
    }
  }

  test(".warc.zst: frame-per-record parse, spans slice standalone, corruption and dictionary quarantine") {
    val records = (0 until 9).map(i => rec("response", s"https://z/$i", s"<p>body $i</p>"))
    val zst = BinaryCodecs.warcFileZst(records)
    val plain = BinaryCodecs.warcFile(records, gzipPerRecord = false)
    // parse-back identical to the plain layout
    val got = BinaryCodecs.warcRecords(zst).get
    val want = BinaryCodecs.warcRecords(plain).get
    assert(got.map(_.targetUri) == want.map(_.targetUri))
    assert(got.zip(want).forall { case (a, b) => a.payload.sameElements(b.payload) })
    // spans are compressed-coordinate random-access pointers: each
    // slice is a complete zstd frame and standalone-decodes ONE record
    val spans = BinaryCodecs.warcRecordsWithSpans(zst).get
    assert(spans.length == 9)
    assert(spans.head.offset == 0 && spans.map(_.length).sum == zst.length)
    spans.foreach { sp =>
      val slice = zst.slice(sp.offset.toInt, (sp.offset + sp.length).toInt)
      val one = BinaryCodecs.warcRecords(slice).get
      assert(one.length == 1 && one.head.targetUri == sp.rec.targetUri)
    }
    // records straddling frame boundaries also parse (re-framed stream)
    val restraddled = plain.grouped(41).map(
      b => com.github.luben.zstd.Zstd.compress(b)).reduce(_ ++ _)
    assert(BinaryCodecs.warcRecords(restraddled).get.length == 9)
    // corruption quarantines whole: truncated frame, flipped byte
    assert(BinaryCodecs.warcRecords(zst.dropRight(2)).isEmpty)
    val bad = zst.clone; bad(zst.length / 2) = (bad(zst.length / 2) ^ 0x55).toByte
    assert(BinaryCodecs.warcRecords(bad).isEmpty)
    // a dictionary-bearing archive (skippable frame + dict-compressed
    // frames) must quarantine, never misread: synthesize a skippable
    // frame followed by garbage that claims to be a frame
    val skippable = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 4, 0, 0, 0, 1, 2, 3, 4)
    assert(BinaryCodecs.warcRecords(skippable ++ Array[Byte](9, 9, 9, 9)).isEmpty)
    // a skippable frame before valid frames is legal and skipped
    assert(BinaryCodecs.warcRecords(skippable ++ zst).get.length == 9)
    // the CDX stack works over zst unchanged: toCdxj offsets point at
    // the record's own frame
    val media = Seq(Multimodal.MediaRow(7L, "warc", zst, "application/warc",
      zst.length.toLong)).toDS()
    val lines = Warc.toCdxj(media,
      filenameCol = concat(lit("c-"), col("media_id"), lit(".warc.zst")))
      .collect()
    assert(lines.length == 9)
    lines.foreach { r =>
      val off = r.getAs[Long]("offset").toInt
      val len = r.getAs[Long]("length").toInt
      val one = BinaryCodecs.warcRecords(zst.slice(off, off + len)).get
      assert(one.length == 1 && one.head.targetUri == r.getAs[String]("url"))
    }
  }

  test("emitRevisits: unchanged captures become body-less revisits; resolveRevisits reconstructs them") {
    // page-sized bodies — the shrink assertion at the end is only true
    // when bodies outweigh the revisit record's extra headers
    def bodyOf(i: Long) = s"body $i " + ("lorem ipsum " * 40)
    val docs = (0L until 20L).map(i => (i, bodyOf(i))).toDF("doc_id", "text")
    val prior = Warc.parseWarc(CrawlFixtures.syntheticWarc(docs, docsPerFile = 8))
    val idx = Warc.cdxDigestIndex(prior)
    assert(idx.count() == 20 && idx.columns.toSet ==
      Set("surt_key", "url", "digest", "record_id"))
    // recrawl: docs 0/5/10/15 changed, doc 21 is brand new, rest unchanged
    val captures = (0L until 20L).map { i =>
      val body = if (i % 5 == 0) bodyOf(i) + " CHANGED" else bodyOf(i)
      (i, s"https://host${i % 20}.example.com/p/$i", body.getBytes("UTF-8"))
    } :+ ((21L, "https://hostx.example.com/new", "fresh".getBytes("UTF-8")))
    val emitted = Warc.emitRevisits(
      captures.toDF("doc_id", "url", "payload"), idx)
    val rows = emitted.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Boolean]("is_revisit"), r.getAs[Array[Byte]]("payload"),
      r.getAs[String]("refers_to"))).sortBy(_._1)
    rows.foreach { case (id, rev, payload, ref) =>
      if (id < 20 && id % 5 != 0) {
        assert(rev && payload.isEmpty && ref == s"<urn:graft:rec:$id>",
          s"doc $id must dedup against the prior capture")
      } else {
        assert(!rev && payload.nonEmpty && ref == null,
          s"doc $id must archive in full")
      }
    }
    // lifecycle roundtrip: serialize, parse back, resolve against the
    // prior archive — every capture's body comes back byte-identical
    val arch = Warc.toWarcRecords(
      emitted.selectExpr("doc_id", "payload", "url as uri",
        "CASE WHEN is_revisit THEN 'revisit' ELSE 'response' END as warc_type",
        "refers_to"),
      docsPerFile = 8, recordIdPrefix = "rc2")
    val resolved = Warc.resolveRevisits(prior.unionByName(Warc.parseWarc(arch)))
      .where(col("record_id").startsWith("<urn:graft:rc2:"))
      .select(col("target_uri"), col("was_revisit"),
        col("payload").cast("string")).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
    assert(resolved.length == 21)
    resolved.foreach { case (uri, rev, body) =>
      if (uri.endsWith("/new")) assert(!rev && body == "fresh")
      else {
        val id = uri.split("/").last.toLong
        if (id % 5 == 0) assert(!rev && body == bodyOf(id) + " CHANGED")
        else assert(rev && body == bodyOf(id))
      }
    }
    // the point of the op: the new archive carries body bytes ONLY for
    // the changed/new captures (compared plain — per-record gzip would
    // also compress the bodies and muddy the byte accounting)
    val newBytes = Warc.toWarcRecords(
      emitted.selectExpr("doc_id", "payload", "url as uri",
        "CASE WHEN is_revisit THEN 'revisit' ELSE 'response' END as warc_type",
        "refers_to"),
      docsPerFile = 8, recordIdPrefix = "rc3", gzipPerRecord = false)
      .collect().map(_.size_bytes).sum
    val fullBytes = Warc.toWarcRecords(
      captures.toDF("doc_id", "url", "payload")
        .selectExpr("doc_id", "payload", "url as uri",
          "'response' as warc_type", "cast(null as string) as refers_to"),
      docsPerFile = 8, recordIdPrefix = "rcf", gzipPerRecord = false)
      .collect().map(_.size_bytes).sum
    assert(newBytes < fullBytes, "revisit production must shrink the archive")
  }

  test("cdxShardFiles: blobs concatenated in shard order ARE the sorted index file the cluster index offsets point into") {
    val docs = (0L until 23L).map(i => (i, s"page $i")).toDF("doc_id", "text")
    val lines = Warc.toCdxj(CrawlFixtures.syntheticWarc(docs, docsPerFile = 8))
    val idx = Warc.cdxClusterIndex(lines, linesPerShard = 5)
      .collect().sortBy(_.getLong(0))
    val blobs = Warc.cdxShardFiles(lines, linesPerShard = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._1)
    assert(blobs.map(_._1).toSeq == idx.map(_.getLong(0)).toSeq)
    // line counts and byte sizes agree with the index rows
    blobs.zip(idx).foreach { case ((_, n, payload), r) =>
      assert(n == r.getLong(3) && payload.length.toLong == r.getLong(4))
    }
    // concatenation equals the independently sorted index file
    val sorted = lines.select("surt_key", "cdxj_line").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val file = sorted.map(_._2).mkString("", "\n", "\n").getBytes("UTF-8")
    assert(blobs.flatMap(_._3).toSeq == file.toSeq)
    // each blob slices out of the file at the index's byte_offset
    blobs.zip(idx).foreach { case ((_, _, payload), r) =>
      val off = r.getLong(5).toInt
      assert(file.slice(off, off + payload.length).toSeq == payload.toSeq)
    }
  }

  test("warcRecordsWithSpans: spans are random-access pointers, gzip and plain") {
    val docs = (0L until 10L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    for (gz <- Seq(true, false)) {
      val media = CrawlFixtures.syntheticWarcBytes(
        docs.selectExpr("doc_id", "cast(text as binary) as payload",
          "concat('https://h/', doc_id) as uri"),
        docsPerFile = 10, gzipPerRecord = gz).collect().head
      val spans = BinaryCodecs.warcRecordsWithSpans(media.payload).get
      assert(spans.length == 11) // warcinfo + 10 docs
      // every span slices to a standalone one-record parse — the
      // record-level random access CDX promises
      spans.foreach { s =>
        val slice = media.payload.slice(s.offset.toInt, (s.offset + s.length).toInt)
        val rec = BinaryCodecs.warcRecords(slice).get
        assert(rec.length == 1 && rec.head.recordId == s.rec.recordId)
        assert(rec.head.payload.sameElements(s.rec.payload))
      }
      // spans tile the file exactly (member-per-record / plain layouts)
      assert(spans.head.offset == 0)
      assert(spans.map(_.length).sum == media.payload.length)
      assert(spans.sliding(2).forall(p =>
        p.head.offset + p.head.length == p.last.offset))
      // WARC-Date is retained for the CDX timestamp
      assert(spans.forall(_.rec.warcDate == "2024-01-01T00:00:00Z"))
    }
  }

  test("resolveRevisits / requestResponsePairs: re-ingested files (duplicate record ids) do not fan out") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 20L).map(i => (i, s"page $i body")).toDF("doc_id", "text")
    val media = CrawlFixtures.syntheticWarcRevisits(docs, docsPerFile = 8)
    val twice = media.union(media.map(m => m.copy(media_id = m.media_id + 100)))
    val resolved = Warc.resolveRevisits(Warc.parseWarc(twice))
    // 2 copies × (18 responses + 2 revisits): each revisit resolves ONCE
    // against the single kept payload per duplicated record id
    assert(resolved.count() == 40)
    assert(resolved.where(col("was_revisit")).count() == 4)
    assert(resolved.where(col("was_revisit"))
      .select(col("payload").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq == Seq("page 16 body", "page 6 body"))
    val docs10 = (0L until 10L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val pm = CrawlFixtures.syntheticWarcRequestPairs(docs10, docsPerFile = 8)
    val pmTwice = pm.union(pm.map(m => m.copy(media_id = m.media_id + 100)))
    // 20 requests, each pairing exactly once despite the duplicated ids
    assert(Warc.requestResponsePairs(Warc.parseWarc(pmTwice)).count() == 20)
  }

  test("parseWarc: a corrupt file drops whole; good files in the same batch survive") {
    val good = BinaryCodecs.warcFile(Seq(rec("response", "u:1", "ok")))
    val media = Seq(
      Multimodal.MediaRow(1L, "warc", good, "application/warc", good.length.toLong),
      Multimodal.MediaRow(2L, "warc", "garbage".getBytes, "application/warc", 7L))
      .toDS()
    val got = Warc.parseWarc(media).collect()
    assert(got.length == 1 && got.head.media_id == 1L)
  }
}
