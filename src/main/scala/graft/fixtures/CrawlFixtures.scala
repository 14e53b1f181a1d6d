package graft.fixtures

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.BinaryCodecs
import graft.ops.Multimodal.MediaRow
import graft.ops.Warc

/** Synthetic crawl corpora built from the documents table: WARC files
  * written through [[graft.ops.Warc]]'s writer, every record a pure
  * function of `doc_id` and the text, so each roundtrip's oracle derives
  * its fields from the id formula.
  */
object CrawlFixtures {

  /** `xml` as UTF-8 bytes, gzip-compressed when `gzip` — the sitemap and
    * feed files of the discovery queries, mixed plain and compressed.
    */
  def maybeGzip(gzip: Boolean, xml: String): Array[Byte] = {
    val bytes = xml.getBytes("UTF-8")
    if (gzip) BinaryCodecs.gzip(bytes) else bytes
  }

  /** Synthetic crawl corpus WITH revisit records — the write half of
    * the q409 roundtrip: docs on the revisit residue archive as
    * body-less `revisit` records whose `WARC-Refers-To` names the
    * PREVIOUS doc's response record (the identical-payload-digest
    * shape), everything else as normal responses.
    */
  def syntheticWarcRevisits(
      docs: DataFrame, docsPerFile: Int = 8, residue: Int = 7): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    require(docsPerFile >= 1, s"docsPerFile must be >= 1: $docsPerFile")
    graft.io.Spread.toDefaultParallelism(
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
      .groupBy(expr(s"doc_id div $docsPerFile").as("file_id"))
      .agg(sort_array(collect_list(struct(
        col("doc_id").as("_1"), col("text").as("_2")))).as("recs"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (fid, recs) =>
        val info = (Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> s"<urn:graft:file:$fid>",
          "WARC-Date" -> "2024-01-01T00:00:00Z"),
          Warc.WarcInfoPayload.getBytes("UTF-8"))
        val records = recs.map { case (id, text) =>
          val uri = s"https://host${id % 20}.example.com/p/$id"
          if (id % 10 == residue)
            (Seq(
              "WARC-Type" -> "revisit",
              "WARC-Record-ID" -> s"<urn:graft:rec:$id>",
              "WARC-Date" -> "2024-01-01T00:00:00Z",
              "WARC-Target-URI" -> uri,
              "WARC-Refers-To" -> s"<urn:graft:rec:${id - 1}>",
              "WARC-Profile" ->
                "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
              Array.emptyByteArray)
          else
            (Seq(
              "WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:graft:rec:$id>",
              "WARC-Date" -> "2024-01-01T00:00:00Z",
              "WARC-Target-URI" -> uri), text.getBytes("UTF-8"))
        }
        val bytes = BinaryCodecs.warcFile(info +: records, gzipPerRecord = true)
        MediaRow(fid, "warc", bytes, "application/warc", bytes.length.toLong)
      }
  }

  /** Synthetic `.warc.gz` corpus from the documents table — the writer
    * half of the q384 identity roundtrip (the q364 idiom: synthesize the
    * container distributed from fixture rows, parse it back distributed,
    * oracle derives every field straight from the id formula). Documents
    * group `docsPerFile` to a file (file id = `doc_id div docsPerFile`,
    * records in doc-id order after a leading warcinfo member); each
    * record's Target-URI comes from the `uri` column when the caller
    * provides one, else from the default host/path id formula. Every
    * record is its own gzip member — the standard layout, so the parse
    * side exercises the real member walk on every file.
    */
  def syntheticWarc(docs: DataFrame, docsPerFile: Int = 8): Dataset[MediaRow] =
    syntheticWarcBytes(docsWithDefaultUri(docs), docsPerFile)

  /** The shared `(doc_id, payload, uri)` projection behind
    * [[syntheticWarc]] and [[syntheticWarcZst]]: text as UTF-8 body
    * bytes, URIs from the caller's `uri` column or the default
    * host/path id formula — one definition, so the `.gz` and `.zst`
    * corpora (and q384/q431's shared oracle) cannot drift.
    */
  private def docsWithDefaultUri(docs: DataFrame): DataFrame = {
    val withUri =
      if (docs.columns.contains("uri")) docs.select(col("doc_id"), col("text"), col("uri"))
      else docs.select(col("doc_id"), col("text"),
        concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("uri"))
    withUri.select(col("doc_id"),
      coalesce(col("text"), lit("")).cast("binary").as("payload"), col("uri"))
  }

  /** [[syntheticWarc]]'s general form: record payloads are an arbitrary
    * BINARY column — what the HTTP-message fixtures need (UTF-16/latin-1
    * bodies are not representable as UTF-8-roundtripping strings).
    * Input columns: `(doc_id, payload, uri)`.
    */
  def syntheticWarcBytes(
      docs: DataFrame, docsPerFile: Int = 8,
      gzipPerRecord: Boolean = true): Dataset[MediaRow] =
    Warc.buildWarcFiles(docs, docsPerFile, "response", Nil,
      gzipPerRecord = gzipPerRecord)

  /** Synthetic crawl corpus archiving BOTH fetch sides — per doc a
    * `request` record (GET line + Host + User-Agent, `Concurrent-To`
    * its response) followed by the `response` record, the layout real
    * crawlers write. The write half of the q412 pairing roundtrip.
    */
  def syntheticWarcRequestPairs(
      docs: DataFrame, docsPerFile: Int = 8): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    require(docsPerFile >= 1, s"docsPerFile must be >= 1: $docsPerFile")
    graft.io.Spread.toDefaultParallelism(
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
      .groupBy(expr(s"doc_id div $docsPerFile").as("file_id"))
      .agg(sort_array(collect_list(struct(
        col("doc_id").as("_1"), col("text").as("_2")))).as("recs"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (fid, recs) =>
        val info = (Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> s"<urn:graft:file:$fid>",
          "WARC-Date" -> "2024-01-01T00:00:00Z"),
          Warc.WarcInfoPayload.getBytes("UTF-8"))
        val records = recs.flatMap { case (id, text) =>
          val host = s"host${id % 20}.example.com"
          val uri = s"https://$host/p/$id"
          val req = (Seq(
            "WARC-Type" -> "request",
            "WARC-Record-ID" -> s"<urn:graft:req:$id>",
            "WARC-Date" -> "2024-01-01T00:00:00Z",
            "WARC-Target-URI" -> uri,
            "WARC-Concurrent-To" -> s"<urn:graft:rec:$id>"),
            (s"GET /p/$id HTTP/1.1\r\nHost: $host\r\n" +
              "User-Agent: graft/0.1\r\n\r\n").getBytes("US-ASCII"))
          val status = 200 + (id % 3) * 2
          val resp = (Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:graft:rec:$id>",
            "WARC-Date" -> "2024-01-01T00:00:00Z",
            "WARC-Target-URI" -> uri),
            (s"HTTP/1.1 $status OK\r\nContent-Type: text/html\r\n\r\n" + text)
              .getBytes("UTF-8"))
          Seq(req, resp)
        }
        val bytes = BinaryCodecs.warcFile(info +: records, gzipPerRecord = true)
        MediaRow(fid, "warc", bytes, "application/warc", bytes.length.toLong)
      }
  }

  /** [[syntheticWarc]] in the IIPC `.warc.zst` layout — one zstd frame
    * per record ([[graft.functions.BinaryCodecs.warcFileZst]]), the
    * same documents, URIs and record ids, so parse-back must be
    * row-identical to the `.warc.gz` corpus (q431 shares q384's
    * oracle verbatim).
    */
  def syntheticWarcZst(docs: DataFrame, docsPerFile: Int = 8): Dataset[MediaRow] =
    Warc.buildWarcFiles(docsWithDefaultUri(docs), docsPerFile, "response", Nil,
      zstPerRecord = true)
}
