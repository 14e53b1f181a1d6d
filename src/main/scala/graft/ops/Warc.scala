package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal.MediaRow

/** WARC container ingest — the interchange format every public web crawl
  * actually ships in (ISO 28500: concatenated records, each its own gzip
  * member in the standard `.warc.gz` layout). The repo's whole crawl
  * chain (gunzip → robots → main-content → URL identity → frontier)
  * starts from pages; this op turns the on-disk crawl format into those
  * pages, so a corpus engineer can point the pipeline at real crawl
  * files. Reference behavior modeled: none — the reference ingests
  * structured JSON only; §2.9 extension surface.
  *
  * Byte-level parsing lives in [[graft.functions.BinaryCodecs]]
  * (gzip member walk + strict record framing); this layer is the
  * Dataset plumbing: one input row = one WARC FILE, exploded to record
  * rows by a map-side `flatMap` walk — multi-KB binary
  * container decode is not an `Expression` fit (same judgment as the
  * BMP/WAV/AVI paths). Shuffle-free, linear in partitions: at 100 TB the
  * unit of work is the crawl file (~1 GB each), records never leave
  * their file's task until the caller shuffles downstream.
  */
object Warc {

  /** One WARC record row: `record_idx` is the 0-based position within
    * its file; `warc_type`/`target_uri`/`record_id`/`refers_to` null
    * when the record carries no such header (legal for e.g. warcinfo's
    * URI; `refers_to` is how revisit/conversion/metadata records name
    * their source record).
    */
  final case class WarcRecordRow(
      media_id: Long,
      record_idx: Long,
      warc_type: String,
      target_uri: String,
      n_headers: Int,
      n_bytes: Long,
      payload: Array[Byte],
      record_id: String,
      refers_to: String,
      concurrent_to: String)

  /** Explode WARC files (gzip'd, zstd'd — the IIPC `.warc.zst` frame
    * layout — or plain; detected per file by magic) into their
    * records in file order. A malformed file quarantines WHOLE (drops) —
    * record-level salvage after a length corruption would silently
    * misframe every later record, the worst possible corpus bug; pair
    * with [[quarantinedFiles]] to surface the drops as rows instead of
    * silence. The per-member zip-bomb cap is
    * [[graft.functions.BinaryCodecs.gunzip]]'s discipline, per record;
    * `maxBytesTotal` caps the file's AGGREGATE decompressed output
    * (default 4 GiB — sized for real ~1 GB crawl files, which inflate
    * to several GB, and caller-widenable). The cap is ALSO the peak-heap
    * bound per in-flight file: the all-or-nothing quarantine means a
    * file's records materialize together before any row is emitted.
    * Each task has one file in flight at a time, so size executor
    * memory as task slots × maxBytesTotal worst case (real files sit
    * far below the cap).
    */
  def parseWarc(
      media: Dataset[MediaRow],
      maxBytesPerMember: Int = 1 << 26,
      maxBytesTotal: Long = 1L << 32): Dataset[WarcRecordRow] = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.flatMap { m =>
      BinaryCodecs.warcRecords(m.payload, maxBytesPerMember,
        maxBytesTotal = maxBytesTotal).toSeq.flatMap { recs =>
        recs.zipWithIndex.map { case (r, i) =>
          WarcRecordRow(m.media_id, i.toLong, r.warcType, r.targetUri,
            r.nHeaders, r.payload.length.toLong, r.payload,
            r.recordId, r.refersTo, r.concurrentTo)
        }
      }
    }
  }

  /** The files [[parseWarc]] would DROP, as `(media_id, size_bytes)`
    * rows — quarantine made visible: a corpus job that silently loses
    * whole crawl files is an ops incident nobody can see. Runs the
    * VALIDITY-ONLY walk ([[graft.functions.BinaryCodecs.warcValid]] —
    * same framing, payloads never retained), so auditing a corpus costs
    * the decompression CPU but not parseWarc's peak heap. Shuffle-free;
    * feed the ids back to the fetch layer for re-archive or triage.
    */
  def quarantinedFiles(
      media: Dataset[MediaRow],
      maxBytesPerMember: Int = 1 << 26,
      maxBytesTotal: Long = 1L << 32): DataFrame = {
    import media.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    media.mapPartitions { rows =>
      rows.filter(m =>
        !BinaryCodecs.warcValid(m.payload, maxBytesPerMember,
          maxBytesTotal = maxBytesTotal))
        .map(m => (m.media_id, m.size_bytes))
    }.toDF("media_id", "size_bytes")
  }

  /** Filter to response records and surface the payload as page text —
    * the handoff from container ingest to the HTML chain
    * ([[Robots.filterAllowed]] → [[Html.mainContent]] →
    * [[Urls.canonicalize]]). Map-side.
    *
    * ONLY valid when payloads are bare UTF-8 HTML (the synthetic
    * fixtures): the cast is byte-blind, so on a real crawl archive —
    * where a response record carries the whole HTTP wire message, often
    * non-UTF-8 — the status line and headers would leak into page text
    * and mislabeled charsets would mojibake. Real `.warc.gz` input goes
    * through [[decodePages]] (HTTP split + charset sniff), which is what
    * every composite here does.
    */
  def responsePages(records: Dataset[WarcRecordRow]): DataFrame =
    records.toDF()
      .where(col("warc_type") === "response")
      .select(col("media_id").as("file_id"), col("record_idx"),
        col("target_uri"), col("payload").cast("string").as("html"))

  /** One WARC response record's parsed HTTP message. `content_encoding`
    * is the raw header value (null when absent); `body_decoded` is false
    * when an UNSUPPORTED coding (br, compress, …) left the body raw —
    * flagged rather than silently dropped, so a corpus job can count and
    * route them instead of losing them invisibly.
    */
  final case class HttpRecordRow(
      media_id: Long,
      record_idx: Long,
      target_uri: String,
      status: Int,
      content_type: String,
      location: String,
      n_headers: Int,
      body: Array[Byte],
      content_encoding: String,
      body_decoded: Boolean)

  /** Split each `response` record's payload as the HTTP/1.x MESSAGE a
    * real crawler archives (status line + headers + body) AND undo the
    * wire codings — chunked transfer framing de-framed, gzip/deflate
    * content codings inflated
    * ([[graft.functions.BinaryCodecs.parseHttpResponse]]'s coding
    * discipline): real archives store the message as it crossed the
    * wire, and a still-chunked or still-compressed body silently
    * corrupts every downstream text op. Records whose payload is not a
    * parseable HTTP response — or whose DECLARED codings are framing-
    * corrupt — drop (quarantine); unsupported codings survive with
    * `body_decoded = false`. Map-side, shuffle-free.
    */
  def httpResponses(
      records: Dataset[WarcRecordRow]): Dataset[HttpRecordRow] = {
    import records.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    records.filter(_.warc_type == "response").flatMap { r =>
      BinaryCodecs.parseHttpResponse(r.payload).map { h =>
        HttpRecordRow(r.media_id, r.record_idx, r.target_uri,
          h.status, h.contentType, h.location, h.nHeaders, h.body,
          h.contentEncoding, h.bodyDecoded)
      }
    }
  }

  /** Redirect EDGES from the archived responses: every 3xx record with
    * a `Location` header contributes `(from_url, to_url)`, the target
    * RFC 3986-resolved against the record's own URI (Location is
    * legally relative). The crawl loop's third input besides anchors
    * and sitemaps — a frontier that drops redirects loses every moved
    * page. Map-side after the HTTP split; feed through
    * [[Urls.canonicalize]] + the politeness stage like any discovered
    * URL.
    */
  def redirectEdges(records: Dataset[WarcRecordRow]): DataFrame =
    httpResponses(records).toDF()
      .where(col("status").between(300, 399) && col("location").isNotNull)
      .select(col("target_uri").as("from_url"),
        Urls.resolve(col("target_uri"), col("location")).as("to_url"))

  /** Resolve `revisit` records against the responses they reference —
    * real crawlers archive UNCHANGED content as a body-less revisit
    * record pointing at the original via `WARC-Refers-To` (the
    * identical-payload-digest profile), so a corpus read that ignores
    * them silently loses every re-crawled-but-unchanged page. Responses
    * pass through (`was_revisit = false`); each revisit joins the
    * response whose `WARC-Record-ID` it names and inherits that PAYLOAD
    * under its own URI and position (`was_revisit = true`); a revisit
    * whose original is absent from the input drops (quarantine — there
    * is nothing sound to resolve it to).
    *
    * Scale shape: one shuffle on the record id; revisit references
    * legally cross files, so the join is the honest plan — payloads
    * move once, and only for records that are actually referenced.
    */
  def resolveRevisits(records: Dataset[WarcRecordRow]): DataFrame = {
    // stage the upstream parse ONCE ([[Staging.stage]]'s capped-stats
    // leaf): three branches hang off this frame, and without staging
    // Spark re-runs the (expensive) container parse per branch — the
    // exact multi-branch recompute class Staging exists for
    val staged = Staging.stage(records.toDF())
    val responses = staged.where(col("warc_type") === "response")
    // One payload per record id: ISO 28500 ids are globally unique, but
    // the same crawl file ingested twice (or an archive with duplicated
    // ids) would otherwise FAN OUT every revisit that names the id —
    // silently multiplying resolved rows. Keep the first occurrence in
    // (file, position) order: deterministic, and for the
    // re-ingested-file case every occurrence is byte-identical anyway.
    val originals = responses
      .where(col("record_id").isNotNull)
      .groupBy(col("record_id").as("__oid"))
      .agg(min_by(col("payload"), struct(col("media_id"), col("record_idx")))
        .as("__opayload"))
    responses
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        col("record_id"), col("payload"), lit(false).as("was_revisit"))
      .unionByName(
        staged.where(col("warc_type") === "revisit" && col("refers_to").isNotNull)
          .join(originals, col("refers_to") === col("__oid"))
          .select(col("media_id"), col("record_idx"), col("target_uri"),
            col("record_id"), col("__opayload").as("payload"),
            lit(true).as("was_revisit")))
  }

  /** Parse WAT `metadata` records back into typed columns — the READ
    * half of [[toWat]] (and of any WAT-shaped metadata sidecar): the
    * JSON envelope fields come out as columns next to the record's URI
    * and its `WARC-Refers-To` source pointer. Map-side, no shuffle;
    * unparseable envelopes yield null fields (`from_json`'s contract),
    * never dropped rows — metadata is advisory, quarantining a page
    * over a bad sidecar would be backwards.
    */
  def watEnvelopes(records: Dataset[WarcRecordRow]): DataFrame = {
    val envSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "status INT, content_type STRING, title STRING, " +
        "meta_desc STRING, base STRING, links ARRAY<STRING>")
    records.toDF()
      .where(col("warc_type") === "metadata")
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        col("refers_to"),
        from_json(col("payload").cast("string"), envSchema).as("__env"))
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        col("refers_to"), col("__env.*"))
  }

  /** Pair each archived `request` record with the `response` it
    * produced — crawlers archive both sides of the fetch, the request
    * naming its response via `WARC-Concurrent-To` — and surface the
    * request's method/target/Host/User-Agent next to the response's
    * status: the fetch provenance corpus audits need (which UA got this
    * page? was it a conditional fetch?). Requests parse via
    * [[graft.functions.BinaryCodecs.parseHttpRequest]]; unparseable
    * requests and pairs whose response is absent drop (quarantine).
    * One shuffle on the record id, the [[resolveRevisits]] shape.
    */
  def requestResponsePairs(records: Dataset[WarcRecordRow]): DataFrame = {
    import records.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    // staged for the same reason as [[resolveRevisits]]: both sides
    // read the materialized frame, so the container parse runs once
    val staged = Staging.stage(records.toDF())
      .as[WarcRecordRow]
    val requests = staged
      .filter(r => r.warc_type == "request" && r.concurrent_to != null)
      .mapPartitions(_.flatMap { r =>
        BinaryCodecs.parseHttpRequest(r.payload).map(q =>
          (r.media_id, r.record_idx, r.concurrent_to,
            q.method, q.target, q.host, q.userAgent, q.nHeaders))
      })
      .toDF("media_id", "record_idx", "__cto", "method", "target",
        "host", "user_agent", "req_headers")
    val responses = staged
      .filter(r => r.warc_type == "response" && r.record_id != null)
      .mapPartitions(_.flatMap { r =>
        BinaryCodecs.parseHttpResponse(r.payload).map(h =>
          (r.record_id, r.target_uri, h.status, h.contentType,
            r.media_id, r.record_idx))
      })
      .toDF("__rid", "target_uri", "status", "content_type", "__rmid", "__ridx")
      // one response per record id (the [[resolveRevisits]] guard): a
      // re-ingested file would otherwise multiply every pair that names
      // the duplicated id; first occurrence in (file, position) order
      .groupBy("__rid")
      .agg(
        min_by(struct(col("target_uri"), col("status"), col("content_type")),
          struct(col("__rmid"), col("__ridx"))).as("__r"))
      .select(col("__rid"), col("__r.target_uri"), col("__r.status"),
        col("__r.content_type"))
    requests.join(responses, col("__cto") === col("__rid"))
      .select(col("media_id"), col("record_idx"), col("target_uri"),
        col("method"), col("target"), col("host"), col("user_agent"),
        col("req_headers"), col("status"), col("content_type"))
  }

  /** One fully-decoded page: HTTP envelope + charset-transcoded text.
    * `body_decoded` false marks pages whose HTTP body still carries an
    * unsupported content coding (the text is the RAW bytes through the
    * sniffer — flagged, filter or route on it, never trust it as prose).
    */
  final case class DecodedPage(
      media_id: Long,
      record_idx: Long,
      target_uri: String,
      status: Int,
      encoding: String,
      bom: Boolean,
      mojibake_risk: Boolean,
      body_decoded: Boolean,
      html: String)

  /** The full container-to-text ingest: [[httpResponses]] (chunked
    * framing and gzip/deflate content codings already undone there)
    * then charset sniffing with the HTTP `Content-Type; charset=` as
    * the TRANSPORT declaration ([[graft.functions.BinaryCodecs.sniffCharset]]'s
    * WHATWG precedence: BOM → transport → meta → validation →
    * flagged fallback). What comes out is UTF-8 text ready for
    * [[Html.mainContent]] and everything downstream — the day-one path
    * from a `.warc.gz` on disk to clean corpus text. Map-side,
    * shuffle-free.
    */
  def decodePages(
      records: Dataset[WarcRecordRow]): Dataset[DecodedPage] = {
    import records.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    httpResponses(records).mapPartitions { rows =>
      rows.map { h =>
        val s = BinaryCodecs.sniffCharset(h.body,
          BinaryCodecs.contentTypeCharset(h.content_type))
        DecodedPage(h.media_id, h.record_idx, h.target_uri, h.status,
          s.encoding, s.bom, s.mojibakeRisk, h.body_decoded, s.text)
      }
    }
  }

  /** One CDX index row before key/line assembly: the record's identity,
    * its HTTP envelope when the payload parses as one (`status`/`mime`
    * null otherwise — a bare-payload record still indexes), the SHA-256
    * payload digest, and the byte span
    * ([[graft.functions.BinaryCodecs.WarcRecSpan]]'s contract) that
    * makes the row a random-access pointer into its container.
    */
  final case class CdxRecord(
      media_id: Long,
      record_idx: Long,
      url: String,
      warc_type: String,
      warc_date: String,
      status: Option[Int],
      mime: Option[String],
      digest: String,
      offset: Long,
      length: Long)

  /** CDXJ index export — the third Common Crawl sidecar (WARC bytes ✓,
    * WET text [[toWet]], WAT metadata [[toWat]], CDX here): one line per
    * indexable record (`response`/`revisit` with a Target-URI), `SURT
    * key, 14-digit timestamp, JSON block`, which is what gives an
    * archive RECORD-LEVEL RANDOM ACCESS — seek `offset`, read `length`
    * bytes, parse one record, no full-file scan. Offsets come from the
    * indexing walk ([[graft.functions.BinaryCodecs.warcRecordsWithSpans]]);
    * for the standard member-per-record `.warc.gz` layout they are the
    * record's own gzip member. The JSON block carries (in this fixed
    * order — index lines are interchange) `url`, `digest` (SHA-256 hex
    * of the decoded HTTP body, or of the raw payload for non-HTTP
    * records), `mime`, `status` (omitted when the payload is not an
    * HTTP message), `offset`, `length`, `filename`; numbers are JSON
    * strings, the CDXJ convention. Timestamp reformats the record's own
    * `WARC-Date`. Shuffle-free: the walk is per-file map-side work and
    * key/line assembly is codegen'd Column work.
    *
    * Input: the container files themselves plus a `filename` the lines
    * should point at, derived per file from `media_id` (override
    * `filenameCol` to match the real on-disk names).
    */
  def toCdxj(
      media: Dataset[MediaRow],
      filenameCol: org.apache.spark.sql.Column =
        concat(lit("crawl-"), col("media_id"), lit(".warc.gz"))): DataFrame = {
    import media.sparkSession.implicits._
    val recs = media.flatMap { m =>
      cdxWalk(m.payload).map { w =>
        CdxRecord(m.media_id, w.record_idx, w.url, w.warc_type,
          w.warc_date, w.status, w.mime, w.digest, w.offset, w.length)
      }
    }
    cdxAssemble(recs.toDF().withColumn("filename", filenameCol))
      .select(col("media_id"), col("record_idx"), col("surt_key"), col("ts"),
        col("url"), col("warc_type"), col("status"), col("mime"),
        col("digest"), col("offset"), col("length"), col("filename"),
        col("cdxj_line"))
  }

  /** [[toCdxj]] over `(filename, payload)` rows — the form that works
    * UNCHANGED on a streaming DataFrame (no MediaRow id synthesis), so
    * the live sidecar ([[graft.streaming.StreamingOps.cdxjStream]]) and
    * the batch export are literally one code path and cannot diverge.
    */
  def toCdxjFiles(files: DataFrame): DataFrame = {
    import files.sparkSession.implicits._
    val recs = files.select(col("filename"), col("payload"))
      .as[(String, Array[Byte])]
      .flatMap { case (fname, payload) =>
        cdxWalk(payload).map(w => CdxFileRecord(fname, w.record_idx,
          w.url, w.warc_type, w.warc_date, w.status, w.mime, w.digest,
          w.offset, w.length))
      }
    cdxAssemble(recs.toDF())
      .select(col("filename"), col("record_idx"), col("surt_key"), col("ts"),
        col("url"), col("warc_type"), col("status"), col("mime"),
        col("digest"), col("offset"), col("length"), col("cdxj_line"))
  }

  /** The Common-Crawl-style SECONDARY index over a sorted CDXJ line set
    * (the "cluster index"): lines totally ordered by SURT key, grouped
    * into shards of `linesPerShard`, one row per shard — `(shard_id,
    * first_key, last_key, n_lines, shard_bytes, byte_offset)`, with
    * `byte_offset` the shard's position in the concatenated sorted
    * index file (every line newline-terminated, byte-counted). This is
    * what makes a 100 TB archive's index ITSELF range-scannable: a
    * reader binary-searches the tiny cluster index by key, then reads
    * one shard — two seeks from URL to archived record, no index scan.
    *
    * Scale shape: the global sort is
    * [[Normalize.rankedPrefixSum]]'s range-partitioned two-phase scan
    * (offset table broadcast back — no single-partition global window
    * anywhere), and the shard fold is a shard-keyed aggregation over
    * rank arithmetic. Input: [[toCdxj]]/[[toCdxjFiles]] output (needs
    * `surt_key`, `cdxj_line`); keys must be unique — extend the sort
    * key upstream when a corpus archives one URL many times.
    */
  def cdxClusterIndex(lines: DataFrame, linesPerShard: Int = 3000): DataFrame =
    shardRanked(lines, linesPerShard)
      .groupBy("shard_id")
      .agg(min(col("surt_key")).as("first_key"),
        max(col("surt_key")).as("last_key"),
        count(lit(1)).as("n_lines"),
        sum(col("__len")).as("shard_bytes"),
        min(col("__cum") - col("__len")).as("byte_offset"))

  /** The shared rank/shard arithmetic behind [[cdxClusterIndex]] and
    * [[cdxShardFiles]] — ONE implementation so the index's byte offsets
    * and the physical shard blobs cannot drift: lines totally ordered
    * by SURT key via [[Normalize.rankedPrefixSum]]'s range-partitioned
    * two-phase scan, each line's byte length (newline included) as the
    * prefix-summed value, `shard_id = (rank − 1) div linesPerShard`.
    */
  private def shardRanked(lines: DataFrame, linesPerShard: Int): DataFrame = {
    require(linesPerShard >= 1, s"linesPerShard must be >= 1: $linesPerShard")
    val sized = lines.select(col("surt_key"), col("cdxj_line"))
      .withColumn("__len", octet_length(col("cdxj_line")).cast("long") + 1L)
    Normalize.rankedPrefixSum(sized, Seq(col("surt_key")),
      "__len", "__rank", "__cum")
      .withColumn("shard_id", expr(s"(__rank - 1) div $linesPerShard"))
  }

  /** The PHYSICAL shards the cluster index points into: the sorted CDXJ
    * line set cut into `linesPerShard`-line blobs (every line
    * newline-terminated, key order preserved inside each blob), one row
    * per shard — `(shard_id, n_lines, payload)`. Concatenated in
    * shard-id order these ARE the sorted index file whose byte offsets
    * [[cdxClusterIndex]] records (same rank arithmetic, one shared
    * implementation); written as separate objects they are the
    * shard-per-file layout a reader range-GETs. Shard payloads are
    * `linesPerShard`-bounded by construction — the one per-shard
    * `collect_list` materializes an index blob, never data.
    */
  def cdxShardFiles(lines: DataFrame, linesPerShard: Int = 3000): DataFrame = {
    import lines.sparkSession.implicits._
    shardRanked(lines, linesPerShard)
      .groupBy("shard_id")
      .agg(sort_array(collect_list(struct(col("__rank"), col("cdxj_line"))))
        .as("__ls"))
      .as[(Long, Seq[(Long, String)])]
      .map { case (sid, ls) =>
        val sb = new StringBuilder
        ls.foreach { case (_, l) => sb.append(l).append('\n') }
        (sid, ls.size.toLong, sb.toString.getBytes("UTF-8"))
      }
      .toDF("shard_id", "n_lines", "payload")
  }

  /** [[cdxjEntries]] preserving the input's OTHER columns next to the
    * parsed fields — what a shard-scoped parse needs (the shard id must
    * ride along); [[cdxjEntries]] keeps its original
    * parsed-columns-only shape for index-wide consumers.
    */
  private def cdxjEntriesWith(lines: DataFrame, lineCol: String): DataFrame = {
    val blockSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "url STRING, digest STRING, mime STRING, status STRING, " +
        "offset STRING, length STRING, filename STRING")
    val l = col(lineCol)
    val keep = lines.columns.filterNot(_ == lineCol).map(col).toSeq
    lines
      .withColumn("__block",
        from_json(regexp_extract(l, "^\\S+ \\S+ (.*)$", 1), blockSchema))
      .select(keep ++ Seq(
        regexp_extract(l, "^(\\S+) ", 1).as("surt_key"),
        regexp_extract(l, "^\\S+ (\\S+) ", 1).as("ts"),
        col("__block.url").as("url"),
        col("__block.digest").as("digest"),
        col("__block.mime").as("mime"),
        col("__block.status").cast("int").as("status"),
        col("__block.offset").cast("long").as("offset"),
        col("__block.length").cast("long").as("length"),
        col("__block.filename").as("filename")): _*)
  }

  /** One record fetched by the two-seek random-access path —
    * [[randomAccessFetch]]'s row shape. `digest_ok` is the reader's
    * integrity check: the SHA-256 of the body it actually decoded from
    * the byte span, compared against the digest the index promised.
    */
  final case class FetchedRecord(
      url: String, surt_key: String, shard_id: Long, shard_n_lines: Long,
      filename: String, offset: Long, length: Long, status: Option[Int],
      digest_ok: Boolean, n_body_bytes: Long, body: String)

  /** One requested span inside its container file — the grouped fetch
    * list [[randomAccessFetch]] carries to each container row. Public
    * only because encoder codegen must reach it; not API.
    */
  final case class FetchReq(
      url: String, surt_key: String, shard_id: Long, shard_n_lines: Long,
      status: Option[Int], digest: String, offset: Long, length: Long)

  /** The CONSUMER path the whole CDX index stack exists for, end to
    * end: URL → SURT key → cluster-index range lookup (the binary
    * search, as a broadcast range join — the index is
    * shard-count-sized) → parse ONLY the matching CDXJ shards → seek
    * `(filename, offset, length)` → decode exactly those records. Two
    * seeks per URL at any archive size, no index scan, no container
    * scan — and the structure GUARANTEES the only-what-matches claim:
    * shard payloads parse strictly after the inner join with the
    * looked-up shard ids, container payloads decode strictly after the
    * inner join with the matched filenames, so an untouched shard or
    * container never reaches a parser (the WarcSpec equivalence check
    * pins this: deleting every unselected shard/container leaves the
    * result identical).
    *
    * Misses quarantine (drop) at the stage that discovers them: a key
    * outside every shard's `[first_key, last_key]` range falls out of
    * the index join (definitively absent — shard ranges tile the key
    * space); a key inside a range but absent from the shard falls out
    * of the line join; a span that fails bounds/framing/decode drops at
    * the record parse. Corrupt-span variants never emit a row with
    * wrong bytes — `digest_ok` reports a body that decodes but does not
    * match the index's digest.
    *
    * Scale shape: one broadcast nested-loop join against the tiny
    * cluster index, one shuffle keying queries+lines on `(shard_id,
    * surt_key)`, one shuffle keying spans on `filename` with requests
    * GROUPED per file first — each container payload moves ONCE however
    * many records it serves (on a real object store this join is
    * replaced by ranged GETs; here the container column plays the
    * store). Per-task memory is bounded by one container plus its
    * request list, the [[parseWarc]] discipline.
    *
    * Inputs: `urls` (the query set, `urlCol`), [[cdxClusterIndex]]
    * output, [[cdxShardFiles]] output, and containers as
    * `(filename, payload)` rows.
    */
  def randomAccessFetch(
      urls: DataFrame,
      clusterIndex: DataFrame,
      shards: DataFrame,
      containers: DataFrame,
      urlCol: String = "url"): Dataset[FetchedRecord] = {
    import urls.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    val keys = urls.select(col(urlCol).as("__q_url"))
      .withColumn("surt_key", Urls.surtKey(col("__q_url")))
    // staged ([[Staging.stage]]): TWO branches consume the lookup —
    // the shard-id pruning set and the line match — and without
    // staging Spark plans (and runs) the broadcast range probe once
    // per branch, the multi-branch recompute class (the PlanShapeSpec
    // leg pins exactly ONE nested-loop probe in the plan)
    val hits = Staging.stage(keys.join(
      broadcast(clusterIndex.select(col("shard_id"), col("first_key"),
        col("last_key"), col("n_lines").as("shard_n_lines"))),
      col("surt_key") >= col("first_key") && col("surt_key") <= col("last_key"))
      .select(col("__q_url"), col("surt_key"), col("shard_id"),
        col("shard_n_lines")))
    // shard ids in play — bounded by min(#queries, #shards), broadcast
    val selIds = hits.select("shard_id").distinct()
    val lines = shards.join(broadcast(selIds), Seq("shard_id"))
      .select(col("shard_id"),
        explode(split(col("payload").cast("string"), "\n")).as("cdxj_line"))
      .where(col("cdxj_line") =!= "")
    val matched = cdxjEntriesWith(lines, "cdxj_line")
      .join(hits, Seq("shard_id", "surt_key"))
    val byFile = matched.groupBy(col("filename"))
      .agg(collect_list(struct(
        col("__q_url").as("url"), col("surt_key"), col("shard_id"),
        col("shard_n_lines"), col("status"), col("digest"),
        col("offset"), col("length"))).as("__reqs"))
    byFile.join(containers.select(col("filename"), col("payload")), Seq("filename"))
      .select(col("filename"), col("__reqs"), col("payload"))
      .as[(String, Seq[FetchReq], Array[Byte])]
      .flatMap { case (fname, reqs, bytes) =>
        reqs.flatMap { q =>
          if (q.offset < 0 || q.length <= 0 ||
            q.offset + q.length > bytes.length) Nil
          else {
            val slice = java.util.Arrays.copyOfRange(
              bytes, q.offset.toInt, (q.offset + q.length).toInt)
            BinaryCodecs.warcRecords(slice).toSeq.collect {
              case Vector(rec) =>
                // the index's digest rule, re-applied verbatim
                val body = digestBody(rec.payload)
                FetchedRecord(q.url, q.surt_key, q.shard_id,
                  q.shard_n_lines, fname, q.offset, q.length, q.status,
                  sha256Hex(body) == q.digest, body.length.toLong,
                  new String(body, "UTF-8"))
            }
          }
        }
      }
  }

  /** One indexable record from the per-file walk — the shared core of
    * both [[toCdxj]] forms.
    */
  private final case class CdxWalkRec(
      record_idx: Long, url: String, warc_type: String, warc_date: String,
      status: Option[Int], mime: Option[String], digest: String,
      offset: Long, length: Long)

  /** [[CdxRecord]] keyed by the landed file's NAME instead of a media
    * id — [[toCdxjFiles]]' row shape.
    */
  final case class CdxFileRecord(
      filename: String, record_idx: Long, url: String, warc_type: String,
      warc_date: String, status: Option[Int], mime: Option[String],
      digest: String, offset: Long, length: Long)

  /** The ONE payload-digest rule every CDX surface shares (index lines,
    * the digest index, the random-access re-verification): SHA-256 hex
    * of the DECODED HTTP body when the payload parses as an HTTP
    * response, of the raw payload otherwise — [[digestBody]] picks the
    * bytes, [[sha256Hex]] digests them, and every consumer composes
    * those two so the rule cannot fork.
    */
  private[graft] def payloadDigest(payload: Array[Byte]): String =
    sha256Hex(digestBody(payload))

  /** The bytes the CDX digest covers ([[payloadDigest]]'s body rule). */
  private def digestBody(payload: Array[Byte]): Array[Byte] =
    graft.functions.BinaryCodecs.parseHttpResponse(payload)
      .map(_.body).getOrElse(payload)

  private def sha256Hex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(bytes).map(b => f"$b%02x").mkString
  }

  private def cdxWalk(payload: Array[Byte]): Seq[CdxWalkRec] = {
    import graft.functions.BinaryCodecs
    BinaryCodecs.warcRecordsWithSpans(payload).toSeq.flatMap { spans =>
      spans.zipWithIndex.collect {
        case (BinaryCodecs.WarcRecSpan(r, off, len), i)
            if (r.warcType == "response" || r.warcType == "revisit") &&
              r.targetUri != null =>
          val http = BinaryCodecs.parseHttpResponse(r.payload)
          CdxWalkRec(i.toLong, r.targetUri, r.warcType, r.warcDate,
            http.map(_.status),
            http.flatMap(h => Option(h.contentType).map(ct =>
              ct.split(";")(0).trim.toLowerCase(java.util.Locale.ROOT))),
            payloadDigest(r.payload), off, len)
      }
    }
  }

  /** The digest index a DEDUPLICATING recrawl carries forward from a
    * prior crawl: one row per archived URL — `(surt_key, url, digest,
    * record_id)` — built from the prior crawl's response records with
    * the SAME digest rule as the CDXJ lines ([[payloadDigest]]).
    * Metadata-sized (no payloads survive the projection), which is the
    * whole point: at 100 TB the index rides a shuffle while the
    * archives stay on disk. The standard CDXJ block omits the record
    * id, but `WARC-Refers-To` (what [[resolveRevisits]] resolves by)
    * NAMES one — so the dedup pipeline keeps this id-bearing variant;
    * per-URL collisions keep the first capture in `(file, position)`
    * order, the [[resolveRevisits]] determinism rule.
    */
  def cdxDigestIndex(records: Dataset[WarcRecordRow]): DataFrame = {
    import records.sparkSession.implicits._
    records
      .filter(r => r.warc_type == "response" && r.target_uri != null &&
        r.record_id != null)
      .mapPartitions(_.map(r => (r.target_uri, payloadDigest(r.payload),
        r.record_id, r.media_id, r.record_idx)))
      .toDF("url", "digest", "record_id", "__mid", "__idx")
      .withColumn("surt_key", Urls.surtKey(col("url")))
      .groupBy("surt_key")
      .agg(min_by(struct(col("url"), col("digest"), col("record_id")),
        struct(col("__mid"), col("__idx"))).as("__r"))
      .select(col("surt_key"), col("__r.url").as("url"),
        col("__r.digest").as("digest"), col("__r.record_id").as("record_id"))
  }

  /** Cross-crawl deduplication on the WRITE side — the inverse of
    * [[resolveRevisits]]: each new capture whose body digest matches
    * the prior crawl's [[cdxDigestIndex]] entry for the same URL
    * becomes a BODY-LESS revisit (`warc_type = "revisit"`, `refers_to`
    * naming the prior record, payload emptied — the
    * identical-payload-digest profile); changed and never-seen URLs
    * pass through as full responses. Without this op a recrawl
    * pipeline doubles its archive every crawl; with it the unchanged
    * tail costs headers only. Input: capture rows with `urlCol` and a
    * BINARY `payloadCol` holding the capture's (decoded) body; all
    * other columns pass through. Appends `digest`, `is_revisit`,
    * `refers_to`; empties `payloadCol` on revisit rows.
    *
    * Scale shape: digesting is map-side codegen'd `sha2`; the one
    * shuffle keys captures and the metadata-sized index on `surt_key`
    * (a left join — new URLs must survive). Feed the output to
    * [[toWarcRecords]] to serialize, and the
    * [[resolveRevisits]] roundtrip reconstructs every revisit body
    * from the prior archive (the q426 identity).
    */
  def emitRevisits(
      captures: DataFrame,
      priorIndex: DataFrame,
      urlCol: String = "url",
      payloadCol: String = "payload"): DataFrame = {
    val idx = priorIndex.select(col("surt_key").as("__p_key"),
      col("digest").as("__p_digest"), col("record_id").as("__p_rid"))
    captures
      .withColumn("__key", Urls.surtKey(col(urlCol)))
      .withColumn("digest", lower(sha2(col(payloadCol), 256)))
      .join(idx, col("__key") === col("__p_key"), "left")
      .withColumn("is_revisit",
        col("__p_digest").isNotNull && col("__p_digest") === col("digest"))
      .withColumn("refers_to", when(col("is_revisit"), col("__p_rid")))
      .withColumn(payloadCol,
        when(col("is_revisit"), lit(Array.emptyByteArray)).otherwise(col(payloadCol)))
      .drop("__key", "__p_key", "__p_digest", "__p_rid")
  }

  /** Serialize MIXED-type records to WARC files — the generic writer
    * behind the revisit-producing recrawl (and any archive whose rows
    * are not all one type): input columns `(doc_id, payload, uri,
    * warc_type, refers_to)` (refers_to nullable; revisit rows gain the
    * identical-payload-digest profile header next to `WARC-Refers-To`).
    * Same grouping, ordering, warcinfo lead member and
    * member-per-record gzip layout as the single-type builders.
    */
  def toWarcRecords(
      rows: DataFrame,
      docsPerFile: Int = 8,
      recordIdPrefix: String = "rec",
      gzipPerRecord: Boolean = true,
      zstPerRecord: Boolean = false): Dataset[MediaRow] =
    buildWarcFilesRows(
      rows.select(col("doc_id"), col("payload"), col("uri"),
        col("warc_type"), col("refers_to")),
      docsPerFile, recordIdPrefix,
      fid => s"<urn:graft:file:$recordIdPrefix:$fid>",
      tp => if (tp == "revisit")
        Seq("WARC-Profile" ->
          "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest")
      else Nil,
      gzipPerRecord, zstPerRecord)

  /** The ONE file assembler behind every WARC writer here
    * ([[buildWarcFiles]]'s single-type wrappers and
    * [[toWarcRecords]]'s mixed-type rows): group `docsPerFile` rows to
    * a file in doc-id order, lead with the warcinfo member, write one
    * (gzip member | zstd frame | plain) record per row. `warcinfoId`
    * and `extraHeadersFor` carry the two callers' only differences —
    * byte layouts are interchange surface, so the assembler itself
    * cannot fork.
    */
  private def buildWarcFilesRows(
      rows: DataFrame,
      docsPerFile: Int,
      recordIdPrefix: String,
      warcinfoId: Long => String,
      extraHeadersFor: String => Seq[(String, String)],
      gzipPerRecord: Boolean,
      zstPerRecord: Boolean): Dataset[MediaRow] = {
    import rows.sparkSession.implicits._
    import graft.functions.BinaryCodecs
    require(docsPerFile >= 1, s"docsPerFile must be >= 1: $docsPerFile")
    // One explicit hash exchange on the file key, sized to the core count
    // (r17 optimization). The previous round-robin Spread + groupBy paid
    // TWO exchanges, and AQE then coalesced the agg's output to 1-2
    // partitions by BYTE size — leaving the expensive downstream (file
    // assembly, gzip, and every consumer's parse/HTTP/charset/decode
    // chain, all map-side in the same stage) nearly single-threaded
    // (profiled: 2-task 1.5-2.5 s stages at sf0.1/local[32]). An explicit
    // repartition count is exempt from AQE coalescing, and the groupBy
    // reuses the partitioning (same key), so this is also one exchange
    // fewer. defaultParallelism keeps it scale-adaptive; rows are keyed by
    // dense doc ids, so the hash spread is even.
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
        expr(s"doc_id div $docsPerFile"))
      .groupBy(expr(s"doc_id div $docsPerFile").as("file_id"))
      .agg(sort_array(collect_list(struct(
        col("doc_id").as("_1"), col("payload").as("_2"), col("uri").as("_3"),
        col("warc_type").as("_4"), col("refers_to").as("_5")))).as("recs"))
      .as[(Long, Seq[(Long, Array[Byte], String, String, String)])]
      .map { case (fid, recs) =>
        val info = (Seq(
          "WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> warcinfoId(fid),
          "WARC-Date" -> "2024-01-01T00:00:00Z"),
          WarcInfoPayload.getBytes("UTF-8"))
        val records = recs.map { case (id, payload, uri, tp, refersTo) =>
          (Seq(
            "WARC-Type" -> tp,
            "WARC-Record-ID" -> s"<urn:graft:$recordIdPrefix:$id>",
            "WARC-Date" -> "2024-01-01T00:00:00Z") ++
            Option(uri).map("WARC-Target-URI" -> _) ++
            Option(refersTo).map("WARC-Refers-To" -> _) ++
            extraHeadersFor(tp),
            Option(payload).getOrElse(Array.emptyByteArray))
        }
        val bytes =
          if (zstPerRecord) BinaryCodecs.warcFileZst(info +: records)
          else BinaryCodecs.warcFile(info +: records, gzipPerRecord)
        MediaRow(fid, "warc", bytes, "application/warc", bytes.length.toLong)
      }
  }

  /** Key/timestamp/line assembly shared by both [[toCdxj]] forms —
    * codegen'd Column work over the walked rows.
    */
  private def cdxAssemble(recs: DataFrame): DataFrame =
    recs
      .withColumn("surt_key", Urls.surtKey(col("url")))
      // ISO 28500 makes WARC-Date mandatory, but the parse walk does not
      // enforce it — a record without one indexes with the zero-epoch
      // sentinel rather than letting a null collapse the line to two
      // fields (concat_ws drops nulls; a 2-field line misparses in every
      // CDXJ reader including our own cdxjEntries)
      .withColumn("ts", coalesce(
        nullif(regexp_replace(col("warc_date"), "[^0-9]", "").substr(1, 14),
          lit("")),
        lit("00000000000000")))
      .withColumn("cdxj_line", concat_ws(" ", col("surt_key"), col("ts"),
        to_json(struct(
          col("url").as("url"),
          col("digest").as("digest"),
          col("mime").as("mime"),
          col("status").cast("string").as("status"),
          col("offset").cast("string").as("offset"),
          col("length").cast("string").as("length"),
          col("filename").as("filename")))))

  /** Parse CDXJ lines back into typed columns — the READ half of
    * [[toCdxj]] (and of any externally-produced CDXJ sidecar): key and
    * timestamp split off, the JSON block's fields out as columns with
    * the numeric ones typed. Map-side, no shuffle; an unparseable JSON
    * block yields null fields (`from_json`'s contract), never dropped
    * rows — an index row with a bad block is still a row the auditor
    * must see.
    */
  def cdxjEntries(lines: DataFrame, lineCol: String = "cdxj_line"): DataFrame = {
    val blockSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "url STRING, digest STRING, mime STRING, status STRING, " +
        "offset STRING, length STRING, filename STRING")
    val l = col(lineCol)
    lines
      .withColumn("surt_key", regexp_extract(l, "^(\\S+) ", 1))
      .withColumn("ts", regexp_extract(l, "^\\S+ (\\S+) ", 1))
      .withColumn("__block",
        from_json(regexp_extract(l, "^\\S+ \\S+ (.*)$", 1), blockSchema))
      .select(col("surt_key"), col("ts"),
        col("__block.url").as("url"),
        col("__block.digest").as("digest"),
        col("__block.mime").as("mime"),
        col("__block.status").cast("int").as("status"),
        col("__block.offset").cast("long").as("offset"),
        col("__block.length").cast("long").as("length"),
        col("__block.filename").as("filename"))
  }

  /** WET export — Common Crawl's extracted-text sibling of WARC, the
    * format processed corpus TEXT ships in: each page becomes a
    * `conversion` record (`Content-Type: text/plain`,
    * `WARC-Refers-To` the source response record) and pages group
    * `docsPerFile` to a file in the standard member-per-record gzip
    * layout. The WRITE half of the interchange story (read `.warc.gz`
    * with [[parseWarc]]/[[decodePages]], emit `.wet.gz` here) — and one
    * [[parseWarc]] away from its own roundtrip oracle. Input columns:
    * `(doc_id, text, uri)`.
    */
  def toWet(pages: DataFrame, docsPerFile: Int = 8): Dataset[MediaRow] =
    buildWarcFiles(
      pages.select(col("doc_id"),
        coalesce(col("text"), lit("")).cast("binary").as("payload"), col("uri")),
      docsPerFile, "conversion",
      Seq("Content-Type" -> "text/plain"), refersTo = true,
      // conversion records get their OWN id namespace: ISO 28500 record
      // ids are globally unique, and Refers-To must point at the SOURCE
      // response record (urn:graft:rec:*), not at itself
      recordIdPrefix = "conv")

  /** WAT export — Common Crawl's METADATA sibling of WET: each page
    * becomes a `metadata` record whose payload is a deterministic JSON
    * envelope of the curation fields (HTTP status + content type, page
    * title, meta description, `<base href>`, outlinks — the things a
    * corpus pipeline filters and joins on without re-parsing HTML), with
    * `WARC-Refers-To` naming the source response record and
    * `Content-Type: application/json`. Pages group `docsPerFile` to a
    * file in the standard member-per-record gzip layout, one
    * [[parseWarc]] away from its own roundtrip oracle (the [[toWet]]
    * idiom). Input columns: `(doc_id, uri, status, content_type, title,
    * meta_desc, base, links: array<string>)` — feed them from
    * [[httpResponses]] + [[Html.title]]/[[Html.metaContent]]/
    * [[Html.baseHref]]/[[Html.extractLinks]]. Field order in the
    * envelope is the struct order here (fixed — envelope bytes are
    * interchange, they must not depend on column arrival order);
    * `to_json` omits null fields, the JSON convention for absent
    * metadata.
    */
  def toWat(pages: DataFrame, docsPerFile: Int = 8): Dataset[MediaRow] =
    buildWarcFiles(
      pages.select(col("doc_id"), watEnvelope.cast("binary").as("payload"),
        col("uri")),
      docsPerFile, "metadata",
      Seq("Content-Type" -> "application/json"), refersTo = true,
      recordIdPrefix = "meta")

  /** The deterministic WAT envelope JSON over `(status, content_type,
    * title, meta_desc, base, links)` columns — [[toWat]]'s payload
    * factored out so the LIVE sidecar leg (emit envelope rows as pages
    * arrive) and the container writer share one byte-for-byte
    * definition and cannot drift.
    */
  def watEnvelope: org.apache.spark.sql.Column =
    to_json(struct(
      col("status").cast("int").as("status"),
      col("content_type").as("content_type"),
      col("title").as("title"),
      col("meta_desc").as("meta_desc"),
      col("base").as("base"),
      col("links").as("links")))

  /** The shared file builder behind [[toWet]], [[toWat]] and the
    * [[graft.fixtures.CrawlFixtures]] corpora: group, order, warcinfo
    * lead member, one gzip member per record.
    */
  private[graft] def buildWarcFiles(
      docs: DataFrame,
      docsPerFile: Int,
      warcType: String,
      extraHeaders: Seq[(String, String)],
      refersTo: Boolean = false,
      recordIdPrefix: String = "rec",
      gzipPerRecord: Boolean = true,
      zstPerRecord: Boolean = false): Dataset[MediaRow] =
    buildWarcFilesRows(
      docs.select(col("doc_id"), col("payload"), col("uri"),
        lit(warcType).as("warc_type"),
        (if (refersTo)
          concat(lit("<urn:graft:rec:"), col("doc_id").cast("string"), lit(">"))
        else lit(null).cast("string")).as("refers_to")),
      docsPerFile, recordIdPrefix,
      fid => s"<urn:graft:file:$fid>",
      _ => extraHeaders,
      gzipPerRecord, zstPerRecord)

  /** The fixed warcinfo body every WARC file here leads with (21 bytes). */
  val WarcInfoPayload: String = "software: graft/0.1\r\n"
}
