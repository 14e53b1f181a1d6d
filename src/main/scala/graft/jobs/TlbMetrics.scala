package graft.jobs

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.io.Io
import graft.ops.{Correlate, Sessionize}

/** Flagship query: the reference's batch TLB metrics job
  * (`src/batch_tlb.py:20-85`), re-expressed Spark-first (SURVEY §3 EP3).
  *
  * Logical shape — one pass keyed by client:
  * {{{
  * perTrace = traceSpans ⋈ RETRY/TIMEOUT/ERROR logs → counts per traceId       (J2–J4+A3)
  * events   → one clientId exchange of (clientId, traceId, ts, eventId,
  *            start flag, end flag) → start/end pairing window                 (A2)
  *          ⟕ broadcast(perTrace) on traceId
  *          → one aggregation per client: universe, page_view_time, counts    (A1+A4+A5)
  * }}}
  * The per-trace counts group on the traceId partitioning the trace dedup
  * already made; both broadcast sides (the flagged logs and `perTrace`)
  * are bounded by the hour's RETRY/TIMEOUT/ERROR log count, not by its
  * traffic. The aggregation runs on the window's clientId partitioning,
  * so the events cross the network once.
  *
  * Equal, row for row, to the earlier composition `Correlate` →
  * `Metrics.conditionalCounts`, `Sessionize.pageViewTime`, `Metrics.zeroFill`
  * (pinned by `TlbMetricsSpec`), including its edges: a null clientId is
  * in the universe with every metric 0 (its equi-joins never match), and
  * events with a null or empty traceId count nothing.
  *
  * Expected on the reference fixtures: client1 {120.0,0,0,0},
  * client2 {0,0,1,1}, client3 {125.0,1,0,0}
  * (`output/tlb_metrics/2024111612.json`).
  */
object TlbMetrics {

  /** Compute per-client metrics from already-loaded DataFrames. */
  def compute(events: DataFrame, traces: DataFrame, logs: DataFrame): DataFrame = {
    val kind = col("eventType")
    val flagged = logs.where(kind.isin("RETRY", "TIMEOUT", "ERROR")).select(col("spanId"), kind)
    val perTrace = Correlate.traceSpans(traces)
      .where(col("traceId") =!= "")
      .join(broadcast(flagged), "spanId")
      .groupBy(col("traceId"))
      .agg(
        count_if(kind === "RETRY").as("__retry"),
        count_if(kind === "TIMEOUT").as("__timeout"),
        count_if(kind === "ERROR").as("__error"))
    val narrow = events.select(
      col("clientId"), col("traceId"), to_timestamp(col("timestamp")).as("__ts"), col("eventId"),
      (kind === "page_view_start").as("__start"), (kind === "page_view_end").as("__end"))
    val paired = Sessionize.pairEnds(
      narrow, "clientId", col("__ts").cast("double"), Seq(col("__ts"), col("eventId")),
      col("__start"), col("__end"))
    // A null clientId stays in the universe but, like the reference's
    // dict lookups, collects no metric.
    def perClient(c: Column, zero: Column): Column =
      when(col("clientId").isNotNull, coalesce(sum(c), zero)).otherwise(zero)
    paired
      .join(broadcast(perTrace), Seq("traceId"), "left")
      .groupBy(col("clientId"))
      .agg(
        perClient(col("duration"), lit(0.0)).as("page_view_time"),
        perClient(col("__retry"), lit(0L)).as("retry_count"),
        perClient(col("__timeout"), lit(0L)).as("timeout_count"),
        perClient(col("__error"), lit(0L)).as("error_count"))
  }

  /** Render the metrics as the reference's K3 byte shape: ONE pretty-printed
    * JSON object keyed by clientId (`output/tlb_metrics/2024111612.json`),
    * following Python `json.dump(.., indent=2)` conventions — 2-space
    * indent, no trailing newline, and int `0` where the reference
    * zero-fills `page_view_time` (computed session sums serialize as
    * floats, `120.0`). The per-client rows are collected and rendered in
    * the calling JVM: the per-hour result is bounded by the client universe,
    * and the reference emits exactly one small object file per hour.
    * Client ids are escaped per RFC 8259 (`"`, `\` and control
    * characters; other characters are written as UTF-8); a null id renders
    * as the key `"null"`.
    *
    * Key-order caveat: we emit clients in SORTED order — by UTF-8 bytes,
    * Spark's string order, a null id first — the canonical,
    * partitioning-independent choice for a distributed aggregate. The
    * reference's Python dict preserves first-appearance file order, which
    * no shuffle-parallel engine can reproduce in general; the two orders
    * coincide on the committed 2024111612 fixture, so the golden
    * byte-equality test holds there. Likewise Java's double formatting
    * matches Python's repr only for simple values (both print `120.0`;
    * scientific-notation thresholds differ further out). Byte parity is
    * therefore guaranteed for lexicographically-arriving client ids and
    * plainly-representable sums — semantic equality always holds.
    */
  def toGoldenObjectJson(metrics: DataFrame): String = {
    val byUtf8: Ordering[Array[Byte]] = java.util.Arrays.compareUnsigned(_, _)
    val rows = metrics
      .select(col("clientId"), col("page_view_time"), col("retry_count"), col("timeout_count"), col("error_count"))
      .collect()
      .sortBy(r => Option(r.getString(0)).map(_.getBytes(UTF_8)))(Ordering.Option(byUtf8))
    rows.map { r =>
      val id = if (r.isNullAt(0)) "null" else jsonEscape(r.getString(0))
      val pvt = r.getDouble(1)
      s"""  "$id": {\n    "page_view_time": ${if (pvt == 0.0) "0" else pvt.toString},\n""" +
        s"""    "retry_count": ${r.getLong(2)},\n    "timeout_count": ${r.getLong(3)},\n""" +
        s"""    "error_count": ${r.getLong(4)}\n  }"""
    }.mkString("{\n", ",\n", "\n}")
  }

  /** The body of a JSON string literal for `s` (RFC 8259 §7): quote,
    * backslash and U+0000–U+001F escaped, the short forms where JSON has
    * them, like Python's `json.dumps`.
    */
  private[jobs] def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\b' => b ++= "\\b"
      case '\f' => b ++= "\\f"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.result()
  }

  /** Write [[toGoldenObjectJson]] through the Hadoop filesystem of `path`
    * (local, HDFS, or s3a — same writer everywhere).
    */
  def writeGoldenJson(metrics: DataFrame, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(metrics.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(toGoldenObjectJson(metrics).getBytes(UTF_8))
    finally out.close()
  }

  /** Run against the reference's JSON fixtures for one `{hour}`. */
  def fromJson(spark: SparkSession, dataDir: String, hour: String): DataFrame = {
    val events = Io.readJsonArray(spark, s"$dataDir/user_exp_$hour.json", Schemas.userExp)
    val traces = Io.readJsonArray(spark, s"$dataDir/trace_$hour.json", Schemas.trace)
    val logs = Io.readJsonArray(spark, s"$dataDir/log_$hour.json", Schemas.log)
    compute(events, traces, logs)
  }
}
