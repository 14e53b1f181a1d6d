package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.jobs.TlbMetrics
import graft.model.Schemas
import graft.ops.{Correlate, Metrics, Sessionize}

/** Golden E2E: reproduce the reference's only committed expected result,
  * `output/tlb_metrics/2024111612.json` (SURVEY §5.2-1). Pins sessionization
  * reset semantics, 3-way correlation, conditional counts, and zero-fill.
  */
class TlbMetricsSpec extends SparkSpec {

  test("TLB metrics match the reference golden output for hour 2024111612") {
    val dir = new java.io.File(TestSpark.resource("user_exp_2024111612.json")).getParent
    val got = TlbMetrics.fromJson(spark, dir, "2024111612")
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val expected = Map(
      "client1" -> ((120.0, 0L, 0L, 0L)),
      "client2" -> ((0.0, 0L, 1L, 1L)),
      "client3" -> ((125.0, 1L, 0L, 0L)))
    assert(got == expected)
  }

  test("K3 writer reproduces the reference output file byte-for-byte") {
    val goldenPath = TestSpark.resource("tlb_metrics_2024111612.json")
    val dir = new java.io.File(TestSpark.resource("user_exp_2024111612.json")).getParent
    val metrics = TlbMetrics.fromJson(spark, dir, "2024111612")
    val rendered = TlbMetrics.toGoldenObjectJson(metrics)
    val golden = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(goldenPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(rendered == golden)
    // and the filesystem writer round-trips the same bytes
    val out = java.nio.file.Files.createTempDirectory("tlb").resolve("m.json")
    TlbMetrics.writeGoldenJson(metrics, out.toString)
    assert(new String(java.nio.file.Files.readAllBytes(out),
      java.nio.charset.StandardCharsets.UTF_8) == golden)
  }

  private lazy val fixtures = new java.io.File(TestSpark.resource("user_exp_2024111612.json")).getParent

  private def frame(schema: org.apache.spark.sql.types.StructType, lines: String*): DataFrame =
    spark.read.schema(schema).json(spark.createDataset(lines)(Encoders.STRING))

  /** The composition `TlbMetrics.compute` replaced, kept as its reference:
    * correlate → conditional counts, window sessionization, zero-fill.
    */
  private def referenceMetrics(events: DataFrame, traces: DataFrame, logs: DataFrame): DataFrame = {
    val parsed = events.withColumn("__ts", to_timestamp(col("timestamp")))
    val sessions = Sessionize.pageViewTime(
      parsed.select(col("clientId"), col("__ts").as("timestamp"), col("eventType"), col("eventId")))
    val counts = Metrics.conditionalCounts(Correlate(events, traces, logs))
    Metrics.zeroFill(events, sessions, counts)
      .select(col("clientId"), col("page_view_time"), col("retry_count"), col("timeout_count"), col("error_count"))
  }

  /** The renderer `toGoldenObjectJson` replaced: one Spark aggregate over
    * a single partition, ids unescaped.
    */
  private def referenceJson(metrics: DataFrame): String = {
    val entry = format_string(
      "  \"%s\": {\n    \"page_view_time\": %s,\n    \"retry_count\": %s,\n    \"timeout_count\": %s,\n    \"error_count\": %s\n  }",
      col("clientId"),
      when(col("page_view_time") === 0.0, lit("0")).otherwise(col("page_view_time").cast("string")),
      col("retry_count"), col("timeout_count"), col("error_count"))
    metrics
      .agg(concat(
        lit("{\n"),
        concat_ws(",\n", transform(
          array_sort(collect_list(struct(col("clientId").as("k"), entry.as("v")))),
          s => s.getField("v"))),
        lit("\n}")).as("json"))
      .head().getString(0)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("one client-keyed pass equals the correlate/sessionize/zero-fill composition on edge cases") {
    def ev(id: String, client: String, trace: String, ts: String, kind: String): String =
      Seq("eventId" -> id, "clientId" -> client, "traceId" -> trace, "timestamp" -> ts, "eventType" -> kind)
        .collect { case (k, v) if v != null => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val h = "2024-11-16T12:"
    val events = frame(Schemas.userExp,
      // c1: a pair, then consecutive starts (the later one wins): 120 + 30
      ev("e01", "c1", "tA", h + "00:00Z", "page_view_start"),
      ev("e02", "c1", "tA", h + "02:00Z", "page_view_end"),
      ev("e03", "c1", null, h + "03:20Z", "page_view_start"),
      ev("e04", "c1", "", h + "03:50Z", "page_view_start"),
      ev("e05", "c1", null, h + "04:20Z", "page_view_end"),
      // c2: an end before any start, then a half-second pair; at equal
      // timestamps e10 (end) sorts before e11 (start), so no pair
      ev("e06", "c2", "tB", h + "00:10Z", "page_view_end"),
      ev("e07", "c2", "tB", h + "00:20Z", "page_view_start"),
      ev("e08", "c2", null, h + "00:20.500Z", "page_view_end"),
      ev("e10", "c2", null, h + "00:30Z", "page_view_end"),
      ev("e11", "c2", null, h + "00:30Z", "page_view_start"),
      // c3: start and end at one timestamp pair in eventId order, 0 s; its
      // trace has no logs
      ev("e12", "c3", "tC", h + "00:40Z", "page_view_start"),
      ev("e13", "c3", "tC", h + "00:40Z", "page_view_end"),
      // c4: 1e7 s, on an unknown trace
      ev("e14", "c4", "tX", "2024-07-23T18:13:20Z", "page_view_start"),
      ev("e15", "c4", "tX", "2024-11-16T12:00:00Z", "page_view_end"),
      // c5: an empty traceId matches nothing, not even a trace keyed ""
      ev("e19", "c5", "", h + "00:00Z", "click"),
      // c6: only counts
      ev("e16", "c6", "tA", h + "00:00Z", "click"),
      // null client: in the universe, every metric 0
      ev("e17", null, "tA", h + "00:00Z", "page_view_start"),
      ev("e18", null, "tA", h + "01:00Z", "page_view_end"))
    val traces = frame(Schemas.trace,
      """{"traceId":"tA","spans":[{"spanId":"sA1"},{"spanId":"sA2"}]}""",
      """{"traceId":"tB","spans":[{"spanId":"sB1"}]}""",
      """{"traceId":"tC","spans":[{"spanId":"sC1"}]}""",
      """{"traceId":"tB","spans":[{"spanId":"sB2"}]}""",
      """{"traceId":"","spans":[{"spanId":"sE"}]}""",
      """{"spans":[{"spanId":"sN"}]}""")
    def log(id: String, span: String, kind: String): String =
      s"""{"logId":"$id","spanId":"$span","eventType":"$kind"}"""
    val logs = frame(Schemas.log,
      log("l1", "sA1", "RETRY"), log("l2", "sA2", "ERROR"), log("l3", "sA2", "INFO"),
      log("l4", "sB1", "RETRY"), log("l5", "sB2", "TIMEOUT"), log("l6", "sX", "ERROR"),
      log("l7", "sE", "ERROR"), log("l8", "sN", "ERROR"))

    val got = TlbMetrics.compute(events, traces, logs)
    val want = referenceMetrics(events, traces, logs)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.collect().map(r => Option(r.getString(0)) -> r.toSeq.tail).toMap == Map(
      Some("c1") -> Seq(150.0, 2L, 0L, 2L),
      Some("c2") -> Seq(0.5, 0L, 2L, 0L),
      Some("c3") -> Seq(0.0, 0L, 0L, 0L),
      Some("c4") -> Seq(1.0e7, 0L, 0L, 0L),
      Some("c5") -> Seq(0.0, 0L, 0L, 0L),
      Some("c6") -> Seq(0.0, 1L, 0L, 1L),
      None -> Seq(0.0, 0L, 0L, 0L)))
    assert(TlbMetrics.toGoldenObjectJson(got) == referenceJson(want))

    val none = (frame(Schemas.userExp), frame(Schemas.trace), frame(Schemas.log))
    val empty = (TlbMetrics.compute _).tupled(none)
    assert(empty.isEmpty && (referenceMetrics _).tupled(none).isEmpty)
    assert(TlbMetrics.toGoldenObjectJson(empty) == "{\n\n}")
    assert(referenceJson((referenceMetrics _).tupled(none)) == "{\n\n}")
  }

  test("client ids are JSON-escaped and keyed in Spark's string order") {
    val ids = Seq("a\"b\\c", "tab\there", "ctl\u0001", "Z", "a", "\uFF21", "\uD83D\uDE00")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val events = frame(Schemas.userExp,
      ids.map(id => mapper.writeValueAsString(java.util.Map.of("clientId", id))): _*)
    val metrics = TlbMetrics.compute(events, frame(Schemas.trace), frame(Schemas.log))
    val json = TlbMetrics.toGoldenObjectJson(metrics)
    assert(json.contains("\"a\\\"b\\\\c\"") && json.contains("\"ctl\\u0001\""))
    val parsed = mapper.readTree(json)
    val keys = scala.jdk.CollectionConverters.IteratorHasAsScala(parsed.fieldNames()).asScala.toSeq
    // Spark orders strings by UTF-8 bytes: U+FF21 before U+1F600, which
    // UTF-16 order would swap.
    assert(keys == metrics.orderBy("clientId").collect().map(_.getString(0)).toSeq)
    assert(keys.indexOf("\uFF21") < keys.indexOf("\uD83D\uDE00"))
    assert(keys.toSet == ids.toSet)
  }

  test("the TLB job runs in at most 5 Spark jobs per hour") {
    val out = java.nio.file.Files.createTempDirectory("tlb_jobs").resolve("m.json").toString
    val jobs = org.apache.spark.JobCounter(spark.sparkContext) {
      TlbMetrics.writeGoldenJson(TlbMetrics.fromJson(spark, fixtures, "2024111612"), out)
    }
    assert(jobs <= 5, s"$jobs jobs")
    assert(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), UTF_8) ==
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(TestSpark.resource("tlb_metrics_2024111612.json"))), UTF_8))
  }
}
