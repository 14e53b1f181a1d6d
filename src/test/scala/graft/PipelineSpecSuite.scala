package graft

import java.nio.file.Files
import graft.pipeline._

/** Golden E2E for the dynamic pipeline engine: run the reference's own
  * 3-stage YAML spec on its fixtures and compare every stage output with
  * the committed goldens (the `_processed_2024111612.json` files). Pins
  * enrichment widening (stage_2 adds clientId, stage_3 adds traceId +
  * clientId) and mapping extraction exactly.
  */
class PipelineSpecSuite extends SparkSpec {

  private val hour = "2024111612"
  private lazy val fixtures = new java.io.File(TestSpark.resource(s"user_exp_$hour.json")).getParent

  /** The reference YAML, with local paths only (S3 resolved below). */
  private val yamlText =
    s"""pipeline_name: "observability_correlation_pipeline"
       |stages:
       |  stage_1:
       |    description: "Process user experience data"
       |    input:
       |      type: "local_file"
       |      file_path: "$fixtures/user_exp_{hour}.json"
       |    redis_mappings:
       |      write:
       |        redis_key_prefix: "trace_to_client"
       |        from_fields:
       |          key: "traceId"
       |          value: "clientId"
       |    output_file: "{out}/user_exp_processed_{hour}.json"
       |  stage_2:
       |    description: "Enhance trace data"
       |    input:
       |      type: "s3"
       |      bucket: "demo-trace-bucket"
       |      prefix: "traces/{hour}/"
       |    redis_mappings:
       |      read:
       |        redis_key_prefix: "trace_to_client"
       |        key_field: "traceId"
       |      write:
       |        redis_key_prefix: "span_to_trace_client"
       |        from_fields:
       |          key: "spans.spanId"
       |          value: ["traceId", "clientId"]
       |    output_file: "{out}/trace_processed_{hour}.json"
       |  stage_3:
       |    description: "Enhance log data"
       |    input:
       |      type: "s3"
       |      bucket: "demo-log-bucket"
       |      prefix: "logs/{hour}/"
       |    redis_mappings:
       |      read:
       |        redis_key_prefix: "span_to_trace_client"
       |        key_field: "spanId"
       |    output_file: "{out}/log_processed_{hour}.json"
       |""".stripMargin

  /** Canonical row-set: columns alphabetized, rows stringified + sorted.
    * `multiLine = true` for the goldens (JSON arrays); false for our sink
    * output (JSON lines).
    */
  private def canon(path: String, multiLine: Boolean): Seq[String] = {
    val df = spark.read.option("multiLine", multiLine).json(path)
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map(_.toString).toSeq.sorted
  }

  test("YAML parses into the expected spec shape") {
    val spec = PipelineSpec.fromYaml(yamlText)
    assert(spec.name == "observability_correlation_pipeline")
    assert(spec.stages.map(_.name) == Vector("stage_1", "stage_2", "stage_3"))
    assert(spec.stages(0).mappingWrite.contains(
      MappingWrite("trace_to_client", "traceId", Vector("clientId"), single = true)))
    assert(spec.stages(1).mappingRead.contains(MappingRead("trace_to_client", "traceId")))
    assert(spec.stages(1).mappingWrite.contains(
      MappingWrite("span_to_trace_client", "spans.spanId", Vector("traceId", "clientId"), single = false)))
    assert(spec.stages(2).input == "s3a://demo-log-bucket/logs/{hour}/")
  }

  test("YAML forms beyond the canonical layout parse to the same spec") {
    // Block lists, flow maps, unquoted and single-quoted scalars, and
    // comments (with commas) after values, as YAML loaders read them.
    val dialect =
      s"""# The reference pipeline, in other YAML forms.
         |pipeline_name: 'observability_correlation_pipeline'  # single quotes
         |stages:
         |  stage_1:
         |    description: Process user experience data
         |    input: {type: local_file, file_path: "$fixtures/user_exp_{hour}.json"}
         |    redis_mappings:
         |      write:
         |        redis_key_prefix: trace_to_client
         |        from_fields: {key: traceId, value: clientId}
         |    output_file: "{out}/user_exp_processed_{hour}.json"  # written, then read back
         |
         |  stage_2:
         |    description: "Enhance trace data"
         |    input:
         |      type: s3   # bucket, prefix
         |      bucket: demo-trace-bucket
         |      prefix: "traces/{hour}/"
         |    redis_mappings:
         |      read: {redis_key_prefix: trace_to_client, key_field: traceId}
         |      write:
         |        redis_key_prefix: span_to_trace_client
         |        from_fields:
         |          key: spans.spanId
         |          value:
         |            - traceId   # first
         |            - clientId
         |    output_file: '{out}/trace_processed_{hour}.json'
         |  stage_3:
         |    description: Enhance log data
         |    input: {type: s3, bucket: demo-log-bucket, prefix: 'logs/{hour}/'}
         |    redis_mappings:
         |      read:
         |        redis_key_prefix: span_to_trace_client
         |        key_field: spanId
         |    output_file: "{out}/log_processed_{hour}.json"
         |""".stripMargin
    assert(PipelineSpec.fromYaml(dialect) == PipelineSpec.fromYaml(yamlText))
    // A comma or a '#' inside quotes is text, in a flow list or a block one.
    val quoted = PipelineSpec.fromYaml(dialect.replace(
      "          value:\n            - traceId   # first\n            - clientId",
      "          value: [\"trace, id\", 'client # id']"))
    assert(quoted.stages(1).mappingWrite.map(_.valueFields).contains(Vector("trace, id", "client # id")))
    val block = PipelineSpec.fromYaml(dialect.replace("- clientId", "- \"client, id # 2\""))
    assert(block.stages(1).mappingWrite.map(_.valueFields).contains(Vector("traceId", "client, id # 2")))
    // Unquoted numbers and dates are read as their text.
    val dated = PipelineSpec.fromYaml(dialect.replace("prefix: \"traces/{hour}/\"", "prefix: 2024-11-16"))
    assert(dated.stages(1).input == "s3a://demo-trace-bucket/2024-11-16")
    val numbered = PipelineSpec.fromYaml(dialect.replace("prefix: \"traces/{hour}/\"", "prefix: 2024"))
    assert(numbered.stages(1).input == "s3a://demo-trace-bucket/2024")
  }

  /** `yamlText` with the first `key:` entry after `stage:` (and the lines
    * nested under it) replaced by `lines`.
    */
  private def replacing(stage: String, key: String, lines: String*): String = {
    val all = yamlText.linesIterator.toVector
    val k = all.indexWhere(_.trim.startsWith(s"$key:"), all.indexWhere(_.trim == s"$stage:"))
    val indent = all(k).takeWhile(_ == ' ').length
    val end = all.indexWhere(_.takeWhile(_ == ' ').length <= indent, k + 1) match {
      case -1 => all.size
      case e  => e
    }
    (all.take(k) ++ lines ++ all.drop(end)).mkString("", "\n", "\n")
  }

  test("malformed specs fail with an IllegalArgumentException naming the stage and key") {
    val cases = Seq(
      // missing required keys
      yamlText.replace("pipeline_name:", "name:") -> "missing key 'pipeline_name'",
      replacing("stages", "stages") -> "missing key 'stages'",
      replacing("stage_1", "input") -> "missing key 'stages.stage_1.input'",
      replacing("stage_1", "type") -> "missing key 'stages.stage_1.input.type'",
      replacing("stage_1", "file_path") -> "missing key 'stages.stage_1.input.file_path'",
      replacing("stage_2", "bucket") -> "missing key 'stages.stage_2.input.bucket'",
      replacing("stage_3", "prefix") -> "missing key 'stages.stage_3.input.prefix'",
      replacing("stage_2", "redis_key_prefix") -> "missing key 'stages.stage_2.redis_mappings.read.redis_key_prefix'",
      replacing("stage_1", "redis_key_prefix") -> "missing key 'stages.stage_1.redis_mappings.write.redis_key_prefix'",
      replacing("stage_3", "key_field") -> "missing key 'stages.stage_3.redis_mappings.read.key_field'",
      replacing("stage_1", "from_fields") -> "missing key 'stages.stage_1.redis_mappings.write.from_fields'",
      replacing("stage_2", "key") -> "missing key 'stages.stage_2.redis_mappings.write.from_fields.key'",
      replacing("stage_1", "value") -> "missing key 'stages.stage_1.redis_mappings.write.from_fields.value'",
      // a non-map where a map belongs
      replacing("stages", "stages", "stages: [stage_1, stage_2]") -> "'stages' is not a map",
      replacing("stages", "stage_2", "  stage_2: \"Enhance trace data\"") -> "'stages.stage_2' is not a map",
      replacing("stage_3", "input", "    input: \"s3a://demo-log-bucket/logs/\"") -> "'stages.stage_3.input' is not a map",
      replacing("stage_1", "from_fields", "        from_fields: [traceId, clientId]") ->
        "'stages.stage_1.redis_mappings.write.from_fields' is not a map",
      // a non-scalar where a scalar belongs
      replacing("stage_2", "bucket", "      bucket: [a, b]") -> "'stages.stage_2.input.bucket' is not a scalar",
      // an unknown input type
      yamlText.replace("type: \"local_file\"", "type: \"gcs\"") ->
        "unknown input type 'gcs' at 'stages.stage_1.input.type'",
      // duplicate keys: a stage name, and a key inside a stage
      (yamlText + "  stage_1:\n    input: {type: local_file, file_path: x}\n") -> "duplicate key 'stages.stage_1'",
      replacing("stage_2", "prefix", "      prefix: \"traces/{hour}/\"", "      prefix: \"spans/{hour}/\"") ->
        "duplicate key 'stages.stage_2.input.prefix'",
      // not YAML at all
      "stages: [" -> "pipeline spec:")
    cases.foreach { case (text, expected) =>
      val e = intercept[IllegalArgumentException](PipelineSpec.fromYaml(text))
      assert(e.getMessage.contains(expected), s"'${e.getMessage}' does not name $expected")
    }
  }

  test("stage ordering follows mapping dependencies even when declared shuffled") {
    val spec = PipelineSpec.fromYaml(yamlText)
    val shuffled = spec.copy(stages = Vector(spec.stages(2), spec.stages(1), spec.stages(0)))
    assert(PipelineCompiler.orderStages(shuffled).map(_.name) ==
      Vector("stage_1", "stage_2", "stage_3"))
  }

  test("reading an unwritten mapping fails at plan time") {
    val spec = PipelineSpec.fromYaml(yamlText)
    val broken = spec.copy(stages = spec.stages.drop(1)) // stage_1 (writer) removed
    val e = intercept[IllegalArgumentException](PipelineCompiler.orderStages(broken))
    assert(e.getMessage.contains("trace_to_client"))
  }

  test("pipeline run reproduces all three golden processed outputs") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val resolver: PipelineCompiler.PathResolver = {
      case p if p.startsWith("s3a://demo-trace-bucket/") => s"$fixtures/trace_$hour.json"
      case p if p.startsWith("s3a://demo-log-bucket/")   => s"$fixtures/log_$hour.json"
      case p => p.replace("{out}", out)
    }
    val spec = PipelineSpec.fromYaml(yamlText)
    PipelineCompiler.run(spark, spec, hour, resolver)
    assert(canon(s"$out/user_exp_processed_$hour.json", multiLine = false) ==
      canon(s"$fixtures/user_exp_processed_$hour.json", multiLine = true))
    assert(canon(s"$out/trace_processed_$hour.json", multiLine = false) ==
      canon(s"$fixtures/trace_processed_$hour.json", multiLine = true))
    assert(canon(s"$out/log_processed_$hour.json", multiLine = false) ==
      canon(s"$fixtures/log_processed_$hour.json", multiLine = true))
  }

  /** The fixture resolver of the golden test, logging every call with the
    * thread that made it.
    */
  private def loggingResolver(out: String, trace: String = s"$fixtures/trace_$hour.json")
      : (PipelineCompiler.PathResolver, scala.collection.mutable.Buffer[(String, String)]) = {
    val calls = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, String)]())
    val resolver: PipelineCompiler.PathResolver = { p =>
      calls.add(p -> Thread.currentThread().getName)
      if (p.startsWith("s3a://demo-trace-bucket/")) trace
      else if (p.startsWith("s3a://demo-log-bucket/")) s"$fixtures/log_$hour.json"
      else p.replace("{out}", out)
    }
    (resolver, scala.jdk.CollectionConverters.ListHasAsScala(calls).asScala)
  }

  private def poolThreads: Seq[Thread] =
    scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet).asScala.toSeq
      .filter(_.getName.startsWith("graft-pipeline-"))

  test("run resolves each input and written output once, in stage order, on the calling thread") {
    val spec = PipelineSpec.fromYaml(yamlText)
    val inputs = Seq(s"$fixtures/user_exp_$hour.json",
      s"s3a://demo-trace-bucket/traces/$hour/", s"s3a://demo-log-bucket/logs/$hour/")
    val outputs = Seq("user_exp", "trace", "log").map(n => s"{out}/${n}_processed_$hour.json")
    val caller = Thread.currentThread().getName

    val out = Files.createTempDirectory("graft_pipeline_resolve").toString
    val (resolver, calls) = loggingResolver(out)
    PipelineCompiler.run(spark, spec, hour, resolver)
    assert(calls.toSeq == inputs.zip(outputs).flatMap { case (i, o) => Seq(i, o) }.map(_ -> caller))

    // No outputs: only the inputs resolve, and the only jobs are the three
    // schema inferences, no write.
    val dry = Files.createTempDirectory("graft_pipeline_dry").toString
    val (dryResolver, dryCalls) = loggingResolver(dry)
    val jobs = org.apache.spark.JobCounter(spark.sparkContext) {
      PipelineCompiler.run(spark, spec, hour, dryResolver, writeOutputs = false)
    }
    assert(dryCalls.toSeq == inputs.map(_ -> caller))
    assert(jobs == 3, s"$jobs jobs")
    assert(new java.io.File(dry).list().isEmpty)
  }

  test("a missing stage input fails run with that stage's error after the other writes settle") {
    val spec = PipelineSpec.fromYaml(yamlText)
    val out = Files.createTempDirectory("graft_pipeline_missing").toString
    val missing = s"$out/no_such_trace_$hour.json"
    val (resolver, _) = loggingResolver(out, trace = missing)
    val e = intercept[org.apache.spark.sql.AnalysisException](PipelineCompiler.run(spark, spec, hour, resolver))
    assert(e.getMessage.contains("no_such_trace"))
    // stage 1 does not depend on stage 2: its write completed
    assert(canon(s"$out/user_exp_processed_$hour.json", multiLine = false) ==
      canon(s"$fixtures/user_exp_processed_$hour.json", multiLine = true))
    // stage 3 reads stage 2's mapping: never written
    assert(!new java.io.File(s"$out/log_processed_$hour.json").exists())
    poolThreads.foreach(_.join(10000))
    assert(poolThreads.isEmpty, s"pool threads alive: ${poolThreads.map(_.getName)}")
  }

  test("the reference hour runs in at most 12 Spark jobs") {
    val out = Files.createTempDirectory("graft_pipeline_jobs").toString
    val (resolver, _) = loggingResolver(out)
    val jobs = org.apache.spark.JobCounter(spark.sparkContext) {
      PipelineCompiler.run(spark, PipelineSpec.fromYaml(yamlText), hour, resolver)
    }
    assert(jobs <= 12, s"$jobs jobs")
  }

  test("file arrival triggers the pipeline for that hour (sensor replacement)") {
    val watch = Files.createTempDirectory("graft_pipeline_watch").toString
    val out = Files.createTempDirectory("graft_pipeline_arrival").toString
    // watched copy of the fixture stands in for stage_1's input
    val resolver: PipelineCompiler.PathResolver = {
      case p if p.contains("user_exp_") && !p.contains("processed") => s"$watch/user_exp_$hour.json"
      case p if p.startsWith("s3a://demo-trace-bucket/") => s"$fixtures/trace_$hour.json"
      case p if p.startsWith("s3a://demo-log-bucket/")   => s"$fixtures/log_$hour.json"
      case p => p.replace("{out}", out)
    }
    val spec = PipelineSpec.fromYaml(yamlText)
    val hours = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q = PipelineCompiler.runOnArrival(
      spark, spec, watch,
      f => "user_exp_(\\d{10})\\.json".r.findFirstMatchIn(f).map(_.group(1)),
      resolver, writeOutputs = true, onHour = hours.add(_))
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$fixtures/user_exp_$hour.json"),
        java.nio.file.Paths.get(s"$watch/user_exp_$hour.json"))
      q.processAllAvailable()
      assert(hours.contains(hour))
      assert(canon(s"$out/log_processed_$hour.json", multiLine = false) ==
        canon(s"$fixtures/log_processed_$hour.json", multiLine = true))
    } finally q.stop()
  }

  test("arrival loop restart skips hours whose completion marker exists") {
    val watch = Files.createTempDirectory("graft_pipeline_watch2").toString
    val out = Files.createTempDirectory("graft_pipeline_arrival2").toString
    val state = Files.createTempDirectory("graft_pipeline_state").toString
    val resolver: PipelineCompiler.PathResolver = {
      case p if p.contains("user_exp_") && !p.contains("processed") => s"$watch/user_exp_$hour.json"
      case p if p.startsWith("s3a://demo-trace-bucket/") => s"$fixtures/trace_$hour.json"
      case p if p.startsWith("s3a://demo-log-bucket/")   => s"$fixtures/log_$hour.json"
      case p => p.replace("{out}", out)
    }
    val spec = PipelineSpec.fromYaml(yamlText)
    val hourFromFile: String => Option[String] =
      f => "user_exp_(\\d{10})\\.json".r.findFirstMatchIn(f).map(_.group(1))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fixtures/user_exp_$hour.json"),
      java.nio.file.Paths.get(s"$watch/user_exp_$hour.json"))

    // first "driver": processes the hour and writes its marker
    val first = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q1 = PipelineCompiler.runOnArrival(spark, spec, watch, hourFromFile,
      resolver, writeOutputs = true, stateDir = Some(state), onHour = first.add(_))
    try q1.processAllAvailable() finally q1.stop()
    assert(first.contains(hour))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(state, hour)))

    // restarted "driver": fresh in-memory state, same stateDir — the same
    // arrival must NOT re-run the completed hour
    val second = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q2 = PipelineCompiler.runOnArrival(spark, spec, watch, hourFromFile,
      resolver, writeOutputs = true, stateDir = Some(state), onHour = second.add(_))
    try q2.processAllAvailable() finally q2.stop()
    assert(second.isEmpty, s"restart re-ran hours: $second")
  }

  test("S3 input leg lights up by itself when hadoop-aws appears (runtime-gated)") {
    // Mirror of the Kafka connector gate in StreamingSpec: the s3a
    // filesystem needs the hadoop-aws jar, absent from this offline
    // environment. The URI construction + hour templating (the part we
    // own) is asserted unconditionally; the live read arms itself via
    // reflection when a future environment ships the jar AND names a
    // readable path.
    val spec = PipelineSpec.fromYaml(yamlText)
    val s3Stage = spec.stages(1)
    assert(s3Stage.input == "s3a://demo-trace-bucket/traces/{hour}/")
    // default resolver must pass s3a URIs through untouched, hour resolved
    val uri = PipelineCompiler.s3aResolver(graft.io.Io.templated(s3Stage.input, hour))
    assert(uri == s"s3a://demo-trace-bucket/traces/$hour/")
    val s3aPresent =
      try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); true }
      catch { case _: ClassNotFoundException => false }
    if (s3aPresent && sys.env.contains("SPARK_GRAFT_S3_TEST_PATH")) {
      val df = spark.read.option("multiLine", true).json(sys.env("SPARK_GRAFT_S3_TEST_PATH"))
      assert(df.count() >= 0L)
    } else cancel(
      if (s3aPresent) "hadoop-aws present but SPARK_GRAFT_S3_TEST_PATH unset — no live bucket to read"
      else "hadoop-aws not on classpath — live s3a:// read environmentally blocked; URI construction asserted above")
  }

  test("schema drift across hours: added and dropped fields widen, never break") {
    // The reference's per-hour JSON reads re-infer schema every run and its
    // dict-merge enrichment tolerates fields appearing and vanishing
    // between hours. The Spark compiler must match: hour N+1's input ADDS
    // a field and DROPS another on BOTH stage inputs, each hour still runs
    // end-to-end, and a downstream consumer reading both hours' outputs
    // together sees the union schema with null-fill on the missing sides.
    val dir = Files.createTempDirectory("graft_pipeline_drift").toString
    val out = Files.createTempDirectory("graft_pipeline_drift_out").toString
    val h1 = "2024111612"
    val h2 = "2024111613"
    def write(path: String, lines: String*): Unit =
      Files.write(java.nio.file.Paths.get(path),
        lines.mkString("[", ",", "]").getBytes("UTF-8"))
    // hour 1: user_exp has durationMs; traces have service
    write(s"$dir/user_exp_$h1.json",
      """{"clientId":"c1","traceId":"t1","durationMs":120}""",
      """{"clientId":"c2","traceId":"t2","durationMs":80}""")
    write(s"$dir/trace_$h1.json",
      """{"traceId":"t1","service":"checkout"}""",
      """{"traceId":"t2","service":"search"}""")
    // hour 2: user_exp drops durationMs, adds deviceType; traces drop
    // service, add region
    write(s"$dir/user_exp_$h2.json",
      """{"clientId":"c3","traceId":"t3","deviceType":"mobile"}""")
    write(s"$dir/trace_$h2.json",
      """{"traceId":"t3","region":"eu"}""")

    val driftYaml =
      s"""pipeline_name: "drift_pipeline"
         |stages:
         |  stage_1:
         |    description: "user experience"
         |    input:
         |      type: "local_file"
         |      file_path: "$dir/user_exp_{hour}.json"
         |    redis_mappings:
         |      write:
         |        redis_key_prefix: "trace_to_client"
         |        from_fields:
         |          key: "traceId"
         |          value: "clientId"
         |    output_file: "{out}/user_exp_processed_{hour}.json"
         |  stage_2:
         |    description: "traces"
         |    input:
         |      type: "local_file"
         |      file_path: "$dir/trace_{hour}.json"
         |    redis_mappings:
         |      read:
         |        redis_key_prefix: "trace_to_client"
         |        key_field: "traceId"
         |    output_file: "{out}/trace_processed_{hour}.json"
         |""".stripMargin
    val resolver: PipelineCompiler.PathResolver = _.replace("{out}", out)
    val spec = PipelineSpec.fromYaml(driftYaml)
    PipelineCompiler.run(spark, spec, h1, resolver)
    PipelineCompiler.run(spark, spec, h2, resolver)

    // Per-hour: each hour's trace output carries ITS fields plus the
    // enrichment column — drift never aborts a run.
    val t1 = spark.read.json(s"$out/trace_processed_$h1.json")
    assert(t1.columns.sorted.toSeq == Seq("clientId", "service", "traceId"))
    val t2 = spark.read.json(s"$out/trace_processed_$h2.json")
    assert(t2.columns.sorted.toSeq == Seq("clientId", "region", "traceId"))

    // Cross-hour consumer: one read over both hours yields the UNION
    // schema, null-filled where an hour lacked the field.
    val both = spark.read.json(
      s"$out/trace_processed_$h1.json", s"$out/trace_processed_$h2.json")
    assert(both.columns.sorted.toSeq == Seq("clientId", "region", "service", "traceId"))
    val rows = both.collect().map(r =>
      (r.getAs[String]("traceId"), Option(r.getAs[String]("clientId")),
        Option(r.getAs[String]("service")), Option(r.getAs[String]("region")))).toSet
    assert(rows == Set(
      ("t1", Some("c1"), Some("checkout"), None),
      ("t2", Some("c2"), Some("search"), None),
      ("t3", Some("c3"), None, Some("eu"))))

    // Same union/null-fill contract on the stage_1 side (deviceType and
    // durationMs each exist in exactly one hour).
    val ue = spark.read.json(
      s"$out/user_exp_processed_$h1.json", s"$out/user_exp_processed_$h2.json")
    assert(ue.columns.sorted.toSeq == Seq("clientId", "deviceType", "durationMs", "traceId"))
    assert(ue.where(ue("durationMs").isNull).count() == 1L) // h2's row
    assert(ue.where(ue("deviceType").isNull).count() == 2L) // h1's rows
  }
}
