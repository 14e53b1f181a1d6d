package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One timed op. A failed op (`error` set) is never counted as a timing. */
final case class Outcome(
    id: Int,
    name: String,
    seconds: Double,
    records: Long,
    error: Option[String],
    layers: Map[String, Double]) {
  def ok: Boolean = error.isEmpty
}

/** A benchmark workload: input generation and warm-up (the set-up),
  * then a fixed list of timed ops, then output checks.
  */
trait Workload {
  def params: Map[String, Any]
  def generate(): Unit
  def warm(): Unit
  def opNames: Seq[String]
  /** Runs op `i`; throws if the program throws. */
  def runOp(i: Int, tracer: Option[Tracer]): Outcome
  /** Marks ops whose outputs are wrong as failed. */
  def check(outcomes: Seq[Outcome]): Seq[Outcome]
}

/** What one traced op recorded: its root span, counters per phase, and
  * the `spark.*` and `ops.staged_rounds` layer values derived from them.
  */
final case class OpTrace(root: Span, phases: Map[String, Counters], layers: Map[String, Double])

/** Wraps one op in a root span and collects what the listener and the
  * `Staging.stageCalls` counter saw during it.
  */
final class Tracer(sc: SparkContext, val spans: Spans, listener: LayerListener, cores: Int) {
  def op(opId: Int, name: String)(body: Int => Unit): OpTrace = {
    listener.begin()
    val staged0 = graft.ops.Staging.stageCalls.get()
    try spans.span(name, opId, 0)(body)
    finally LayerListener.setPhase(sc, null)
    val root = spans.last
    val staged = graft.ops.Staging.stageCalls.get() - staged0
    org.apache.spark.perfbench.Bus.drain(sc)
    val (phases, planMs) = listener.end()
    val all = new Counters
    phases.values.foreach(all += _)
    val opMs = root.ms
    // Per-phase jobs and bytes read go to the dump only, to show where
    // re-reads happen.
    val perPhase = phases.toSeq.flatMap { case (p, c) =>
      Seq(s"phase.$p.jobs" -> c.jobs.toDouble, s"phase.$p.input_bytes" -> c.inputBytes.toDouble)
    }
    OpTrace(root, phases, perPhase.toMap ++ Map(
      "ops.staged_rounds" -> staged.toDouble,
      "io.output_bytes" -> all.outputBytes.toDouble,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.ms_per_job" -> (if (all.jobs > 0) opMs / all.jobs else 0.0),
      "spark.plan_ms" -> planMs,
      "spark.exec_run_ms" -> all.runMs.toDouble,
      "spark.exec_cpu_ms" -> all.cpuNs / 1e6,
      "spark.gc_ms" -> all.gcMs.toDouble,
      "spark.shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.busy_share" -> all.runMs / (opMs * cores)))
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1")
  }

  /** Per-layer metrics in the order BENCHMARK.json lists them. Count,
    * byte and ratio metrics are per-op means; `_ms` and share metrics are
    * per-op medians.
    */
  val LayerUnits: ListMap[String, String] = ListMap(
    "pipeline.run_ms" -> "ms",
    "pipeline.stage1.open_ms" -> "ms", "pipeline.stage2.open_ms" -> "ms", "pipeline.stage3.open_ms" -> "ms",
    "pipeline.stage1.write_ms" -> "ms", "pipeline.stage2.write_ms" -> "ms", "pipeline.stage3.write_ms" -> "ms",
    "pipeline.jobs_per_hour" -> "count",
    "pipeline.read_amplification" -> "ratio",
    "tlb.ms" -> "ms", "tlb.jobs_per_hour" -> "count", "tlb.shuffle_bytes" -> "bytes",
    "io.output_bytes" -> "bytes",
    "ops.staged_rounds" -> "count", "ops.build_ms" -> "ms", "ops.execute_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.ms_per_job" -> "ms", "spark.plan_ms" -> "ms",
    "spark.exec_run_ms" -> "ms", "spark.exec_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.busy_share" -> "ratio",
    "trace.overhead_s" -> "s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Jiffies of the machine's CPU line in /proc/stat: (all, steal). */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }

  private def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Runs every op once; an op that throws is recorded as failed. */
  private def pass(w: Workload, tracer: Option[Tracer]): (Seq[Outcome], Double) = {
    val t0 = System.nanoTime()
    val outcomes = w.opNames.indices.map { i =>
      try w.runOp(i, tracer)
      catch {
        case e: Exception => Outcome(i, w.opNames(i), 0.0, 0L, Some(e.toString), Map.empty)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    (w.check(outcomes), wall)
  }

  /** The traced run: every op runs once untraced, with no listener
    * registered, and once traced, in ABBA order (the second run of an op
    * is faster, and ops speed up as the JIT warms), so the difference of
    * the two walls is the tracing overhead and not warm-up. Both runs of
    * an op write the same outputs, so each is checked as soon as it ends.
    * Returns (untraced, traced, untraced wall, traced wall).
    */
  private def interleaved(spark: SparkSession, w: Workload, spans: Spans, cores: Int)
      : (Seq[Outcome], Seq[Outcome], Double, Double) = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    val tracer = new Tracer(sc, spans, listener, cores)
    var plainWall, tracedWall = 0.0
    def one(i: Int, traced: Boolean): Outcome = {
      if (traced) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      val t0 = System.nanoTime()
      val out =
        try w.runOp(i, if (traced) Some(tracer) else None)
        catch { case e: Exception => Outcome(i, w.opNames(i), 0.0, 0L, Some(e.toString), Map.empty) }
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced) {
        tracedWall += dt
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      } else plainWall += dt
      w.check(Seq(out)).head
    }
    val pairs = w.opNames.indices.map { i =>
      if (i % 4 == 0 || i % 4 == 3) { val p = one(i, traced = false); (p, one(i, traced = true)) }
      else { val t = one(i, traced = true); (one(i, traced = false), t) }
    }
    (pairs.map(_._1), pairs.map(_._2), plainWall, tracedWall)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val root = Paths.get("").toAbsolutePath
    val bench = root.resolve("perfbench")
    val work = root.resolve(".bench_out").resolve(s"${o.workload}-${o.seed}")
    deleteTree(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val confs = ListMap(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "127.0.0.1",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.hadoop.hadoop.tmp.dir" -> work.resolve("hadoop-tmp").toString)
    val builder = SparkSession.builder()
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val w: Workload = o.workload match {
        case "pipeline_hourly" =>
          new Pipeline(spark, work, root.resolve("src/test/resources/reference"),
            new String(Files.readAllBytes(bench.resolve("pipeline.yaml")), UTF_8), o.seed,
            hours = math.max(Pipeline.MinHours, math.round(o.seconds / Pipeline.HourSeconds).toInt))
        case "catalogue_iterative" =>
          val cfg = Json.readFile(bench.resolve("catalogue.json"))
          val queries = Json.elements(cfg.get("queries")).map { q =>
            Pinned(q.get("name").asText(), Json.elements(q.get("tables")).map(_.asText()),
              q.get("rows").asLong(), q.get("hash").asLong())
          }
          new Catalogue(spark, work, bench.resolve("data/sf0.001"), queries, o.seed,
            passes = math.max(Catalogue.MinPasses, math.round(o.seconds / Catalogue.PassSeconds).toInt))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.generate()
      w.warm()
      val setupS = (System.nanoTime() - t0) / 1e9
      val env = ListMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
        "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
        "spark_version" -> spark.version, "spark_confs" -> confs, "workload_params" -> w.params)
      println("# env " + Json.render(env))

      val result = if (!o.trace) {
        val cpu0 = cpuJiffies()
        val (plain, plainWall) = pass(w, None)
        val cpu1 = cpuJiffies()
        report(plain)
        val good = plain.filter(_.ok)
        val times = good.map(_.seconds)
        val tl = tail(times)
        println("# report " + Json.render(ListMap(
          "op_tail_s" -> tl.map(_._2), "op_tail_percentile" -> tl.map(_._1), "op_samples" -> times.size,
          "failed_ratio" -> (plain.count(!_.ok).toDouble / plain.size),
          "cpu_steal_share" -> (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1))))
        summary(plain, ListMap(
          "setup_s" -> (setupS, "s"),
          "wall_s" -> (plainWall, "s"),
          "op_p50_s" -> (median(times), "s"),
          "records_per_s" -> (good.map(_.records).sum / plainWall, "1/s"),
          "peak_rss_mb" -> (peakRssMb(), "MB")))
      } else {
        val spans = new Spans
        val (plain, traced, plainWall, tracedWall) = interleaved(spark, w, spans, cores)
        report(traced)
        val overhead = tracedWall - plainWall
        val self = spans.selfTimes
        self.foreach { case (name, (n, total, selfMs)) =>
          note(f"span $name%-28s n=$n%4d total=${total}%10.1f ms self=${selfMs}%10.1f ms")
        }
        note(f"tracing overhead: traced wall ${tracedWall}%.3f s - untraced wall ${plainWall}%.3f s = ${overhead}%.3f s")
        val good = traced.filter(_.ok)
        val layers = LayerUnits.map { case (name, unit) =>
          val xs = good.map(_.layers.getOrElse(name, 0.0))
          val v =
            if (name == "trace.overhead_s") overhead
            else if (unit == "ms" || name == "spark.busy_share") median(xs)
            else if (xs.isEmpty) 0.0 else xs.sum / xs.size
          name -> (v, unit)
        }
        val dump = work.resolve("trace.json")
        Files.write(dump, Json.render(ListMap(
          "env" -> env,
          "tracing_overhead_s" -> overhead, "traced_wall_s" -> tracedWall, "untraced_wall_s" -> plainWall,
          "self_time_ms" -> self.map { case (n, (c, t, s)) => ListMap("span" -> n, "count" -> c, "total_ms" -> t, "self_ms" -> s) },
          "ops" -> traced.map(x => ListMap("op" -> x.id, "name" -> x.name, "seconds" -> x.seconds,
            "error" -> x.error, "layers" -> ListMap(x.layers.toSeq.sortBy(_._1): _*))),
          "run_sums" -> ListMap(LayerUnits.keys.toSeq.filter(_ != "trace.overhead_s")
            .map(k => k -> good.map(_.layers.getOrElse(k, 0.0)).sum): _*),
          "spans" -> spans.all.map(s => ListMap("id" -> s.id, "name" -> s.name, "op" -> s.op,
            "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
        )).getBytes(UTF_8))
        note(s"trace written to ${root.relativize(dump)}")
        summary(plain ++ traced, layers)
      }
      println(result)
    } finally {
      spark.stop()
      // Keep only the trace dump: generated inputs and outputs are
      // rebuilt from the seed on every run.
      Files.list(work).forEach(p => if (p.getFileName.toString != "trace.json") deleteTree(p))
    }
  }

  private def report(outcomes: Seq[Outcome]): Unit = outcomes.foreach { x =>
    x.error match {
      case None => note(f"op ${x.id}%3d ${x.name}%-24s ${x.seconds}%8.3f s")
      case Some(e) => note(f"op ${x.id}%3d ${x.name}%-24s FAILED $e")
    }
  }

  private def summary(outcomes: Seq[Outcome], metrics: ListMap[String, (Double, String)]): String = {
    val failed = outcomes.count(!_.ok)
    Json.render(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> outcomes.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
