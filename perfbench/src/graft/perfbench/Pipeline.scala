package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.jobs.TlbMetrics
import graft.pipeline.{PipelineCompiler, PipelineSpec}

/** The paper's hourly job: the reference 3-stage YAML through
  * `PipelineSpec.fromYaml` and `PipelineCompiler.run`, then the TLB
  * metrics job over the same hour's inputs. One op is one hour, from the
  * call into `run` until the TLB JSON is written.
  *
  * @param hours    timed hours per pass
  */
final class Pipeline(
    spark: SparkSession,
    work: Path,
    fixturesDir: Path,
    yamlText: String,
    seed: Long,
    hours: Int) extends Workload {
  import Pipeline.{Band, WarmupHours => warmup}

  private val fx = new Fixtures(fixturesDir)
  private val inDir = work.resolve("in")
  private val outDir = work.resolve("out")
  private val rng = new scala.util.Random(seed)
  private var generated = Vector.empty[Hour]

  private def timed: Vector[Hour] = generated.drop(warmup)

  def params: Map[String, Any] = Map(
    "replicas_min" -> Band._1, "replicas_max" -> Band._2,
    "warmup_hours" -> warmup, "timed_hours" -> hours,
    "replicas" -> timed.map(_.replicas))

  def generate(): Unit =
    generated = (0 until warmup + hours).toVector.map { i =>
      val replicas = Band._1 + rng.nextInt(Band._2 - Band._1 + 1)
      Inputs.writeHour(fx, inDir, i, replicas, rng)
    }

  def warm(): Unit = generated.take(warmup).foreach(h => runHour(h, None))

  def opNames: Seq[String] = timed.map(_.label)

  def runOp(i: Int, tracer: Option[Tracer]): Outcome = {
    val h = timed(i)
    val (seconds, layers) = runHour(h, tracer.map(_ -> i))
    Outcome(i, h.label, seconds, h.records, None, layers)
  }

  /** Path mapping for one hour: `{in}`/`{out}` templating plus the two
    * s3 inputs. `mark` sees every call, which `run` makes once with a
    * stage's input path and once with its output path.
    */
  private def resolver(h: Hour, mark: String => Unit): PipelineCompiler.PathResolver = { p =>
    mark(p)
    if (p.startsWith("s3a://demo-trace-bucket/")) inDir.resolve(s"trace_${h.label}.json").toString
    else if (p.startsWith("s3a://demo-log-bucket/")) inDir.resolve(s"log_${h.label}.json").toString
    else p.replace("{in}", inDir.toString).replace("{out}", outDir.toString)
  }

  private def tlbPath(h: Hour): Path = outDir.resolve(s"tlb_metrics_${h.label}.json")

  private def runHour(h: Hour, trace: Option[(Tracer, Int)]): (Double, Map[String, Double]) = {
    val spec = PipelineSpec.fromYaml(yamlText)
    trace match {
      case None =>
        val t0 = System.nanoTime()
        PipelineCompiler.run(spark, spec, h.label, resolver(h, _ => ()))
        TlbMetrics.writeGoldenJson(
          TlbMetrics.fromJson(spark, inDir.toString, h.label), tlbPath(h).toString)
        ((System.nanoTime() - t0) / 1e9, Map.empty)
      case Some((tr, opId)) => traced(h, spec, tr, opId)
    }
  }

  private def traced(h: Hour, spec: PipelineSpec, tr: Tracer, opId: Int): (Double, Map[String, Double]) = {
    val sc = spark.sparkContext
    val marks = mutable.ArrayBuffer.empty[Long]
    var runEnd = 0L
    var runSpan, tlbSpan: Span = null
    val op = tr.op(opId, "op.hour") { root =>
      tr.spans.span("pipeline.run", opId, root) { _ =>
        PipelineCompiler.run(spark, spec, h.label, resolver(h, { _ =>
          val k = marks.size
          LayerListener.setPhase(sc, s"pipeline.stage${k / 2 + 1}.${if (k % 2 == 0) "open" else "write"}")
          marks += System.nanoTime()
        }))
        runEnd = System.nanoTime()
      }
      runSpan = tr.spans.last
      LayerListener.setPhase(sc, "tlb")
      tr.spans.span("tlb", opId, root) { tlb =>
        val metrics = tr.spans.span("tlb.fromJson", opId, tlb)(_ =>
          TlbMetrics.fromJson(spark, inDir.toString, h.label))
        tr.spans.span("tlb.writeGoldenJson", opId, tlb)(_ =>
          TlbMetrics.writeGoldenJson(metrics, tlbPath(h).toString))
      }
      tlbSpan = tr.spans.last
    }
    require(marks.size == 6, s"expected 6 path resolutions in run, saw ${marks.size}")
    val bounds = marks :+ runEnd
    val stageLayers = (0 until 3).flatMap { k =>
      val open = tr.spans.add(s"pipeline.stage${k + 1}.open", opId, runSpan.id, bounds(2 * k), bounds(2 * k + 1))
      val write = tr.spans.add(s"pipeline.stage${k + 1}.write", opId, runSpan.id, bounds(2 * k + 1), bounds(2 * k + 2))
      Seq(s"pipeline.stage${k + 1}.open_ms" -> open.ms, s"pipeline.stage${k + 1}.write_ms" -> write.ms)
    }
    val inRun = op.phases.filter(_._1.startsWith("pipeline.")).values
    val tlb = op.phases.getOrElse("tlb", new Counters)
    val layers = Map(
      "pipeline.run_ms" -> runSpan.ms,
      "pipeline.jobs_per_hour" -> inRun.map(_.jobs).sum.toDouble,
      "pipeline.read_amplification" -> inRun.map(_.inputBytes).sum.toDouble / h.inputBytes,
      "tlb.ms" -> tlbSpan.ms,
      "tlb.jobs_per_hour" -> tlb.jobs.toDouble,
      "tlb.shuffle_bytes" -> tlb.shuffleWriteBytes.toDouble) ++ stageLayers ++ op.layers
    (op.root.ms / 1e3, layers)
  }

  // ---- output checks --------------------------------------------------

  private def partLines(dir: Path): Vector[String] =
    Files.list(dir).iterator().asScala.toVector
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .filter(_.trim.nonEmpty)

  private def canon(records: Seq[JsonNode]): Vector[String] =
    records.map(r => Json.canonical(Json.normalized(r, Inputs.fixtureId))).toVector.sorted

  /** Checks one hour's outputs; returns the mismatches found. */
  private def checkHour(h: Hour, sample: Int): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val tag = Inputs.suffix(h.index, sample) + "\""
    val stages = Seq(
      ("user_exp_processed", fx.userExp.size, fx.userExpProcessed),
      ("trace_processed", fx.trace.size, fx.traceProcessed),
      ("log_processed", fx.log.size, fx.logProcessed))
    stages.foreach { case (name, perReplica, golden) =>
      val lines = partLines(outDir.resolve(s"${name}_${h.label}.json"))
      if (lines.size != perReplica * h.replicas)
        errors += s"$name rows ${lines.size} != ${perReplica * h.replicas}"
      val sampled = lines.filter(_.contains(tag)).map(Json.parse)
      if (canon(sampled) != canon(golden))
        errors += s"$name replica $sample differs from the golden"
    }
    val tlb = Json.parse(new String(Files.readAllBytes(tlbPath(h)), UTF_8))
    val clients = Json.fields(tlb)
    if (clients.size != fx.tlb.size * h.replicas)
      errors += s"tlb clients ${clients.size} != ${fx.tlb.size * h.replicas}"
    val wrong = clients.count { case (client, v) =>
      val want = fx.tlb.get(Inputs.fixtureId(client))
      want == null || Seq("page_view_time", "retry_count", "timeout_count", "error_count")
        .exists(k => v.get(k) == null || v.get(k).asDouble() != want.get(k).asDouble())
    }
    if (wrong > 0) errors += s"tlb: $wrong clients differ from the golden"
    errors.toSeq
  }

  def check(outcomes: Seq[Outcome]): Seq[Outcome] = outcomes.map { o =>
    if (!o.ok) o
    else {
      val h = timed(o.id)
      val errors =
        try checkHour(h, rng.nextInt(h.replicas))
        catch { case e: Exception => Seq(s"check failed: $e") }
      if (errors.isEmpty) o else o.copy(error = Some(errors.mkString("; ")))
    }
  }
}

object Pipeline {
  /** Replica count range per hour; the seed picks inside it. */
  val Band = (95, 105)
  /** Untimed hours before the timed pass: the first hour of a JVM takes
    * about four times as long as a warm one.
    */
  val WarmupHours = 3
  /** Warm time of one hour on 4 cores. */
  val HourSeconds = 2.5
  /** Fewest timed hours. */
  val MinHours = 3
}
