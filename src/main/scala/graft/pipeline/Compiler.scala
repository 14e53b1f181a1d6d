package graft.pipeline

import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Io
import graft.ops.{Enrich, Mappings}

/** Compiles a [[PipelineSpec]] into an executed chain of DataFrame
  * transformations — the Spark replacement for the reference's
  * {Airflow DAG + Redis + sequential stage loop} (SURVEY §3 EP1/EP2).
  *
  * Differences from the reference, by design:
  *  - Mappings flow as in-memory DataFrames between stages (broadcast at
  *    join time) instead of a Redis hop — no side-channel I/O, and Catalyst
  *    sees the whole lineage.
  *  - Stage order is computed from mapping producer→consumer dependencies
  *    (the reference relies on YAML key order being correct,
  *    `src/main.py:20-22`); declaration order is kept as the tiebreak, and
  *    a cycle or read-before-write is an error at plan time, not silent
  *    empty enrichment at run time.
  *  - `{hour}` templating is resolved at plan time (manual partition
  *    pruning, reference `src/data_processor.py:46`).
  */
object PipelineCompiler {

  /** Resolves a spec-file path/URI to something Spark can read. Tests remap
    * the reference's absolute paths onto fixture dirs; production would map
    * `s3` inputs to `s3a://bucket/prefix`.
    */
  type PathResolver = String => String

  val s3aResolver: PathResolver = identity

  final case class StageResult(stage: StageSpec, output: DataFrame)

  /** Topologically order stages so every mapping write precedes its reads,
    * preserving declaration order among independent stages.
    */
  def orderStages(spec: PipelineSpec): Vector[StageSpec] = {
    val writerOf: Map[String, String] =
      spec.stages.flatMap(s => s.mappingWrite.map(w => w.mappingName -> s.name)).toMap
    val indexOf = spec.stages.map(_.name).zipWithIndex.toMap
    val deps: Map[String, Set[String]] = spec.stages.map { s =>
      s.name -> s.mappingRead.toSet[MappingRead].flatMap { r =>
        writerOf.get(r.mappingName) match {
          case Some(w) if w != s.name => Set(w)
          case Some(_)                => Set.empty[String]
          case None =>
            throw new IllegalArgumentException(
              s"stage ${s.name} reads mapping '${r.mappingName}' that no stage writes")
        }
      }
    }.toMap
    val ordered = Vector.newBuilder[StageSpec]
    val placed = scala.collection.mutable.Set.empty[String]
    var remaining = spec.stages
    while (remaining.nonEmpty) {
      val next = remaining.find(s => deps(s.name).forall(placed)).getOrElse(
        throw new IllegalArgumentException(
          s"mapping dependency cycle among stages ${remaining.map(_.name)}"))
      ordered += next
      placed += next.name
      remaining = remaining.filterNot(_.name == next.name)
    }
    ordered.result()
  }

  /** Execute the pipeline for one `hour`. Returns each stage's output and
    * the final mapping DataFrames. Outputs are written as JSON when the
    * stage declares `output_file` (resolved through `resolve`).
    *
    * Work that does not depend on an earlier stage does not wait for it:
    *  - every path is resolved up front on the calling thread, in stage
    *    order (a stage's input, then its output when outputs are written);
    *  - every stage input's schema inference runs at once;
    *  - the enriched and mapping frames are built lazily in topological
    *    order, as before, so the plans are unchanged;
    *  - every stage write is submitted at once, so a long downstream chain
    *    does not queue behind the upstream writes.
    * Reads and writes run on a pool of one thread per stage, created and
    * shut down inside the call; its threads inherit the caller's Spark
    * local properties. When a stage fails, the stages that do not depend
    * on it still run, and once every write has settled `run` throws the
    * failure of the first failed stage in stage order.
    */
  def run(
      spark: SparkSession,
      spec: PipelineSpec,
      hour: String,
      resolve: PathResolver = s3aResolver,
      writeOutputs: Boolean = true): (Vector[StageResult], Map[String, DataFrame]) = {
    val stages = orderStages(spec)
    val paths = stages.map { stage =>
      val input = stage.input match {
        case LocalFileInput(p) => resolve(Io.templated(p, hour))
        case S3Input(bucket, prefix) => resolve(s"s3a://$bucket/${Io.templated(prefix, hour)}")
      }
      (input, stage.outputFile.filter(_ => writeOutputs).map(out => resolve(Io.templated(out, hour))))
    }
    val pool = Executors.newFixedThreadPool(math.max(1, stages.size), { (r: Runnable) =>
      val t = new Thread(r, s"graft-pipeline-$hour")
      t.setDaemon(true)
      t
    })
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def settled[T](f: Future[T]): Try[T] = Try(Await.result(f, Duration.Inf))
      val raws = paths.map { case (input, _) =>
        Future(spark.read.option("multiLine", value = true).json(input))
      }
      var mappings = Map.empty[String, Try[DataFrame]]
      val enriched = stages.zip(raws).map { case (stage, raw) =>
        val df = settled(raw).flatMap { r =>
          stage.mappingRead match {
            case Some(MappingRead(name, keyField)) => mappings(name).flatMap(m => Try(Enrich(r, m, keyField)))
            case None => Success(r)
          }
        }
        stage.mappingWrite.foreach { w =>
          // Extraction runs on the enriched records (reference order:
          // enrich, then extract — src/data_processor.py:24-34).
          mappings += w.mappingName ->
            df.flatMap(e => Try(Mappings.extract(e, w.keyPath, w.valueFields.toSeq, w.single)))
        }
        df
      }
      // Every write is in flight before the first one is awaited.
      val writes = enriched.zip(paths).map { case (df, (_, output)) =>
        df.toOption.zip(output).map { case (e, out) => Future(Io.writeJson(e, out, singleFile = true)) }
      }
      val written = writes.map(_.fold[Try[Unit]](Success(()))(settled))
      enriched.zip(written).foreach { case (df, w) => df.get; w.get }
      (stages.zip(enriched).map { case (stage, df) => StageResult(stage, df.get) },
        mappings.map { case (name, m) => name -> m.get })
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Arrival-driven execution — the native replacement for the reference's
    * Airflow HTTP sensors (`src/pipeline_dag.py:65-88`, SURVEY §2.1 S5).
    *
    * A file stream watches the first stage's input directory; each
    * micro-batch extracts the `{hour}` partition from the newly-arrived
    * file names and runs the compiled pipeline once per new hour. No
    * polling loop, no retry budget: discovery, checkpointing, and
    * exactly-once hour processing come from Structured Streaming. At
    * scale the watch dir is an object-store prefix and each hour's run is
    * a distributed batch job — the driver only sequences hours.
    *
    * Restart safety: with `stateDir` set, every completed hour writes an
    * empty marker file there, and a (re)started query seeds its
    * processed-hour set from the existing markers — a driver restart skips
    * hours that already committed. The marker is written AFTER the hour's
    * outputs, so a crash mid-hour re-runs that hour on restart
    * (at-least-once; safe because stage outputs are overwrite-mode).
    * Without `stateDir` the set is in-memory only (single-process
    * lifetime), as before.
    *
    * @param hourFromFile extracts the hour partition from an arrived file
    *                     path (e.g. `user_exp_(\d{10})\.json` capture)
    * @param stateDir     durable dir (any Hadoop FS) for completion markers
    * @param onHour       callback after an hour completes (tests; metrics)
    */
  def runOnArrival(
      spark: SparkSession,
      spec: PipelineSpec,
      watchDir: String,
      hourFromFile: String => Option[String],
      resolve: PathResolver = s3aResolver,
      writeOutputs: Boolean = true,
      stateDir: Option[String] = None,
      onHour: String => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen = scala.collection.mutable.Set.empty[String]
    stateDir.foreach { d =>
      val fs = fsOf(d)
      val p = fs.makeQualified(new org.apache.hadoop.fs.Path(d))
      if (fs.exists(p)) seen ++= fs.listStatus(p).map(_.getPath.getName)
    }
    spark.readStream
      .format("text")
      .load(watchDir)
      .select(input_file_name().as("file"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val hours = batch.select("file").distinct().collect()
          .flatMap(r => hourFromFile(r.getString(0))).distinct.sorted
        hours.filterNot(seen).foreach { hour =>
          run(spark, spec, hour, resolve, writeOutputs)
          seen += hour
          stateDir.foreach { d =>
            fsOf(d).create(new org.apache.hadoop.fs.Path(d, hour), true).close()
          }
          onHour(hour)
        }
      }
      .start()
  }
}
