package graft.pipeline

import java.io.StringReader
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.{DuplicateKeyException, SafeConstructor}
import org.yaml.snakeyaml.error.YAMLException
import org.yaml.snakeyaml.nodes.{MappingNode, Node, ScalarNode, Tag}

/** Pipeline specification — the typed form of the reference's YAML
  * (`pipelines/observability_correlation_pipeline.yaml:2-44`). The YAML dict
  * IS the reference's logical plan (SURVEY §3 EP1); here it becomes a
  * checked structure the compiler can order and optimize.
  */
final case class PipelineSpec(name: String, stages: Vector[StageSpec])

/** @param input the stage's input path template, `{hour}` resolved per run:
  *              `type: local_file` is its `file_path` (reference
  *              `src/data_processor.py:44-48`); `type: s3` is
  *              `s3a://<bucket>/<prefix>` (replaces the reference's curl
  *              workaround, `src/data_processor.py:56-88`).
  */
final case class StageSpec(
    name: String,
    description: String,
    input: String,
    mappingRead: Option[MappingRead],
    mappingWrite: Option[MappingWrite],
    outputFile: Option[String])

/** Enrich this stage's records from a named mapping
  * (reference `src/data_processor.py:24-28`).
  */
final case class MappingRead(mappingName: String, keyField: String)

/** Extract (key → value) pairs from this stage's records into a named
  * mapping (reference `src/data_processor.py:30-34`). `valueFields` with
  * `single = true` reproduces the single-field wrap + null-skip semantics.
  */
final case class MappingWrite(mappingName: String, keyPath: String, valueFields: Vector[String], single: Boolean)

object PipelineSpec {

  /** Parse the reference YAML shape into a spec. The reference loads it
    * with PyYAML's `yaml.safe_load` (SURVEY §3 EP1); this is SnakeYAML's
    * safe loader, the same YAML 1.1 family, so the YAML forms the
    * reference reads (block or flow lists and maps, quoting, comments)
    * read the same here. Stages keep declaration order, and scalars are
    * read as text (`prefix: 2024` is `"2024"`, `prefix: 2024-11-16` is
    * `"2024-11-16"`).
    *
    * A malformed spec fails with an `IllegalArgumentException` naming the
    * key by its path (`stages.stage_2.input.bucket`): a missing required
    * key, a non-map where a map belongs, an unknown input `type`, a
    * duplicated key or stage name, or text that is not YAML.
    */
  def fromYaml(text: String): PipelineSpec = {
    val opts = new LoaderOptions
    opts.setAllowDuplicateKeys(false)
    val yaml = new Yaml(new SafeConstructor(opts) {
      // A date-shaped scalar (`prefix: 2024-11-16`) stays its text, not a
      // `java.util.Date` whose `toString` is another text.
      yamlConstructors.put(Tag.TIMESTAMP, new ConstructYamlStr)
    })
    val root = try yaml.load[Any](text) catch {
      case e: DuplicateKeyException =>
        fail(duplicateKey(yaml.compose(new StringReader(text)), "").fold(e.getMessage)(k => s"duplicate key '$k'"))
      case e: YAMLException => fail(e.getMessage)
    }
    val top = new Fields(root, "")
    PipelineSpec(top.str("pipeline_name"), top.fields("stages").children.map { case (name, stage) =>
      val input = stage.fields("input")
      val mappings = stage.optFields("redis_mappings")
      StageSpec(
        name = name,
        description = stage.optStr("description").getOrElse(""),
        input = input.str("type") match {
          case "local_file" => input.str("file_path")
          case "s3" => s"s3a://${input.str("bucket")}/${input.str("prefix")}"
          case other => fail(s"unknown input type '$other' at 'stages.$name.input.type'")
        },
        mappingRead = mappings.flatMap(_.optFields("read"))
          .map(r => MappingRead(r.str("redis_key_prefix"), r.str("key_field"))),
        mappingWrite = mappings.flatMap(_.optFields("write")).map { w =>
          val ff = w.fields("from_fields")
          val single = !ff("value").isInstanceOf[java.util.List[_]]
          MappingWrite(w.str("redis_key_prefix"), ff.str("key"), ff.strs("value"), single)
        },
        outputFile = stage.optStr("output_file"))
    })
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"pipeline spec: $msg")

  private def scalar(v: Any, path: String): String = v match {
    case _: java.util.Map[_, _] | _: java.util.List[_] => fail(s"'$path' is not a scalar: $v")
    case _ => String.valueOf(v)
  }

  /** One loaded YAML map and its key path in the spec (empty at the root). */
  private final class Fields(node: Any, path: String) {
    private val m = node match {
      case m: java.util.Map[_, _] => m
      case other => fail(s"'${if (path.isEmpty) "the document" else path}' is not a map: $other")
    }
    private def at(key: String) = if (path.isEmpty) key else s"$path.$key"
    def opt(key: String): Option[Any] = Option(m.get(key))
    def apply(key: String): Any = opt(key).getOrElse(fail(s"missing key '${at(key)}'"))
    def fields(key: String): Fields = new Fields(apply(key), at(key))
    def optFields(key: String): Option[Fields] = opt(key).map(new Fields(_, at(key)))
    def str(key: String): String = scalar(apply(key), at(key))
    def optStr(key: String): Option[String] = opt(key).map(scalar(_, at(key)))
    /** A list of scalars, or one scalar as a one-element list. */
    def strs(key: String): Vector[String] = apply(key) match {
      case vs: java.util.List[_] => vs.asScala.toVector.map(scalar(_, at(key)))
      case v => Vector(scalar(v, at(key)))
    }
    def children: Vector[(String, Fields)] =
      m.asScala.toVector.map { case (k, v) => String.valueOf(k) -> new Fields(v, at(String.valueOf(k))) }
  }

  /** Dotted path of the first key repeated within one map, for the error. */
  private def duplicateKey(node: Node, path: String): Option[String] = node match {
    case m: MappingNode =>
      val entries = m.getValue.asScala.toVector.map { t =>
        path + (t.getKeyNode match { case k: ScalarNode => k.getValue; case k => k.toString }) -> t.getValueNode
      }
      val keys = entries.map(_._1)
      keys.diff(keys.distinct).headOption
        .orElse(entries.iterator.flatMap { case (k, v) => duplicateKey(v, s"$k.") }.nextOption())
    case _ => None
  }
}
