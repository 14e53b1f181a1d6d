package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** The seven committed reference fixtures of hour 2024111612: three
  * inputs (user_exp, trace, log), three processed-stage goldens and the
  * TLB metrics golden.
  */
final class Fixtures(dir: Path) {
  private def array(name: String): Vector[JsonNode] =
    Json.elements(Json.readFile(dir.resolve(name))).toVector

  val userExp: Vector[JsonNode] = array("user_exp_2024111612.json")
  val trace: Vector[JsonNode] = array("trace_2024111612.json")
  val log: Vector[JsonNode] = array("log_2024111612.json")
  val userExpProcessed: Vector[JsonNode] = array("user_exp_processed_2024111612.json")
  val traceProcessed: Vector[JsonNode] = array("trace_processed_2024111612.json")
  val logProcessed: Vector[JsonNode] = array("log_processed_2024111612.json")
  val tlb: JsonNode = Json.readFile(dir.resolve("tlb_metrics_2024111612.json"))

  /** Top-level input records in one replica (15 events, 15 traces, 29 logs). */
  def recordsPerReplica: Int = userExp.size + trace.size + log.size
}

/** One generated hour: its label, replica count and input bytes. */
final case class Hour(index: Int, label: String, replicas: Int, inputBytes: Long, records: Long)

/** Deterministic input generator for the pipeline workloads.
  *
  * Each hour holds `replicas` key-disjoint copies of the reference
  * fixtures: every client/trace/span/event/log id gets the suffix
  * `_h<hour>r<replica>`, so replicas share no join key and every
  * expected output is the fixture's golden value per replica. The seed
  * picks each hour's replica count inside `Pipeline.Band` and the record
  * order inside each file.
  */
object Inputs {
  val IdFields: Set[String] = Set("clientId", "traceId", "spanId", "eventId", "logId")
  private val Suffix = "_h\\d+r\\d+$".r

  def suffix(hour: Int, replica: Int): String = s"_h${hour}r$replica"

  /** Undo [[suffix]] on one string: maps a replica id back to its fixture id. */
  def fixtureId(s: String): String = Suffix.replaceFirstIn(s, "")

  /** Hour labels run forward from 2024-11-16 00:00, one per index. */
  def hourLabel(index: Int): String =
    java.time.LocalDateTime.of(2024, 11, 16, 0, 0).plusHours(index.toLong)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH"))

  private def withIds(n: JsonNode, sfx: String): JsonNode = n match {
    case o: ObjectNode =>
      val out = Json.mapper.createObjectNode()
      Json.fields(o).foreach { case (k, v) =>
        val w =
          if (IdFields(k) && v.isTextual) Json.mapper.getNodeFactory.textNode(v.asText() + sfx)
          else withIds(v, sfx)
        out.set[JsonNode](k, w)
      }
      out
    case a: ArrayNode =>
      val out = Json.mapper.createArrayNode()
      Json.elements(a).foreach(v => out.add(withIds(v, sfx)))
      out
    case other => other
  }

  /** Writes `records` as one JSON array, one record per line. */
  private def writeArray(path: Path, records: Seq[String]): Long = {
    val body = records.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)
    Files.write(path, body)
    body.length.toLong
  }

  def writeHour(fx: Fixtures, dir: Path, index: Int, replicas: Int, rng: scala.util.Random): Hour = {
    Files.createDirectories(dir)
    val label = hourLabel(index)
    def replicate(src: Vector[JsonNode]): Seq[String] = {
      val rendered = (0 until replicas).flatMap { r =>
        val sfx = suffix(index, r)
        src.map(rec => Json.mapper.writeValueAsString(withIds(rec, sfx)))
      }
      rng.shuffle(rendered)
    }
    val bytes =
      writeArray(dir.resolve(s"user_exp_$label.json"), replicate(fx.userExp)) +
        writeArray(dir.resolve(s"trace_$label.json"), replicate(fx.trace)) +
        writeArray(dir.resolve(s"log_$label.json"), replicate(fx.log))
    Hour(index, label, replicas, bytes, replicas.toLong * fx.recordsPerReplica)
  }
}
