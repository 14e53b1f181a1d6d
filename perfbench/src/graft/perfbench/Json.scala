package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** JSON in and out, with the Jackson that ships with Spark. */
object Json {
  val mapper = new ObjectMapper()

  def parse(text: String): JsonNode = mapper.readTree(text)

  def readFile(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq

  /** A copy of `n` with every null-valued object field removed and every
    * string passed through `text`: Spark's JSON writer drops null fields,
    * so two records are compared on the fields they actually carry.
    */
  def normalized(n: JsonNode, text: String => String): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      fields(o).foreach { case (k, v) => if (!v.isNull) out.set[JsonNode](k, normalized(v, text)) }
      out
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      elements(a).foreach(v => out.add(normalized(v, text)))
      out
    case s if s.isTextual => mapper.getNodeFactory.textNode(text(s.asText()))
    case other => other
  }

  /** `n` rendered with object keys sorted, for order-free comparison. */
  def canonical(n: JsonNode): String = n match {
    case o: ObjectNode =>
      fields(o).sortBy(_._1).map { case (k, v) => mapper.writeValueAsString(k) + ":" + canonical(v) }
        .mkString("{", ",", "}")
    case a: ArrayNode => elements(a).map(canonical).mkString("[", ",", "]")
    case other => mapper.writeValueAsString(other)
  }

  /** `v` as JSON text. Scala maps become Jackson-ordered maps, so result
    * lines keep the key order of the `ListMap`s they are built from.
    */
  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case x => x.asInstanceOf[AnyRef]
  }
}
