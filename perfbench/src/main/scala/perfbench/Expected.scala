package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

/** Output digests recorded at a commit whose outputs were checked
  * independently (see README.md). A digest that was never recorded for
  * a key is not an error: the pass-to-pass comparison still applies.
  * With `record` set, digests seen in this run are written back instead.
  */
final class Expected(file: File, record: Boolean) {
  private val mapper = Json.mapper
  private val root: ObjectNode =
    if (file.isFile) mapper.readTree(file).asInstanceOf[ObjectNode] else mapper.createObjectNode()

  def check(key: String, field: String, got: String): Option[String] = {
    val node = Option(root.get(key)).collect { case o: ObjectNode => o }
    if (record) {
      node.getOrElse(root.putObject(key)).put(field, got)
      None
    } else node.flatMap(n => Option(n.get(field))).map(_.asText).filter(_ != got)
      .map(want => s"$key $field: got $got, recorded $want")
  }

  def save(): Unit = if (record) {
    val sorted = mapper.createObjectNode()
    import scala.jdk.CollectionConverters._
    root.fieldNames.asScala.toSeq.sorted.foreach { k =>
      val inner = mapper.createObjectNode()
      val src = root.get(k)
      src.fieldNames.asScala.toSeq.sorted.foreach(f => inner.set[JsonNode](f, src.get(f)))
      sorted.set[JsonNode](k, inner)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(file, sorted)
  }
}
