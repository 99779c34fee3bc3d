package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** The plan `run.py` hands in, and the raw results it reads back. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
