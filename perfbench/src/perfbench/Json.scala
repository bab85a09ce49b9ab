package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(s: String): JsonNode = mapper.readTree(s)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
