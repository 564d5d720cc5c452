package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer behind every file and line the benchmark emits:
  * values are Scala maps (a `ListMap` keeps key order), sequences,
  * strings, numbers, booleans and null.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v) + "\n"
}
