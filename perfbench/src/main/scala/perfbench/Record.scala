package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON encoding for the run record, with the Jackson Scala module Spark
  * ships: maps keep their order, options become null. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Append-only JSON-lines run record. Each line is written and flushed as
  * soon as its measurement exists, so a killed run leaves every finished
  * line behind; a record without an `end` line is an aborted run. */
final class Record(path: String) {
  private val file = Paths.get(path)

  def emit(fields: (String, Any)*): Unit = synchronized {
    val line = Json(ListMap(fields: _*)) + "\n"
    Files.write(file, line.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
