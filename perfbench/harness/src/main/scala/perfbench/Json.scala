package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Writes the run record and the trace file as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: java.nio.file.Path, v: Any): Unit = {
    java.nio.file.Files.createDirectories(path.toAbsolutePath.getParent)
    mapper.writeValue(path.toFile, v)
  }
}
