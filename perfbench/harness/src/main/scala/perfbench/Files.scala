package perfbench

import java.nio.file.{Files => JFiles, Path}
import scala.jdk.CollectionConverters._

object Files {
  /** Deletes a file or directory tree; a missing path is not an error. */
  def deleteTree(p: Path): Unit =
    if (JFiles.exists(p)) {
      val walk = JFiles.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.sortBy(-_.getNameCount).foreach(JFiles.deleteIfExists)
    }
}
