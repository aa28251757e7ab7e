package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** File-tree helpers for the benchmark's work directory. */
object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(deleteRecursively) finally s.close()
      }
      Files.deleteIfExists(p)
    }

  /** Regular files under `p`, recursively. */
  def files(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
}
