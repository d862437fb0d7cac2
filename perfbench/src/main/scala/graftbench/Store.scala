package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Size and removal of a store directory tree. */
object Store {
  private def files(base: Path): Seq[Path] =
    if (!Files.exists(base)) Nil
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.toSeq finally s.close()
    }

  def bytes(base: String): Long =
    files(Paths.get(base)).filter(Files.isRegularFile(_)).map(Files.size).sum

  def fileCount(base: String): Long =
    files(Paths.get(base)).count(Files.isRegularFile(_)).toLong

  def delete(p: Path): Unit = files(p).reverse.foreach(Files.delete)
}
