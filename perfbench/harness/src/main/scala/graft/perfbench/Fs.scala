package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the benchmark's own directories. */
object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** (data files, bytes) under `dir`; checksum and marker files
    * (names starting with `.` or `_`) are not data.
    */
  def treeBytes(dir: String): (Long, Long) = {
    val files = walk(Paths.get(dir)).filter(Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
    (files.size.toLong, files.map(Files.size).sum)
  }

  def delete(dir: String): Unit =
    walk(Paths.get(dir)).reverse.foreach(Files.deleteIfExists)
}
