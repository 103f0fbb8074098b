package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Recursive delete of a local directory — Verify's output dir, the
  * probes' temp corpora, the specs' fixture dirs. A missing path is a
  * no-op. */
object LocalFiles {
  def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally paths.close()
    }
  }
}
