package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-scan guards: the `path:line: text` of every match of
  * `pattern` in the `.scala` files under `root`, skipping the files
  * named in `allowed`. A match may span lines; it is reported at the
  * line it starts on. */
object SourceScan {

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally walk.close()
  }

  def offenders(root: String, pattern: String, allowed: Set[String]): Seq[String] =
    sources(root).filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val lines = text.split("\n", -1)
      pattern.r.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n')
        s"$p:${line + 1}: ${lines(line).trim}"
      }.toSeq
    }
}
