package graft

import scala.jdk.CollectionConverters._

/** Shared by the source-level gate specs, which read the program's own
  * sources so that a banned shape cannot quietly return. */
private[graft] object SourceGate {

  /** The lines of `source` with every whole-line comment blanked (a
    * line that starts with a line-comment, block-comment or scaladoc
    * marker): line numbers still match the file, and docs that name a
    * banned shape cannot trip a gate. */
  def code(source: String): Vector[String] = source.linesIterator.map { l =>
    val t = l.trim
    if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) "" else l
  }.toVector

  /** (file name, content) of every `.scala` file under `dir`, sorted. */
  def scalaFiles(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
  }
}
