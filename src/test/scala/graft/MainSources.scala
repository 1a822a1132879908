package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source guards: one helper owns a Spark call, and no other file in
  * `src/main/scala` may make it. */
object MainSources {
  /** `file:line` of every line outside `owner` (a path under
    * `src/main/scala`) whose code, comments stripped, matches `pattern`. */
  def hits(pattern: Regex, owner: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val exempt = root.resolve(owner)
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p != exempt)
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(code(line)).nonEmpty => s"$p:${i + 1}"
        }
      }
  }
}
