package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps session-global conf flips out of the engine. A `conf.set` /
  * `conf.unset` pair around a body leaks into every chain `Par.all`
  * runs beside it and races any other pair; the engine's only writers
  * of a session conf are `GraftSession.tune` (semantics confs, once per
  * session) and `Scoped` (on its own cloned session).
  */
class ConfGuardSpec extends AnyFunSuite {

  private val flip = raw"\bconf\.(set|unset)\(".r

  /** Non-comment source lines of `path` with their 1-based numbers. */
  private def codeLines(path: Path): Seq[(String, Int)] =
    Files.readAllLines(path).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l, i + 1) }
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }

  /** Line range of `def tune` in GraftSession.scala: up to the next
    * member's doc comment or definition.
    */
  private def tuneLines(path: Path): Range = {
    val lines = Files.readAllLines(path).asScala.toSeq
    val start = lines.indexWhere(_.contains("def tune("))
    assert(start >= 0, s"no def tune in $path")
    val end = lines.indexWhere(l => l.trim.startsWith("/**") ||
      l.trim.startsWith("def "), start + 1)
    (start + 1) to (if (end < 0) lines.length else end)
  }

  test("src/main sets or unsets a session conf only in GraftSession.tune and Scoped") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val offences = files.flatMap { f =>
      val allowed: Int => Boolean = f.getFileName.toString match {
        case "Scoped.scala" => _ => true
        case "GraftSession.scala" => tuneLines(f).contains
        case _ => _ => false
      }
      codeLines(f).collect { case (l, n)
          if flip.findFirstIn(l).isDefined && !allowed(n) =>
        s"${root.relativize(f)}:$n: ${l.trim}"
      }
    }
    assert(offences.isEmpty,
      "session-global conf flips leak into overlapped chains — build the " +
        "work on Scoped.withConf(spark, key -> value) { scoped => ... } " +
        "instead:\n" + offences.mkString("\n"))
  }
}
