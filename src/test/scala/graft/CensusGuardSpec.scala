package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps Manifest's entry censuses written once. Every census is a set
  * of Scala functions over `Entry` run by `Manifest.census`, which
  * alone picks the driver parse or the distributed entry relation; a
  * new `driverCensus` / `readManifest` / `entriesRelation` call beside
  * it is how the paired driver/distributed twins came back. The only
  * other regime choices are `vacuum`'s filesystem listing and the index
  * builds' payload attach (`indexPass`).
  */
class CensusGuardSpec extends AnyFunSuite {

  private val call =
    raw"\b(driverCensus|readManifest|entriesRelation)\(".r
  private val definition =
    raw"\bdef (driverCensus|readManifest|entriesRelation)\(".r
  /** A member of `object Manifest`: two-space indent, then modifiers. */
  private val member = raw"^  (?:private(?:\[\w+\])? )?(?:final )?(?:lazy )?" +
    raw"(?:def|val|var|class|case class|object|type) (\w+)"
  private val memberRe = member.r
  private val allowed = Set("census", "vacuum", "indexPass")

  test("Manifest reads entries only in census, vacuum and indexPass") {
    val path = Paths.get("src/main/scala/graft/operators/Manifest.scala")
    val lines = Files.readAllLines(path).asScala.toSeq
    var owner = ""
    val offences = lines.zipWithIndex.flatMap { case (line, i) =>
      memberRe.findFirstMatchIn(line).foreach(m => owner = m.group(1))
      val t = line.trim
      // comment-aware: doc and line comments, and a trailing `//` tail
      val code =
        if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
        else line.replaceAll("//.*$", "")
      if (call.findFirstIn(code).isDefined &&
          definition.findFirstIn(code).isEmpty && !allowed(owner))
        Some(s"$path:${i + 1} (in $owner): ${line.trim}")
      else None
    }
    assert(offences.isEmpty,
      "an entry census outside Manifest.census — write it as functions " +
        "over Entry on a `census(spark, legs)` (collect / keys / join / " +
        "reduce / carry), which picks the regime once:\n" +
        offences.mkString("\n"))
  }
}
