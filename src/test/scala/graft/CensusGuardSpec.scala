package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Keeps Manifest's entry censuses and its commit protocol written
  * once. Every census is a set of Scala functions over `Entry` run by
  * `Manifest.census`, which alone picks the driver parse or the
  * distributed entry relation; a new `driverCensus` / `readManifest` /
  * `entriesRelation` call beside it is how the paired
  * driver/distributed twins came back. The only other regime choices
  * are `vacuum`'s filesystem listing and the index builds' payload
  * attach (`indexPass`). Likewise every verb that stages bytes and then
  * publishes them goes through `Manifest.publish`, the one
  * optimistic-concurrency loop; a second lost-race retry is how four
  * drifting copies of that loop came about.
  */
class CensusGuardSpec extends AnyFunSuite {

  private val manifest =
    Paths.get("src/main/scala/graft/operators/Manifest.scala")

  /** An entry-census call (not its definition). */
  private val call =
    raw"(?<!def )\b(driverCensus|readManifest|entriesRelation)\(".r
  private val allowed = Set("census", "vacuum", "indexPass")

  /** The lost-race retry: a commit's "lost the race" failure caught to
    * try again.
    */
  private val retry = raw"case \w+: IllegalArgumentException if attempt".r

  /** A member of `object Manifest`: two-space indent, then modifiers. */
  private val member = raw"^  (?:private(?:\[\w+\])? )?(?:final )?(?:lazy )?" +
    raw"(?:def|val|var|class|case class|object|type) (\w+)"
  private val memberRe = member.r

  /** `pattern`'s hits in the code of `path` — doc and line comments and
    * a trailing `//` tail skipped — as (enclosing member, location).
    */
  private def hits(path: Path, pattern: Regex): Seq[(String, String)] = {
    var owner = ""
    Files.readAllLines(path).asScala.toSeq.zipWithIndex.flatMap {
      case (line, i) =>
        memberRe.findFirstMatchIn(line).foreach(m => owner = m.group(1))
        val t = line.trim
        val code =
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
          else line.replaceAll("//.*$", "")
        pattern.findFirstIn(code)
          .map(_ => owner -> s"$path:${i + 1} (in $owner): $t")
    }
  }

  test("Manifest reads entries only in census, vacuum and indexPass") {
    val offences = hits(manifest, call).collect {
      case (owner, at) if !allowed(owner) => at
    }
    assert(offences.isEmpty,
      "an entry census outside Manifest.census — write it as functions " +
        "over Entry on a `census(spark, legs)` (collect / keys / join / " +
        "reduce / carry), which picks the regime once:\n" +
        offences.mkString("\n"))
  }

  test("src/main retries a lost publish race only in Manifest.publish") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val found = sources.flatMap(p =>
      hits(p, retry).map { case (owner, at) => (p == manifest, owner, at) })
    assert(found.exists { case (m, owner, _) => m && owner == "publish" },
      "Manifest.publish no longer holds the retry idiom - this guard " +
        "would watch nothing; update its pattern")
    val offences = found.collect {
      case (m, owner, at) if !(m && owner == "publish") => at
    }
    assert(offences.isEmpty,
      "a lost-race retry loop outside Manifest.publish — stage the bytes " +
        "and publish them through `publish`, which re-checks the stamp, " +
        "the staged bytes and the write-set conflicts on every attempt:\n" +
        offences.mkString("\n"))
  }
}
