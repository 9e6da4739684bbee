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
  * drifting copies of that loop came about. And every query gate
  * reports a broken invariant through `GateOps.refereed`; a one-row
  * relation filtered on a driver flag, or a probe's first row selected
  * as literals, is how about seventy hand-typed copies of that row grew
  * across the battery. And DV deltas are read only through
  * `Manifest.readDeltas`, which passes their fixed schema; a bare
  * parquet read of a delta infers it in a footer job every time.
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

  /** A hand-built referee row, even split across lines. */
  private val refereeRow =
    raw"range\(1\)\s*\.filter\(lit\(|\.limit\(1\)\s*\.select\(lit\(".r

  /** A `….read….parquet(` call: its argument list is scanned for a DV
    * path (`dvFilePath`, `_dv/`).
    */
  private val parquetRead = raw"\.read\b[\w.()\s\",]*?\.parquet\(".r

  /** Offsets in `text` of parquet reads whose argument names a DV path. */
  private def dvReads(text: String): Seq[Int] =
    parquetRead.findAllMatchIn(text).toSeq.filter { m =>
      var (depth, i) = (1, m.end)
      while (i < text.length && depth > 0) {
        if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
        i += 1
      }
      val args = text.substring(m.end, i)
      args.contains("dvFilePath") || args.contains("_dv/")
    }.map(_.start)

  private val sources = Files.walk(Paths.get("src/main/scala")).iterator()
    .asScala.filter(_.toString.endsWith(".scala")).toSeq

  /** The lines of `path` with doc and line comments and a trailing `//`
    * tail blanked.
    */
  private def code(path: Path): Seq[String] =
    Files.readAllLines(path).asScala.toSeq.map { line =>
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
      else line.replaceAll("//.*$", "")
    }

  /** The enclosing member of each line of `path`. */
  private def owners(path: Path): Seq[String] =
    Files.readAllLines(path).asScala.toSeq.scanLeft("")((o, line) =>
      memberRe.findFirstMatchIn(line).fold(o)(_.group(1))).tail

  /** `pattern`'s hits in the code of `path` as (enclosing member,
    * location).
    */
  private def hits(path: Path, pattern: Regex): Seq[(String, String)] =
    Files.readAllLines(path).asScala.toSeq.zip(code(path))
      .zip(owners(path)).zipWithIndex
      .flatMap { case (((line, c), owner), i) =>
        pattern.findFirstIn(c)
          .map(_ => owner -> s"$path:${i + 1} (in $owner): ${line.trim}")
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

  test("src/main builds referee rows only in GateOps.refereed") {
    assert(refereeRow.findFirstIn("s.range(1)\n    .filter(lit(cond))")
      .nonEmpty && refereeRow.findFirstIn("p.limit(1)\n  .select(lit(1))")
      .nonEmpty, "the referee-row pattern no longer matches its idioms")
    val offences = sources.filterNot(_.endsWith("queries/GateOps.scala"))
      .flatMap { p =>
        val text = code(p).mkString("\n")
        refereeRow.findAllMatchIn(text).map(m =>
          s"$p:${text.take(m.start).count(_ == '\n') + 1}")
      }
    assert(offences.isEmpty,
      "a hand-built referee row outside GateOps — report the violation " +
        "as `GateOps.refereed(out, label)(flag(name, cond | probe))`, " +
        "which types the row from the gate's own schema:\n" +
        offences.mkString("\n"))
  }

  test("src/main reads DV deltas only in Manifest.readDeltas") {
    assert(dvReads("spark.read.parquet(h.dv.map(p => dvFilePath(dir, p)): _*)")
      .nonEmpty && dvReads("spark.read.option(\"a\", \"b\")\n" +
      "  .parquet(s\"$dir/_dv/d1\")").nonEmpty &&
      dvReads("spark.read.parquet(files.map(filePath(dir, _)): _*)").isEmpty,
      "the DV-read pattern no longer matches its idioms")
    val found = sources.flatMap { p =>
      val (text, own) = (code(p).mkString("\n"), owners(p))
      dvReads(text).map { i =>
        val line = text.take(i).count(_ == '\n')
        (p == manifest && own(line) == "readDeltas",
          s"$p:${line + 1} (in ${own(line)})")
      }
    }
    assert(found.exists(_._1), "Manifest.readDeltas no longer reads DV " +
      "deltas - this guard would watch nothing; update its pattern")
    val offences = found.collect { case (false, at) => at }
    assert(offences.isEmpty,
      "a DV delta read outside Manifest.readDeltas — read deltas through " +
        "it, which passes their fixed schema instead of inferring one " +
        "(a footer job per read):\n" + offences.mkString("\n"))
  }
}
