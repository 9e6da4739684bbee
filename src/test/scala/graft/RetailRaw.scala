package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Using

/** A tiny Walmart-shaped raw dir for specs that must run without the
  * reference's data: a zipped `train.csv` with one planted full-row
  * duplicate and one quoted `""` cell, a flat `features.csv` whose
  * markdowns are mostly the literal `NA`, and `stores.csv`; booleans are
  * `TRUE`/`FALSE`. Three stores × two departments × eight weeks across
  * two years, so every curated aggregate has several groups.
  */
object RetailRaw {

  private val stores = Seq((1, "A", 151315), (2, "B", 202307), (3, "C", 37392))
  private val depts = Seq(1, 2)
  private val weeks: Seq[(String, Boolean)] = Seq(
    "2010-11-19" -> false, "2010-11-26" -> true, "2010-12-03" -> false,
    "2010-12-31" -> true, "2011-01-07" -> false, "2011-02-11" -> true,
    "2011-02-18" -> false, "2011-03-04" -> false)

  private def bool(b: Boolean) = if (b) "TRUE" else "FALSE"

  /** Train rows as CSV lines, the planted duplicate last; the line of
    * store 2, dept 1 in the first week carries `""` as its date.
    */
  def trainLines: Seq[String] = {
    val rows = for {
      (s, _, _) <- stores; d <- depts; ((date, hol), w) <- weeks.zipWithIndex
    } yield {
      val day = if (s == 2 && d == 1 && w == 0) "\"\"" else date
      s"$s,$d,$day,${s * 1000 + d * 100 + w}.25,${bool(hol)}"
    }
    rows :+ rows(3)
  }

  def write(dir: Path): Path = {
    Files.createDirectories(dir)
    val train = ("Store,Dept,Date,Weekly_Sales,IsHoliday" +: trainLines)
      .mkString("", "\n", "\n")
    Using.resource(new ZipOutputStream(Files.newOutputStream(dir.resolve("train.csv.zip")))) { z =>
      z.putNextEntry(new ZipEntry("train.csv"))
      z.write(train.getBytes(UTF_8))
      z.closeEntry()
    }
    val features = ("Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3," +
      "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday") +: (for {
        (s, _, _) <- stores; ((date, hol), w) <- weeks.zipWithIndex
      } yield {
        val md = if (w % 4 == 3) s"${w * 10 + s}.5" else "NA"
        val cpi = if (w == weeks.size - 1) "NA" else s"${210 + w}.1"
        s"$s,$date,${40 + w}.3,2.${50 + s},$md,NA,$md,NA,$md,$cpi,8.1,${bool(hol)}"
      })
    Files.writeString(dir.resolve("features.csv"), features.mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("stores.csv"),
      ("Store,Type,Size" +: stores.map { case (s, t, n) => s"$s,$t,$n" })
        .mkString("", "\n", "\n"))
    dir
  }
}
