package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: query-name prefixes to run a subset while
    // iterating (the driver passes none → full battery).
    val prefixes = args.drop(2)
    def selected(name: String): Boolean =
      prefixes.isEmpty || prefixes.exists(name.startsWith)
    // GraftSession pins the semantics confs (ANSI off, UTC, nanosAsLong)
    // before the first plan is built rather than relying on each query's
    // defensive tune() call.
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // every other query's output and the oracle file are written; a
    // failed query still fails the run, loudly and by name
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
