package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.ZipFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Local-file acquisition: zip extraction, pattern retention with
  * quarantine, and the raw CSV scan (reference operators S2-S4,
  * reference src/ingestion_kaggle.py:59-159 and
  * src/pipeline_orchestrator.py:70-72). The Kaggle egress step (S1) is
  * out of scope in this zero-egress environment — acquisition starts
  * from a local directory of zips/CSVs.
  */
object Ingest {

  /** Marker proving a directory was created by acquire() — the rebuild
    * delete refuses to touch any directory without it, so a config typo
    * pointing work_dir at real data fails loudly instead of erasing it.
    */
  private val WorkDirMarker = ".graft_workdir"

  /** Copy raw files into workDir, extract every zip (recursively — the
    * Kaggle bundle contains nested csv.zips), then quarantine files
    * matching no configured pattern into `_ignored/`. Returns the
    * retained files. Idempotent: workDir is rebuilt on each call.
    */
  def acquire(cfg: IngestConfig): Seq[Path] = {
    val raw = Paths.get(cfg.rawDir)
    val work = Paths.get(cfg.workDir)
    if (Files.exists(work)) {
      val underTmp = work.toAbsolutePath.normalize.startsWith(
        Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize)
      val deletable = underTmp ||
        Files.exists(work.resolve(WorkDirMarker)) ||
        !Using.resource(Files.list(work))(_.iterator().hasNext)
      require(deletable,
        s"refusing to rebuild work_dir $work: it exists, is non-empty, is not " +
          s"under the system temp dir, and was not created by a prior run (no " +
          s"$WorkDirMarker marker). If it really is a scratch dir, delete it " +
          "manually or point work_dir elsewhere.")
      deleteRecursively(work)
    }
    Files.createDirectories(work)
    Files.createFile(work.resolve(WorkDirMarker))

    listFiles(raw)
      .foreach(p => Files.copy(p, work.resolve(p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING))

    // Extract until no unextracted zips remain (nested archives).
    var extracted = true
    while (extracted) {
      extracted = false
      listFiles(work)
        .filter(_.toString.endsWith(".zip"))
        .foreach { z =>
          extractZip(z, work)
          Files.delete(z)
          extracted = true
        }
    }

    val (keep, ignore) = listFiles(work)
      .filterNot(_.getFileName.toString == WorkDirMarker) // stays for next rebuild
      .partition(p => cfg.filePatterns.contains(p.getFileName.toString))
    if (ignore.nonEmpty) {
      val quarantine = work.resolve("_ignored")
      Files.createDirectories(quarantine)
      ignore.foreach(p => Files.move(p, quarantine.resolve(p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING))
    }
    keep.sortBy(_.getFileName.toString)
  }

  /** First-written-wins for data files (features.csv legitimately exists
    * both flat and zipped with identical content), EXCEPT nested
    * archives colliding with an existing name: those are written under a
    * unique `nested_` prefix so their contents are still extracted
    * rather than silently lost.
    */
  private def extractZip(archive: Path, outDir: Path): Unit =
    Using.resource(new ZipFile(archive.toFile)) { zf =>
      zf.entries().asScala.filterNot(_.isDirectory).foreach { e =>
        val name = Paths.get(e.getName).getFileName.toString
        val target = outDir.resolve(name)
        val dest =
          if (!Files.exists(target)) Some(target)
          else if (name.endsWith(".zip"))
            Some(outDir.resolve(s"nested_${System.nanoTime()}_$name"))
          else None
        dest.foreach { t =>
          Using.resource(zf.getInputStream(e))(in => Files.copy(in, t))
        }
      }
    }

  private def listFiles(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq)

  /** Recursive, null-safe delete (shared with `graft.Bucketing`'s
    * stale-warehouse cleanup; File.delete silently fails on non-empty
    * dirs).
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete))

  /** Raw CSV scan: header-aware, `"`-escaped, and deliberately NOT
    * schema-inferred — every column arrives as string and typing happens
    * in the schema-enforcement pass (so 'NA' → null coercion is a cast
    * semantic, not a parse option).
    *
    * `multiLine` trades parse semantics for parallelism: true handles
    * quoted embedded newlines (the reference's S4 read shape) but pins
    * each file to ONE task; false splits files across tasks — the only
    * viable shape once a file outgrows a single core. Both parse
    * newline-free data identically (RetailPipelineSpec pins this).
    */
  def readCsv(spark: SparkSession, paths: Seq[String],
              multiLine: Boolean = true): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", multiLine.toString)
      .option("escape", "\"")
      .csv(paths: _*)
}
