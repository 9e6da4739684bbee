package graft.pipeline

import graft.GraftSession
import graft.operators.Par
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** End-to-end retail pipeline orchestrator (reference lifecycle §3:
  * acquire → scan → quality gate → transform → sink; reference
  * src/pipeline_orchestrator.py:106-171, minus the Py4J / Kaggle /
  * SQLite process boundaries — one JVM, local acquisition, pluggable
  * sink).
  *
  * Run: sbt "runMain graft.pipeline.RetailPipeline [configPath]"
  */
object RetailPipeline {

  final case class Result(
      reports: Seq[QualityReport],
      curated: Map[String, DataFrame],
      writtenRows: Seq[(String, Long)])

  def run(spark: SparkSession, cfg: PipelineConfig): Result = {
    GraftSession.tune(spark)
    // Reference logs each lifecycle stage to file+console
    // (src/pipeline_orchestrator.py:116-171); log_file is opt-in config.
    val log = RunLog("graft.pipeline", cfg.logFile)
    log.info("Starting retail pipeline")
    val files = Ingest.acquire(cfg.ingest)
    log.info(s"Acquired ${files.size} raw files: " +
      files.map(_.getFileName).mkString(", "))
    def fileFor(key: String): Option[String] =
      files.find(_.getFileName.toString == s"$key.csv").map(_.toString)

    // Scan + quality-gate each configured dataset (typed views registered
    // as typed_<key> for downstream consumers, mirroring the reference's
    // session-catalog handoff). The per-dataset QC actions are
    // independent blocking jobs, so they run CONCURRENTLY — the small
    // datasets' profiling overlaps the big one's instead of queueing
    // behind it (Spark schedules jobs from multiple driver threads
    // fine; each dataset touches only its own views/caches). `Par.all`
    // joins every chain before a failure surfaces, so the caller never
    // stops the session under an in-flight write.
    val gated: Seq[(String, DataFrame, QualityReport)] =
      Par.all(cfg.datasets.flatMap { case (key, spec) =>
        fileFor(key).map { path => () =>
          val raw = Ingest.readCsv(spark, Seq(path), cfg.ingest.multiLine)
          val (typed, report) = Quality.run(raw, key, spec, cfg.quality)
          log.info(s"QC $key: rows=${report.rowCount} " +
            s"dup=${report.duplicateCount} schemaOk=${report.schemaOk}")
          report.issues.foreach(i => log.warn(s"QC $key: $i"))
          (key, typed, report)
        }
      })
    val byKey = gated.map { case (k, df, _) => k -> df }.toMap

    val curated = Transform.buildCuratedTables(
      byKey("train"), byKey("features"), byKey("stores"),
      cfg.datasets.toMap)

    // The four table writes land in distinct locations and run at once.
    // Each table's row count is observed inside its own write (the
    // write's job collects the Observation), so no count job and no
    // per-table persist. The observe is the TOP node of the written frame
    // — above each aggregate's orderBy, whose range-partitioner sampling
    // job would otherwise feed the count too. The curated frame stays
    // persisted by Transform; writes first touching the same cached
    // partition wait on Spark's block write lock while one computes it.
    val sink = TableSink.from(cfg.sink)
    val written = Par.all(cfg.sink.tables.flatMap { case (logical, physical) =>
      curated.get(logical).map { df => () =>
        val rows = Observation()
        sink.write(physical, df.observe(rows, count(lit(1)).as("n")))
        val n = rows.get("n").asInstanceOf[Long]
        log.info(s"Sink $physical: $n rows")
        physical -> n
      }
    })

    log.info("Pipeline complete")
    Result(gated.map(_._3), curated, written)
  }

  def main(args: Array[String]): Unit = {
    val cfgPath = args.headOption.getOrElse("conf/retail_pipeline.yaml")
    val cfg = PipelineConfig.load(cfgPath)
    val spark = GraftSession.get(cfg.appName)
    try run(spark, cfg)
    finally spark.stop()
  }
}
