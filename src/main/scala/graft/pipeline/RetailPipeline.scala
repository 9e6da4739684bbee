package graft.pipeline

import graft.GraftSession
import graft.operators.Par
import org.apache.spark.sql.{DataFrame, SparkSession}

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

    // The four table writes land in distinct locations and all read the
    // persisted curated frame — independent jobs, run concurrently.
    // The first write materializes the shared persist; do it alone so
    // the others reuse the cache instead of racing to fill it.
    val sink = TableSink.from(cfg.sink)
    val sinkTables = cfg.sink.tables.flatMap { case (logical, physical) =>
      curated.get(logical).map(df => (physical, df))
    }
    val written = sinkTables match {
      case head +: tail =>
        def writeOne(physical: String, df: DataFrame): (String, Long) = {
          // The write itself materializes the frame; persisting first
          // means the post-write row count is a cache read instead of
          // re-running the aggregation from the curated frame (three
          // redundant jobs on q44's critical path otherwise). The big
          // curated table is already persisted by Transform — don't
          // double-cache it, and drop the short-lived caches once
          // counted.
          val wasCached =
            df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
          if (!wasCached) df.persist()
          try {
            sink.write(physical, df)
            val n = df.count()
            log.info(s"Sink $physical: $n rows")
            physical -> n
          } finally if (!wasCached) df.unpersist(blocking = false)
        }
        val first = writeOne(head._1, head._2)
        first +: Par.all(tail.map { case (p, df) => () => writeOne(p, df) })
      case _ => Seq.empty
    }

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
