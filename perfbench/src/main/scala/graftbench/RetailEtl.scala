package graftbench

import graft.pipeline._
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The reference's own job on seeded Walmart-shaped raw inputs:
  * acquire → CSV scan → quality gate → transform → parquet sink.
  *
  * Untraced passes call `RetailPipeline.run`. Traced passes call the
  * stages it is made of, one at a time and in its order, so each stage
  * is a span; that sequential form is what `trace.overhead_frac` compares
  * against the pipeline's own overlapped run.
  */
final class RetailEtl(ctx: Ctx, configPath: String) extends Workload {

  private val spark = ctx.spark
  private val rawDir = ctx.work.resolve("retail_raw")
  /** Acquisition rebuilds its work dir on every run; it lives under the
    * JVM's temp dir, which `Ingest.acquire`'s delete guard accepts.
    */
  private val root = Paths.get(System.getProperty("java.io.tmpdir"),
    s"graftbench_retail_${ctx.seed}")
  private val cfg: PipelineConfig = {
    val c = PipelineConfig.load(configPath)
    c.copy(
      ingest = c.ingest.copy(rawDir = rawDir.toString, workDir = root.resolve("raw").toString),
      sink = c.sink.copy(format = "parquet", path = root.resolve("curated").toString),
      logFile = None)
  }
  private var written: Seq[(String, Long)] = Nil

  def nominalPassS: Double = 2.0
  def opSamples: Seq[String] = Seq("etl")

  def prepare(rep: Int): Unit = {
    Fs.deleteTree(rawDir)
    Gen.writeFiles(rawDir, Gen.retailRaw(ctx.seed, stores = 10, weeks = 100, depts = 40))
  }

  def pass(): Unit =
    if (!ctx.trace.on) {
      ctx.timed("etl", "RetailPipeline.run") {
        val r = RetailPipeline.run(spark, cfg)
        written = r.writtenRows
        r.curated.values.foreach(_.unpersist(blocking = true))
      }
    } else ctx.timed("etl", "RetailPipeline stages")(staged())

  /** `RetailPipeline.run`'s stages, sequentially, each as a span. */
  private def staged(): Unit = {
    val t = ctx.trace
    val files = t.span("ingest", "Ingest.acquire")(Ingest.acquire(cfg.ingest))
    def fileFor(key: String) =
      files.find(_.getFileName.toString == s"$key.csv").map(_.toString)
    val gated = cfg.datasets.flatMap { case (key, spec) =>
      fileFor(key).map { path =>
        val raw = t.span("ingest", "Ingest.readCsv")(
          Ingest.readCsv(spark, Seq(path), cfg.ingest.multiLine))
        val (typed, _) = t.span("quality", "Quality.run")(
          Quality.run(raw, key, spec, cfg.quality))
        key -> typed
      }
    }.toMap
    val curated = t.span("transform", "Transform.buildCuratedTables")(
      Transform.buildCuratedTables(gated("train"), gated("features"), gated("stores"),
        cfg.datasets.toMap))
    val sink = TableSink.from(cfg.sink)
    written = cfg.sink.tables.flatMap { case (logical, physical) =>
      curated.get(logical).map { df =>
        t.span("sinks", "TableSink.write") {
          val cached = df.storageLevel != StorageLevel.NONE
          if (!cached) df.persist()
          try {
            sink.write(physical, df)
            physical -> df.count()
          } finally if (!cached) df.unpersist(blocking = false)
        }
      }
    }
    curated.values.foreach(_.unpersist(blocking = true))
  }

  private def csvBytes: Long = {
    val dir = root.resolve("raw")
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".csv"))
      .map(Files.size).sum
  }

  /** The curated tables as the q44/q54-q56 queries project them, for the
    * DuckDB recomputation from the same CSVs (PipelineQueries.oracles).
    */
  override def pending(): Seq[Pending] = {
    def sinkTable(t: String): DataFrame = spark.read.parquet(root.resolve("curated").resolve(t).toString)
    val projections: Seq[(String, DataFrame)] = Seq(
      "q44_retail_agg" -> sinkTable("agg_store_type_year").select(col("store_type"), col("year"),
        round(col("total_sales"), 2).as("total_sales"),
        round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
        col("num_stores").cast("bigint").as("num_stores")),
      "q54_sales_curated" -> sinkTable("sales_curated"),
      "q55_agg_store_dept" -> sinkTable("agg_store_dept").select(col("store_id"),
        col("department_id"), col("year"), col("month"), col("num_weeks"),
        round(col("sum_weekly_sales"), 2).as("sum_weekly_sales"),
        round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
        col("max_weekly_sales")),
      "q56_holidays" -> sinkTable("holidays_vs_normal").select(col("year"), col("is_holiday"),
        round(col("total_sales"), 2).as("total_sales"),
        round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
        col("rows")))
    val oracles = graft.queries.PipelineQueries.oracles
    projections.map { case (q, df) =>
      val got = ctx.dir("check").resolve(q).toString
      df.write.mode("overwrite").parquet(got)
      Pending(s"retail_etl.$q", got,
        oracles(q).replace("/tmp/graft_retail_q44/raw", root.resolve("raw").toString))
    }
  }

  def checks(): Seq[Check] = {
    val quarantined = Files.exists(root.resolve("raw/_ignored/sampleSubmission.csv"))
    val retained = Files.exists(root.resolve("raw/test.csv"))
    Seq(
      Check("retail_etl.quarantine", quarantined && retained, 2,
        Seq(quarantined, retained).count(identity)),
      Check("retail_etl.sink_tables", written.size == cfg.sink.tables.size,
        cfg.sink.tables.size, written.size))
  }

  def named(): Map[String, Double] = Map("etl_s" -> Stats.median(ctx.samples.get("etl")))

  override def counters(tr: Traced, passes: Int): Map[String, Double] = {
    val sinkBytes = Files.walk(root.resolve("curated")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    Map(
      "ingest.input_mb" -> csvBytes / 1048576.0,
      "sinks.output_mb" -> sinkBytes / 1048576.0,
      "quality.rescan_ratio" -> tr.inputBytesIn("Quality.run") / passes.toDouble / csvBytes)
  }
}
