package graft

import graft.pipeline._
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `RetailPipeline.run` end to end on the generated `RetailRaw` files,
  * so the quality gate's dedup path, every sink kind and the pipeline's
  * Spark-job count are pinned without the reference's data
  * (RetailPipelineSpec keeps the golden numbers on the real files).
  */
class RetailPipelineLocalSpec extends SparkSpec {

  private lazy val raw = RetailRaw.write(Files.createTempDirectory("retail_raw"))
  private lazy val base = PipelineConfig.load("conf/retail_pipeline.yaml")

  /** A config reading the generated raw dir, with its own temp work dir
    * and sink path, `edit` applied on top.
    */
  private def config(edit: PipelineConfig => PipelineConfig = identity): PipelineConfig = {
    val tmp = Files.createTempDirectory("retail_run")
    edit(base.copy(
      ingest = base.ingest.copy(rawDir = raw.toString, workDir = tmp.resolve("raw").toString),
      sink = base.sink.copy(path = tmp.resolve("curated").toString),
      logFile = None))
  }

  /** The pipeline registers session-wide views; drop them so a later
    * suite sharing the session never reads this spec's generated tables.
    */
  override def afterAll(): Unit =
    try Seq("curated_sales", "typed_train", "typed_features", "typed_stores")
      .foreach(spark.catalog.dropTempView)
    finally super.afterAll()

  private def tableNames(cfg: PipelineConfig): Seq[String] = cfg.sink.tables.map(_._2)

  /** The typed frame Quality.run profiled: the extracted CSV, schema
    * enforced.
    */
  private def typed(cfg: PipelineConfig, key: String): DataFrame = {
    val csv = Path.of(cfg.ingest.workDir, s"$key.csv").toString
    Quality.enforceSchema(Ingest.readCsv(spark, Seq(csv), cfg.ingest.multiLine),
      cfg.datasets.toMap.apply(key).schema, cfg.quality.failOnSchemaMismatch)._1
  }

  test("quality reports equal the separate count, distinct and null/empty " +
      "formulas, with drop_duplicates on and off") {
    for (dedup <- Seq(true, false)) {
      val cfg = config(c => c.copy(quality = c.quality.copy(dropDuplicates = dedup)))
      val result = RetailPipeline.run(spark, cfg)
      assert(result.reports.map(_.datasetKey).sorted === Seq("features", "stores", "train"))
      result.reports.foreach { r =>
        val df = typed(cfg, r.datasetKey)
        val rows = df.count()
        val distinct = df.distinct().count()
        val fracs = df.columns.toSeq.map(c =>
          c -> df.filter(col(c).isNull || col(c) === "").count().toDouble / rows)
        val rowCount = if (dedup) distinct else rows
        assert(r.copy(issues = Nil) === QualityReport(r.datasetKey, schemaOk = true,
          fracs, rows - distinct, rowCount, Nil), s"dedup=$dedup")
        assert(spark.table(s"typed_${r.datasetKey}").count() === rowCount)
      }
      val byKey = result.reports.map(r => r.datasetKey -> r).toMap
      // the planted duplicate and the "" date are seen
      assert(byKey("train").duplicateCount === 1L)
      assert(byKey("train").rowCount === RetailRaw.trainLines.size - (if (dedup) 1 else 0))
      assert(byKey("train").nullFractions.toMap.apply("Date") > 0.0)
      assert(byKey("features").issues.exists(_.contains("High null fraction in MarkDown2")))
      assert(result.writtenRows.map(_._1) === tableNames(cfg))
      result.writtenRows.foreach { case (t, n) =>
        assert(spark.read.parquet(s"${cfg.sink.path}/$t").count() === n, t)
      }
      assert(result.writtenRows.toMap.apply("sales_curated") === byKey("train").rowCount)
      result.curated.values.foreach(_.unpersist(blocking = true))
    }
  }

  test("writtenRows equals the read-back count on every sink kind: parquet, " +
      "partitioned parquet, sqlite_compat and jdbc") {
    val derby = Files.createTempDirectory("retail_derby").resolve("db")
    val kinds: Seq[(String, PipelineConfig => PipelineConfig, PipelineConfig => String => DataFrame)] = {
      def parquet(c: PipelineConfig)(t: String) = spark.read.parquet(s"${c.sink.path}/$t")
      Seq(
        ("parquet", identity[PipelineConfig], parquet),
        ("partitioned parquet", c => c.copy(sink = c.sink.copy(partitionBy = Seq("year"))), parquet),
        ("sqlite_compat", c => c.copy(sink = c.sink.copy(sqliteCompat = true)), parquet),
        ("jdbc", c => c.copy(sink = c.sink.copy(format = "jdbc",
          jdbcUrl = s"jdbc:derby:$derby;create=true")),
          c => t => spark.read.format("jdbc").option("url", c.sink.jdbcUrl)
            .option("dbtable", t).option("driver", c.sink.jdbcDriver).load()))
    }
    for ((kind, edit, readBack) <- kinds) {
      val cfg = config(edit)
      val result = RetailPipeline.run(spark, cfg)
      assert(result.writtenRows.map(_._1) === tableNames(cfg), kind)
      result.writtenRows.foreach { case (t, n) =>
        assert(n > 0L, s"$kind $t")
        assert(readBack(cfg)(t).count() === n, s"$kind $t")
        assert(result.curated(t).count() === n, s"$kind $t")
      }
      if (kind == "partitioned parquet")
        assert(Files.isDirectory(Path.of(cfg.sink.path, "sales_curated", "year=2011")))
      if (kind == "sqlite_compat")
        assert(readBack(cfg)("sales_curated").schema("date").dataType.typeName === "long")
      result.curated.values.foreach(_.unpersist(blocking = true))
    }
  }

  test("a warm RetailPipeline.run launches at most 39 Spark jobs") {
    // The budget: 3 CSV header reads; per dataset, one QC aggregate
    // (cache, two exchanges, result); 4 for the planted duplicate's dedup
    // cache; 2 broadcasts; and the four observed writes with their
    // exchanges and orderBy sampling. A per-table count or a second QC
    // pass shows up here as extra jobs.
    def runOnce(): Unit =
      RetailPipeline.run(spark, config()).curated.values.foreach(_.unpersist(blocking = true))
    runOnce() // warm-up
    val n = jobsDuring(runOnce())
    assert(n > 0L && n <= 39L, s"a warm RetailPipeline.run launched $n Spark jobs")
  }
}
