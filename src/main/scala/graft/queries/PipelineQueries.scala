package graft.queries

import graft.pipeline._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference-parity ETL under the oracle: q44 runs the WHOLE
  * pipeline (zip extraction → CSV scan → schema enforcement → quality
  * gate → joins → curated aggregates → sink) and q54-q56 put the other
  * three curated outputs (reference src/transform_spark.py:127-158 and
  * testing/sql_queries.ipynb cell 9) under the same hash gate — all four
  * reference outputs are driver-checked, not just the store_type×year
  * aggregate. The DuckDB oracles recompute each output straight from the
  * extracted CSVs with the same permissive-cast semantics (TRY_CAST ≙
  * ANSI-off cast). (`sfDir` is ignored — the workload is pinned to the
  * reference's raw data, like the baseline it mirrors.)
  */
object PipelineQueries {
  import RelationalQueries.Q

  /** Deterministic work dir — the oracle SQL reads the extracted CSVs
    * from here, so it must be stable across Verify and the oracle run,
    * and the Spark query must run first (Verify does run queries before
    * the oracles execute). Known blind spot: the oracle aggregates the
    * raw CSVs without the quality gate's dropDuplicates — equivalent
    * today because the retail CSVs contain no full-row duplicates. The
    * dedup path is pinned instead by RetailPipelineLocalSpec, which
    * plants a full-row duplicate in generated raw files.
    */
  private val workDir = "/tmp/graft_retail_q44"

  private def configPath: String =
    if (Files.exists(Paths.get("conf/retail_pipeline.yaml"))) "conf/retail_pipeline.yaml"
    else "/root/repo/conf/retail_pipeline.yaml"

  /** One pipeline run per session, shared by q44/q54/q55/q56 — exactly
    * how a real consumer uses the curated layer (materialize once, query
    * many). q44 sorts first in Verify/Bench, so the end-to-end cost is
    * attributed to it and the curated views measure their own plans.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, RetailPipeline.Result]()

  private def pipeline(s: SparkSession): RetailPipeline.Result =
    memo.computeIfAbsent(s, (sess: SparkSession) => {
      val cfg0 = PipelineConfig.load(configPath)
      val cfg = cfg0.copy(
        ingest = cfg0.ingest.copy(workDir = s"$workDir/raw"),
        sink = cfg0.sink.copy(path = s"$workDir/curated"))
      RetailPipeline.run(sess, cfg)
    })

  /** Forget the session's pipeline memo and drop its caches. Bench calls
    * this between battery passes: q44 is the baseline-comparable
    * end-to-end ETL number, and letting pass 2+ serve it from pass 1's
    * persisted curated frame would quietly turn the headline comparison
    * into a cache read (0.6 s "ETL") instead of the real 6-7 s run.
    */
  def reset(s: SparkSession): Unit =
    Option(memo.remove(s)).foreach(
      _.curated.values.foreach(_.unpersist(blocking = false)))

  val queries: Map[String, Q] = Map(
    "q44_retail_agg" -> ((s, _) => {
      pipeline(s).curated("agg_store_type_year")
        .select(col("store_type"), col("year"),
          round(col("total_sales"), 2).as("total_sales"),
          round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
          col("num_stores").cast("bigint").as("num_stores"))
        .orderBy("store_type", "year")
    }),

    // The 421,570×19 sales_curated contract itself (reference
    // testing/sql_queries.ipynb cell 9), hash-checked column by column.
    "q54_sales_curated" -> ((s, _) => {
      pipeline(s).curated("sales_curated")
        .orderBy("store_id", "department_id", "date")
    }),

    "q55_agg_store_dept" -> ((s, _) => {
      pipeline(s).curated("agg_store_dept")
        .select(col("store_id"), col("department_id"), col("year"), col("month"),
          col("num_weeks"),
          round(col("sum_weekly_sales"), 2).as("sum_weekly_sales"),
          round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
          col("max_weekly_sales"))
        .orderBy("store_id", "department_id", "year", "month")
    }),

    "q56_holidays" -> ((s, _) => {
      pipeline(s).curated("holidays_vs_normal")
        .select(col("year"), col("is_holiday"),
          round(col("total_sales"), 2).as("total_sales"),
          round(col("avg_weekly_sales"), 6).as("avg_weekly_sales"),
          col("rows"))
        .orderBy("year", "is_holiday")
    })
  )

  /** Shared oracle CTEs: typed/renamed/enriched train, features, stores
    * and the 19-column curated join, mirroring enforceSchema (TRY_CAST),
    * renameColumns, parseAndEnrich, the star-plus (store_id, date) left
    * join, and the USING(store_id) left join.
    */
  private val curatedCte =
    s"""WITH train AS (
       |  SELECT TRY_CAST("Date" AS DATE) AS date,
       |         CAST(YEAR(TRY_CAST("Date" AS DATE)) AS INTEGER) AS year,
       |         CAST(MONTH(TRY_CAST("Date" AS DATE)) AS INTEGER) AS month,
       |         CAST(WEEKOFYEAR(TRY_CAST("Date" AS DATE)) AS INTEGER) AS week,
       |         TRY_CAST("Store" AS INTEGER) AS store_id,
       |         TRY_CAST("Dept" AS INTEGER) AS department_id,
       |         TRY_CAST("Weekly_Sales" AS DOUBLE) AS weekly_sales,
       |         TRY_CAST("IsHoliday" AS BOOLEAN) AS is_holiday
       |  FROM read_csv('$workDir/raw/train.csv', header=true, all_varchar=true)),
       | features AS (
       |  SELECT TRY_CAST("Date" AS DATE) AS date,
       |         TRY_CAST("Store" AS INTEGER) AS store_id,
       |         TRY_CAST("Temperature" AS DOUBLE) AS temperature_f,
       |         TRY_CAST("Fuel_Price" AS DOUBLE) AS fuel_price,
       |         TRY_CAST("MarkDown1" AS DOUBLE) AS markdown_1,
       |         TRY_CAST("MarkDown2" AS DOUBLE) AS markdown_2,
       |         TRY_CAST("MarkDown3" AS DOUBLE) AS markdown_3,
       |         TRY_CAST("MarkDown4" AS DOUBLE) AS markdown_4,
       |         TRY_CAST("MarkDown5" AS DOUBLE) AS markdown_5,
       |         TRY_CAST("CPI" AS DOUBLE) AS cpi,
       |         TRY_CAST("Unemployment" AS DOUBLE) AS unemployment_rate
       |  FROM read_csv('$workDir/raw/features.csv', header=true, all_varchar=true)),
       | stores AS (
       |  SELECT TRY_CAST("Store" AS INTEGER) AS store_id,
       |         "Type" AS store_type,
       |         TRY_CAST("Size" AS INTEGER) AS store_size
       |  FROM read_csv('$workDir/raw/stores.csv', header=true, all_varchar=true)),
       | curated AS (
       |  SELECT t.date, t.year, t.month, t.week, t.store_id, t.department_id,
       |         t.weekly_sales, t.is_holiday,
       |         f.temperature_f, f.fuel_price,
       |         f.markdown_1, f.markdown_2, f.markdown_3, f.markdown_4, f.markdown_5,
       |         f.cpi, f.unemployment_rate,
       |         s.store_type, s.store_size
       |  FROM train t
       |  LEFT JOIN features f ON t.store_id = f.store_id AND t.date = f.date
       |  LEFT JOIN stores s ON t.store_id = s.store_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q44_retail_agg" ->
      s"""$curatedCte
         |SELECT store_type, year, ROUND(SUM(weekly_sales), 2) AS total_sales,
         |  ROUND(AVG(weekly_sales), 6) AS avg_weekly_sales,
         |  COUNT(DISTINCT store_id) AS num_stores
         |FROM curated GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q54_sales_curated" ->
      s"""$curatedCte
         |SELECT * FROM curated ORDER BY store_id, department_id, date""".stripMargin,
    "q55_agg_store_dept" ->
      s"""$curatedCte
         |SELECT store_id, department_id, year, month,
         |  COUNT(*) AS num_weeks,
         |  ROUND(SUM(weekly_sales), 2) AS sum_weekly_sales,
         |  ROUND(AVG(weekly_sales), 6) AS avg_weekly_sales,
         |  MAX(weekly_sales) AS max_weekly_sales
         |FROM curated GROUP BY 1,2,3,4 ORDER BY 1,2,3,4""".stripMargin,
    "q56_holidays" ->
      s"""$curatedCte
         |SELECT year, is_holiday, ROUND(SUM(weekly_sales), 2) AS total_sales,
         |  ROUND(AVG(weekly_sales), 6) AS avg_weekly_sales,
         |  COUNT(*) AS "rows"
         |FROM curated GROUP BY 1,2 ORDER BY 1,2""".stripMargin
  )
}
