package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical-rename, date-enrichment, join, and curated-aggregate
  * transforms (reference operators P1, P3-P5, J1-J2, A1-A3, O1-O3;
  * reference src/transform_spark.py:38-171).
  *
  * Scale notes: stores (45 rows) and features (8,190 rows/store-week)
  * are broadcast explicitly — at 100 TB of fact rows both joins stay
  * shuffle-free; the aggregates are partial+final hash aggs planned by
  * Catalyst with AQE sizing the residual shuffles.
  */
object Transform {

  /** P1 rename-by-map projection: emit exactly the mapped columns in map
    * order; a missing source column becomes a typed-null string column.
    * Unmapped columns are dropped by construction.
    */
  def renameColumns(df: DataFrame, mapping: Seq[(String, String)]): DataFrame = {
    val present = df.columns.toSet
    df.select(mapping.map { case (old, neu) =>
      if (present.contains(old)) col(old).as(neu)
      else lit(null).cast("string").as(neu)
    }: _*)
  }

  /** P5 enrichment: parse `date` (yyyy-MM-dd), derive year/month/week,
    * re-assert boolean `is_holiday` when present.
    */
  def parseAndEnrich(df: DataFrame): DataFrame = {
    val dated = df
      .withColumn("date", to_date(col("date"), "yyyy-MM-dd"))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("week", weekofyear(col("date")))
    if (dated.columns.contains("is_holiday"))
      dated.withColumn("is_holiday", col("is_holiday").cast("boolean"))
    else dated
  }

  /** The curated-table battery. Input frames are the TYPED datasets (post
    * quality gate); output is logical-name -> DataFrame, all lazy.
    *
    * J1: train ⟕ features on (store_id, date) — star-plus projection
    * keeps every train column and only the feature-exclusive columns, so
    * colliding names (date, store_id, is_holiday, year, month, week)
    * resolve to the train side. J2: USING-join on store_id collapses the
    * key to a single output column.
    */
  def buildCuratedTables(train0: DataFrame, features0: DataFrame, stores0: DataFrame,
                         datasets: Map[String, DatasetSpec]): Map[String, DataFrame] = {
    val train = parseAndEnrich(renameColumns(train0, datasets("train").rename))
    val features = parseAndEnrich(renameColumns(features0, datasets("features").rename))
    val stores = renameColumns(stores0, datasets("stores").rename)

    val featureOnly = features.columns.filterNot(train.columns.contains)
    val joined = train.as("t")
      .join(broadcast(features.as("f")),
        col("t.store_id") === col("f.store_id") && col("t.date") === col("f.date"),
        "left")
      .select(col("t.*") +: featureOnly.map(c => col(s"f.$c")): _*)

    val full = joined.join(broadcast(stores), Seq("store_id"), "left")

    val curated = full.select(
      col("date"), col("year"), col("month"), col("week"),
      col("store_id"), col("department_id"), col("weekly_sales"), col("is_holiday"),
      col("temperature_f"), col("fuel_price"),
      col("markdown_1"), col("markdown_2"), col("markdown_3"),
      col("markdown_4"), col("markdown_5"),
      col("cpi"), col("unemployment_rate"),
      col("store_type"), col("store_size"))
      // Materialize-once: every downstream consumer (three aggregates,
      // four sink writes, q54's full-table read)
      // derives from this frame — without the persist each one re-runs
      // the joins. MEMORY_AND_DISK (the Dataset default) spills rather
      // than OOMs when the curated table outgrows executor memory; a
      // deployment writing to a columnar sink could equivalently
      // write-then-reread sales_curated.
      .persist()

    val aggStoreDept = curated
      .groupBy("store_id", "department_id", "year", "month")
      .agg(
        count(lit(1)).as("num_weeks"),
        sum("weekly_sales").as("sum_weekly_sales"),
        avg("weekly_sales").as("avg_weekly_sales"),
        max("weekly_sales").as("max_weekly_sales"))
      .orderBy("store_id", "department_id", "year", "month")

    val aggStoreTypeYear = curated
      .groupBy("store_type", "year")
      .agg(
        sum("weekly_sales").as("total_sales"),
        avg("weekly_sales").as("avg_weekly_sales"),
        countDistinct("store_id").as("num_stores"))
      .orderBy(desc("total_sales"))

    val holidaysVsNormal = curated
      .groupBy("year", "is_holiday")
      .agg(
        sum("weekly_sales").as("total_sales"),
        avg("weekly_sales").as("avg_weekly_sales"),
        count(lit(1)).as("rows"))
      .orderBy("year", "is_holiday")

    curated.createOrReplaceTempView("curated_sales")

    Map(
      "sales_curated" -> curated,
      "agg_store_dept" -> aggStoreDept,
      "agg_store_type_year" -> aggStoreTypeYear,
      "holidays_vs_normal" -> holidaysVsNormal)
  }
}
