package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DATA-CONTRACT EXPECTATIONS — a declarative check suite (the
  * Great-Expectations / dbt-test capability) compiled into the minimum
  * number of passes instead of one job per check (the N+1 trap the
  * reference's quality checker fell into, fixed once already in
  * `pipeline.Quality.profile`, whose one aggregate also yields the
  * duplicate count):
  *
  *   - every ROW-LOCAL check (not-null, range, regex, set-membership)
  *     fuses into ONE aggregate over ONE scan — adding a check adds a
  *     column to the aggregate, not a job;
  *   - each `UniqueKey` is one keyed census (duplicate mass dies in the
  *     map-side partial);
  *   - each `RefIntegrity` is one anti-join against the (broadcastable)
  *     dimension — at 100 TB the dim side is the model-sized one.
  *
  * Output is a violation census — (check, target, n_violations,
  * n_rows) — not a boolean: the census is what a data-quality monitor
  * trends, alerts on, and gates deploys with. q350 hash-gates the
  * census over a planted-corruption fixture; ExpectationsSpec pins the
  * per-check arithmetic and the one-scan fusion.
  */
object Expectations {

  sealed trait Check
  /** Fails rows where `column` is NULL. */
  case class NotNull(column: String) extends Check
  /** Fails non-NULL rows outside [lo, hi]. */
  case class InRange(column: String, lo: Double, hi: Double) extends Check
  /** Fails non-NULL rows not fully matching `regex`. */
  case class Matches(column: String, regex: String) extends Check
  /** Fails non-NULL rows whose value is not in `values`. */
  case class InSet(column: String, values: Seq[String]) extends Check
  /** Fails every row beyond the first per key (Σ max(cnt−1, 0)). */
  case class UniqueKey(columns: Seq[String]) extends Check
  /** Fails non-NULL rows whose `column` has no match in `dim.dimCol`. */
  case class RefIntegrity(column: String, dim: DataFrame,
      dimCol: String) extends Check

  private def rowLocalViolation(c: Check): Option[(String, String, Column)] =
    c match {
      case NotNull(cl) => Some(("not_null", cl, col(cl).isNull))
      case InRange(cl, lo, hi) => Some(("in_range", cl,
        col(cl).isNotNull && !col(cl).between(lo, hi)))
      case Matches(cl, re) => Some(("matches", cl,
        col(cl).isNotNull && !col(cl).rlike("^(?:" + re + ")$")))
      case InSet(cl, vs) => Some(("in_set", cl,
        col(cl).isNotNull && !col(cl).isin(vs: _*)))
      case _ => None
    }

  /** The single fused aggregate row (__n plus one __v column per
    * row-local check) — split out so the STREAMING twin can run it as
    * its one legal aggregation (Complete mode) and explode the drained
    * row through [[rowLocalCensus]].
    */
  def rowLocalAggRow(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val rowLocal = checks.flatMap(rowLocalViolation)
    require(rowLocal.nonEmpty, "rowLocalAggRow: no row-local checks")
    val aggs = count(lit(1)).as("__n") +:
      rowLocal.zipWithIndex.map { case ((_, _, v), i) =>
        sum(when(v, 1L).otherwise(0L)).as(s"__v$i")
      }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Explode a (drained) fused aggregate row into census rows. */
  def rowLocalCensus(aggRow: DataFrame, checks: Seq[Check]): DataFrame = {
    val rowLocal = checks.flatMap(rowLocalViolation)
    val pairs = rowLocal.zipWithIndex.map { case ((nm, tgt, _), i) =>
      struct(lit(nm).as("check"), lit(tgt).as("target"),
        col(s"__v$i").as("n_violations"))
    }
    aggRow.select(explode(array(pairs: _*)).as("e"), col("__n"))
      .select(col("e.check"), col("e.target"),
        col("e.n_violations"), col("__n").as("n_rows"))
  }

  /** ROW-LEVEL quarantine (the dbt store_failures face of the same
    * check suite): every violating row, tagged with the SORTED list of
    * check names it failed — the frame a pipeline routes to a
    * quarantine sink while the clean rows continue. Group checks flag
    * every member of a violating group (you want to SEE all copies of
    * a duplicated key, not the statistically-excess ones). Row-local
    * reasons are one codegen pass; UniqueKey is one keyed window;
    * RefIntegrity one broadcast join.
    */
  def quarantine(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "quarantine: empty check suite")
    import org.apache.spark.sql.expressions.Window
    var out = df
    var reasonCols = Seq.empty[Column]
    checks.foreach {
      case c if rowLocalViolation(c).isDefined =>
        val (nm, tgt, v) = rowLocalViolation(c).get
        reasonCols :+= when(v, lit(s"$nm:$tgt"))
      case UniqueKey(cols0) =>
        val w = Window.partitionBy(cols0.map(col): _*)
        val flag = s"__uq_${cols0.mkString("_")}"
        out = out.withColumn(flag, count(lit(1)).over(w) > 1)
        reasonCols :+= when(col(flag),
          lit(s"unique_key:${cols0.mkString(",")}"))
      case RefIntegrity(cl, dim, dimCol) =>
        val flag = s"__ref_$cl"
        out = out.join(
          broadcast(dim.select(col(dimCol).as(cl)).distinct()
            .withColumn(flag, lit(true))), Seq(cl), "left")
        reasonCols :+= when(col(cl).isNotNull && col(flag).isNull,
          lit(s"ref_integrity:$cl"))
      case _ => ()
    }
    out
      .withColumn("reasons",
        concat_ws(",", array_sort(filter(array(reasonCols: _*),
          r => r.isNotNull))))
      .filter(col("reasons") =!= "")
      .select(df.columns.map(col) :+ col("reasons"): _*)
  }

  /** The violation census of `checks` over `df`: one row per check,
    * (check, target, n_violations, n_rows). Row-local checks share one
    * fused aggregate pass.
    */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "validate: empty check suite")
    val rowLocal = checks.flatMap(rowLocalViolation)
    val fused: Option[DataFrame] =
      if (rowLocal.isEmpty) None
      else Some(rowLocalCensus(rowLocalAggRow(df, checks), checks))
    lazy val total = df.count()
    val heavies = checks.flatMap {
      case UniqueKey(cols0) =>
        val excess = df.groupBy(cols0.map(col): _*)
          .agg(count(lit(1)).as("__c"))
          .agg(coalesce(sum(col("__c") - 1L), lit(0L)).as("n_violations"))
          .select(lit("unique_key").as("check"),
            lit(cols0.mkString(",")).as("target"),
            col("n_violations"), lit(total).as("n_rows"))
        Some(excess)
      case RefIntegrity(cl, dim, dimCol) =>
        val orphans = df.filter(col(cl).isNotNull)
          .join(broadcast(dim.select(col(dimCol).as(cl)).distinct()),
            Seq(cl), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("ref_integrity").as("check"),
            lit(cl).as("target"), col("n_violations"),
            lit(total).as("n_rows"))
        Some(orphans)
      case _ => None
    }
    (fused.toSeq ++ heavies).reduce(_ unionByName _)
  }
}
