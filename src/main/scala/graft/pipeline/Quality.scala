package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality subsystem: declarative schema enforcement, null/empty
  * profiling, duplicate detection, and an optional dedup gate
  * (reference operators P2, F1-F2, A4-A8, M1-M2; reference
  * src/quality_checks.py:31-130).
  *
  * Scale note: the reference profiles nulls as N+1 separate count jobs
  * (one full scan per column) and counts duplicates with two more. Here
  * the row count, the distinct-row count and every per-column null
  * fraction fuse into ONE aggregate execution — identical report
  * semantics, O(columns) fewer scans; at 100 TB the difference is the
  * feasibility of the QC pass.
  */
final case class QualityReport(
    datasetKey: String,
    schemaOk: Boolean,
    nullFractions: Seq[(String, Double)],
    duplicateCount: Long,
    rowCount: Long,
    issues: Seq[String])

object Quality {

  /** Cast present columns to their declared types, add missing columns
    * as typed nulls, flag extras, and prune+reorder to exactly the
    * declared column list. Permissive casts are load-bearing: 'NA' →
    * null for doubles, 'TRUE'/'FALSE' → boolean (requires ANSI off —
    * GraftSession pins it).
    */
  def enforceSchema(df: DataFrame, expected: Seq[(String, String)],
                    failOnMismatch: Boolean): (DataFrame, Boolean, Seq[String]) = {
    val present = df.columns.toSet
    val issues = Seq.newBuilder[String]
    val cols = expected.map { case (name, tpe) =>
      if (present.contains(name)) col(name).cast(tpe).as(name)
      else {
        issues += s"Added missing column: $name"
        lit(null).cast(tpe).as(name)
      }
    }
    val extras = df.columns.filterNot(c => expected.exists(_._1 == c))
    if (extras.nonEmpty) issues += s"Extra columns present: ${extras.mkString(", ")}"
    val schemaOk = if (failOnMismatch) extras.isEmpty else true
    (df.select(cols: _*), schemaOk, issues.result())
  }

  /** Null-or-empty predicate per the reference's F1: on non-string
    * columns the `=== ""` arm is vacuous ('' casts to null under ANSI
    * off, and null comparisons are null).
    */
  private def nullOrEmpty(c: String): Column = col(c).isNull || col(c) === ""

  /** Rows, distinct rows and per-column null/empty fractions of a frame. */
  final case class Profile(rows: Long, distinct: Long, nullFractions: Seq[(String, Double)])

  /** The reference's A8 and A5 from ONE aggregate execution: group by
    * every column with a per-group count `n` (distinct's own plan, so
    * nulls group and floats normalise exactly as in `distinct`), then
    * fold the groups — rows = Σn, distinct = #groups, and a column's
    * null/empty rows = Σn over the groups where it is null or empty.
    */
  def profile(df: DataFrame): Profile = {
    val cols = df.columns.toSeq
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    val aggs = total(col("__n")) +: count(lit(1)) +:
      cols.map(c => total(when(nullOrEmpty(c), col("__n"))))
    val row = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(aggs.head, aggs.tail: _*).head()
    val rows = row.getLong(0)
    Profile(rows, row.getLong(1), cols.zipWithIndex.map { case (c, i) =>
      c -> (if (rows == 0) 0.0 else row.getLong(i + 2).toDouble / rows)
    })
  }

  /** Full-row duplicate count: total - distinct (A5). */
  def countDuplicateRows(df: DataFrame): Long = {
    val p = profile(df)
    p.rows - p.distinct
  }

  /** Subset duplicate count: number of key GROUPS with >1 row (A6 —
    * deliberately a different number than countDuplicateRows; both
    * semantics exist in the reference).
    */
  def countDuplicateGroups(df: DataFrame, subset: Seq[String]): Long =
    df.groupBy(subset.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** Full QC pass: enforce → profile (one aggregate: rows, nulls and
    * duplicates) → optional dropDuplicates → cache + typed view
    * registration. Returns the typed frame and the report; like the
    * reference, findings are reported, not thrown
    * (fail_on_schema_mismatch=false by default).
    */
  def run(df: DataFrame, key: String, spec: DatasetSpec,
          cfg: QualityConfig): (DataFrame, QualityReport) = {
    val (typed0, schemaOk, schemaIssues) = enforceSchema(df, spec.schema, cfg.failOnSchemaMismatch)
    // Cache BEFORE the QC aggregate: it and every downstream consumer
    // otherwise each re-parse the CSV (the reference cached after dedup
    // and paid three extra scans per dataset).
    typed0.cache()
    val Profile(rows0, distinct, fracs) = profile(typed0)
    val dupCount = rows0 - distinct

    // On dedup: materialize the replacement's cache BEFORE releasing the
    // parent, or its first reader would recompute from the raw source.
    // Its row count is the distinct count already in hand.
    val (typed, rowCount) =
      if (dupCount > 0 && cfg.dropDuplicates) {
        val deduped = typed0.dropDuplicates()
        deduped.cache()
        deduped.count()
        typed0.unpersist()
        (deduped, distinct)
      } else (typed0, rows0)

    val nullIssues = fracs.collect {
      case (c, f) if f > cfg.maxNullFraction =>
        f"High null fraction in $c: ${f * 100}%.2f%%"
    }

    typed.createOrReplaceTempView(s"typed_$key")

    (typed, QualityReport(key, schemaOk, fracs, dupCount, rowCount,
      schemaIssues ++ nullIssues))
  }
}
