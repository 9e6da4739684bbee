package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** The in-gate referee and the execution shape of the multi-action
  * gates.
  *
  * A gate reports a broken invariant as a row, never as an exception:
  * `refereed(out, label)(flags: _*)` appends one row per raised flag to
  * the gate's output, so a passing gate's hash-gated output is `out`
  * unchanged and any violation breaks the oracle compare. A flag is
  * either
  *
  *  - a `Boolean` decided on the driver (a receipt, a version number, a
  *    file count) — false adds nothing to the plan; or
  *  - a probe relation that fires when it has a row. The probe is never
  *    its own driver action: it is a lazy `limit(1)` branch of the
  *    gate's final job, where it runs beside the other branches. That
  *    is only sound when everything the probe reads is final when the
  *    gate assembles its output — state no later lifecycle verb
  *    mutates, or an already materialized (checkpointed) relation —
  *    which each probe site states in a comment.
  *
  * Independent action chains (layout builds, brute-force referees)
  * overlap through `graft.operators.Par.all`: Spark's FIFO scheduler
  * back-fills executors freed by one chain's stragglers with the next
  * chain's tasks. Chains must not depend on each other's side effects.
  * A gate that needs a different SQL conf (a census threshold, a
  * demo-regime plan pin) builds that work on `graft.Scoped.withConf`'s
  * cloned session — never by setting the shared session's conf, which
  * every overlapped chain would read.
  */
private[graft] object GateOps {

  /** A named referee check: `Left` is decided on the driver, `Right` is
    * a probe that fires when it has a row.
    */
  final class Flag private[GateOps] (val name: String,
      val check: Either[Boolean, DataFrame])

  def flag(name: String, raised: Boolean): Flag = new Flag(name, Left(raised))

  def flag(name: String, probe: DataFrame): Flag = new Flag(name, Right(probe))

  /** `out` plus one row per raised flag name, unioned by name. The row
    * holds the name in `label`, cast to that column's type (so a
    * numeric tag column takes names like "-2"); every other column is
    * a NULL of `out`'s type for it. Flags sharing a name are OR-ed and
    * add at most one row.
    */
  def refereed(out: DataFrame, label: String)(flags: Flag*): DataFrame = {
    require(out.columns.contains(label),
      s"refereed: no label column $label in ${out.columns.mkString(", ")}")
    def row(name: String) = out.schema.fields.map { f =>
      val v = if (f.name == label) lit(name) else lit(null)
      v.cast(f.dataType).as(f.name)
    }
    val rows = flags.map(_.name).distinct.flatMap { name =>
      val mine = flags.filter(_.name == name).map(_.check)
      val fired =
        if (mine.contains(Left(true))) Some(out.sparkSession.range(1).toDF())
        else mine.collect { case Right(p) => p.select(lit(1).as("one")) }
          .reduceOption(_ unionAll _).map(_.limit(1))
      fired.map(_.select(row(name): _*))
    }
    rows.foldLeft(out)(_ unionByName _)
  }
}
