package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** Execution-shape helpers for the multi-action referee gates.
  *
  * The lifecycle/referee gates are job-count dominated: tens of
  * sub-second Spark actions issued one at a time from the driver, on a
  * box whose cores sit idle between them (q386 ran 88 sequential jobs).
  * Two shape fixes, neither of which changes what any gate computes:
  *
  *  - `sentinel` replaces the eager `probe.limit(1).count() > 0` +
  *    `range(1).filter(lit(flag))` referee idiom with a LAZY one-row
  *    relation that only fires when the probe is non-empty. The probe
  *    stops being its own driver-blocking action and becomes a branch
  *    of the final job's plan, where it runs in parallel with the
  *    other branches. Only safe when everything the probe reads is
  *    final at assembly time: state no later lifecycle verb mutates,
  *    or an already-materialized (checkpointed) relation.
  *
  *  - Independent action chains (layout builds, brute-force
  *    referees) overlap through `graft.operators.Par.all` — the
  *    guide's §2.6 move: Spark's FIFO scheduler back-fills executors
  *    freed by one chain's stragglers with the next chain's tasks.
  *    Chains must not depend on each other's side effects. A gate that
  *    needs a different SQL conf (a census threshold, a demo-regime
  *    plan pin) builds that work on `graft.Scoped.withConf`'s cloned
  *    session — never by setting the shared session's conf, which
  *    every overlapped chain would read.
  */
private[queries] object GateOps {

  /** One row of `cols` iff `probe` has at least one row — the lazy
    * twin of `spark.range(1).filter(lit(probe.limit(1).count() > 0))`.
    * An OR of several probes is `sentinel(a.unionAll(b), ...)` (fires
    * once, like the boolean it replaces).
    */
  def sentinel(probe: DataFrame, cols: Column*): DataFrame =
    probe.limit(1).select(cols: _*)
}
