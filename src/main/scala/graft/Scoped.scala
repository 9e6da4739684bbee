package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

/** The one way to run work under a different SQL conf.
  *
  * A runtime conf is session-global: a set/restore pair around a body
  * leaks into every chain that runs beside it (`Par.all`) and races any
  * other pair. `withConf` runs the body on a CLONE of the session
  * (`cloneSession()`, which keeps what `GraftSession.tune` applied: ANSI
  * off, UTC, the registered functions) with the confs set on the clone
  * only, so the caller's session never reads them.
  *
  * Frames built inside the body belong to the clone and plan under its
  * conf. `rebind` hands one back to the caller's session when only the
  * body's eager work (a drain, a checkpoint, a driver census) should see
  * the scoped conf.
  */
object Scoped {

  def withConf[A](spark: SparkSession, confs: (String, String)*)(
      body: SparkSession => A): A = {
    val scoped = SessionBridge.cloneSession(spark)
    confs.foreach { case (k, v) => scoped.conf.set(k, v) }
    SessionBridge.withActive(scoped)(body(scoped))
  }

  /** `df` re-bound to `spark`: same analyzed plan, planned afresh under
    * `spark`'s conf. Materialized leaves (memory-sink rows, checkpointed
    * RDDs) carry over as they are.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    SessionBridge.ofRows(spark, df)
}
