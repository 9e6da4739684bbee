package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Spark 4 keeps `cloneSession()`, `withActive` and `Dataset.ofRows`
  * `private[sql]`. Like `ColumnBridge`, this object lives in an
  * `org.apache.spark.sql` subpackage only to re-export them to
  * `graft.Scoped`; nothing else of Spark's internals is touched.
  */
object SessionBridge {

  /** A session sharing `spark`'s SparkContext, with a COPY of its
    * runtime conf, temp views, functions, listeners and extensions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `body` with `spark` as this thread's active session, so code that
    * reads `SQLConf.get` sees its conf.
    */
  def withActive[A](spark: SparkSession)(body: => A): A =
    spark.withActive(body)

  /** `df`'s analyzed plan as a frame of `spark`. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
