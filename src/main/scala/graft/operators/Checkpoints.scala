package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-cut helper shared by the iterative / multi-consumer
  * operators (PageRank rounds, near-dup component pointer-jumping, the
  * checkpointed band/postings relations).
  *
  * `localCheckpoint` stores blocks on executor-LOCAL, non-replicated
  * storage: correct and cheap on local[n], but on a real cluster an
  * executor loss mid-iteration kills the job instead of recomputing the
  * lost partitions. Deployments that care configure a RELIABLE
  * checkpoint directory (`SparkContext.setCheckpointDir`, pointing at
  * the fault-tolerant FS a production cluster already has) — `cut` then
  * uses replicated `checkpoint()`, which survives executor loss; with
  * no directory configured it keeps the fast `localCheckpoint` path.
  * Results are identical either way (pinned in GraphsSpec/DedupSpec);
  * only storage durability and write cost differ.
  */
object Checkpoints {
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** `cut` with Catalyst constraint propagation scoped OFF for the
    * eager checkpoint. Constraint derivation keeps every
    * alias-substituted variant of every inherited constraint, so a
    * lineage with many aliased derived columns (e.g. K hashed-feature
    * divisions over a kernel histogram — q310) can exhaust the DRIVER
    * heap inside `localCheckpoint`'s constraint rewrite before a
    * single task runs. `constraints` is consulted (and cached) under
    * the flag at checkpoint time, so the checkpointed relation carries
    * an EMPTY constraint set, and keeps it once re-bound to the
    * caller's session. The flag lives on a cloned session
    * (`Scoped.withConf`): the shared session never reads it, so plans
    * over other relations — including ones built by chains running
    * beside this cut — are untouched. The trade (no inferred IsNotNull
    * pushdown downstream of this cut) is irrelevant for the
    * wide-feature training relations this exists for.
    */
  def cutNoConstraints(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cutDf = graft.Scoped.withConf(spark,
        "spark.sql.constraintPropagation.enabled" -> "false") { scoped =>
      cut(graft.Scoped.rebind(df, scoped))
    }
    graft.Scoped.rebind(cutDf, spark)
  }

  // Round-18 negative result (no helper kept): an asynchronous cut —
  // persist + background-thread materialization instead of the eager
  // blocking checkpoint — measured +42-48% on the q314/q315 trajectory
  // gates. The gate's first consumer races the background job and the
  // expensive frontier computes twice; the eager cut's blocking is
  // load-bearing (materialize once, then every consumer reads blocks).

  /** Postfix form, so call sites read like the `localCheckpoint` they
    * replace: `relation.cutLineage`.
    */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage: DataFrame = cut(df)
  }
}
