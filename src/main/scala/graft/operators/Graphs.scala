package graft.operators

import graft.operators.Checkpoints.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics in the Pregel-by-joins style (the shape
  * GraphX/GraphFrames lower to): per-iteration, vertex state joins the
  * edge list on the source key, messages aggregate to the destination,
  * and the new state materializes with its lineage cut. The edge list is
  * the loop invariant — checkpointed ONCE and re-read by every
  * iteration, so a 5-round run over 100 TB of edges pays one edge
  * materialization plus 5 keyed exchanges, never a re-scan of the raw
  * join that produced the edges.
  */
object Graphs {

  /** Shared invariant setup: collapsed (src, dst, outdeg) edge relation,
    * the node set (src ∪ dst — sink-only nodes are REAL nodes), and the
    * set of dangling nodes (no out-edges), each lineage-cut once. The
    * dangling set is node-sized at worst; whether it is empty is decided
    * here, once, so compliant (symmetrized) graphs skip the per-round
    * dangling-mass aggregate entirely.
    */
  /** Partition count for the pinned loop invariants, derived from the
    * INPUT size (leaf-scan bytes of the edge plan over the session's
    * AQE advisory partition size), capped at the session's
    * shuffle-partition setting — scale-adaptive, not a constant: a
    * 17 MB local graph pins 1 partition (per-round stages stay one
    * task, like the AQE coalescing the pinning replaces), a 100 TB
    * edge list pins the full configured width. Leaf sizes, not the
    * join estimate: without CBO a join's sizeInBytes is the useless
    * product of its children.
    */
  private def invariantPartitions(edges: DataFrame): Int = {
    val spark = edges.sparkSession
    val confP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "64MB"))
    val bytes = edges.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val bySize =
      if (bytes <= 0 || advisory <= 0) BigInt(confP)
      else (bytes + advisory - 1) / advisory
    bySize.min(BigInt(confP)).max(BigInt(1)).toInt
  }

  private def invariants(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame, Boolean) = {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // CO-PARTITION THE ITERATION (round 18, guide §2.4/§3.3): the edge
    // relation is the loop invariant, and every round's contrib join
    // used to re-shuffle it — the one table-sized relation — once per
    // round. The invariant is now hash-repartitioned on the join key
    // and PERSISTED: a cached plan PINS its output partitioning (AQE
    // does not re-partition cached output by default), so each round's
    // join finds the edge side already clustered and exchanges only
    // the node-sized rank relation. A lineage cut cannot carry this:
    // under AQE, `localCheckpoint` surfaces UnknownPartitioning (plan
    // evidence: plans/r18/graph_round_join_variants.txt), which is exactly
    // why the rounds re-shuffled before. N is the session's
    // shuffle-partition setting (scale-adaptive, not a local constant).
    // Durability trade vs the old replicated checkpoint: an executor
    // loss recomputes lost invariant blocks from lineage instead of
    // killing the job — strictly better.
    val p = invariantPartitions(edges)
    val e = e0.join(deg, Seq("src")).repartition(p, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .repartition(p, col("node"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val danglingRaw = nodes
      .join(e.select(col("src").as("node")), Seq("node"), "left_anti")
    val hasDangling = !danglingRaw.isEmpty
    // Only graphs that HAVE dangling nodes re-read this relation every
    // round — compliant graphs skip the materialization entirely.
    val dangling = if (hasDangling) danglingRaw.cutLineage else danglingRaw
    (e, nodes, dangling, hasDangling)
  }

  /** One row, one column `__dm`: the rank mass currently sitting on
    * dangling nodes — broadcast back into the update expression so the
    * iteration stays fully distributed (no driver collect per round).
    */
  private def danglingMass(pr: DataFrame, dangling: DataFrame,
                           rankCol: String): DataFrame =
    broadcast(pr.join(dangling, Seq("node"), "left_semi")
      .agg(coalesce(sum(col(rankCol)), lit(0.0)).as("__dm")))

  /** Damped PageRank, a FIXED `iters` power-iteration rounds (fixed, not
    * convergence-tested, so the result is a deterministic function of
    * the graph — the q126 oracle unrolls the same rounds as CTE layers).
    *
    * `edges` is a directed edge list; duplicate edges are collapsed.
    * Nodes are src ∪ dst, so sink-only destinations are ranked too, and
    * DANGLING nodes (no out-edges) are handled exactly: their rank mass
    * redistributes uniformly each round (the standard teleport
    * treatment), so Σpr = 1 for every input graph, not just the
    * symmetrized ones that have no dangling nodes. The dangling check
    * runs once at setup; graphs without dangling nodes pay nothing per
    * round.
    *
    * Scale shape: out-degrees join the edge list once, up front, and the
    * (src, dst, outdeg) relation is lineage-cut (`Checkpoints.cut`:
    * replicated `checkpoint()` when the session has a reliable
    * checkpoint dir configured, `localCheckpoint` otherwise) — the
    * per-round cost is one shuffle join of the node-sized rank relation
    * against the edges plus one dst-keyed aggregation (plus, only on
    * graphs that have dangling nodes, one node-sized semi-join aggregate
    * whose 1-row result broadcasts); rank lineage is cut each round (the
    * Dedup.nearDupComponents loop idiom), so round r's plan does not
    * replay rounds 1..r-1.
    *
    * Output: (node, pr) with pr 6dp-rounded, one row per node.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    val (e, nodes, dangling, hasDangling) = invariants(edges, srcCol, dstCol)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val residual = (1.0 - damping) / n
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    var i = 0
    while (i < iters) {
      // SHUFFLE_HASH on the node-sized rank side: both sides are
      // already hash-clustered on src (see invariants), so the hint
      // picks a per-partition hash build over SMJ's per-round re-sort
      // of the table-sized edge relation (guide §3.1)
      val contrib = e.join(
          pr.withColumnRenamed("node", "src").hint("SHUFFLE_HASH"),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("outdeg")).as("mass"))
      // LEFT join: nodes nobody links to still receive the residual
      // (and their dangling share).
      val base = nodes.join(contrib, Seq("node"), "left")
      val next =
        if (hasDangling)
          base.crossJoin(danglingMass(pr, dangling, "pr"))
            .select(col("node"),
              (lit(residual) + lit(damping) *
                (coalesce(col("mass"), lit(0.0)) + col("__dm") / n)).as("pr"))
        else
          base.select(col("node"),
            (lit(residual) + lit(damping) * coalesce(col("mass"), lit(0.0)))
              .as("pr"))
      // Dangling graphs consume `pr` TWICE per round (contrib +
      // danglingMass) — an uncut chain would double the subtree every
      // round, so they cut each round. Without dangling nodes the chain
      // is linear (pr feeds only the next round's contrib join), so the
      // cut batches: one materialization every few rounds bounds plan
      // depth while dropping the per-round driver round-trip +
      // checkpoint job (AQE still stages each round's exchanges inside
      // the one job). The FINAL round always cuts: a caller evaluating
      // the result more than once must not replay the tail rounds (and
      // double-sum order must not get a second chance to differ).
      pr = if (hasDangling || (i + 1) % 3 == 0 || i + 1 == iters)
        next.cutLineage else next
      i += 1
    }
    // the final round is eagerly cut, so nothing downstream re-reads
    // the cached invariants — release them
    e.unpersist(false)
    nodes.unpersist(false)
    pr.select(col("node"), round(col("pr"), 6).as("pr"))
  }

  /** Personalized PageRank: the restart mass returns to a SEED set
    * instead of spreading uniformly — graph-proximity relevance from a
    * trusted set, the selection primitive behind "find data like these
    * seeds" (and the sampling heuristic of GraphSAGE-family systems).
    * Same contract and cost shape as [[pageRank]] (checkpointed
    * edge+outdeg invariant, one keyed join + dst aggregation per fixed
    * round, lineage cut each round); seeds outside the node set are
    * ignored (restart normalizes over seeds ∩ nodes). Dangling-node
    * mass returns to the SEEDS (proportionally to the restart vector —
    * the personalized analogue of the uniform teleport), so Σppr = 1
    * on every input graph.
    *
    * Output: (node, ppr) 6dp-rounded, one row per node.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String, iters: Int,
                           damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"personalizedPageRank: iters must be >= 1, got $iters")
    val (e, nodes, dangling, hasDangling) = invariants(edges, srcCol, dstCol)
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .cutLineage
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank: no seed appears in the graph")
    // per-round invariant too (the base join reads it every round):
    // persisted, so its node partitioning — inherited from the cached
    // `nodes` through the broadcast seed join — stays usable
    val restart = nodes
      .join(sd.withColumn("__s", lit(1)), Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / ns)).otherwise(lit(0.0))
          .as("restart"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var pr = restart.select(col("node"), col("restart").as("ppr"))
    var i = 0
    while (i < iters) {
      // co-partitioned edge invariant + rank-side hash build — see
      // pageRank's round comment
      val contrib = e.join(
          pr.withColumnRenamed("node", "src").hint("SHUFFLE_HASH"),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("ppr") / col("outdeg")).as("mass"))
      val base = restart.join(contrib, Seq("node"), "left")
      val next =
        if (hasDangling)
          base.crossJoin(danglingMass(pr, dangling, "ppr"))
            .select(col("node"),
              (lit(1.0 - damping) * col("restart") + lit(damping) *
                (coalesce(col("mass"), lit(0.0)) +
                  col("__dm") * col("restart"))).as("ppr"))
        else
          base.select(col("node"),
            (lit(1.0 - damping) * col("restart") +
              lit(damping) * coalesce(col("mass"), lit(0.0))).as("ppr"))
      // same batched-cut rule as pageRank: linear chain without
      // dangling nodes -> cut every few rounds, not every round — and
      // always on the final round (re-evaluation must not replay rounds)
      pr = if (hasDangling || (i + 1) % 3 == 0 || i + 1 == iters)
        next.cutLineage else next
      i += 1
    }
    e.unpersist(false)
    nodes.unpersist(false)
    restart.unpersist(false)
    pr.select(col("node"), round(col("ppr"), 6).as("ppr"))
  }

  /** HITS hubs & authorities (Kleinberg 1999), a FIXED `iters`
    * mutual-reinforcement rounds in the EXACT-INTEGER unnormalized
    * form: hub(u) = Σ_{(u,v)} auth(v), auth(v) = Σ_{(u,v)} hub(u),
    * initialized at 1. Normalization is a per-round positive constant,
    * so the RANKING is invariant without it — and dropping it keeps
    * every score an exact BIGINT (sums of 1s through `iters` rounds;
    * magnitudes bound by (max degree)^(2·iters), far inside Long for
    * any real fan-out at iters=2), which lets the oracle take a full
    * hash gate with zero float-order hazard — the q126 discipline,
    * hardened. Edge MULTIPLICITY is kept deliberately: a repeat
    * relationship is a stronger endorsement (multi-edges collapse
    * upstream if not).
    *
    * Scale shape: the edge list is the checkpointed loop invariant;
    * each half-round is one keyed join of the node-sized score
    * relation against the edges plus one aggregation, lineage cut per
    * round — pageRank's exact cost profile.
    *
    * Output: (kind 'hub'|'auth', node, score), every node of its side.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // the iteration alternates join keys (src for auth rounds, dst for
    // hub rounds), so the invariant persists TWICE, once per key — the
    // PowerGraph trade: 2x edge storage buys zero per-round exchange of
    // the table-sized side (explicit N pins the partitioning through
    // the cut; see invariants() above). Score relations stay the only
    // shuffled per-round data, and they are node-sized.
    val p = invariantPartitions(edges)
    val eSrc = e0.repartition(p, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = eSrc.repartition(p, col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // auth_0 = 1 per authority node → hub_1(u) = #edges out of u.
    var hub = eSrc.groupBy("src").agg(count(lit(1)).as("score")).cutLineage
    var auth = eSrc.join(hub.hint("SHUFFLE_HASH"), Seq("src"))
      .groupBy("dst").agg(sum("score").as("score")).cutLineage
    var i = 1
    while (i < iters) {
      hub = eDst.join(auth.hint("SHUFFLE_HASH"), Seq("dst"))
        .groupBy("src").agg(sum("score").as("score")).cutLineage
      auth = eSrc.join(hub.hint("SHUFFLE_HASH"), Seq("src"))
        .groupBy("dst").agg(sum("score").as("score")).cutLineage
      i += 1
    }
    // hub/auth are eagerly cut — the cached edge copies are done
    eSrc.unpersist(false)
    eDst.unpersist(false)
    hub.select(lit("hub").as("kind"), col("src").as("node"), col("score"))
      .unionByName(auth.select(lit("auth").as("kind"),
        col("dst").as("node"), col("score")))
  }

  /** Exact triangle census + local clustering coefficient over an
    * undirected simple edge list (one row per edge, any endpoint
    * order), via DEGREE-ORIENTED wedge enumeration: every edge is
    * re-oriented from its lower-(degree, id) endpoint, and wedges are
    * enumerated only from the oriented source. A naive id-oriented
    * self-join does Σ_u deg(u)² work keyed by id order — on a
    * power-law graph one 1M-degree hub explodes 5·10¹¹ wedges into a
    * single key — whereas degree orientation bounds every node's
    * out-degree by O(√E) amortized, so total wedge work is O(E^{3/2})
    * REGARDLESS of skew (the classic node-iterator++ / forward
    * algorithm bound). Each triangle {a<b<c} in (degree, id) order is
    * produced exactly once: only `a` holds both out-edges, and the
    * closing edge {b,c} is stored oriented as b→c, so the closure is
    * one more equi-join. Degrees, per-node triangle counts, and
    * lcc_ppm = (2T·1e6) div (d·(d−1)) (exact integer ppm) ride the
    * same relations. Scale shape: the oriented edge relation is the
    * loop invariant of this operator — lineage-cut once, consumed by
    * both sides of the wedge join and by the closure join; every join
    * is integer-keyed; nothing corpus-sized touches the driver.
    */
  def triangleCensus(und: DataFrame, uCol: String = "u",
      vCol: String = "v"): DataFrame = {
    val e = und.select(col(uCol).cast("long").as("u"),
      col(vCol).cast("long").as("v"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .cutLineage
    // Re-orient each edge from the lower-(degree, id) endpoint; carry
    // the HIGH endpoint's degree so wedge endpoints can be ordered by
    // the same total order without another degree join.
    val withDeg = e
      .join(deg.select(col("node").as("u"), col("degree").as("du")),
        Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("dv")),
        Seq("v"))
    val uFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("__lo"),
        when(uFirst, col("v")).otherwise(col("u")).as("__hi"),
        when(uFirst, col("dv")).otherwise(col("du")).as("__hideg"))
      .cutLineage
    // Wedges from the oriented source only, endpoints ordered by
    // (degree, id) — C(outdeg, 2) per node with outdeg ≤ O(√E).
    val wedges = oriented
      .join(oriented.select(col("__lo"), col("__hi").as("__hi2"),
        col("__hideg").as("__hideg2")), Seq("__lo"))
      .filter(col("__hideg") < col("__hideg2") ||
        (col("__hideg") === col("__hideg2") && col("__hi") < col("__hi2")))
    // The closing edge {hi, hi2} is oriented hi→hi2 by construction
    // (hi precedes hi2 in the wedge order above), so closure is an
    // equi-join back against the same oriented invariant.
    val tri = wedges.join(
      oriented.select(col("__lo").as("__hi"), col("__hi").as("__hi2")),
      Seq("__hi", "__hi2"))
    val triPerNode = tri
      .select(explode(array(col("__lo"), col("__hi"), col("__hi2")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("lcc_ppm", when(col("degree") >= 2,
        expr("(2000000 * triangles) div (degree * (degree - 1))"))
        .otherwise(lit(0L)))
      .select("node", "degree", "triangles", "lcc_ppm")
      .orderBy("node")
  }
}
