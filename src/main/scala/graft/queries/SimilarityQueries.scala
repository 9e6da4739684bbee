package graft.queries

import graft.Tables
import graft.operators.{Similarity, Par}
import graft.operators.Checkpoints.CutOps
import GateOps.{flag, refereed}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search battery over the `embeddings` table (array<float>).
  * Arithmetic is promoted to double on both sides (Spark `transform` cast,
  * DuckDB CAST(... AS DOUBLE[])) and results rounded to 6dp so the two
  * engines' accumulation orders can't flip the hash compare.
  */
object SimilarityQueries {
  import RelationalQueries.Q

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** The q168 embedding-drift monitor over (label, v) rows, shared with
    * its q313 sensitivity gate: 1 − cos(centroid_slice, centroid_global)
    * per label. Two map-side VecMeanAggregator passes; rows never
    * shuffle; cosine arithmetic is label-count-sized against the
    * broadcast global centroid.
    */
  private[graft] def driftProfile(e: DataFrame): DataFrame = {
    val vmean = udaf(new graft.functions.VecMeanAggregator)
    val cents = e.groupBy("label").agg(vmean(col("v")).as("cv"),
      count(lit(1)).as("n_vecs"))
    val global = broadcast(e.agg(vmean(col("v")).as("gv")))
    cents.crossJoin(global)
      .select(col("label"), col("n_vecs"),
        round(lit(1.0) - Similarity.cosine(col("cv"), col("gv")), 6)
          .as("drift"))
      .orderBy("label")
  }

  /** Near-dup fixture for the LSH queries: the corpus plus an exact copy
    * of every 20th vector under a shifted id — the regime LSH banding is
    * built for (targets at cos 1.0 over a ~0.3/max-0.51 background).
    * The raw table's pairwise similarities cluster just under the 0.4
    * threshold, where banding honestly degenerates toward all-pairs
    * (that narrow-gap case stays pinned in SimilaritySpec as the recall
    * floor); planting separable duplicates lets q49 demonstrate the
    * band-pruning cost the operator ships for, and makes its output
    * DETERMINISTIC — identical vectors agree on every sign bit, so they
    * collide in every band and recall is exactly 1.0, which upgrades
    * q49 from a rows-only check to a full DuckDB hash gate.
    */
  private def plantedNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    // The clone-id shift is DERIVED (max+1), not a fixed constant: a
    // fixed +1e6 collides with real vec_ids at larger scale factors, and
    // because the oracle mirrors the fixture arithmetic the q49 gate
    // would stay green over the broken fixture. One column-pruned agg
    // scan at plan time; the oracle computes the same MAX(vec_id)+1.
    val shift = e.agg(max(col("vec_id"))).head().getLong(0) + 1L
    e.unionAll(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding")))
  }

  val queries: Map[String, Q] = Map(
    // SemDeDup with LEARNED clusters — the published recipe end to end
    // (Abbas et al. 2023: k-means the embeddings, dedup within
    // clusters): IVF centroids train on a bounded sample, every vector
    // takes its argmax bucket MAP-SIDE (the fused ArgTopKCosine
    // kernel), and the salted per-cluster quadratic finds pairs. The
    // gate is the composition law: clustered pairs over learned buckets
    // ≡ exact all-pairs RESTRICTED to same-bucket ids — computed as the
    // symmetric diff, empty when the cluster path loses nothing within
    // clusters (cross-cluster misses are the documented SemDeDup
    // contract, priced by nlist). At 100 TB the referee side vanishes
    // and the clustered path is the deployment: per-cluster quadratic,
    // hot clusters salted, corpus scanned twice (assign + pair).
    "q189_semdedup_ivf_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        nlist = 8)
      val assigned = e.select(col("vec_id"),
        col("embedding"),
        element_at(graft.expressions.ArrayOps.argTopKCosine(
          Similarity.asDouble(col("embedding")), cents, 1), 1).as("bucket"))
      val clustered = Similarity.clusteredCosinePairs(assigned, "vec_id",
          "embedding", "bucket", threshold = 0.4)
        .select("id_a", "id_b", "sim")
      val buckets = assigned.select(col("vec_id"), col("bucket"))
      val exactSameBucket = Similarity.cosinePairs(e, "vec_id", "embedding",
          threshold = 0.4)
        .join(buckets.withColumnRenamed("vec_id", "id_a")
          .withColumnRenamed("bucket", "ba"), Seq("id_a"))
        .join(buckets.withColumnRenamed("vec_id", "id_b")
          .withColumnRenamed("bucket", "bb"), Seq("id_b"))
        .filter(col("ba") === col("bb"))
        .select("id_a", "id_b", "sim")
      clustered.exceptAll(exactSameBucket).withColumn("side", lit("clustered_only"))
        .unionAll(exactSameBucket.exceptAll(clustered).withColumn("side", lit("exact_only")))
        .orderBy("id_a", "id_b", "side")
    }),

    // Matryoshka (prefix-truncated) embedding search with exact rerank
    // (Kusupati et al. 2022: MRL models front-load signal, so the
    // 16-dim PREFIX serves as the cheap first pass): candidates from a
    // 16-of-64-dim brute-force top-10, then the bounded candidate set
    // reranks with FULL vectors — 4x less vector arithmetic and I/O in
    // the scan stage, exactness restored by the rerank (q82's
    // candidates→rerank shape with slice() instead of PQ codes). Gate:
    // on the planted-clone fixture every clone's top-1 must be its
    // original (prefix of a clone is identical, so truncation cannot
    // lose it — deterministic recall 1.0); emits misses, oracle empty.
    "q192_matryoshka_ann_gate" -> ((s, dir) => {
      val base = emb(s, dir).select(col("vec_id"), col("embedding"))
      val shift = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
      val queries = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + lit(shift)).as("vec_id"), col("embedding"))
      def trunc(d: DataFrame) = d.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("v16"))
      val cand = Similarity.bruteForceTopKAgg(trunc(base), trunc(queries),
          "vec_id", "v16", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val reranked = cand
        .join(queries.select(col("vec_id").as("query_id"),
          Similarity.asDouble(col("embedding")).as("qv")), Seq("query_id"))
        .join(base.select(col("vec_id").as("neighbor_id"),
          Similarity.asDouble(col("embedding")).as("cv")), Seq("neighbor_id"))
        .withColumn("sim",
          graft.expressions.ArrayOps.cosineSim(col("qv"), col("cv")))
        .groupBy("query_id")
        .agg(max(struct(col("sim"), col("neighbor_id"))).as("best"))
        .select(col("query_id"), col("best.neighbor_id").as("got_id"))
      reranked.withColumn("expected_id", col("query_id") - lit(shift))
        .filter(col("got_id") =!= col("expected_id"))
        .select("query_id", "expected_id", "got_id")
        .orderBy("query_id")
    }),

    // Brute-force cosine top-k: broadcast query set, one corpus scan.
    "q31_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // Embedding near-dup END-TO-END: cosine pairs → connected components
    // → the representative a dedup pass keeps (the full embedding-based
    // dedup flow, composing the pair machinery with min-label
    // propagation). At scale the pair stage is rhpCosinePairs; the
    // component/representative stages are identical.
    "q62_embed_neardup_reps" -> ((s, dir) => {
      val pairs = Similarity.cosinePairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4)
      graft.operators.Dedup.nearDupComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("rep_id"))
        .orderBy("vec_id")
    }),

    // Embedding near-dup pairs above a cosine threshold — the EXACT
    // all-pairs operator (quadratic by contract; its guard names
    // rhpCosinePairs as the scale path). BENCH_r02's 11 s for this
    // query was machine-load drift, not operator cost: re-measured at
    // 1.6 s with the identical plan (see BASELINE.md bench-methodology
    // note) — so it stays benched unbounded, deliberately.
    "q32_cosine_pairs" -> ((s, dir) => {
      Similarity.cosinePairs(emb(s, dir), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // IVF-bucketed approximate top-k, RECALL-GATED (q77 referee
    // pattern): the exact brute-force top-k plays referee IN the query —
    // per-query recall of the IVF path aggregates to a mean, and a row
    // is emitted only when that mean drops below the 0.8 floor. The
    // oracle is the EMPTY relation, so an ANN recall regression becomes
    // a driver-gate row mismatch instead of a rows-only shrug; the
    // stricter 0.9 floor on this testdata stays pinned in
    // SimilaritySpec, and q102 separately gates the persisted layout
    // ≡ the in-flight index.
    "q33_ivf_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
          nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("recall"))
        .agg(round(avg(col("recall")), 6).as("mean_recall"))
        .filter(col("mean_recall") < 0.8)
        .select(col("mean_recall"), lit(0.8).as("recall_floor"))
    }),

    // FILTERED ANN — metadata-predicate vector search (the vector-DB
    // "filtered search" problem): the index is trained on the FULL
    // corpus, the query-time predicate (label ∈ {0,1,2}, ~30%
    // selectivity) restricts candidates INSIDE the probed buckets, and
    // the exact filtered brute-force referees in-query. Selective
    // filters thin every bucket, which is exactly why filtered recall
    // degrades in production — the gate runs at nprobe=8 (double q33's)
    // and holds the 0.8 floor there. Violations emitted: recall-floor
    // breach, any returned neighbor that escapes the predicate, and a
    // vacuous-fixture row if the filtered corpus ever starves below k.
    // Oracle: empty. FilteredAnnSpec pins full-probe ≡ exact and the
    // single-survivor law.
    "q348_filtered_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val allowed = col("label").isin(0, 1, 2)
      val filtered = e.filter(allowed)
      val q = e.filter(col("vec_id") < 10)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 10)
      val exact = Similarity.bruteForceTopK(filtered, q, "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopKWithCentroids(filtered, q, "vec_id",
        "embedding", k = 5, cents, nprobe = 8)
      val floor = exact
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
          .as("recall"))
        .agg(round(avg(col("recall")), 6).as("metric"))
        .filter(col("metric") < 0.8)
        .select(lit("recall_floor").as("violation"), col("metric"))
      val escaped = approx
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .filter(!col("label").isin(0, 1, 2))
        .agg(count(lit(1)).cast("double").as("metric"))
        .filter(col("metric") > 0)
        .select(lit("predicate_escape").as("violation"), col("metric"))
      refereed(floor.unionByName(escaped), "violation")(
          flag("vacuous_fixture", filtered.limit(5).count() < 5))
        .orderBy("violation")
    }),

    // IVF probe-sweep gate — the nprobe tuning curve (the q270 sweep
    // discipline applied to ANN), gated on a THEOREM instead of a
    // floor alone: under one fixed centroid model the probed candidate
    // set at nprobe 2p contains the set at p, and a top-k cosine
    // rerank over a superset can only swap a true-top-k member for
    // another true-top-k member — so per-query exact-hit counts are
    // NON-DECREASING in nprobe, as integers, no tolerance needed. The
    // gate emits every (query, probe-step) violating that, plus a
    // floor row if even nprobe=8 recalls < 0.8. Oracle: empty.
    // IVF REBALANCE UNDER DRIFT — the maintenance story between
    // append (frozen centroids, q107) and the drift monitors: half the
    // corpus "drifts" (mirrored + shifted embeddings appended under
    // the OLD centroids, which describe them badly), so a low-probe
    // search over drifted queries loses recall; retraining on the
    // stored index (`rebalanceIvfLayout`, blue/green into a fresh dir)
    // must win it back. Violations: REGRESSED if rebalanced recall
    // drops below stale recall, NOT_IMPROVED if the fixture's drift
    // is too weak to matter (vacuous gate), FLOOR if the rebalanced
    // index still recalls < 0.8. Oracle: empty.
    "q381_ivf_rebalance_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val off = e.agg(max("vec_id")).head().getLong(0) + 1L
      val drifted = e
        .withColumn("vec_id", col("vec_id") + off)
        .withColumn("embedding", expr(
          "transform(embedding, x -> CAST(-x AS DOUBLE) + 0.5D)"))
      val union = e.select(col("vec_id"), col("embedding"))
        .unionByName(drifted.select(col("vec_id"), col("embedding")))
      val queries = drifted.filter(col("vec_id") < lit(off) + 10)
      val stale = java.nio.file.Files
        .createTempDirectory("graft_ivf_stale").toString
      // the stale-layout chain and the brute-force referee are
      // independent — overlap them (guide §2.6); exact materializes
      // once because both recall measurements join against it
      val (_, exact) = Par.all(
        () => {
          Similarity.writeIvfLayout(e, "vec_id", "embedding", stale,
            nlist = 8, nassign = 1)
          Similarity.appendIvfLayout(stale, drifted, "vec_id", "embedding",
            nassign = 1)
        },
        () => Similarity.bruteForceTopK(union, queries, "vec_id",
            "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .cutLineage)
      val fresh = java.nio.file.Files
        .createTempDirectory("graft_ivf_fresh").toString
      Similarity.rebalanceIvfLayout(s, stale, fresh, nlist = 8,
        nassign = 1)
      def recallOf(layout: String) = {
        val approx = Similarity.ivfTopKFromLayout(layout, queries,
            "vec_id", "embedding", k = 5, nprobe = 1)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("query_id", "neighbor_id"), "left")
          .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
            .as("r")).head().getDouble(0)
      }
      // the two recall probes read disjoint, finished layouts
      val (rStale, rFresh) = Par.all(
        () => recallOf(stale), () => recallOf(fresh))
      import s.implicits._
      val verdict = Seq.empty[(String, Double)].toDF("violation", "metric")
      refereed(verdict, "violation")(
          flag("REGRESSED", rFresh < rStale),
          flag("NOT_IMPROVED", rFresh <= rStale),
          flag("FLOOR", rFresh < 0.8))
        .orderBy("violation")
    }),

    "q287_ivf_probe_sweep" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 10)
      val byProbe = Seq(1, 2, 4, 8).map { np =>
        Similarity.ivfTopKWithCentroids(e, q, "vec_id", "embedding",
            k = 5, cents, nprobe = np)
          .select(col("query_id"), col("neighbor_id"),
            lit(np.toLong).as("nprobe"), lit(1L).as("hit"))
      }.reduce(_ unionByName _)
      val counted = exact.join(byProbe, Seq("query_id", "neighbor_id"),
          "left")
        .filter(col("nprobe").isNotNull)
        .groupBy("query_id", "nprobe")
        .agg(sum("hit").as("hits"))
      // densify: a zero-hit (query, nprobe) cell must exist, or the
      // monotonicity join silently skips the very drop it should catch
      // (three consumers below — materialize the tiny census once so
      // the 4-probe sweep + brute-force join above runs a single time)
      val hits = q.select(col("vec_id").as("query_id"),
          explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("nprobe"))
        .join(counted, Seq("query_id", "nprobe"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .cutLineage
      val a = hits.select(col("query_id"), col("nprobe").as("np_lo"),
        col("hits").as("hits_lo"))
      val b = hits.select(col("query_id"), col("nprobe").as("np_hi"),
        col("hits").as("hits_hi"))
      val viol = a.join(b, Seq("query_id"))
        .filter(col("np_hi") === col("np_lo") * 2)
        .filter(col("hits_hi") < col("hits_lo"))
        .select(col("query_id"), col("np_lo"), col("np_hi"),
          col("hits_lo"), col("hits_hi"))
      val floor = hits.filter(col("nprobe") === 8)
        .agg((sum("hits") / (count(lit(1)) * 5)).as("recall"))
        .filter(col("recall") < 0.8)
        .select(lit(-1L).as("query_id"), lit(8L).as("np_lo"),
          lit(8L).as("np_hi"),
          (col("recall") * 1000).cast("bigint").as("hits_lo"),
          lit(800L).as("hits_hi"))
      viol.unionByName(floor).orderBy("query_id", "np_lo")
    }),

    // k-NN-GRAPH recall gate (the q287 discipline pointed at the graph
    // artifact): the bucket-blocked graph at rounds 0 and 1 is scored
    // against exact all-vector k-NN. Gated on a THEOREM plus a floor:
    // a round's final list is a top-k over a SUPERSET of the previous
    // round's candidates, so per-vertex exact-hit counts are
    // NON-DECREASING in rounds — integers, no tolerance — and the
    // rounds=1 graph must clear a 0.8 mean-recall floor. Violations
    // emit; oracle is the empty relation.
    "q314_knn_graph_gate" -> ((s, dir) => {
      import graft.operators.KnnGraph
      val e = emb(s, dir)
      val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 10)
      // one build, both refinement stages (shared checkpointed frontier)
      val byRounds = KnnGraph.knnGraphPairsTrajectory(e, "vec_id",
          "embedding", k = 5, cents, rounds = 1)
        .map { case (r, pairs) =>
          KnnGraph.rankGraph(pairs)
            .select(col("vec_id").as("query_id"), col("neighbor_id"),
              lit(r.toLong).as("rounds"), lit(1L).as("hit"))
        }.reduce(_ unionByName _)
      val counted = exact.join(byRounds, Seq("query_id", "neighbor_id"),
          "left")
        .filter(col("rounds").isNotNull)
        .groupBy("query_id", "rounds").agg(sum("hit").as("hits"))
      // three consumers below (two violation filters + the floor) —
      // materialize the per-(query, rounds) census once so the exact
      // brute-force join above it runs a single time
      val hits = e.select(col("vec_id").as("query_id"),
          explode(array(lit(0L), lit(1L))).as("rounds"))
        .join(counted, Seq("query_id", "rounds"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .cutLineage
      val viol = hits.filter(col("rounds") === 0)
        .select(col("query_id"), col("hits").as("hits0"))
        .join(hits.filter(col("rounds") === 1)
          .select(col("query_id"), col("hits").as("hits1")), Seq("query_id"))
        .filter(col("hits1") < col("hits0"))
        .select(lit("rounds_regressed").as("violation"), col("query_id"),
          col("hits0"), col("hits1"))
      val floor = hits.filter(col("rounds") === 1)
        .agg((sum("hits") / (count(lit(1)) * 5)).as("recall"))
        .filter(col("recall") < 0.8)
        .select(lit("recall_floor").as("violation"), lit(-1L).as("query_id"),
          (col("recall") * 1000).cast("bigint").as("hits0"),
          lit(800L).as("hits1"))
      viol.unionByName(floor).orderBy("violation", "query_id")
    }),

    // Graph-guided ANN SEARCH gate (HNSW-layer-0 over the persisted
    // q314 artifact): IVF entry probe + `hops` best-first expansions
    // over the STORED neighbor lists, each hop a top-ef over a SUPERSET
    // of the previous frontier — so per-query exact-hit counts are
    // non-decreasing in hops (integers, no tolerance) and the hops=2
    // search must clear the 0.8 mean-recall floor (q314's bar) at a
    // bounded candidate budget (ef=24, nprobe=3 of 16 buckets — a
    // fraction of the corpus, never a scan; the stored lists are only
    // k=5 wide, which caps how fast a walk can recover a crude probe).
    // Violations emit; oracle is the empty relation.
    "q318_graph_search_gate" -> ((s, dir) => {
      import graft.operators.KnnGraph
      val e = emb(s, dir)
      // the exact brute-force referee touches no layout state — it
      // overlaps the layout build + trajectory chain (guide §2.6)
      val (exact, byHops) = Par.all(
        () => Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
            k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .cutLineage,
        () => {
          val layoutDir = Tables.embeddingsKnnLayout(s, dir, k = 5,
            nlist = 16, nassign = 3)
          // one entry probe + expansion chain serves both hop counts
          KnnGraph.searchFromLayoutTrajectory(layoutDir, e,
              "vec_id", "embedding", k = 5, ef = 24, hops = 2, nprobe = 3)
            .collect { case (h, ranked) if h == 0 || h == 2 =>
              ranked.select(col("query_id"), col("neighbor_id"),
                lit(h.toLong).as("hops"), lit(1L).as("hit"))
            }.reduce(_ unionByName _)
        })
      val counted = exact.join(byHops, Seq("query_id", "neighbor_id"),
          "left")
        .filter(col("hops").isNotNull)
        .groupBy("query_id", "hops").agg(sum("hit").as("hits"))
      // three consumers below — materialize the tiny census once
      val hits = e.select(col("vec_id").as("query_id"),
          explode(array(lit(0L), lit(2L))).as("hops"))
        .join(counted, Seq("query_id", "hops"), "left")
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .cutLineage
      val viol = hits.filter(col("hops") === 0)
        .select(col("query_id"), col("hits").as("hits0"))
        .join(hits.filter(col("hops") === 2)
          .select(col("query_id"), col("hits").as("hits1")), Seq("query_id"))
        .filter(col("hits1") < col("hits0"))
        .select(lit("hops_regressed").as("violation"), col("query_id"),
          col("hits0"), col("hits1"))
      val floor = hits.filter(col("hops") === 2)
        .agg((sum("hits") / (count(lit(1)) * 5)).as("recall"))
        .filter(col("recall") < 0.8)
        .select(lit("recall_floor").as("violation"), lit(-1L).as("query_id"),
          (col("recall") * 1000).cast("bigint").as("hits0"),
          lit(800L).as("hits1"))
      viol.unionByName(floor).orderBy("violation", "query_id")
    }),

    // k-NN-graph INCREMENTAL-APPEND gate (q107's lifecycle pointed at
    // the graph layout): build over the base slice, append the held-out
    // slice (frozen centroids, reverse-edge merge, victim-partition
    // rewrite), and the appended layout must equal a FROM-SCRATCH
    // rounds=0 build over the union under the same persisted centroids
    // — EXACTLY, because top-k is a lattice merge and the bucket
    // candidate sets coincide under the shared model. Symmetric diff;
    // oracle is the empty relation.
    "q315_knn_append_gate" -> ((s, dir) => {
      import graft.operators.KnnGraph
      val e = emb(s, dir)
      val layoutDir = Tables.embeddingsKnnAppendLayout(s, dir, k = 5,
        nlist = 16, nassign = 3)
      val cents = Similarity.readIvfCentroids(s"$layoutDir/vectors",
        s.sparkContext.hadoopConfiguration)
      // the layout read and the from-scratch rebuild are independent
      // chains whose CONSTRUCTION is itself eager (broadcast probe,
      // salt census, lineage cuts) — overlap that (guide §2.6); the
      // symmetric diff's duplicate subtrees dedupe via ReuseExchange
      // inside the one final job, so neither side checkpoints
      val (fromLayout, scratch) = Par.all(
        () => KnnGraph.knnNeighborsFromLayout(layoutDir,
          e.select("vec_id"), "vec_id"),
        () => KnnGraph.rankGraph(KnnGraph.knnGraphPairs(e, "vec_id",
          "embedding", k = 5, cents, rounds = 0)))
      fromLayout.exceptAll(scratch).withColumn("side", lit("layout_only"))
        .unionAll(scratch.exceptAll(fromLayout)
          .withColumn("side", lit("scratch_only")))
        .withColumnRenamed("rank", "rnk")
        .orderBy("vec_id", "rnk", "side")
    }),

    // EMBEDDING-OUTLIER census (the junk detector of embedding-space
    // curation): a vector's outlier score is its similarity to its
    // 5th nearest neighbor — isolated points have LOW 5-NN similarity
    // — and the 20 most isolated vectors emit, 6dp-rounded with id
    // tiebreaks. Bounded TopKAggregator heaps for the 5-NN pass, one
    // 20-row global cut over the per-vector census. FULL hash; the
    // oracle recomputes exact 5-NN from the raw table.
    "q345_embedding_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      val sim5 = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
          k = 5)
        .filter(col("rank") === 5)
        .select(col("query_id").as("vec_id"), col("sim").as("sim5"))
      val w = Window.orderBy(col("sim5").asc, col("vec_id").asc)
      // the census is one row per vector; the global window ranks that
      // census, not pairs
      sim5.withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 20)
        .select(col("rnk"), col("vec_id"), col("sim5"))
        .orderBy("rnk")
    }),

    // SQ8 scalar-quantization gate — the codebook-free rung of the
    // compression ladder (raw → SQ8 1 byte/dim → PQ m bytes/vector →
    // sign bits): per-dim affine codes from exact min/max ranges.
    // Two laws: (a) roundtrip error per dimension is ≤ step/2 BY
    // CONSTRUCTION — checked exactly, any dim over the bound emits;
    // (b) SQ8-shortlist + exact-rerank search clears a 0.95 recall
    // floor vs brute force (the shortlist scores 1-byte codes, rerank
    // touches only `candidates` true vectors per query). Violations
    // emit; oracle is the empty relation.
    "q331_sq8_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val ranges = Similarity.trainSqRanges(e, "vec_id", "embedding")
      val steps = ranges.map(r => (r._2 - r._1) / 255.0)
      val lim = typedLit(steps.map(st => st / 2.0 + 1e-12).toSeq)
      val rt = Similarity.sqQuantize(e, "vec_id", "embedding", ranges)
        .withColumn("rv",
          Similarity.sqDequantize(col("codes"), ranges))
        .join(e.select(col("vec_id").as("neighbor_id"),
          Similarity.asDouble(col("embedding")).as("v")), Seq("neighbor_id"))
        .withColumn("maxerr",
          aggregate(zip_with(zip_with(col("v"), col("rv"),
              (a, b) => abs(a - b)), lim, (d, l) => when(d > l, d - l)
                .otherwise(lit(0.0))),
            lit(0.0), (acc, x) => greatest(acc, x)))
        .filter(col("maxerr") > 0)
        .select(lit("roundtrip_bound").as("violation"),
          col("neighbor_id").as("id"),
          round(col("maxerr"), 9).as("a"), lit(0.0).as("b"))
      val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = Similarity.sqRerankTopK(e, e, "vec_id", "embedding",
          k = 5, candidates = 20)
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg((count(lit(1)) / (countDistinct(col("query_id")) * 5))
          .as("recall"))
      val floor = hits.filter(col("recall") < 0.95)
        .select(lit("recall_floor").as("violation"), lit(-1L).as("id"),
          round(col("recall"), 6).as("a"), lit(0.95).as("b"))
      rt.unionByName(floor).orderBy("violation", "id")
    }),

    // k-CENTER GREEDY coreset gate (farthest-point sampling — the
    // "pick k maximally-diverse exemplars" pass): k driver rounds, one
    // literal-center corpus pass each, corpus never shuffles. Gated on
    // the THEOREM that the covering radius is non-increasing in k
    // (checked on 6dp-rounded radii — adding a center cannot push any
    // point farther from its nearest), plus a STRICT win over the
    // naive first-k-ids baseline at the same k (non-vacuous: the
    // greedy set must actually cover better, not just tie). Violations
    // emit; oracle is the empty relation.
    "q327_kcenter_coreset_gate" -> ((s, dir) => {
      import graft.operators.Coreset
      val e = emb(s, dir)
      val k = 8
      val greedy = Coreset.kCenterGreedy(e, "vec_id", "embedding", k)
      val radii = Coreset.prefixRadii(e, "vec_id", "embedding", greedy)
      val baseline = e.orderBy("vec_id").limit(k)
        .select(col("vec_id").cast("long"),
          graft.operators.Similarity.asDouble(col("embedding")))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      val baseR = Coreset.prefixRadii(e, "vec_id", "embedding", baseline)
        .last._2
      val viols = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Double)]
      radii.sliding(2).foreach {
        case Seq((j1, r1), (j2, r2)) if r2 > r1 =>
          viols += (("radius_increased", j2.toLong, r1, r2))
        case _ =>
      }
      if (radii.last._2 >= baseR)
        viols += (("no_win_over_baseline", k.toLong, radii.last._2, baseR))
      import s.implicits._
      viols.toSeq.toDF("violation", "j", "r_prev", "r_next")
        .orderBy("violation", "j")
    }),

    // PCA WHITENING gate: exact grid covariance census (one
    // treeAggregate, 1e-6-integer partials — partition-order-proof),
    // driver Jacobi eigen over the model-sized matrix, literal-weight
    // whitening columns — then the SAME exact census re-runs on the
    // whitened output and must find covariance ≈ I (|off-diag| and
    // |diag − 1| ≤ 0.01, a quantization-honest tolerance) with a ~zero
    // mean, plus exact eigen sanity: trace preserved on the grid and
    // eigenvalues non-increasing. All checks emit violation rows;
    // oracle is the empty relation.
    "q323_whitening_gate" -> ((s, dir) => {
      import graft.operators.Whitening
      val e = emb(s, dir)
      val (mean, cov, _) = Whitening.meanAndCovGrid(e, "embedding")
      val (vals, vecs) = Whitening.jacobiEigen(cov)
      val d = mean.length
      // PCA truncation guard: a near-null direction whitens to
      // variance λ/(λ+eps) ≈ 0 by construction, not by defect
      val topD = vals.count(_ > 1e-6)
      val w = e.select(col("vec_id"),
        Whitening.whitenColumn(col("embedding"), mean, vals, vecs,
          topD).as("wv"))
      val (wMean, wCov, _) = Whitening.meanAndCovGrid(w, "wv")
      val viols = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Double)]
      val trace = (0 until d).map(i => cov(i)(i)).sum
      if (math.abs(vals.sum - trace) > 1e-9 * math.max(1.0, trace))
        viols += (("trace_drift", -1L, -1L, vals.sum - trace))
      vals.sliding(2).zipWithIndex.foreach {
        case (Array(a, b), i) if b > a + 1e-12 =>
          viols += (("eig_not_sorted", i.toLong, (i + 1).toLong, b - a))
        case _ =>
      }
      for (i <- 0 until topD; j <- i until topD) {
        val want = if (i == j) 1.0 else 0.0
        val got = wCov(i)(j)
        if (math.abs(got - want) > 0.01)
          viols += (("cov_not_identity", i.toLong, j.toLong, got))
      }
      wMean.zipWithIndex.foreach { case (m, i) =>
        if (math.abs(m) > 0.01)
          viols += (("mean_not_zero", i.toLong, -1L, m))
      }
      import s.implicits._
      viols.toSeq.toDF("violation", "i", "j", "value")
        .withColumn("value", round(col("value"), 6))
        .orderBy("violation", "i", "j")
    }),

    // Streaming semantic admission (SemDeDup at the door) — see
    // DocumentStreams.streamingSemanticAdmission. FULL-hash gate: the
    // oracle states the exact NOT-EXISTS cosine rule over the planted
    // twin/negation fixture.
    "q302_stream_semantic_admission" -> ((s, dir) =>
      graft.streaming.DocumentStreams.streamingSemanticAdmission(s, dir)),

    // Distributed ROC-AUC with exact midrank tie handling — the eval
    // metric every learned filter reports, computed the scale-right
    // way: the score quantizes to a 1e-3 grid (cosine to the first
    // axis ∈ [−1,1] ⇒ the census is GRID-bounded at ≤ 2001 rows, the
    // binScale discipline), positives/negatives aggregate per distinct
    // score (one map-side-combinable exchange), and the Mann–Whitney
    // U assembles census-side with the doubled-U integer form
    // (U2 = Σ p·(2·n_below + n) — midranks without halves), so
    // auc_ppm is one exact floor divide. No corpus-sized window, no
    // float comparison anywhere past the quantization. The final
    // ratio widens to decimal(38,0) BEFORE multiplying: u2 tops out
    // at 2·P·N, so the Long form `1000000 * u2` wraps silently once
    // P·N passes ~4.6e12 (≈2M pos × 2M neg — reachable at corpus
    // scale) while the DuckDB oracle computes in HUGEINT; decimal
    // keeps engine and oracle exact at any census mass.
    "q303_distributed_auc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      val ss = aggregate(v, lit(0.0), (a, x) => a + x * x)
      val score = floor(element_at(v, 1) / sqrt(ss) * lit(1000))
        .cast("long")
      val census = e.select(score.as("s"), (col("label") < 5).as("pos"))
        .groupBy("s")
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("p"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("n"))
      val w = Window.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
      census.withColumn("n_below", coalesce(sum("n").over(w), lit(0L)))
        .agg(sum(expr("p * (2 * n_below + n)")).as("u2"),
          sum("p").as("pp"), sum("n").as("nn"))
        .select(col("pp").as("n_pos"), col("nn").as("n_neg"),
          expr("""cast((cast(u2 as decimal(38,0)) * 1000000) div
                 |  (2 * cast(pp as decimal(38,0)) * cast(nn as decimal(38,0)))
                 |  as bigint)""".stripMargin).as("auc_ppm"))
    }),

    // Calibration / reliability buckets over the same quantized score:
    // per decile of the score range, observed positive rate in exact
    // ppm — the companion readout to q303 (a well-ranked score can
    // still be miscalibrated). Same bounded census; one rollup. The
    // score clamps to [-1000, 1000] before the bucket divide: FP
    // rounding can push |v₁|/‖v‖ a ulp past 1, making s = ±1001, and
    // on a negative operand Spark's `div` truncates toward zero while
    // DuckDB's `//` floors — the clamp (applied identically in the
    // oracle) keeps the operand non-negative so the two semantics
    // never diverge.
    "q304_score_calibration" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      val ss = aggregate(v, lit(0.0), (a, x) => a + x * x)
      val score = greatest(lit(-1000L), least(lit(1000L),
        floor(element_at(v, 1) / sqrt(ss) * lit(1000)).cast("long")))
      e.select(score.as("s"), (col("label") < 5).as("pos"))
        .withColumn("bucket", expr("(s + 1000) div 200"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_ppm", expr("(1000000 * n_pos) div n"))
        .select("bucket", "n", "n_pos", "pos_ppm")
        .orderBy("bucket")
    }),

    // Sign-bit binary-quantization ANN recall gate (the q33 contract
    // applied to the cheapest quantization rung): 1 bit/dim signatures,
    // Hamming shortlist, exact-cosine rerank — any row out means the
    // Hamming prefilter lost too much of the true top-5. The shortlist
    // scales as max(128, N/8) (the IVF lesson: a FIXED shortlist's recall decays
    // as the corpus grows past it, exactly like a fixed probe count —
    // what holds recall is a constant rescored FRACTION, here 12.5%,
    // i.e. a 8× exact-scoring cut on top of the 32× memory cut; the
    // count() is a metadata action, not a collect). Exactness laws
    // (signature determinism, duplicate ⇒ Hamming 0) pin in
    // SimilaritySpec.
    "q277_signbit_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val short = math.max(128L, e.count() / 8).toInt
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
          k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.signBitTopK(e, q, "vec_id", "embedding",
          k = 5, shortlist = short)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("recall"))
        .agg(round(avg(col("recall")), 6).as("mean_recall"))
        .filter(col("mean_recall") < 0.8)
        .select(col("mean_recall"), lit(0.8).as("recall_floor"))
    }),

    // Distributed Lloyd refinement referee gate: sample-train an IVF
    // model, refine it over the FULL corpus (one map-side-combined agg
    // per round — corpus never shuffles), and emit any round where the
    // spherical objective DECREASED (Lloyd guarantees non-decreasing;
    // a violation means the update step is not the assignment's
    // maximizer). Oracle is the empty relation.
    "q115_kmeans_refine_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val init = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
        nlist = 16, iters = 2)
      val (_, objs) = Similarity.kmeansRefine(e, "vec_id", "embedding",
        init, iters = 4)
      val viol = (1 until objs.length).collect {
        case i if objs(i) < objs(i - 1) - 1e-9 => (i, objs(i - 1), objs(i))
      }.toSeq
      import s.implicits._
      viol.toDF("iter", "obj_prev", "obj")
    }),

    // Same top-k semantics as q31 but via the bounded TopKAggregator
    // (map-side partial heaps, k rows shuffled per group-partition
    // instead of the full score matrix) — shares q31's oracle shape.
    "q50_topk_aggregator" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopKAgg(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // Random-hyperplane LSH near-dup pairs (the bucketed scale path for
    // q32's exact all-pairs), run in the regime the operator ships for:
    // planted exact duplicates (cos 1.0) over the raw background (max
    // pairwise cos ≈ 0.51). 16 sign bits per band drop a background
    // pair's per-band collision odds below ~2e-3 while identical
    // vectors collide in EVERY band, so the candidate set stays near
    // the true pair count (band pruning, not all-pairs) and the output
    // is deterministic — exactly the planted pairs, hash-gated against
    // a full DuckDB oracle. The narrow-gap regime (threshold 0.4 over
    // the raw table) stays pinned in SimilaritySpec as the honest
    // recall floor, and q67 gates precision on that same raw slice.
    "q49_rhp_pairs" -> ((s, dir) => {
      Similarity.rhpCosinePairs(plantedNearDups(s, dir), "vec_id", "embedding",
          threshold = 0.9, bands = 8, rowsPerBand = 16)
        .orderBy("id_a", "id_b")
    }),

    // Precision gate for q49: every RHP-emitted pair must appear in the
    // exact all-pairs result with the SAME rounded similarity (LSH only
    // prunes candidates; it must never invent or mis-score a pair).
    // The oracle is the EMPTY relation, so a precision bug becomes a
    // driver-gate row mismatch. Recall stays approximate — that
    // direction is the SimilaritySpec floor, not a deterministic
    // property. Bounded to vec_id < 1000: the gate re-runs BOTH pair
    // paths, and the property is scale-free.
    "q67_rhp_subset" -> ((s, dir) => {
      val sliced = emb(s, dir).filter(col("vec_id") < 1000)
      val rhp = Similarity.rhpCosinePairs(sliced, "vec_id", "embedding",
        threshold = 0.4)
      val exact = Similarity.cosinePairs(sliced, "vec_id", "embedding",
        threshold = 0.4)
      rhp.exceptAll(exact).orderBy("id_a", "id_b")
    }),

    // EXACT all-pairs sparse cosine over TF document vectors via
    // AllPairs/PPJoin prefix filtering — the pruning bound is provable
    // (Similarity.sparseCosinePairs scaladoc), so unlike the banded
    // paths this near-dup surface carries a FULL hash gate: the oracle
    // recomputes every pair the naive way (shared-term join + SUM) and
    // the hashes must agree pair-for-pair at 6 dp. Trigram TF-IDF makes
    // the feature space discriminative (the corpus's WORD vocabulary is
    // 31 terms, every one in ~77% of docs — unigram vectors are
    // structurally unprunable AND semantically mush); threshold 0.8 is
    // the near-dup regime, far above the trigram background.
    "q119_sparse_allpairs" -> ((s, dir) => {
      Similarity.sparseCosinePairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),

    // Quality-aware near-dup representative selection — the production
    // dedup keep rule: within each embedding near-dup component, KEEP
    // the highest-quality member (longest document, ties to the lowest
    // id), not the arbitrary min-id. Composes the pair machinery +
    // connected components with a quality join against `documents`
    // (vec_id and doc_id share an id space by construction): the pair
    // list is anomaly-sized, the quality join touches only component
    // members, and the argmax is a max-of-struct partial aggregation —
    // no window, no corpus shuffle beyond the pair stage itself.
    "q105_keep_best_rep" -> ((s, dir) => {
      val pairs = Similarity.cosinePairs(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4)
      val comp = graft.operators.Dedup.nearDupComponents(pairs)
      val quality = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      comp.join(quality, Seq("doc_id"))
        .groupBy(col("rep_id").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"),
            col("doc_id"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          col("m.doc_id").as("keep_id"), col("m.n_chars").as("keep_n_chars"))
        .orderBy("cluster_id")
    }),

    // Per-label centroid + cluster cohesion: the grouped vector mean is
    // a VecMeanAggregator (one dim-length partial per partition per
    // label — the rows never shuffle), the tiny centroid table
    // broadcasts back, and cohesion is one more scan scoring each
    // member against its centroid. The oracle's explode-to-(label, dim)
    // formulation is what this aggregator exists to avoid: it inflates
    // the exchange 64× at 100 TB.
    "q74_label_centroids" -> ((s, dir) => {
      // drop NULL embeddings up front: a label with only NULL vectors
      // must vanish entirely (the oracle's unnest drops it), not
      // surface as an empty-centroid row from the aggregator's zero.
      val e = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("label"), Similarity.asDouble(col("embedding")).as("v"))
      val vmean = udaf(new graft.functions.VecMeanAggregator)
      val cents = broadcast(
        e.groupBy("label").agg(vmean(col("v")).as("cv"))
          .withColumn("centroid_norm",
            sqrt(aggregate(col("cv"), lit(0.0), (a, x) => a + x * x))))
      e.join(cents, "label")
        .withColumn("cs", Similarity.cosine(col("v"), col("cv")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(first(col("centroid_norm")), 6).as("centroid_norm"),
          round(avg(col("cs")), 6).as("mean_cos"),
          round(min(col("cs")), 6).as("min_cos"))
        .orderBy("label")
    }),

    // Embedding-space slice drift — the vector sibling of the q159 PSI
    // profile: 1 − cos(centroid_slice, centroid_global) per label
    // slice. A slice whose centroid swings away from the corpus mean
    // signals a shifted sub-population (new crawl, encoder change,
    // poisoned source) before any scalar feature moves. Everything is
    // two map-side VecMeanAggregator passes (per-label + global — rows
    // never shuffle, the oracle's explode-to-(label, dim) formulation
    // is what the aggregator avoids) and label-count-sized cosine
    // arithmetic against the broadcast global centroid.
    "q168_embedding_drift" -> ((s, dir) =>
      driftProfile(emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("label"), Similarity.asDouble(col("embedding")).as("v")))),

    // Sensitivity gate for the q168 drift monitor (the q305
    // discipline): plant a genuinely SHIFTED slice — every label-3
    // vector NEGATES, the poisoned-source/encoder-swap pathology whose
    // centroid points away from where it used to — and re-run the
    // profile on base and planted. Violations: `shift_missed` if the
    // planted label's drift stays under the 0.25 action line (a
    // negated centroid should read near 2.0 against a global mean it
    // no longer agrees with), and `bystander_flagged` if an unplanted
    // label CROSSES the line it was under before (the global centroid
    // legitimately moves a little when a slice flips — exact equality
    // is the wrong bystander contract here, threshold admission is
    // what downstream consumes; q313's threshold mirror of q305's
    // admitted-flip semantics). Plus the loud `vacuous` row if label 3
    // vanishes. Oracle: the empty relation.
    "q313_drift_sensitivity" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("label"), Similarity.asDouble(col("embedding")).as("v"))
      val planted = e.select(col("label"),
        when(col("label") === 3,
          transform(col("v"), x => -x)).otherwise(col("v")).as("v"))
      val j = driftProfile(e)
        .select(col("label"), col("drift").as("drift_b"))
        .join(driftProfile(planted)
          .select(col("label"), col("drift").as("drift_a")), Seq("label"))
      j.filter(col("label") === 3 && col("drift_a") <= 0.25)
        .select(lit("shift_missed").as("violation"), col("label"))
        .unionByName(j.filter(col("label") =!= 3 &&
            col("drift_b") <= 0.25 && col("drift_a") > 0.25)
          .select(lit("bystander_flagged").as("violation"), col("label")))
        .unionByName(j.filter(col("label") === 3)
          .agg(count(lit(1)).as("nv")).filter(col("nv") === 0)
          .select(lit("vacuous").as("violation"),
            lit(null).cast("bigint").as("label")))
        .orderBy("violation", "label")
    }),

    // Nearest-centroid classification: label centroids from the train
    // slice (map-side VecMeanAggregator partials, rows never shuffle),
    // broadcast to the held-out slice, scored per row against every
    // centroid, and the argmax is a max-of-struct aggregation — the
    // partial agg collapses each test vector to one candidate per
    // partition before the (tiny) final exchange. Ties break to the
    // lowest label via the negated-label struct field.
    "q89_nearest_centroid" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.nearestCentroid(
          train = e.filter(col("vec_id") % 5 =!= 0),
          test = e.filter(col("vec_id") % 5 === 0),
          idCol = "vec_id", vecCol = "embedding", labelCol = "label")
        .orderBy("vec_id")
    }),

    // Int8 scalar quantization (4× memory for ANN shards): per-vector
    // max-abs scale, q = round(x/scale·127) ∈ [-127,127], plus the
    // reconstruction quality a quantized index ships with (RMSE and
    // cosine vs the original). Entirely map-side — quantizing 100 TB of
    // embeddings is one scan. The squared error is expanded as
    // v·v − 2·v·r + r·r through the codegen DotProduct kernel — the
    // same arithmetic path the oracle's list_inner_product takes.
    "q78_int8_quant" -> ((s, dir) => {
      def dot = graft.expressions.ArrayOps.dot _
      val e = emb(s, dir).select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      e.withColumn("scale",
          greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-12)))
        .withColumn("rv", transform(col("v"),
          x => round(x / col("scale") * 127).cast("int").cast("double")
            * col("scale") / 127))
        .withColumn("se",
          dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("rv"))
            + dot(col("rv"), col("rv")))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          round(sqrt(greatest(col("se"), lit(0.0)) / size(col("v"))), 6).as("rmse"),
          round(Similarity.cosine(col("v"), col("rv")), 6).as("cos_recon"))
        .orderBy("vec_id")
    }),

    // Hard-negative mining (contrastive-training data prep): per query,
    // the top-5 most-similar corpus vectors with a DIFFERENT label.
    // Same bounded-aggregator shape as q31/q50; the label-inequality
    // filter runs before any cosine is computed.
    "q97_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // SemDeDup clustered cosine pairs: EXACT all-pairs WITHIN a cluster
    // assignment (`label` stands in for the trained k-means/IVF
    // assignment — any categorical column works), the move that shrinks
    // q32's O(n²) pair space to Σ|cluster|² at 100 TB. Exact within
    // clusters ⇒ full DuckDB hash gate (q32's oracle + an equi-cluster
    // join predicate). maxClusterRows=32 forces the proportional
    // re-salting path on the ~50-row sf0.01 clusters, so the gate
    // exercises the per-cluster skew guard, not just the happy path;
    // salting-invariance and ≡-cosinePairs-within-clusters are pinned
    // in SimilaritySpec.
    "q95_clustered_pairs" -> ((s, dir) => {
      Similarity.clusteredCosinePairs(emb(s, dir), "vec_id", "embedding",
          clusterCol = "label", threshold = 0.35, maxClusterRows = 32)
        .orderBy("id_a", "id_b")
    }),

    // PQ search end-to-end (code-only candidate scan → exact rerank of
    // 100 candidates/query — the production PQ pattern), RECALL-GATED
    // like q33: the exact top-k referees in the query, the mean recall
    // must clear the 0.9 floor, and the oracle is the EMPTY relation —
    // a candidate-generation regression is a driver-gate row mismatch.
    // End-to-end recall equals candidate recall because the rerank is
    // exact; the per-rank shape stays pinned in SimilaritySpec.
    // Compress-then-band (the production embedding-dedup pipeline):
    // JL-project 64→16 dims, THEN run RHP-LSH banding in the projected
    // space — every downstream sketch/score pays a quarter of the
    // bytes. Gate: on the planted-duplicate fixture (q49's), every
    // planted pair must still surface — identical vectors project to
    // identical vectors, agree on every sign bit, and collide in every
    // band regardless of the sign-matrix draw, so a missing pair is a
    // code regression, never fixture noise. Violations emit (missing
    // pairs); the oracle is the EMPTY relation.
    "q141_jl_lsh_gate" -> ((s, dir) => {
      val shift = emb(s, dir).agg(max(col("vec_id"))).head().getLong(0) + 1L
      // Half-corpus slice keyed on the BASE id (pmod maps a clone back
      // to its base, so planted pairs survive or drop together): the
      // project-then-band recall law is equally binding on any
      // non-vacuous slice, and this gate runs a full banded pair pass
      // by contract (the q154 referee-fixture rationale). q49 pins the
      // same law in the unprojected space over the full fixture.
      val expected = emb(s, dir).select(col("vec_id"))
        .filter(col("vec_id") % 20 === 0 && col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id_a"),
          (col("vec_id") + lit(shift)).as("id_b"))
      val proj = Similarity.randomProject(
        plantedNearDups(s, dir)
          .filter(pmod(col("vec_id"), lit(shift)) % 2 === 0),
        "vec_id", "embedding", outDim = 16)
      val found = Similarity.rhpCosinePairs(proj, "vec_id", "pv",
          threshold = 0.9)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      expected.join(found, Seq("id_a", "id_b"), "left")
        .filter(col("hit").isNull)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Embedding QC: equi-height histogram of L2 norms — the first sanity
    // report an embedding pipeline runs (collapsed or exploding norms
    // are the classic sign of a broken encoder batch). Norms are
    // 6dp-rounded BEFORE ranking so the bucket boundaries sit on values
    // both engines agree on digit-for-digit; the rank itself is the
    // q125 distributed two-phase machinery (binScale stretches the
    // narrow norm range over real bins — never a whole-table window).
    "q135_norm_histogram" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          round(sqrt(aggregate(Similarity.asDouble(col("embedding")),
            lit(0.0), (acc, x) => acc + x * x)), 6).as("nrm"))
      graft.operators.Profile.equiHeightHistogram(e, "nrm", "vec_id",
          buckets = 8, binSize = 1, binScale = 100.0)
        .orderBy("bucket")
    }),

    // JL random-projection distortion report: project 64-dim embeddings
    // to 16 dims with the arithmetic sign-hash matrix and report the
    // pairwise Euclidean distance ratio d_proj/d_orig over the vec_id<30
    // sample — the preprocessing audit a pipeline runs before switching
    // its ANN stack to projected vectors. FULL hash gate: the sign
    // matrix is pure BIGINT arithmetic, so the oracle recomputes the
    // identical projection and the only float slack is summation order,
    // absorbed by the 6dp round. The projection itself is one map-side
    // pass (never shuffles); the O(sample²) pair stage is fixture-sized
    // by construction.
    "q127_jl_distortion" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 30)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      val p = Similarity.randomProject(e, "vec_id", "v", outDim = 16)
      val both = e.join(p, Seq("vec_id"))
      val a = both.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("pv").as("pa"))
      val b = both.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("pv").as("pb"))
      def dist(x: Column, y: Column): Column =
        sqrt(aggregate(zip_with(x, y, (p1, p2) => (p1 - p2) * (p1 - p2)),
          lit(0.0), (acc, d) => acc + d))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("d_orig", dist(col("va"), col("vb")))
        .withColumn("d_proj", dist(col("pa"), col("pb")))
        .filter(col("d_orig") > 0)
        .select(col("id_a"), col("id_b"),
          round(col("d_proj") / col("d_orig"), 6).as("ratio"))
        .orderBy("id_a", "id_b")
    }),

    // Prototype-density pruning (the SSL-prototypes / SemDeDup-family
    // redundancy cut): per-cluster centroid (label stands in for the
    // trained assignment), every member scored by cosine to its own
    // centroid, and the top quarter MOST prototypical rows dropped —
    // near-centroid examples are the redundant mass; the kept tail
    // carries the diversity. Ordering contract is the 6dp-ROUNDED score
    // (vec_id tie-break), so cross-engine float noise can't flip a
    // rank. Scale shape: centroids are map-side VecMeanAggregator
    // partials (corpus never shuffles to build them) broadcast back;
    // the rank window partitions by cluster — bounded like SemDeDup's
    // Σ|cluster|² contract, not a global sort.
    "q124_prototype_prune" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vmean = udaf(new graft.functions.VecMeanAggregator)
      val e = emb(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("label"),
          Similarity.asDouble(col("embedding")).as("v"))
      val cents = broadcast(e.groupBy("label").agg(vmean(col("v")).as("cv")))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("sim_r").desc, col("vec_id").asc)
      val cw = Window.partitionBy(col("label"))
      e.join(cents, Seq("label"))
        .withColumn("sim_r", round(Similarity.cosine(col("v"), col("cv")), 6))
        .withColumn("proto_rank", row_number().over(w).cast("bigint"))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("proto_rank") > floor(col("n") / 4))
        .select(col("vec_id"), col("label"), col("sim_r").as("sim_centroid"),
          col("proto_rank"))
        .orderBy("vec_id")
    }),

    // IVF-PQ end-to-end (coarse-prune → ADC code scan → exact rerank —
    // the FAISS-IVFPQ composition every 100 TB ANN deployment runs),
    // RECALL-GATED like q33/q82: exact brute-force referees in the
    // query, the mean recall must clear a 0.85 floor (between q33's
    // IVF-only 0.8 and q82's PQ-only 0.9 — the two pruning losses
    // compose), and the oracle is the EMPTY relation. Candidate pool is
    // the same corpus FRACTION as q82 (1/5, floored at 100): probed at
    // nprobe=6/nassign=4 this holds 0.92-0.98 across sf0.001-0.1 on the
    // isotropic testdata, BOTH quantizers' adversarial case.
    "q122_ivfpq_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val candidates = math.max(100L, (e.count() + 4) / 5).toInt
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 5,
          nprobe = 6, nassign = 4, candidates = candidates)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("recall"))
        .agg(round(avg(col("recall")), 6).as("mean_recall"))
        .filter(col("mean_recall") < 0.85)
        .select(col("mean_recall"), lit(0.85).as("recall_floor"))
    }),

    "q82_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      // The gate pins the recall contract at a constant candidate
      // FRACTION (1/5 of the corpus, floored at the production default
      // of 100): a fixed count over a growing corpus measures pool
      // dilution, not code quality — at sf0.1 the same 100 candidates
      // are 5% of the corpus and recall honestly sags to 0.76. The
      // corpus count is one column-pruned scan, fixture-side only.
      val candidates = math.max(100L, (e.count() + 4) / 5).toInt
      val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.pqRerankTopK(e, q, "vec_id", "embedding", k = 5,
          candidates = candidates)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("recall"))
        .agg(round(avg(col("recall")), 6).as("mean_recall"))
        .filter(col("mean_recall") < 0.9)
        .select(col("mean_recall"), lit(0.9).as("recall_floor"))
    }),

    // IVF-INDEX-AS-STORAGE-LAYOUT gate (q66/q81 pattern): the persisted
    // bucket-partitioned layout (the durable ANN index — a search reads
    // nprobe/nlist of the stored bytes via runtime partition pruning)
    // must return EXACTLY the in-flight q33 IVF's results: same seeded
    // centroids, same multi-assignment frozen into the layout, same
    // shared ranking tail. The symmetric diff is the query output and
    // the oracle is the EMPTY relation — any layout drift (lost bucket,
    // type mangling through the partition column, stale index) becomes
    // a driver-gate row mismatch.
    "q102_ivf_layout_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      val inflight = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      val layoutDir = Tables.embeddingsIvfLayout(s, dir, nlist = 16, nassign = 3)
      val layout = Similarity.ivfTopKFromLayout(layoutDir, queries,
        "vec_id", "embedding", k = 5, nprobe = 4)
      layout.exceptAll(inflight).unionAll(inflight.exceptAll(layout))
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // RIGHT-TO-BE-FORGOTTEN over the persisted ANN layouts (the q385
    // move pointed at vectors): purging a user's rows from the raw
    // table while their EMBEDDINGS live on in the IVF store and the
    // k-NN graph is not a deletion — a search could still surface the
    // forgotten vectors. The gate builds BOTH layouts over the full
    // corpus, purges the victim ids (victim-partition rewrite:
    // vectors from every nassign bucket copy, graph rows on either
    // edge end), then asserts in-query: (a) censuses of all three
    // substores are victim-free (CENSUS_* sentinel rows); (b) a
    // degenerate-exact search over each purged layout (full probe;
    // for the graph, ef >= |survivors| — the KnnGraphSpec law) equals
    // brute force over the SURVIVORS, probed with the victims' own
    // vectors — so nothing forgotten can resurface and nothing
    // surviving was damaged. Symmetric diffs; oracle = EMPTY relation.
    "q386_ann_purge_gate" -> ((s, dir) => {
      import graft.operators.KnnGraph
      val e = emb(s, dir)
      val victims = e.filter(col("vec_id") % 7 === 0)
      val survivors = e.filter(col("vec_id") % 7 =!= 0)
      val victimIds = victims.select(col("vec_id").cast("long"))
        .collect().map(_.getLong(0)).toSeq
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ann_purge").toString
      val nlist = 8
      // the two layout build+purge chains touch disjoint directories and
      // the brute-force referee touches neither — three independent
      // chains, overlapped (88 serialized sub-second jobs otherwise)
      val (_, _, exactAndN) = Par.all(
        () => {
          Similarity.writeIvfLayout(e, "vec_id", "embedding", s"$tmp/ivf",
            nlist, nassign = 3)
          Similarity.purgeIvfLayout(s, s"$tmp/ivf", victimIds)
        },
        () => {
          KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", s"$tmp/knn",
            k = 4, nlist = nlist, nassign = 2)
          KnnGraph.purgeKnnGraphLayout(s, s"$tmp/knn", victimIds)
        },
        () => {
          val exact = Similarity.bruteForceTopK(survivors, victims,
            "vec_id", "embedding", k = 5).cutLineage
          (exact, survivors.count().toInt)
        })
      val (exact, nSurv) = exactAndN
      // census probes read post-purge state nothing mutates after this
      // point — lazy sentinels, evaluated inside the one final job
      val leftIvf = s.read.parquet(s"$tmp/ivf")
        .filter(col("neighbor_id").isInCollection(victimIds))
      val leftVec = s.read.parquet(s"$tmp/knn/vectors")
        .filter(col("neighbor_id").isInCollection(victimIds))
      val leftGraph = s.read.parquet(s"$tmp/knn/graph")
        .filter(col("vec_id").isInCollection(victimIds) ||
          col("neighbor_id").isInCollection(victimIds))
      // both diff directions contain identical search subtrees —
      // ReuseExchange dedupes them inside the one final job, so no
      // extra materialization is needed (measured: an eager checkpoint
      // here costs more than the reuse saves)
      val viaIvf = Similarity.ivfTopKFromLayout(s"$tmp/ivf", victims,
        "vec_id", "embedding", k = 5, nprobe = nlist)
      val viaGraph = KnnGraph.searchFromLayout(s"$tmp/knn", victims,
        "vec_id", "embedding", k = 5, ef = nSurv, hops = 1,
        nprobe = nlist)
      val diffs = viaIvf.exceptAll(exact).unionAll(exact.exceptAll(viaIvf))
        .unionAll(viaGraph.exceptAll(exact))
        .unionAll(exact.exceptAll(viaGraph))
      refereed(diffs, "rank")(
          flag("1", leftIvf), flag("2", leftVec), flag("3", leftGraph))
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk", "neighbor_id")
    }),

    // Margin-based cross-corpus pair mining (Artetxe & Schwenk ratio
    // margin — the bitext/semantic-pair mining score): label parity
    // splits the embeddings into the two "corpora"; each source vector's
    // best target match is scored by the two-sided neighborhood-density
    // margin and mined at >= 1.02. Both kNN directions are the bounded
    // TopKAggregator scan; the margin math joins model-sized frames.
    "q108_margin_mining" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.marginMinePairs(
          src = e.filter(col("label") % 2 === 0),
          tgt = e.filter(col("label") % 2 === 1),
          idCol = "vec_id", vecCol = "embedding", k = 4, minMargin = 1.02)
        .orderBy("src_id")
    }),

    // IVF INCREMENTAL-APPEND gate (q102's pattern pointed at index
    // MAINTENANCE): the layout is built over the base slice, the
    // held-out slice is appended with the layout's persisted centroids
    // (no retrain, no rewrite — the daily-increment move), and a search
    // over the appended layout must return EXACTLY what the in-flight
    // path computes over the union corpus under the same model. The
    // symmetric diff is the query output and the oracle is the EMPTY
    // relation — a lost appended partition, a bucket-type mangle, or an
    // accidental retrain becomes a driver-gate row mismatch.
    "q107_ivf_append_gate" -> ((s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      val layoutDir = Tables.embeddingsIvfAppendLayout(s, dir, nlist = 16,
        nassign = 3)
      val centroids = Similarity.readIvfCentroids(layoutDir,
        s.sparkContext.hadoopConfiguration)
      val layout = Similarity.ivfTopKFromLayout(layoutDir, queries,
        "vec_id", "embedding", k = 5, nprobe = 4)
      val inflight = Similarity.ivfTopKWithCentroids(e, queries,
        "vec_id", "embedding", k = 5, centroids, nprobe = 4, nassign = 3)
      layout.exceptAll(inflight).unionAll(inflight.exceptAll(layout))
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // Product-quantization exactness GATE (q66/q67 pattern): every
    // vector is encoded by BOTH the fused `PqEncode` codegen kernel and
    // the interpreted array_min struct formulation; per-subspace code
    // disagreements are emitted and the oracle is the EMPTY relation.
    // Both paths fold the squared distance in ascending index order, so
    // the doubles are bit-identical and the diff is deterministic —
    // a kernel bug becomes a driver-gate row mismatch. The codebooks
    // are k-means-trained on a bounded deterministic sample (seeded);
    // the encode itself is one map-side pass (the PQ index-build scan
    // that compresses 64 doubles to 8 codes at 100 TB).
    "q81_pq_exactness" -> ((s, dir) => {
      val e = emb(s, dir)
      val books = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      e.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
        .filter(col("v").isNotNull)
        .withColumn("kc",
          graft.expressions.ArrayOps.pqEncode(col("v"), books).getField("codes"))
        .withColumn("rc", Similarity.pqEncodeSortForm(books)(col("v")))
        // sentinel arrays keep the gate sensitive to a path wrongly
        // returning NULL for a non-null vector: zip_with(NULL, x) is
        // NULL and posexplode would silently drop the row — with the
        // sentinels a null-vs-present disagreement becomes a -1 vs -2
        // mismatch row instead of a green gate.
        .withColumn("kc", coalesce(col("kc"), array(lit(-1L))))
        .withColumn("rc", coalesce(col("rc"), array(lit(-2L))))
        .select(col("vec_id"),
          posexplode(zip_with(col("kc"), col("rc"),
            (a, b) => struct(a.as("k"), b.as("r")))).as(Seq("sub", "p")))
        .select(col("vec_id"), col("sub").cast("bigint").as("subspace"),
          col("p.k").as("kernel_code"), col("p.r").as("ref_code"))
        .filter(col("kernel_code") =!= col("ref_code"))
        .orderBy("vec_id", "subspace")
    }),

    // ColBERT-style MaxSim late interaction (Khattab & Zaharia 2020):
    // each 64-dim embedding is read as 4 "token" sub-vectors of 16
    // dims, and score(q, d) = Σ_i max_j cos(q_i, d_j) — the retrieval
    // scorer that keeps per-token granularity where single-vector
    // cosine collapses it. Same shape as q31: the query slice
    // broadcasts, ONE corpus scan computes all 16 slice cosines inside
    // codegen (fixed 16 kernel calls per row — constant work, no
    // explode, no extra shuffle), and the top-k window partitions by
    // query. The i-sum runs in fixed slice order so the float result
    // is engine-deterministic (the oracle adds in the same order).
    "q250_maxsim_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def slices(v: Column): Seq[Column] =
        (0 until 4).map(i => slice(Similarity.asDouble(v), 16 * i + 1, 16))
      val q = broadcast(emb(s, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id") +:
          slices(col("embedding")).zipWithIndex.map { case (c, i) =>
            c.as(s"q$i") }: _*))
      val c = emb(s, dir)
        .select(col("vec_id").as("neighbor_id") +:
          slices(col("embedding")).zipWithIndex.map { case (c0, i) =>
            c0.as(s"c$i") }: _*)
      val maxsim = (0 until 4).map { i =>
        greatest((0 until 4).map(j =>
          Similarity.cosine(col(s"q$i"), col(s"c$j"))): _*)
      }.reduceLeft(_ + _)
      val w = Window.partitionBy("query_id")
        .orderBy(col("maxsim").desc, col("neighbor_id").asc)
      q.crossJoin(c)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("maxsim", maxsim)
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("neighbor_id"),
          round(col("maxsim"), 6).as("maxsim"))
        .orderBy("query_id", "rnk")
    })
  )

  val oracles: Map[String, String] = Map(
    // Composition referee: clustered-over-learned-buckets ≡ exact
    // same-bucket pairs; empty when the cluster path is lossless
    // within clusters.
    "q189_semdedup_ivf_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS DOUBLE) AS sim, CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    // Planted-clone recall referee: truncated-prefix search + exact
    // rerank must return every clone's original — empty when lossless.
    "q192_matryoshka_ann_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id,
        |  CAST(NULL AS BIGINT) AS expected_id, CAST(NULL AS BIGINT) AS got_id
        |WHERE FALSE""".stripMargin,
    "q31_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        | s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
        |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        | r AS (SELECT query_id, neighbor_id, sim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |       FROM s)
        |SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q32_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        list_cosine_similarity(a.v, b.v) AS sim
        |       FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(sim, 6) AS sim
        |FROM p WHERE sim >= 0.4 ORDER BY 1,2""".stripMargin,
    "q33_ivf_ann" ->
      """SELECT CAST(NULL AS DOUBLE) AS mean_recall,
        |  CAST(NULL AS DOUBLE) AS recall_floor
        |WHERE FALSE""".stripMargin,
    "q277_signbit_ann" ->
      """SELECT CAST(NULL AS DOUBLE) AS mean_recall,
        |  CAST(NULL AS DOUBLE) AS recall_floor
        |WHERE FALSE""".stripMargin,
    "q348_filtered_ann" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS DOUBLE) AS metric
        |WHERE FALSE""".stripMargin,
    "q381_ivf_rebalance_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS DOUBLE) AS metric
        |WHERE FALSE""".stripMargin,
    "q287_ivf_probe_sweep" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id,
        |  CAST(NULL AS BIGINT) AS np_lo, CAST(NULL AS BIGINT) AS np_hi,
        |  CAST(NULL AS BIGINT) AS hits_lo, CAST(NULL AS BIGINT) AS hits_hi
        |WHERE FALSE""".stripMargin,
    // The exact NOT-EXISTS admission rule over the twin/negation
    // fixture — every true ≥0.95 match is an exact twin (cos 1.0),
    // which the probe finds deterministically, so banded == exact.
    "q302_stream_semantic_admission" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        | s AS (SELECT vec_id, CASE WHEN vec_id % 2 = 0 THEN vv
        |    ELSE list_transform(vv, x -> -x) END AS sv FROM v)
        |SELECT s.vec_id FROM s
        |WHERE NOT EXISTS (SELECT 1 FROM v h
        |  WHERE list_cosine_similarity(s.sv, h.vv) >= 0.95)
        |ORDER BY s.vec_id""".stripMargin,
    // The doubled-U midrank algebra over the same 1e-3 score census.
    "q303_distributed_auc" ->
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        | sc AS (SELECT CAST(FLOOR(vv[1]
        |      / sqrt(list_sum(list_transform(vv, x -> x * x))) * 1000)
        |      AS BIGINT) AS s,
        |    label < 5 AS pos FROM v),
        | c AS (SELECT s,
        |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM sc GROUP BY 1),
        | k AS (SELECT s, p, n,
        |    CAST(COALESCE(SUM(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_below
        |  FROM c)
        |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
        |  CAST(SUM(n) AS BIGINT) AS n_neg,
        |  CAST((1000000 * SUM(p * (2 * n_below + n)))
        |    // (2 * SUM(p) * SUM(n)) AS BIGINT) AS auc_ppm
        |FROM k""".stripMargin,
    "q304_score_calibration" ->
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        |  FROM embeddings),
        | sc AS (SELECT GREATEST(-1000, LEAST(1000, CAST(FLOOR(vv[1]
        |      / sqrt(list_sum(list_transform(vv, x -> x * x))) * 1000)
        |      AS BIGINT))) AS s,
        |    label < 5 AS pos FROM v)
        |SELECT CAST((s + 1000) // 200 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(CAST(1000000 * SUM(CASE WHEN pos THEN 1 ELSE 0 END)
        |    AS BIGINT) // COUNT(*) AS BIGINT) AS pos_ppm
        |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q82_pq_ann" ->
      """SELECT CAST(NULL AS DOUBLE) AS mean_recall,
        |  CAST(NULL AS DOUBLE) AS recall_floor
        |WHERE FALSE""".stripMargin,
    "q122_ivfpq_gate" ->
      """SELECT CAST(NULL AS DOUBLE) AS mean_recall,
        |  CAST(NULL AS DOUBLE) AS recall_floor
        |WHERE FALSE""".stripMargin,
    "q141_jl_lsh_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
        |WHERE FALSE""".stripMargin,
    // Same 6dp-rounded norm (left-fold sum order differences are
    // absorbed by the round), single-window rank + exact BIGINT bucket
    // arithmetic — the q125 oracle shape.
    "q135_norm_histogram" ->
      """WITH e AS (SELECT vec_id,
        |    ROUND(sqrt(list_aggregate(
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
        |      'sum')), 6) AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | r AS (SELECT nrm,
        |    CAST(ROW_NUMBER() OVER (ORDER BY nrm, vec_id) AS BIGINT) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM e)
        |SELECT ((rk - 1) * 8) // n + 1 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(nrm) AS min_v, MAX(nrm) AS max_v, ROUND(AVG(nrm), 6) AS avg_v
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    // Recomputes the identical multiply–xorshift sign hash in BIGINT
    // (xor/>>/% agree exactly across engines — verified digit-for-digit)
    // and the same Σ±x/√16 projection; only the pair ratio is rounded.
    "q127_jl_distortion" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 30),
        | u AS (SELECT vec_id, unnest(v) AS x,
        |              unnest(range(0, len(v))) AS j, len(v) AS d FROM e),
        | kj AS (SELECT vec_id, x, j, d, k
        |        FROM u CROSS JOIN range(0, 16) t(k)),
        | h AS (SELECT vec_id, x, k,
        |         ((k * d + j + 1) * 2654435761) % 4294967296 AS x1 FROM kj),
        | h2 AS (SELECT vec_id, x, k, xor(x1, x1 >> 16) AS x2 FROM h),
        | h3 AS (SELECT vec_id, x, k, (x2 * 40503) % 4294967296 AS x3 FROM h2),
        | h4 AS (SELECT vec_id, x, k, xor(x3, x3 >> 15) AS x4 FROM h3),
        | s AS (SELECT vec_id, k,
        |         SUM(x * CASE WHEN x4 % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |           / sqrt(16.0) AS pk
        |       FROM h4 GROUP BY 1, 2),
        | p AS (SELECT vec_id, list(pk ORDER BY k) AS pv FROM s GROUP BY 1),
        | pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |          list_distance(a.v, b.v) AS d_orig,
        |          list_distance(pa.pv, pb.pv) AS d_proj
        |        FROM e a JOIN e b ON a.vec_id < b.vec_id
        |        JOIN p pa ON pa.vec_id = a.vec_id
        |        JOIN p pb ON pb.vec_id = b.vec_id)
        |SELECT id_a, id_b, ROUND(d_proj / d_orig, 6) AS ratio
        |FROM pr WHERE d_orig > 0 ORDER BY id_a, id_b""".stripMargin,
    // q74's centroid CTE + a per-cluster rank on the ROUNDED score —
    // the rank itself is part of the cross-engine contract, so it is
    // computed over 6dp values on both sides.
    "q124_prototype_prune" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        | u AS (SELECT label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS i FROM e),
        | cd AS (SELECT label, i, AVG(x) AS m FROM u GROUP BY 1, 2),
        | cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cd GROUP BY 1),
        | sc AS (SELECT e.vec_id, e.label,
        |          ROUND(list_cosine_similarity(e.v, cent.cv), 6) AS sim_r
        |        FROM e JOIN cent USING (label)),
        | r AS (SELECT vec_id, label, sim_r,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY label
        |           ORDER BY sim_r DESC, vec_id ASC) AS BIGINT) AS proto_rank,
        |         COUNT(*) OVER (PARTITION BY label) AS n
        |       FROM sc)
        |SELECT vec_id, label, sim_r AS sim_centroid, proto_rank
        |FROM r WHERE proto_rank > FLOOR(n / 4.0) ORDER BY vec_id""".stripMargin,
    "q115_kmeans_refine_gate" ->
      """SELECT CAST(NULL AS INTEGER) AS iter, CAST(NULL AS DOUBLE) AS obj_prev,
        |  CAST(NULL AS DOUBLE) AS obj
        |WHERE FALSE""".stripMargin,
    // q49 on the planted fixture: identical vectors share every band key,
    // so LSH output ≡ exact pairs ≥ 0.9 — a real hash gate, not rows-only.
    "q49_rhp_pairs" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | e AS (SELECT vec_id, v FROM e0
        |       UNION ALL
        |       SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM e0), v
        |       FROM e0 WHERE vec_id % 20 = 0),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        list_cosine_similarity(a.v, b.v) AS sim
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(sim, 6) AS sim
        |FROM p WHERE sim >= 0.9 ORDER BY 1,2""".stripMargin,
    "q67_rhp_subset" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
        |  CAST(NULL AS DOUBLE) AS sim
        |WHERE FALSE""".stripMargin,
    "q62_embed_neardup_reps" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e0 a CROSS JOIN e0 b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.v, b.v) >= 0.4),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |       UNION SELECT id_b, id_a FROM p),
        | reach AS (
        |  SELECT src AS node, dst AS peer FROM e
        |  UNION
        |  SELECT node, e.dst FROM reach JOIN e ON reach.peer = e.src
        |  WHERE e.dst <> reach.node)
        |SELECT node AS vec_id,
        |  LEAST(node, MIN(peer)) AS rep_id
        |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin,
    // The naive formulation of q119: word-trigram features (the
    // shingleCte convention — whole text stands in for docs under 3
    // words), q72's smooth TF-IDF weights unit-normalized, every
    // co-occurring pair scored by a shared-term join + SUM. The engine
    // side must reproduce this EXACTLY while touching only the
    // prefix-filtered candidate space — rounding to 6 dp happens before
    // the threshold test on both sides so boundary decisions agree.
    "q119_sparse_allpairs" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        | g AS (SELECT doc_id,
        |         unnest(CASE WHEN len(w) >= 3
        |           THEN list_transform(range(len(w)-2),
        |                i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
        |           ELSE [text] END) AS term
        |       FROM t),
        | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |        FROM g WHERE term IS NOT NULL AND term <> '' GROUP BY 1, 2),
        | dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        | n AS (SELECT COUNT(*) AS nd FROM documents),
        | tw AS (SELECT doc_id, term,
        |          tf * (ln((n.nd + 1) / (dfq.df + 1)) + 1) AS tw
        |        FROM tf JOIN dfq USING (term) CROSS JOIN n),
        | nrm AS (SELECT doc_id, sqrt(SUM(tw * tw)) AS nn FROM tw GROUP BY 1),
        | v AS (SELECT tw.doc_id, tw.term, tw.tw / nrm.nn AS w
        |       FROM tw JOIN nrm USING (doc_id)),
        | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         ROUND(SUM(a.w * b.w), 6) AS cos
        |       FROM v a JOIN v b ON a.term = b.term AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // q62's recursive-CC oracle + a quality join: the kept row is the
    // (n_chars DESC, doc_id ASC) argmax within each component.
    "q105_keep_best_rep" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e0 a CROSS JOIN e0 b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_cosine_similarity(a.v, b.v) >= 0.4),
        | e AS (SELECT id_a AS src, id_b AS dst FROM p
        |       UNION SELECT id_b, id_a FROM p),
        | reach AS (
        |  SELECT src AS node, dst AS peer FROM e
        |  UNION
        |  SELECT node, e.dst FROM reach JOIN e ON reach.peer = e.src
        |  WHERE e.dst <> reach.node),
        | comp AS (SELECT node AS doc_id,
        |            LEAST(node, MIN(peer)) AS cluster_id
        |          FROM reach GROUP BY node),
        | j AS (SELECT c.cluster_id, c.doc_id, d.n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |          ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        |       FROM comp c JOIN documents d USING (doc_id)),
        | agg AS (SELECT cluster_id, COUNT(*) AS n_members FROM j GROUP BY 1)
        |SELECT j.cluster_id, agg.n_members, j.doc_id AS keep_id,
        |  j.n_chars AS keep_n_chars
        |FROM j JOIN agg USING (cluster_id)
        |WHERE j.rn = 1 ORDER BY cluster_id""".stripMargin,
    "q50_topk_aggregator" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        | s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
        |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        | r AS (SELECT query_id, neighbor_id, sim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |       FROM s)
        |SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // Zipped unnest pairs each element with its subscript (two unnests
    // in one SELECT zip; generate_subscripts would count as a nested
    // unnest); AVG per (label, dim) then list(ORDER BY i) rebuilds the
    // centroid. With unit-norm input vectors mean_cos equals
    // centroid_norm identically — both engines must agree on that
    // invariant too.
    "q74_label_centroids" ->
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        | u AS (SELECT label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS i FROM e),
        | cd AS (SELECT label, i, AVG(x) AS m FROM u GROUP BY 1, 2),
        | cent AS (SELECT label, list(m ORDER BY i) AS cv,
        |            sqrt(SUM(m * m)) AS centroid_norm
        |          FROM cd GROUP BY 1),
        | coh AS (SELECT e.label, list_cosine_similarity(e.v, cent.cv) AS cs,
        |                cent.centroid_norm
        |         FROM e JOIN cent USING (label))
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(ANY_VALUE(centroid_norm), 6) AS centroid_norm,
        |  ROUND(AVG(cs), 6) AS mean_cos, ROUND(MIN(cs), 6) AS min_cos
        |FROM coh GROUP BY label ORDER BY label""".stripMargin,
    "q168_embedding_drift" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        | u AS (SELECT label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS i FROM e),
        | cd AS (SELECT label, i, AVG(x) AS m FROM u GROUP BY 1, 2),
        | cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cd GROUP BY 1),
        | gd AS (SELECT i, AVG(x) AS g FROM u GROUP BY 1),
        | gc AS (SELECT list(g ORDER BY i) AS gv FROM gd),
        | n AS (SELECT label, COUNT(*) AS n_vecs FROM e GROUP BY 1)
        |SELECT cent.label, n.n_vecs,
        |  ROUND(1.0 - list_cosine_similarity(cent.cv, gc.gv), 6) AS drift
        |FROM cent CROSS JOIN gc JOIN n ON cent.label = n.label
        |ORDER BY cent.label""".stripMargin,
    // Sensitivity gate: a negated label-3 slice must cross the 0.25
    // action line and no bystander may flip across it — empty.
    "q313_drift_sensitivity" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS BIGINT) AS label
        |WHERE FALSE""".stripMargin,
    // Theorem (hit counts non-decreasing in rounds) + recall floor:
    // empty.
    "q314_knn_graph_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits0,
        |  CAST(NULL AS BIGINT) AS hits1
        |WHERE FALSE""".stripMargin,
    // Exact 5-NN similarity recomputed pairwise; lowest 20.
    "q345_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
        |        b.vec_id ASC) AS rnk
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        | s5 AS (SELECT qid AS vec_id, sim AS sim5 FROM p WHERE rnk = 5),
        | r AS (SELECT vec_id, sim5, ROW_NUMBER() OVER
        |    (ORDER BY sim5 ASC, vec_id ASC) AS rnk FROM s5)
        |SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, sim5
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // SQ8 roundtrip bound + rerank recall floor: empty.
    "q331_sq8_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation, CAST(NULL AS BIGINT) AS id,
        |  CAST(NULL AS DOUBLE) AS a, CAST(NULL AS DOUBLE) AS b
        |WHERE FALSE""".stripMargin,
    // Radius monotone in k + strict win over first-k baseline: empty.
    "q327_kcenter_coreset_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation, CAST(NULL AS BIGINT) AS j,
        |  CAST(NULL AS DOUBLE) AS r_prev, CAST(NULL AS DOUBLE) AS r_next
        |WHERE FALSE""".stripMargin,
    // Whitened covariance ≈ I + eigen sanity: empty.
    "q323_whitening_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation, CAST(NULL AS BIGINT) AS i,
        |  CAST(NULL AS BIGINT) AS j, CAST(NULL AS DOUBLE) AS value
        |WHERE FALSE""".stripMargin,
    // Graph-search hops monotone + recall floor: empty.
    "q318_graph_search_gate" ->
      """SELECT CAST(NULL AS VARCHAR) AS violation,
        |  CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS hits0,
        |  CAST(NULL AS BIGINT) AS hits1
        |WHERE FALSE""".stripMargin,
    // Appended layout ≡ from-scratch union build (lattice-merge
    // exactness): empty.
    "q315_knn_append_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS rnk,
        |  CAST(NULL AS BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,
    "q89_nearest_centroid" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        | u AS (SELECT label, unnest(v) AS x,
        |              unnest(range(1, len(v) + 1)) AS i
        |       FROM e WHERE vec_id % 5 <> 0),
        | cd AS (SELECT label, i, AVG(x) AS m FROM u GROUP BY 1, 2),
        | cent AS (SELECT label AS pred_label, list(m ORDER BY i) AS cv
        |          FROM cd GROUP BY 1),
        | sc AS (SELECT t.vec_id, t.label AS true_label, c.pred_label,
        |          list_cosine_similarity(t.v, c.cv) AS cs,
        |          row_number() OVER (PARTITION BY t.vec_id
        |            ORDER BY list_cosine_similarity(t.v, c.cv) DESC,
        |              c.pred_label ASC) AS rn
        |        FROM (SELECT * FROM e WHERE vec_id % 5 = 0) t
        |        CROSS JOIN cent c)
        |SELECT vec_id, true_label, pred_label, ROUND(cs, 6) AS sim
        |FROM sc WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // round() is half-away-from-zero in both engines; the squared error
    // uses the same v·v − 2·v·r + r·r expansion via list_inner_product.
    "q78_int8_quant" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        | q AS (SELECT vec_id, v,
        |         greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
        |           AS scale FROM e),
        | r AS (SELECT vec_id, v, scale,
        |         list_transform(v, x ->
        |           CAST(CAST(round(x / scale * 127) AS INTEGER) AS DOUBLE)
        |             * scale / 127) AS rv
        |       FROM q),
        | m AS (SELECT vec_id, scale,
        |         list_inner_product(v, v) - 2 * list_inner_product(v, rv)
        |           + list_inner_product(rv, rv) AS se,
        |         list_cosine_similarity(v, rv) AS cr, len(v) AS d
        |       FROM r)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |  ROUND(sqrt(greatest(se, 0.0) / d), 6) AS rmse,
        |  ROUND(cr, 6) AS cos_recon
        |FROM m ORDER BY vec_id""".stripMargin,
    "q81_pq_exactness" ->
      """SELECT CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS subspace,
        |  CAST(NULL AS BIGINT) AS kernel_code, CAST(NULL AS BIGINT) AS ref_code
        |WHERE FALSE""".stripMargin,
    "q102_ivf_layout_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rnk,
        |  CAST(NULL AS BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim
        |WHERE FALSE""".stripMargin,
    "q107_ivf_append_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rnk,
        |  CAST(NULL AS BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim
        |WHERE FALSE""".stripMargin,
    // Purged layouts must search as if the victims never existed: both
    // degenerate-exact searches equal brute force over survivors and
    // every census is victim-free — the diff (and the oracle) is empty.
    "q386_ann_purge_gate" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS rnk,
        |  CAST(NULL AS BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS sim
        |WHERE FALSE""".stripMargin,
    // Ranks by the UNROUNDED sim (the operator's ordering contract),
    // averages/margins over the 6dp-ROUNDED sims (the operator's output
    // values) — the same split the Spark side makes.
    "q108_margin_mining" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE label % 2 = 0),
        | t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE label % 2 = 1),
        | f AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
        |         list_cosine_similarity(s.v, t.v) AS sim,
        |         ROW_NUMBER() OVER (PARTITION BY s.vec_id
        |           ORDER BY list_cosine_similarity(s.v, t.v) DESC, t.vec_id)
        |           AS rn
        |       FROM s CROSS JOIN t),
        | b AS (SELECT t.vec_id AS tgt_id, s.vec_id AS src_id,
        |         list_cosine_similarity(t.v, s.v) AS sim,
        |         ROW_NUMBER() OVER (PARTITION BY t.vec_id
        |           ORDER BY list_cosine_similarity(t.v, s.v) DESC, s.vec_id)
        |           AS rn
        |       FROM t CROSS JOIN s),
        | fa AS (SELECT src_id, AVG(ROUND(sim, 6)) AS src_avg
        |        FROM f WHERE rn <= 4 GROUP BY 1),
        | ba AS (SELECT tgt_id, AVG(ROUND(sim, 6)) AS tgt_avg
        |        FROM b WHERE rn <= 4 GROUP BY 1),
        | best AS (SELECT src_id, tgt_id, ROUND(sim, 6) AS sim
        |          FROM f WHERE rn = 1),
        | m AS (SELECT best.src_id, best.tgt_id, best.sim,
        |         ROUND(2 * best.sim / (fa.src_avg + ba.tgt_avg), 6) AS margin
        |       FROM best JOIN fa USING (src_id) JOIN ba USING (tgt_id))
        |SELECT src_id, tgt_id, sim, margin FROM m
        |WHERE margin >= 1.02 ORDER BY src_id""".stripMargin,
    "q97_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS neighbor_id, label AS cl,
        |         CAST(embedding AS DOUBLE[]) AS cv
        |       FROM embeddings),
        | s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
        |       FROM q CROSS JOIN c WHERE ql <> cl),
        | r AS (SELECT query_id, neighbor_id, sim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        |       FROM s)
        |SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    // q32's oracle restricted to equi-cluster pairs: the clustered
    // operator is exact within clusters, so it takes a full hash gate.
    "q95_clustered_pairs" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        list_cosine_similarity(a.v, b.v) AS sim
        |       FROM e a JOIN e b
        |         ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(sim, 6) AS sim
        |FROM p WHERE sim >= 0.35 ORDER BY 1,2""".stripMargin,
    // MaxSim restated with explicit 16-dim slices; GREATEST is exact
    // and the four guarded sums add in the same slice order as the
    // engine, so the doubles agree bit-for-bit before the ROUND.
    "q250_maxsim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS q0,
        |    CAST(embedding[17:32] AS DOUBLE[]) AS q1,
        |    CAST(embedding[33:48] AS DOUBLE[]) AS q2,
        |    CAST(embedding[49:64] AS DOUBLE[]) AS q3
        |  FROM embeddings WHERE vec_id < 10),
        | c AS (SELECT vec_id AS neighbor_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS c0,
        |    CAST(embedding[17:32] AS DOUBLE[]) AS c1,
        |    CAST(embedding[33:48] AS DOUBLE[]) AS c2,
        |    CAST(embedding[49:64] AS DOUBLE[]) AS c3
        |  FROM embeddings),
        | s AS (SELECT query_id, neighbor_id,
        |    GREATEST(list_cosine_similarity(q0, c0),
        |      list_cosine_similarity(q0, c1),
        |      list_cosine_similarity(q0, c2),
        |      list_cosine_similarity(q0, c3))
        |    + GREATEST(list_cosine_similarity(q1, c0),
        |      list_cosine_similarity(q1, c1),
        |      list_cosine_similarity(q1, c2),
        |      list_cosine_similarity(q1, c3))
        |    + GREATEST(list_cosine_similarity(q2, c0),
        |      list_cosine_similarity(q2, c1),
        |      list_cosine_similarity(q2, c2),
        |      list_cosine_similarity(q2, c3))
        |    + GREATEST(list_cosine_similarity(q3, c0),
        |      list_cosine_similarity(q3, c1),
        |      list_cosine_similarity(q3, c2),
        |      list_cosine_similarity(q3, c3)) AS maxsim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        | r AS (SELECT query_id, neighbor_id, maxsim,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY maxsim DESC, neighbor_id) AS BIGINT) AS rnk
        |  FROM s)
        |SELECT query_id, rnk, neighbor_id, ROUND(maxsim, 6) AS maxsim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  )
}
