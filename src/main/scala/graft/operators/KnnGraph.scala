package graft.operators

import graft.expressions.ArrayOps
import graft.operators.Checkpoints.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-NN GRAPH construction + persistence — the graph-shaped ANN
  * artifact the IVF/PQ ladder lacks: one row per (vector, rank ≤ k)
  * holding its k nearest corpus neighbors by exact cosine over a
  * PRUNED candidate space. Feeds graph-based retrieval, SemDeDup-style
  * dedup-by-neighborhood, and NN-descent-style refinement.
  *
  * Build shape (never all-pairs): candidates are vectors sharing one of
  * each vector's `nassign` nearest IVF buckets — Σ|bucket|² work
  * bounded by the bucket blocking, with `Dedup.saltCensus` adaptive
  * salting so one hot bucket cannot pin a stage (the q95 discipline).
  * Optional NN-descent rounds expand candidates to
  * neighbors-of-neighbors over the current graph (≤ (2k)² per vertex
  * per round, exact-scored) and re-take the top-k; since each round's
  * final list is a top-k over a SUPERSET of the previous candidate
  * set, per-vertex recall against exact k-NN is NON-DECREASING in
  * rounds — a theorem the q314 gate checks as integers.
  *
  * Persistence (the q102/q107 lifecycle): the layout directory is
  * self-contained — `vectors/` is a full `writeIvfLayout` substore
  * (bucket-partitioned vectors + frozen centroids), `graph/` holds the
  * neighbor lists partitioned by `part = vec_id mod nparts` (lookups
  * prune to one partition), and `_graft_knn_meta.json` carries
  * (k, nparts, nassign). Incremental append assigns NEW vectors with
  * the frozen centroids, computes their lists from their buckets'
  * candidates, and merges reverse edges into affected OLD lists via a
  * dynamic-partition overwrite of only the touched `graph/` partitions
  * — and because top-k is a lattice merge
  * (topk(topk(A) ∪ B) = topk(A ∪ B)), the appended layout is
  * BIT-EQUAL to a from-scratch rounds=0 build over the union under the
  * same centroids (the q315 empty-diff gate). Stored sims are RAW
  * doubles — rounding happens at read time — so incremental merges
  * rank on exactly the numbers a from-scratch build ranks on.
  */
object KnnGraph {

  /** Raw top-k pair relation (id, neighbor, sim-unrounded) from
    * IVF-bucket blocking + `rounds` NN-descent refinements, under an
    * explicit centroid model (the searchable-half split, like
    * `ivfTopKWithCentroids`).
    */
  def knnGraphPairs(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, centroids: Array[Array[Double]], nassign: Int = 3,
      rounds: Int = 1, saltBuckets: Int = 8,
      maxBucketRows: Int = 4096): DataFrame =
    knnGraphPairsTrajectory(corpus, idCol, vecCol, k, centroids, nassign,
      rounds, saltBuckets, maxBucketRows).last._2

  /** Every refinement stage of the build in one pass: Seq of
    * (rounds, pairs) for rounds = 0..rounds, sharing the checkpointed
    * intermediate frontiers — a gate comparing round r to round r+1
    * (q314) pays ONE build, not one per round.
    */
  def knnGraphPairsTrajectory(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Double]],
      nassign: Int = 3, rounds: Int = 1, saltBuckets: Int = 8,
      maxBucketRows: Int = 4096): Seq[(Int, DataFrame)] = {
    require(k >= 1, s"knnGraphPairs: k must be >= 1, got $k")
    require(rounds >= 0, s"knnGraphPairs: rounds must be >= 0, got $rounds")
    val vecs = Checkpoints.cut(corpus
      .select(col(idCol).cast("long").as("id"),
        Similarity.asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull))
    val assigned = graft.GraftSession.fanout(vecs)
      .withColumn("bucket",
        explode(ArrayOps.argTopKCosine(col("v"), centroids, nassign)))
    val (salts, _) =
      Dedup.saltCensus(assigned, Seq("bucket"), saltBuckets, maxBucketRows)
    val tb = assigned.join(broadcast(salts), Seq("bucket"))
    val a = tb.select(col("bucket"), col("id").as("id_a"),
      col("v").as("va"), pmod(xxhash64(col("id")), col("__salt_n")).as("salt"))
    val b = tb.select(col("bucket"), col("id").as("id_b"),
      col("v").as("vb"),
      explode(sequence(lit(0L), col("__salt_n") - 1)).as("salt"))
    val basePairs = a.join(b, Seq("bucket", "salt"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .select(col("id_a").as("id"), col("id_b").as("neighbor"), col("sim"))
      .distinct()
    // round-18 NEGATIVE RESULT, reverted: async-materialized frontiers
    // (persist + background count instead of this eager cut) measured
    // +42-48% on q314/q315 A/B — the gate's first consumer races the
    // background materialization and the expensive bucket-join frontier
    // computes TWICE. The eager cut's blocking is load-bearing:
    // materialize once, then every stage reads blocks.
    var pairs = Checkpoints.cut(topKPairs(basePairs, k))
    val stages = Seq.newBuilder[(Int, DataFrame)]
    stages += ((0, pairs))
    var r = 0
    while (r < rounds) {
      val cur = pairs
      val edges = cur.select("id", "neighbor")
      val und = edges
        .unionAll(edges.select(col("neighbor").as("id"),
          col("id").as("neighbor")))
        .distinct()
      val cand = und.select(col("id").as("a"), col("neighbor").as("m"))
        .join(und.select(col("id").as("m"), col("neighbor").as("c")),
          Seq("m"))
        .filter(col("a") =!= col("c"))
        .select(col("a"), col("c")).distinct()
      val scored = cand
        .join(vecs.select(col("id").as("a"), col("v").as("va")), Seq("a"))
        .join(vecs.select(col("id").as("c"), col("v").as("vc")), Seq("c"))
        .select(col("a").as("id"), col("c").as("neighbor"),
          Similarity.cosine(col("va"), col("vc")).as("sim"))
      pairs = Checkpoints.cut(topKPairs(cur.unionAll(scored).distinct(), k))
      stages += ((r + 1, pairs))
      r += 1
    }
    stages.result()
  }

  /** Ranked presentation of a pair relation: (vec_id, rank,
    * neighbor_id, sim 6dp), the `bruteForceTopKAgg` output contract —
    * so recall joins and oracles line up across exact and graph paths.
    */
  def rankGraph(pairs: DataFrame): DataFrame = {
    // per-id row count is already ≤ k, so the per-id window ranks ≤ k
    // rows per key — bounded, not a corpus sort
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("sim").desc, col("neighbor").asc)
    pairs
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("id").as("vec_id"), col("rank"),
        col("neighbor").as("neighbor_id"), round(col("sim"), 6).as("sim"))
      .orderBy("vec_id", "rank")
  }

  /** Convenience: train centroids (seeded, deterministic), build, rank. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nassign: Int = 3, rounds: Int = 1): DataFrame =
    rankGraph(knnGraphPairs(corpus, idCol, vecCol, k,
      Similarity.trainIvfCentroids(corpus, idCol, vecCol, nlist, iters = 10),
      nassign, rounds))

  /** Bounded per-id top-k over a raw pair relation (map-side partial
    * heaps; the exchange carries ≤ k rows per (id, partition)).
    */
  private def topKPairs(pairs: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    pairs.groupBy(col("id"))
      .agg(topk(col("neighbor"), col("sim")).as("top"))
      .select(col("id"), explode(col("top")).as("e"))
      .select(col("id"), col("e._1").as("neighbor"), col("e._2").as("sim"))
  }

  private def metaPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_graft_knn_meta.json")

  private case class Meta(k: Int, nparts: Int, nassign: Int)

  private def writeMeta(dir: String, m: Meta,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(
      s"""{"k":${m.k},"nparts":${m.nparts},"nassign":${m.nassign}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMeta(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Meta = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p),
      s"knn layout $dir has no _graft_knn_meta.json - not a " +
        "writeKnnGraphLayout directory; rebuild it.")
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    def f(key: String): Int =
      s""""$key":(\\d+)""".r.findFirstMatchIn(json)
        .getOrElse(sys.error(s"knn meta missing $key")).group(1).toInt
    Meta(f("k"), f("nparts"), f("nassign"))
  }

  /** Build + persist the self-contained layout (see object doc). */
  def writeKnnGraphLayout(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, k: Int, nlist: Int = 16, nassign: Int = 3,
      rounds: Int = 0, nparts: Int = 16): Unit = {
    require(nparts >= 1, s"writeKnnGraphLayout: nparts must be >= 1")
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    Similarity.writeIvfLayout(corpus, idCol, vecCol, s"$dir/vectors",
      nlist, nassign)
    val centroids = Similarity.readIvfCentroids(s"$dir/vectors", conf)
    knnGraphPairs(corpus, idCol, vecCol, k, centroids, nassign, rounds)
      .withColumn("part", pmod(col("id"), lit(nparts.toLong)).cast("int"))
      .select(col("part"), col("id").as("vec_id"),
        col("neighbor").as("neighbor_id"), col("sim"))
      .write.mode("overwrite").partitionBy("part").parquet(s"$dir/graph")
    writeMeta(dir, Meta(k, nparts, nassign), conf)
  }

  /** Pruned neighbor lookup: the id set broadcasts only when a bounded
    * probe proves it small (a 10^8-id bulk lookup must shuffle, not
    * ship every id to every task); on the broadcast path the join on
    * (part, vec_id) reaches the `graph/` scan as a partition prune — a
    * lookup reads ~|ids|/nparts of the stored bytes, not the whole
    * graph.
    */
  def knnNeighborsFromLayout(dir: String, ids: DataFrame,
      idCol: String, maxBroadcastIds: Int = 1 << 16): DataFrame = {
    val spark = ids.sparkSession
    val m = readMeta(dir, spark.sparkContext.hadoopConfiguration)
    val g = spark.read.parquet(s"$dir/graph")
    val q = Similarity.broadcastIfSmall(
      ids.select(col(idCol).cast("long").as("vec_id"))
        .distinct()
        .withColumn("part",
          pmod(col("vec_id"), lit(m.nparts.toLong)).cast("int")),
      maxBroadcastIds)
    rankGraph(g.join(q, Seq("part", "vec_id"))
      .select(col("vec_id").as("id"), col("neighbor_id").as("neighbor"),
        col("sim")))
  }

  /** Graph-guided ANN search over a persisted layout (the HNSW-layer-0
    * move, distributed): entry candidates come from an IVF probe of the
    * layout's own `vectors/` substore, then `hops` rounds of best-first
    * expansion walk the STORED neighbor lists — each round expands the
    * current per-query top-`ef` frontier to its graph neighbors,
    * re-scores exactly, and re-takes the top-ef, so the frontier is a
    * top-ef over a SUPERSET of the previous candidates and per-query
    * recall is non-decreasing in hops (q314's theorem, re-used by the
    * q318 gate).
    *
    * Scale shape: per-query work is bounded by ef·k exact scores per
    * hop (frontier × stored list width), never a corpus scan; the
    * expansion join keys on the graph's `vec_id`, the scoring join on
    * the store's id — both bounded-fanout keyed joins. With
    * `nprobe = nlist` and `ef ≥ |corpus|` the search degenerates to
    * exact brute force (the KnnGraphSpec law).
    */
  def searchFromLayout(dir: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, ef: Int = 16, hops: Int = 2,
      nprobe: Int = 2, excludeSelf: Boolean = true,
      maxBroadcastQueries: Int = 1 << 16): DataFrame =
    searchFromLayoutTrajectory(dir, queries, idCol, vecCol, k, ef, hops,
      nprobe, excludeSelf, maxBroadcastQueries).last._2

  /** Every hop of the search in one pass: Seq of (hop, ranked top-k),
    * sharing the checkpointed frontiers — the q318 monotonicity gate
    * pays ONE entry probe and one expansion chain for all hop counts.
    */
  def searchFromLayoutTrajectory(dir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, ef: Int = 16, hops: Int = 2,
      nprobe: Int = 2, excludeSelf: Boolean = true,
      maxBroadcastQueries: Int = 1 << 16)
      : Seq[(Int, DataFrame)] = {
    require(ef >= k, s"searchFromLayout: ef ($ef) must be >= k ($k)")
    require(hops >= 0, s"searchFromLayout: hops must be >= 0, got $hops")
    val spark = queries.sparkSession
    readMeta(dir, spark.sparkContext.hadoopConfiguration) // loud non-layout
    val store = spark.read.parquet(s"$dir/vectors")
      .select(col("neighbor_id").as("nid"), col("cv"))
      .dropDuplicates("nid") // each id is stored in nassign buckets
    val g = spark.read.parquet(s"$dir/graph")
      .select(col("vec_id"), col("neighbor_id"))
    // size-guarded: a bulk search (10M-query batch job) must not ship
    // every query vector to every task / OOM the driver — past the
    // bound the per-hop joins shuffle on query_id instead
    val q = Similarity.broadcastIfSmall(
      queries.select(col(idCol).cast("long").as("query_id"),
        Similarity.asDouble(col(vecCol)).as("qv")), maxBroadcastQueries)
    def scoreNodes(nodes: DataFrame): DataFrame = {
      val scored = nodes.join(store, col("node") === col("nid"))
        .join(q, Seq("query_id"))
        .select(col("query_id"), col("node"),
          Similarity.cosine(col("qv"), col("cv")).as("sim"))
      if (excludeSelf) scored.filter(col("query_id") =!= col("node"))
      else scored
    }
    // entry frontier: IVF probe for candidate NODES, re-scored raw here
    // so every hop merges on identical unrounded numbers
    val entry = Similarity.ivfTopKFromLayout(s"$dir/vectors", queries,
        idCol, vecCol, ef, nprobe, excludeSelf, maxBroadcastQueries)
      .select(col("query_id"), col("neighbor_id").as("node"))
    def present(frontier: DataFrame): DataFrame =
      rankGraph(frontier.select(col("query_id").as("id"),
          col("node").as("neighbor"), col("sim")))
        .select(col("vec_id").as("query_id"), col("rank"),
          col("neighbor_id"), col("sim"))
        .filter(col("rank") <= k)
        .orderBy("query_id", "rank")
    // eager per-hop cuts, deliberately (round-18 negative result: the
    // async persist+background-materialize variant measured +42-48% on
    // q314/q315 A/B — see knnGraphPairsTrajectory's comment)
    var frontier = Checkpoints.cut(topEf(scoreNodes(entry), ef))
    val stages = Seq.newBuilder[(Int, DataFrame)]
    stages += ((0, present(frontier)))
    var h = 0
    while (h < hops) {
      val expand = frontier.select(col("query_id"), col("node"))
        .join(g, col("node") === col("vec_id"))
        .select(col("query_id"), col("neighbor_id").as("node"))
        .distinct()
      frontier = Checkpoints.cut(topEf(
        frontier.unionAll(scoreNodes(expand)).distinct(), ef))
      stages += ((h + 1, present(frontier)))
      h += 1
    }
    stages.result()
  }

  /** Bounded per-query top-ef over (query_id, node, sim). */
  private def topEf(scored: DataFrame, ef: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(ef))
    scored.groupBy(col("query_id"))
      .agg(topk(col("node"), col("sim")).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e._1").as("node"), col("e._2").as("sim"))
  }

  /** Incremental maintenance: append new vectors under the FROZEN
    * centroids, compute their neighbor lists from their buckets'
    * candidates, and merge the reverse edges into affected old lists —
    * rewriting ONLY the touched `graph/` partitions (dynamic partition
    * overwrite, the q177 victim-partition move). Equal to a
    * from-scratch rounds=0 rebuild over the union (q315 gate) because
    * top-k is a lattice merge and the candidate sets coincide bucket
    * by bucket under the shared model.
    */
  def appendKnnGraphLayout(dir: String, newVecs: DataFrame, idCol: String,
      vecCol: String, saltBuckets: Int = 8,
      maxBucketRows: Int = 4096): Unit = {
    val spark = newVecs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val m = readMeta(dir, conf)
    Similarity.appendIvfLayout(s"$dir/vectors", newVecs, idCol, vecCol,
      m.nassign)
    val store = spark.read.parquet(s"$dir/vectors")
    val newIds = newVecs.select(col(idCol).cast("long").as("nid")).distinct()
    val nw = store.join(broadcast(newIds),
        col("neighbor_id") === col("nid")).drop("nid")
      .select(col("bucket"), col("neighbor_id").as("id_n"),
        col("cv").as("vn"))
    val other = store.select(col("bucket"), col("neighbor_id").as("id_o"),
      col("cv").as("vo"))
    // the same adaptive hot-bucket salting the from-scratch build uses
    // (a skewed corpus makes one centroid own a fat bucket — without
    // the salt that bucket's candidate join pins the append on one
    // task): old-side rows shard by hashed id, new-side rows replicate
    // across the bucket's salt slices, so every (new, old) pair still
    // meets exactly once and the q315 union-rebuild equality holds
    val (salts, _) =
      Dedup.saltCensus(other, Seq("bucket"), saltBuckets, maxBucketRows)
    val nwS = nw.join(broadcast(salts), Seq("bucket"))
      .select(col("bucket"), col("id_n"), col("vn"),
        explode(sequence(lit(0L), col("__salt_n") - 1)).as("salt"))
    val otherS = other.join(broadcast(salts), Seq("bucket"))
      .select(col("bucket"), col("id_o"), col("vo"),
        pmod(xxhash64(col("id_o")), col("__salt_n")).as("salt"))
    val touched = Checkpoints.cut(nwS.join(otherS, Seq("bucket", "salt"))
      .filter(col("id_n") =!= col("id_o"))
      .withColumn("sim", Similarity.cosine(col("vn"), col("vo")))
      .select(col("id_n"), col("id_o"), col("sim"))
      .distinct())
    val newSide = touched
      .select(col("id_n").as("id"), col("id_o").as("neighbor"), col("sim"))
    val revSide = touched
      .join(broadcast(newIds), col("id_o") === col("nid"), "left_anti")
      .select(col("id_o").as("id"), col("id_n").as("neighbor"), col("sim"))
    val updates = newSide.unionAll(revSide)
      .withColumn("part", pmod(col("id"), lit(m.nparts.toLong)).cast("int"))
    // nparts is small and fixed — the affected-part census is bounded
    val parts = updates.select("part").distinct()
      .collect().map(_.getInt(0)).toSeq
    val g = spark.read.parquet(s"$dir/graph")
    val oldPairs = g.filter(col("part").isin(parts: _*))
      .select(col("part"), col("vec_id").as("id"),
        col("neighbor_id").as("neighbor"), col("sim"))
    val merged = topKPairs(
        oldPairs.select("id", "neighbor", "sim")
          .unionAll(updates.select("id", "neighbor", "sim")), m.k)
      .withColumn("part", pmod(col("id"), lit(m.nparts.toLong)).cast("int"))
      .select(col("part"), col("id").as("vec_id"),
        col("neighbor").as("neighbor_id"), col("sim"))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(s"$dir/graph")
  }

  /** RIGHT-TO-BE-FORGOTTEN purge: drop `ids` from BOTH substores — the
    * stored vectors (`vectors/`, every `nassign` bucket copy) and the
    * graph (`graph/`): a victim's own adjacency list AND every edge
    * pointing at a victim (a purged id surviving as someone's neighbor
    * is still derived data about it). Victim-partition rewrite in both
    * substores. Surviving lists may drop below k where a victim was a
    * neighbor — search stays correct over the remaining corpus (hop
    * expansion just has fewer stored edges to follow); a later
    * maintenance rebuild restores list width.
    */
  def purgeKnnGraphLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: Seq[Long]): Unit = {
    readMeta(dir, spark.sparkContext.hadoopConfiguration) // loud non-layout
    require(ids.nonEmpty, "purgeKnnGraphLayout: empty id set")
    require(ids.length <= (1 << 20),
      "purgeKnnGraphLayout: more than 2^20 ids - batch the purge")
    if (ids.length > ChangeData.inListMaxIds) {
      // past the IN-list bound, the key-relation join replaces the
      // multi-MB literal plan (guide §3)
      import spark.implicits._
      purgeKnnGraphLayout(spark, dir, ids.toDF("id"))
      return
    }
    // disjoint substores — the two victim-partition rewrites overlap
    Par.all(
      () => Similarity.purgeIvfLayout(spark, s"$dir/vectors", ids),
      () => ChangeData.purgeRows(spark, s"$dir/graph", "part",
        col("vec_id").isInCollection(ids) ||
          col("neighbor_id").isInCollection(ids)))
  }

  /** `purgeKnnGraphLayout` with the forget-list as a KEY RELATION
    * (first column = vector id) — the domain-level purge shape. The
    * graph purges in two keyed passes (own-list rows, then reverse
    * edges); each pass rewrites only its victim partitions and the
    * composition is idempotent.
    */
  def purgeKnnGraphLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: DataFrame): Unit = {
    readMeta(dir, spark.sparkContext.hadoopConfiguration) // loud non-layout
    val keys = ids.select(col(ids.columns.head).cast("long").as("__kid"))
      .cutLineage // two substores + two passes share one eval
    // vectors/ is disjoint from graph/ — it overlaps the graph's two
    // SEQUENTIAL passes (those rewrite the same files; order matters)
    Par.all(
      () => Similarity.purgeIvfLayout(spark, s"$dir/vectors", keys),
      () => {
        ChangeData.purgeRowsKeys(spark, s"$dir/graph", "part",
          keys.select(col("__kid").as("vec_id")), Seq("vec_id"))
        ChangeData.purgeRowsKeys(spark, s"$dir/graph", "part",
          keys.select(col("__kid").as("neighbor_id")), Seq("neighbor_id"))
      })
  }
}
