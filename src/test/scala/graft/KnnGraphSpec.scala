package graft

import graft.operators.{KnnGraph, Similarity}
import org.apache.spark.sql.functions._

/** Laws for the persisted k-NN-graph artifact (q314/q315). The oracle
  * can only certify the in-query gates; the structural contracts live
  * here: single-bucket blocking degenerates to EXACT k-NN, NN-descent
  * rounds strictly help on a blocking-starved build (not just
  * non-decreasing — the q314 theorem must be non-vacuous), lookups
  * runtime-prune the graph partitions, and incremental append is
  * bit-equal to a from-scratch union build.
  */
class KnnGraphSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.load(spark, sfDir, "embeddings")

  test("knnGraphPairs with one bucket IS exact brute-force k-NN (ties included)") {
    // nlist=1 makes the bucket join all-pairs, so the graph must equal
    // the TopKAggregator ground truth row for row — same tie rule
    // (sim desc, id asc), same 6dp rounding at the presentation edge.
    val e = emb.limit(60)
    val dim = e.select(size(col("embedding"))).as[Int].head()
    val oneBucket = Array(Array.fill(dim)(1.0))
    val graph = KnnGraph.rankGraph(
        KnnGraph.knnGraphPairs(e, "vec_id", "embedding", k = 4, oneBucket,
          nassign = 1, rounds = 0))
      .select(col("vec_id").as("query_id"), col("rank"), col("neighbor_id"),
        col("sim"))
    val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
      k = 4)
    assert(graph.exceptAll(exact).count() === 0L &&
      exact.exceptAll(graph).count() === 0L,
      "single-bucket graph diverged from exact k-NN")
  }

  test("NN-descent round strictly improves a blocking-starved graph, never regresses a vertex") {
    // Small buckets with nassign=2 starve the candidate space but keep
    // the graph connected ACROSS buckets (nassign=1 would trap
    // NN-descent inside its bucket forever — disjoint candidate sets
    // have no 2-hop bridges), so one neighbors-of-neighbors round must
    // win back some true neighbors (strict, so the q314 monotonicity
    // gate is proven non-vacuous) and may never lose one (per-vertex
    // superset-top-k law, exact integers).
    val e = emb
    val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding",
      nlist = 24, iters = 10)
    val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
        k = 5)
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    def hitsByVertex(rounds: Int) =
      KnnGraph.rankGraph(KnnGraph.knnGraphPairs(e, "vec_id", "embedding",
          k = 5, cents, nassign = 2, rounds = rounds))
        .join(exact, Seq("vec_id", "neighbor_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("hits"))
    val h0 = hitsByVertex(0)
    val h1 = hitsByVertex(1)
    val joined = h0.select(col("vec_id"), col("hits").as("h0"))
      .join(h1.select(col("vec_id"), col("hits").as("h1")), Seq("vec_id"),
        "full")
      .select(coalesce(col("h0"), lit(0L)).as("h0"),
        coalesce(col("h1"), lit(0L)).as("h1"))
      .agg(sum("h0").as("t0"), sum("h1").as("t1"),
        sum(when(col("h1") < col("h0"), 1L).otherwise(0L)).as("regressed"))
      .as[(Long, Long, Long)].head()
    assert(joined._3 === 0L, s"${joined._3} vertices lost exact hits in a round")
    assert(joined._2 > joined._1,
      s"round 1 did not improve recall (${joined._1} -> ${joined._2}) — " +
        "the monotonicity gate would be vacuous")
  }

  test("layout round-trip: lookup equals in-flight build and runtime-prunes graph partitions") {
    val dir = tempDir("graft_knn_rt")
    val e = emb
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = 8)
    val cents = Similarity.readIvfCentroids(s"$dir/vectors",
      spark.sparkContext.hadoopConfiguration)
    val ids = e.select("vec_id").filter(col("vec_id") % 8 === 1)
    val got = KnnGraph.knnNeighborsFromLayout(dir, ids, "vec_id")
    val want = KnnGraph.rankGraph(
      KnnGraph.knnGraphPairs(e, "vec_id", "embedding", k = 3, cents,
          nassign = 2, rounds = 0)
        .join(ids.withColumnRenamed("vec_id", "id"), Seq("id")))
    val gotRows = got.collect().map(_.toString).sorted.toSeq
    assert(gotRows === want.collect().map(_.toString).sorted.toSeq,
      "layout lookup diverged from the in-flight build")
    // Scale shape: the ids hit ONE of 8 `part=` directories, and the
    // executed scan must prove it read only that one (runtime partition
    // pruning, not a full-graph scan followed by a filter).
    def scansOf(plan: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
      }.flatten
    val finalPlan = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val pruned = scansOf(finalPlan)
      .filter(_.metadata.get("Location").exists(_.contains("/graph")))
    assert(pruned.nonEmpty, "no file scan over graph/ found")
    val read = pruned.head.metrics("numPartitions").value
    assert(read === 1L,
      s"lookup read $read of 8 graph partitions — pruning regressed")
  }

  test("knnNeighborsFromLayout: broadcast and shuffle id paths return " +
      "identical neighbor sets") {
    val dir = tempDir("graft_knn_paths")
    val e = emb
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = 8)
    val ids = e.select("vec_id").filter(col("vec_id") % 3 === 1)
    val viaBroadcast = KnnGraph.knnNeighborsFromLayout(dir, ids, "vec_id")
      .collect().map(_.toString).sorted.toSeq
    // maxBroadcastIds = 0 forces the size guard onto the shuffle path —
    // the 10^8-id bulk-lookup shape
    val viaShuffle = KnnGraph.knnNeighborsFromLayout(dir, ids, "vec_id",
        maxBroadcastIds = 0)
      .collect().map(_.toString).sorted.toSeq
    assert(viaBroadcast.nonEmpty && viaBroadcast === viaShuffle,
      "the guarded lookup paths diverged")
  }

  test("purgeKnnGraphLayout: victims vanish from vectors and BOTH edge " +
      "ends; surviving lookups equal the victim-filtered graph; " +
      "untouched partitions bit-identical") {
    val dir = tempDir("graft_knn_purge")
    val e = emb
    val nparts = 8
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = nparts)
    val victimIds = e.filter(col("vec_id") % 5 === 0)
      .select("vec_id").as[Long].collect().toSeq
    def crcs: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map { p =>
          val c = new java.util.zip.CRC32()
          c.update(java.nio.file.Files.readAllBytes(p))
          p.toString -> c.getValue
        }.toMap
    }
    val g0 = spark.read.parquet(s"$dir/graph").localCheckpoint(true)
    val isVictimEdge = col("vec_id").isInCollection(victimIds) ||
      col("neighbor_id").isInCollection(victimIds)
    val touchedParts = g0.filter(isVictimEdge)
      .select("part").distinct().as[Int].collect().toSet
    val touchedBuckets = spark.read.parquet(s"$dir/vectors")
      .filter(col("neighbor_id").isInCollection(victimIds))
      .select("bucket").distinct().as[Int].collect().toSet
    val before = crcs
    KnnGraph.purgeKnnGraphLayout(spark, dir, victimIds)
    assert(spark.read.parquet(s"$dir/vectors")
      .filter(col("neighbor_id").isInCollection(victimIds)).count() === 0L,
      "a purged vector survives in the vectors substore")
    assert(spark.read.parquet(s"$dir/graph")
      .filter(isVictimEdge).count() === 0L,
      "a purged id survives on a graph edge end")
    val after = crcs
    before.foreach { case (p, c) =>
      val touched =
        touchedParts.exists(x => p.contains(s"/graph/part=$x/")) ||
          touchedBuckets.exists(b => p.contains(s"/vectors/bucket=$b/"))
      if (!touched)
        assert(after.get(p).contains(c),
          s"untouched partition file $p was rewritten by the purge")
    }
    // surviving lookups = the pre-purge graph minus every victim edge,
    // re-ranked (rank is recomputed at read, so survivors whose lists
    // shrank keep dense ranks)
    val survivors = e.filter(col("vec_id") % 5 =!= 0).select("vec_id")
    val got = KnnGraph.knnNeighborsFromLayout(dir, survivors, "vec_id")
      .collect().map(_.toString).sorted.toSeq
    val want = KnnGraph.rankGraph(g0.filter(!isVictimEdge)
        .select(col("vec_id").as("id"), col("neighbor_id").as("neighbor"),
          col("sim")))
      .collect().map(_.toString).sorted.toSeq
    assert(got === want,
      "post-purge lookup diverged from the victim-filtered graph")
  }

  test("purgeKnnGraphLayout: the key-relation overload equals the " +
      "id-list path on both substores") {
    val e = emb
    def build() = {
      val d = tempDir("graft_knn_purge_eq")
      KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", d, k = 3,
        nlist = 8, nassign = 2, rounds = 0, nparts = 4)
      d
    }
    def stores(d: String) = Seq("vectors", "graph").map { sub =>
      spark.read.parquet(s"$d/$sub").collect().map(_.toString).sorted.toSeq
    }
    val victims = e.filter(col("vec_id") % 5 === 0)
    val victimIds = victims.select("vec_id").as[Long].collect().toSeq
    val (a, b) = (build(), build())
    KnnGraph.purgeKnnGraphLayout(spark, a, victimIds)
    KnnGraph.purgeKnnGraphLayout(spark, b, victims.select("vec_id"))
    assert(stores(a) === stores(b),
      "key-relation purge diverged from the id-list purge")
  }

  test("appendKnnGraphLayout equals a from-scratch union build under the frozen model") {
    val dir = tempDir("graft_knn_app")
    val e = emb
    val base = e.filter(col("vec_id") % 4 =!= 0)
    val extra = e.filter(col("vec_id") % 4 === 0)
    KnnGraph.writeKnnGraphLayout(base, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = 4)
    KnnGraph.appendKnnGraphLayout(dir, extra, "vec_id", "embedding")
    val cents = Similarity.readIvfCentroids(s"$dir/vectors",
      spark.sparkContext.hadoopConfiguration)
    val appended = KnnGraph.knnNeighborsFromLayout(dir, e.select("vec_id"),
      "vec_id")
    val scratch = KnnGraph.rankGraph(KnnGraph.knnGraphPairs(e, "vec_id",
      "embedding", k = 3, cents, nassign = 2, rounds = 0))
    assert(appended.exceptAll(scratch).count() === 0L &&
      scratch.exceptAll(appended).count() === 0L,
      "appended layout diverged from the from-scratch union build")
  }

  test("append under a HOT bucket: the salt census is non-trivial and " +
      "the salted join still equals the from-scratch union build") {
    // one centroid owns ~all vectors: near-identical embeddings force a
    // fat bucket, so the append join MUST salt (maxBucketRows tiny) —
    // and salting is pure re-partitioning, so the result is bit-equal
    val dir = tempDir("graft_knn_hot")
    val e = Tables.load(spark, sfDir, "embeddings").limit(60)
      .select(col("vec_id"),
        // collapse toward one direction: a dominant shared first
        // component makes (nearly) every vector cosine-closest to the
        // same centroid
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 THEN 10.0D " +
          "ELSE CAST(x AS DOUBLE) * 0.1D END)").as("embedding"))
    val base = e.filter(col("vec_id") % 4 =!= 0)
    val extra = e.filter(col("vec_id") % 4 === 0)
    KnnGraph.writeKnnGraphLayout(base, "vec_id", "embedding", dir, k = 3,
      nlist = 4, nassign = 1, rounds = 0, nparts = 4)
    // census sanity: with maxBucketRows=8 the dominant bucket needs >1
    // salt slice, so this exercises the salted path, not the trivial one
    val store = spark.read.parquet(s"$dir/vectors")
    val hot = store.groupBy("bucket").count()
      .agg(max("count")).as[Long].head()
    assert(hot > 8, s"fixture bug: hottest bucket only $hot rows")
    KnnGraph.appendKnnGraphLayout(dir, extra, "vec_id", "embedding",
      saltBuckets = 4, maxBucketRows = 8)
    val cents = Similarity.readIvfCentroids(s"$dir/vectors",
      spark.sparkContext.hadoopConfiguration)
    val appended = KnnGraph.knnNeighborsFromLayout(dir, e.select("vec_id"),
      "vec_id")
    val scratch = KnnGraph.rankGraph(KnnGraph.knnGraphPairs(e, "vec_id",
      "embedding", k = 3, cents, nassign = 1, rounds = 0))
    assert(appended.exceptAll(scratch).count() === 0L &&
      scratch.exceptAll(appended).count() === 0L,
      "salted append diverged from the from-scratch union build")
  }

  test("searchFromLayout broadcast and shuffle query paths return " +
      "identical rankings") {
    val dir = tempDir("graft_knn_bc")
    val e = emb
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = 4)
    val small = KnnGraph.searchFromLayout(dir, e, "vec_id", "embedding",
      k = 3, ef = 8, hops = 1, nprobe = 2)
    // force the size guard onto the shuffle path
    val big = KnnGraph.searchFromLayout(dir, e, "vec_id", "embedding",
      k = 3, ef = 8, hops = 1, nprobe = 2, maxBroadcastQueries = 0)
    assert(small.exceptAll(big).count() === 0L &&
      big.exceptAll(small).count() === 0L,
      "the shuffle-join query path diverged from the broadcast path")
  }

  test("searchFromLayout with full probe and ef >= N degenerates to exact brute force") {
    val dir = tempDir("graft_knn_sr")
    val e = emb
    val n = e.count().toInt
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 3,
      nlist = 8, nassign = 2, rounds = 0, nparts = 4)
    val got = KnnGraph.searchFromLayout(dir, e, "vec_id", "embedding",
      k = 3, ef = n, hops = 0, nprobe = 8)
    val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
      k = 3)
    assert(got.exceptAll(exact).count() === 0L &&
      exact.exceptAll(got).count() === 0L,
      "full-coverage graph search diverged from exact k-NN")
  }

  test("graph search hops strictly improve a starved entry probe, never regress a query") {
    // a 1-bucket entry probe with a tiny frontier misses cross-bucket
    // neighbors; walking the stored lists must win some back and can
    // never lose one (superset-top-ef law — the q318 gate's theorem,
    // proven non-vacuous here)
    val dir = tempDir("graft_knn_sh")
    val e = emb
    KnnGraph.writeKnnGraphLayout(e, "vec_id", "embedding", dir, k = 5,
      nlist = 16, nassign = 2, rounds = 0, nparts = 4)
    val exact = Similarity.bruteForceTopKAgg(e, e, "vec_id", "embedding",
        k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def hitsByQuery(hops: Int) =
      KnnGraph.searchFromLayout(dir, e, "vec_id", "embedding", k = 5,
          ef = 8, hops = hops, nprobe = 1)
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val h0 = hitsByQuery(0)
    val h2 = hitsByQuery(2)
    val agg = h0.select(col("query_id"), col("hits").as("h0"))
      .join(h2.select(col("query_id"), col("hits").as("h2")),
        Seq("query_id"), "full")
      .select(coalesce(col("h0"), lit(0L)).as("h0"),
        coalesce(col("h2"), lit(0L)).as("h2"))
      .agg(sum("h0").as("t0"), sum("h2").as("t2"),
        sum(when(col("h2") < col("h0"), 1L).otherwise(0L)).as("regressed"))
      .as[(Long, Long, Long)].head()
    assert(agg._3 === 0L, s"${agg._3} queries lost exact hits over hops")
    assert(agg._2 > agg._1,
      s"hops did not improve recall (${agg._1} -> ${agg._2}) — " +
        "the q318 monotonicity gate would be vacuous")
  }

  test("readMeta fails loudly on a directory that is not a knn layout") {
    val dir = tempDir("graft_knn_bad")
    val err = intercept[IllegalArgumentException] {
      KnnGraph.knnNeighborsFromLayout(dir, emb.select("vec_id"), "vec_id")
    }
    assert(err.getMessage.contains("_graft_knn_meta.json"))
  }
}
