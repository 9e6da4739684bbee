package graft.operators

import graft.expressions.{ArrayOps, TextOps}
import graft.operators.Checkpoints.CutOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH near-dup index — the layout the incremental
  * dedup regimes were missing. `Dedup.lshNewAgainstHistory` re-shingles
  * and re-minhashes the ENTIRE history on every batch: right for a
  * one-off backfill, wrong as the standing admission gate of a growing
  * corpus (a daily batch against a 100 TB history would pay the
  * history's sketch cost daily). This layout stores the history's
  * sketches ONCE, bucket-partitioned so a batch's probe prunes to its
  * own band buckets, and absorbs new batches incrementally — the same
  * persisted-index discipline as the IVF (`writeIvfLayout`), PQ, k-NN
  * graph and postings layouts.
  *
  * Layout contract (`dir/`):
  *   - `keys/` — (bucket, key, id): one row per (doc, band key), hive-
  *     partitioned by `bucket = pmod(xxhash64(key), nlist)`; a probe
  *     reads only the buckets its own band keys hash to (runtime
  *     partition prune via the broadcast probe side — q65's mechanism).
  *   - `sets/` — (part, id, hs): each doc's sorted shingle-hash set,
  *     partitioned by `part = pmod(id, nparts)` for candidate-pruned
  *     verification reads.
  *   - `_graft_lsh_meta.json` — (n, numPerm, bands, nlist, nparts):
  *     the sketch model; appends and probes MUST share it (a probe
  *     sketched under different parameters would silently miss — the
  *     meta is read, never trusted from the caller).
  *
  * Scale shape: batch-side sketching is map-side; the candidate join
  * exchanges only (key, id) rows inside the hit buckets; verification
  * joins candidate-sized relations against the part-pruned `sets/`
  * store; the history's text is NEVER re-read.
  */
object LshLayout {

  private[graft] case class Meta(n: Int, numPerm: Int, bands: Int,
      nlist: Int, nparts: Int)

  private def metaPath(dir: String) = new Path(dir, "_graft_lsh_meta.json")

  private def writeMeta(dir: String, m: Meta, conf: Configuration): Unit = {
    val fs = metaPath(dir).getFileSystem(conf)
    val out = fs.create(metaPath(dir), true)
    val json = s"""{"n":${m.n},"numPerm":${m.numPerm},"bands":${m.bands},""" +
      s""""nlist":${m.nlist},"nparts":${m.nparts}}"""
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readMeta(dir: String, conf: Configuration): Meta = {
    val fs = metaPath(dir).getFileSystem(conf)
    require(fs.exists(metaPath(dir)),
      s"$dir is not an LSH layout (no _graft_lsh_meta.json)")
    val in = fs.open(metaPath(dir))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val M = ("""\{"n":(\d+),"numPerm":(\d+),"bands":(\d+),""" +
      """"nlist":(\d+),"nparts":(\d+)\}""").r
    json.trim match {
      case M(n, p, b, l, pa) => Meta(n.toInt, p.toInt, b.toInt, l.toInt,
        pa.toInt)
      case other => sys.error(s"$dir: unparseable LSH meta: $other")
    }
  }

  /** The (id, hs) shingle-hash-set relation of `docs` — the expensive
    * text pass (shingling + hashing) both substores derive from.
    */
  private def sketchBase(docs: DataFrame, idCol: String, textCol: String,
      m: Meta): DataFrame =
    graft.GraftSession.fanout(docs)
      .select(col(idCol).cast("long").as("id"),
        Dedup.shingleHashSet(col(textCol), m.n).as("hs"))

  private def keysOf(base: DataFrame, m: Meta): DataFrame =
    base.select(col("id"), explode(graft.functions.TextFunctions
        .bandKeys(TextOps.minhashSignature(col("hs"), m.numPerm),
          m.bands, m.numPerm / m.bands)).as("key"))
      .withColumn("bucket", pmod(xxhash64(col("key")), lit(m.nlist.toLong))
        .cast("int"))

  private def setsOf(base: DataFrame, m: Meta): DataFrame =
    base.withColumn("part",
      pmod(col("id"), lit(m.nparts.toLong)).cast("int"))

  /** The (bucket, key, id) and (part, id, hs) relations of `docs`
    * under `m` — the shared sketch kernel of build, append and probe.
    */
  private def sketch(docs: DataFrame, idCol: String, textCol: String,
      m: Meta): (DataFrame, DataFrame) = {
    val base = sketchBase(docs, idCol, textCol, m)
    (keysOf(base, m), setsOf(base, m))
  }

  /** Write both substores from ONE materialized sketch pass: without
    * the persist, the `keys/` and `sets/` writes each re-scan and
    * re-shingle the corpus text — the sketch base (ids + hash sets, far
    * smaller than the text it derives from) is exactly what a 100 TB
    * build wants cached between the two writes.
    */
  private def writeSubstores(base: DataFrame, m: Meta, dir: String,
      mode: String): Unit = {
    base.persist()
    try {
      keysOf(base, m).select(col("bucket"), col("key"), col("id"))
        .write.mode(mode).partitionBy("bucket").parquet(s"$dir/keys")
      setsOf(base, m).select(col("part"), col("id"), col("hs"))
        .write.mode(mode).partitionBy("part").parquet(s"$dir/sets")
    } finally base.unpersist()
  }

  /** Build the layout from the history corpus (one sketch pass). */
  def writeLshLayout(history: DataFrame, idCol: String, textCol: String,
      dir: String, n: Int = 3, numPerm: Int = 64, bands: Int = 8,
      nlist: Int = 32, nparts: Int = 16): Unit = {
    require(numPerm % bands == 0,
      s"writeLshLayout: numPerm ($numPerm) must divide by bands ($bands)")
    val conf = history.sparkSession.sparkContext.hadoopConfiguration
    val m = Meta(n, numPerm, bands, nlist, nparts)
    writeSubstores(sketchBase(history, idCol, textCol, m), m, dir,
      "overwrite")
    writeMeta(dir, m, conf)
  }

  /** Absorb a new batch into the layout under the PERSISTED model (one
    * sketch pass over the batch only; existing rows never move). The
    * caller decides admission first — typically `dedupAgainstLayout`,
    * then append the survivors.
    */
  def appendLshLayout(dir: String, batch: DataFrame, idCol: String,
      textCol: String): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val m = readMeta(dir, conf)
    writeSubstores(sketchBase(batch, idCol, textCol, m), m, dir, "append")
  }

  /** Batch ids with a stored near-dup at or above `threshold` —
    * verified Jaccard, zero false positives. The probe sketches the
    * batch map-side, reads only the band buckets the batch's keys hash
    * to, and verifies only candidate pairs against the part-pruned
    * `sets/` store.
    */
  def dupIdsFromLayout(dir: String, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      maxBroadcastKeys: Int = 1 << 20): DataFrame = {
    val spark = batch.sparkSession
    val m = readMeta(dir, spark.sparkContext.hadoopConfiguration)
    val (bKeys, bSets) = sketch(batch, idCol, textCol, m)
    val probe = bKeys.select(col("bucket"), col("key"),
      col("id").as("__bid"))
    // broadcast the batch probe when bounded (daily-batch shape) so the
    // stored keys/ scan partition-prunes; a table-sized "batch" falls
    // back to a shuffle join — it would touch every bucket anyway
    val probeSide = Similarity.broadcastIfSmall(probe, maxBroadcastKeys)
    val stored = spark.read.parquet(s"$dir/keys")
      .select(col("bucket"), col("key"), col("id").as("__hid"))
    val cand = probeSide.join(stored, Seq("bucket", "key"))
      .select(col("__bid"), col("__hid")).distinct()
    val hSets = spark.read.parquet(s"$dir/sets")
      .select(col("id").as("__hid"), col("hs").as("__hhs"))
    cand
      .join(bSets.select(col("id").as("__bid"), col("hs").as("__bhs")),
        Seq("__bid"))
      .join(hSets, Seq("__hid"))
      .filter(ArrayOps.jaccardSorted(col("__bhs"), col("__hhs"))
        >= threshold)
      .select(col("__bid").as(idCol)).distinct()
  }

  /** The admission gate: `batch` minus rows with a stored near-dup —
    * `Dedup.lshNewAgainstHistory` semantics without ever re-reading
    * the history's text.
    */
  def dedupAgainstLayout(dir: String, batch: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame =
    batch.join(dupIdsFromLayout(dir, batch, idCol, textCol, threshold),
      Seq(idCol), "left_anti")

  /** RIGHT-TO-BE-FORGOTTEN purge: drop every trace of `ids` from the
    * persisted index — their band keys from `keys/` and their
    * shingle-hash sets from `sets/`. A purged document's raw text
    * leaving the corpus while its FINGERPRINTS live on in the index is
    * not a deletion (shingle-hash sets are content-derived); this is
    * the index half of the `purgeRows`/`Manifest.purge` story, and it
    * uses the same victim-partition rewrite — only `sets/` parts that
    * hold a victim and `keys/` buckets a victim's keys hash to are
    * rewritten, everything else keeps its bytes. A later probe cannot
    * match a purged id (its keys are gone), so admission decisions
    * stop being influenced by forgotten content immediately.
    */
  def purge(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    readMeta(dir, spark.sparkContext.hadoopConfiguration) // loud non-layout
    require(ids.nonEmpty, "LshLayout.purge: empty id set")
    require(ids.length <= (1 << 20),
      "LshLayout.purge: more than 2^20 ids - batch the purge")
    if (ids.length > ChangeData.inListMaxIds(spark)) {
      // the literal IN-list plan is multi-MB past the bound: the
      // key-relation join is the right shape there (guide §3)
      import spark.implicits._
      purge(spark, dir, ids.toDF("id"))
      return
    }
    val victim = col("id").isInCollection(ids)
    // disjoint substores — the two victim-partition rewrites overlap
    Par.all(
      () => ChangeData.purgeRows(spark, s"$dir/keys", "bucket", victim),
      () => ChangeData.purgeRows(spark, s"$dir/sets", "part", victim))
  }

  /** `purge` with the forget-list as a KEY RELATION (first column =
    * doc id) — the domain-level purge shape, where millions of victim
    * ids arrive as a frame and must join, not compile into an IN-list.
    */
  def purge(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    readMeta(dir, spark.sparkContext.hadoopConfiguration) // loud non-layout
    val keys = ids.select(col(ids.columns.head).cast("long").as("id"))
      .cutLineage // both substore purges share one eval
    // disjoint substores — the two victim-partition rewrites overlap
    Par.all(
      () => ChangeData.purgeRowsKeys(spark, s"$dir/keys", "bucket", keys,
        Seq("id")),
      () => ChangeData.purgeRowsKeys(spark, s"$dir/sets", "part", keys,
        Seq("id")))
  }
}
