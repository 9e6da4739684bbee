package graft

import graft.operators.Manifest
import graft.plans.GraftSql
import org.apache.spark.sql.functions._

/** The GRAFT SQL write verbs: every lakehouse lifecycle op reachable
  * from SQL text, through BOTH front doors — `spark.sql` on a session
  * built with `spark.sql.extensions=graft.GraftExtensions` (the
  * injected parser) and `GraftSql.run` on any session (the fallback
  * the oracle gates use). The two must produce identical effects.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def mkdir() = tempDir("graft_sql_spec")

  private def fixture = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
    (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0)
  ).toDF("id", "grp", "value")

  test("the full write lifecycle runs from spark.sql text (injected " +
      "parser) and lands the same state as the Scala APIs") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // MERGE INTO: upsert id=1 (update), id=7 (insert), delete id=3
    Seq((1L, "a", 99.0, false), (7L, "c", 70.0, false),
        (3L, "b", 0.0, true)).toDF("id", "grp", "value", "del")
      .createOrReplaceTempView("graft_sql_src")
    val mv = spark.sql(s"GRAFT MERGE INTO '$dir' PARTITION BY grp " +
      "USING graft_sql_src ON id DELETE WHEN del").head().getLong(0)
    assert(mv === 2L)
    assert(Manifest.read(spark, dir).filter($"id" === 1L)
      .select("value").as[Double].head() === 99.0)
    assert(Manifest.read(spark, dir).filter($"id" === 3L).count() === 0L)
    // DELETE FROM ... WHERE (merge-on-read) with a real SQL predicate
    val nDel = spark.sql(
      s"GRAFT DELETE FROM '$dir' WHERE id IN (5, 6) AND value > 55")
      .head().getLong(0)
    assert(nDel === 1L) // only id=6 passes both arms
    assert(Manifest.readWithDeletes(spark, dir).count() === 5L)
    // OPTIMIZE folds the DV and compacts
    val ov = spark.sql(s"GRAFT OPTIMIZE '$dir' PARTITION BY grp")
      .head().getLong(0)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(ov === Manifest.latestVersion(dir, conf).toLong)
    assert(Manifest.readHeader(dir, ov.toInt, conf).dv.isEmpty,
      "OPTIMIZE must fold the deletion vector in")
    // CHECKPOINT then RESTORE to the post-merge version
    val cv = spark.sql(s"GRAFT CHECKPOINT '$dir'").head().getLong(0)
    assert(cv === ov)
    val rv = spark.sql(s"GRAFT RESTORE '$dir' TO VERSION 2")
      .head().getLong(0)
    assert(rv === ov + 1)
    assert(Manifest.readWithDeletes(spark, dir).count() === 6L,
      "restore to the pre-delete version must bring id=6 back")
    // the trail so far, read back through SQL (vacuum will truncate it)
    val opsBefore = spark.sql(s"SELECT op FROM graft_history('$dir')")
      .collect().map(_.getString(0)).toSet
    assert(Set("create", "merge", "delete", "compact", "restore")
      .subsetOf(opsBefore), opsBefore.toString)
    // VACUUM returns the reclamation counts
    val vrow = spark.sql(s"GRAFT VACUUM '$dir'").head()
    assert(vrow.getLong(1) > 0L, "vacuum should delete superseded manifests")
    assert(Manifest.readWithDeletes(spark, dir).count() === 6L,
      "vacuum changed the live snapshot")
    // PURGE drops victims copy-on-write, emptied partitions vanish
    val pv = spark.sql(
      s"GRAFT PURGE '$dir' PARTITION BY grp WHERE grp = 'b'")
      .head().getLong(0)
    assert(pv === Manifest.latestVersion(dir, conf).toLong)
    assert(Manifest.read(spark, dir).filter($"grp" === "b").count() === 0L)
    intercept[IllegalArgumentException] {
      Manifest.readPartitions(spark, dir, Seq("b"))
    }
    // post-vacuum trail: the retention boundary keeps latest + newer
    val ops = spark.sql(s"SELECT op FROM graft_history('$dir')")
      .collect().map(_.getString(0)).toSet
    assert(Set("restore", "purge").subsetOf(ops), ops.toString)
  }

  test("GraftSql.run executes the same verbs WITHOUT the injected " +
      "parser and falls through to spark.sql for normal text") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(GraftSql.run(spark, s"GRAFT DELETE FROM '$dir' WHERE id = 1")
      .head().getLong(0) === 1L)
    assert(GraftSql.run(spark, s"GRAFT CHECKPOINT '$dir'")
      .head().getLong(0) === 2L)
    // non-GRAFT text routes to spark.sql untouched
    assert(GraftSql.run(spark, "SELECT 41 + 1 AS x").head().getInt(0) === 42)
  }

  test("APPLY DELETES folds the DV from SQL text; BRANCH CREATE/MERGE " +
      "round-trip the zero-copy branch lifecycle") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    spark.sql(s"GRAFT DELETE FROM '$dir' WHERE id = 3")
    val conf = spark.sparkContext.hadoopConfiguration
    val r = spark.sql(s"GRAFT APPLY DELETES '$dir' PARTITION BY grp").head()
    assert(r.getLong(0) === 1L)
    assert(Manifest.readHeader(dir,
      Manifest.latestVersion(dir, conf), conf).dv.isEmpty)
    // nothing left to fold: applied=0, version unmoved
    val r2 = spark.sql(s"GRAFT APPLY DELETES '$dir' PARTITION BY grp").head()
    assert(r2.getLong(0) === 0L && r2.getLong(1) === r.getLong(1))
    // branch: fork, commit on the branch via the API, merge back via SQL
    val base = spark.sql(s"GRAFT BRANCH CREATE '$dir' dev").head().getLong(0)
    assert(base === Manifest.latestVersion(dir, conf).toLong)
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("grp", lit("z")), Manifest.branchDir(dir, "dev"), "grp")
    val mv = spark.sql(s"GRAFT BRANCH MERGE '$dir' dev").head().getLong(0)
    assert(mv === base + 1)
    assert(Manifest.read(spark, dir).filter($"grp" === "z").count() === 1L)
  }

  test("GRAFT MERGE ... BATCH n is exactly-once: a replayed batch id " +
      "moves nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Seq((1L, "a", 99.0)).toDF("id", "grp", "value")
      .createOrReplaceTempView("graft_sql_batch_src")
    val v1 = spark.sql(s"GRAFT MERGE INTO '$dir' PARTITION BY grp " +
      "USING graft_sql_batch_src ON id BATCH 5").head().getLong(0)
    assert(v1 === 2L)
    // replay of batch 5 (at-least-once delivery) publishes nothing
    val v2 = spark.sql(s"GRAFT MERGE INTO '$dir' PARTITION BY grp " +
      "USING graft_sql_batch_src ON id BATCH 5").head().getLong(0)
    assert(v2 === 2L, "a replayed stamped merge moved the version")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 2)
    assert(Manifest.read(spark, dir).filter($"id" === 1L)
      .select("value").as[Double].head() === 99.0)
  }

  test("maintenance verbs run from SQL text through both doors: PURGE " +
      "KEYS (forget-list), ADD BLOOM INDEX / ADD DISTINCT SKETCH " +
      "(loop to convergence), TTL SWEEP (policy grammar)") {
    // forget-list purge over a PLAIN partitioned layout (the q177 shape)
    val plain = mkdir() + "/plain"
    fixture.write.partitionBy("grp").parquet(plain)
    Seq(1L, 5L).toDF("id").createOrReplaceTempView("gsql_purge_keys")
    val purged = spark.sql(s"GRAFT PURGE KEYS '$plain' PARTITION BY grp " +
      "USING gsql_purge_keys ON id").head().getLong(0)
    assert(purged === 2L)
    assert(spark.read.parquet(plain).select("id").as[Long]
      .collect().sorted.toSeq === Seq(2L, 3L, 4L, 6L))
    // idempotent re-run through the OTHER door
    assert(GraftSql.run(spark, s"GRAFT PURGE KEYS '$plain' PARTITION " +
      "BY grp USING gsql_purge_keys ON id").head().getLong(0) === 0L)

    // index builds on a manifest layout: passes >= 1, re-run reports 0
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(GraftSql.run(spark,
      s"GRAFT ADD BLOOM INDEX '$dir' ON id BITS 256 K 3")
      .head().getLong(0) >= 1L)
    assert(spark.sql(s"GRAFT ADD BLOOM INDEX '$dir' ON id BITS 256 K 3")
      .head().getLong(0) === 0L, "a converged index re-add must no-op")
    val (hit, _, _) = Manifest.readPoint(spark, dir, "id", 5L)
    assert(hit.filter($"id" === 5L).count() === 1L)
    assert(spark.sql(s"GRAFT ADD DISTINCT SKETCH '$dir' ON id K 64")
      .head().getLong(0) >= 1L)
    assert(Manifest.approxDistinct(spark, dir)._1 === 6.0)

    // TTL sweep: per-class retention from the literal policy grammar
    val dir2 = mkdir()
    val tsDf = Seq(
      ("click", "2024-01-01", 1L), ("click", "2024-02-01", 2L),
      ("view", "2024-01-01", 3L), ("view", "2024-02-01", 4L),
      ("error", "2023-01-01", 5L)
    ).toDF("cls", "d", "id")
      .withColumn("ts", col("d").cast("timestamp")).drop("d")
    Manifest.create(tsDf, dir2, "cls")
    val swept = spark.sql(s"GRAFT TTL SWEEP '$dir2' CLASS cls TIME ts " +
      "POLICY 'click'=10, 'view'=10 AS OF '2024-02-05'").head().getLong(0)
    assert(swept === 2L, "the two January click/view rows must sweep")
    assert(Manifest.readWithDeletes(spark, dir2).select("id").as[Long]
      .collect().sorted.toSeq === Seq(2L, 4L, 5L),
      "unlisted classes must be untouched (no policy = no TTL)")
    assert(GraftSql.run(spark, s"GRAFT TTL SWEEP '$dir2' CLASS cls " +
      "TIME ts POLICY 'click'=10, 'view'=10 AS OF '2024-02-05'")
      .head().getLong(0) === 0L, "a re-sweep must be idempotent")
  }

  test("an unknown GRAFT verb is a loud parse error naming the " +
      "supported grammar; normal SQL still parses") {
    val e = intercept[Exception] {
      spark.sql("GRAFT FROBNICATE '/tmp/x'")
    }
    assert(e.getMessage.contains("unrecognized GRAFT statement"),
      e.getMessage)
    assert(e.getMessage.contains("MERGE INTO"), e.getMessage)
    // the wrapped parser still handles everything else
    assert(spark.sql("SELECT 'graft vacuum' AS s").head().getString(0)
      === "graft vacuum")
    assert(spark.range(3).count() === 3L)
  }
}
