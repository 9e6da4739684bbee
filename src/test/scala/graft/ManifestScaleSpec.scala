package graft

import graft.operators.Manifest
import org.apache.spark.sql.functions._

/** SCALE-SHAPE contracts of the manifest layer, pinned by counting FS
  * calls through [[CountingFileSystem]] (`cfs://`): above the census
  * threshold the driver must issue ZERO full-tree listings, deletes
  * must run in executor tasks, and census reads must not re-open
  * manifest text driver-side beyond the one-line header reads. The
  * oracle gates prove WHAT these ops compute; this suite pins WHERE
  * the work runs — the difference between "correct at sf0.01" and
  * "alive at 10^7 files".
  */
class ManifestScaleSpec extends SparkSpec {
  import spark.implicits._

  private def cfsDir(): (String, java.nio.file.Path) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Paths.get(tempDir("graft_scale_spec"))
    (s"cfs:$local", local)
  }

  private def fixture = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
    (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0)
  ).toDF("id", "grp", "value")

  test("vacuum above the census threshold: zero driver full-tree " +
      "listings, a 10k-doomed-file reclamation deletes from executors") {
    val (dir, local) = cfsDir()
    Manifest.create(fixture, dir, "grp")
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", $"value" * 2),
      dir, "grp") // supersedes b's v1 files: genuine doomed bytes
    // 10k orphans from a "crashed writer": data files on disk that no
    // manifest references, inside their own commit dir
    val orphanDir = local.resolve("data/c009999-dead/__p=a")
    java.nio.file.Files.createDirectories(orphanDir)
    (1 to 10000).foreach { i =>
      java.nio.file.Files.createFile(orphanDir.resolve(f"junk_$i%05d.parquet"))
    }
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      CountingFileSystem.reset()
      val (d, m, _) = Manifest.vacuum(spark, dir)
      assert(d >= 10000L, s"expected the 10k orphans reclaimed, got $d")
      assert(m >= 1L, "the superseded manifest must be reclaimed")
      assert(CountingFileSystem.driverRecursiveLists.get() === 0L,
        "vacuum above the census threshold ran a DRIVER-side recursive " +
          "listing - the O(all-files) single-threaded walk the " +
          "distributed census exists to retire")
      assert(CountingFileSystem.driverParquetDeletes.get() === 0L,
        "doomed data files were deleted driver-side")
      assert(CountingFileSystem.executorParquetDeletes.get() >= 10000L,
        "the doomed-file deletes did not fan out to executor tasks")
      // the executors did the walking
      assert(CountingFileSystem.executorRecursiveLists.get() > 0L)
      // correctness unchanged: survivors intact, orphan commit dir gone
      assert(Manifest.read(spark, dir).agg(sum("value"))
        .as[Double].head() === 280.0)
      assert(!java.nio.file.Files.exists(local.resolve("data/c009999-dead")),
        "a commit dir emptied of data files must be dropped")
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("history on a mixed-era layout: pre-`n` manifests are counted " +
      "by executors in ONE job — the driver reads one header line per " +
      "version, never entry lines") {
    val (dir, local) = cfsDir()
    Manifest.create(fixture, dir, "grp")                       // v1
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp")                  // v2
    Manifest.append(fixture.filter($"id" === 2L)
      .withColumn("id", lit(8L)), dir, "grp")                  // v3
    val expected = Manifest.history(spark, dir)
      .orderBy("version").collect().map(_.toString).toSeq
    // strip the `n` field from EVERY header: the layout now reads as
    // written before file counts rode the headers
    (1 to 3).foreach { v =>
      val p = local.resolve(f"_manifests/v$v%06d.json")
      val txt = java.nio.file.Files.readString(p)
      java.nio.file.Files.writeString(p,
        txt.replaceFirst(""""n":\d+,""", ""))
    }
    CountingFileSystem.reset()
    val got = Manifest.history(spark, dir)
      .orderBy("version").collect().map(_.toString).toSeq
    assert(got === expected,
      "legacy-era file counts diverged from the header-carried counts")
    assert(CountingFileSystem.driverOpensOf("""v\d{6}\.json""") === 3L,
      "the driver opened a manifest beyond the one header read per " +
        "version - the pre-`n` fallback is parsing entries driver-side")
    assert(CountingFileSystem.executorOpensOf("""v\d{6}\.json""") >= 3L,
      "the legacy entry counts did not come from executor tasks")
    // DESCRIBE DETAIL rides the same distributed fallback
    val d = Manifest.detail(spark, dir).head()
    assert(d.getLong(2) === Manifest.entriesRelation(spark, dir).count(),
      "detail's pre-`n` file count diverged from the entry relation")
  }

  test("index builds above the census threshold batch their todo list " +
      "per pass; partial states stay safe; repeated passes converge") {
    val dir = tempDir("graft_scale_idx")
    // 3 partitions × up to 3 tasks each: enough files that a batch cap
    // of 2 forces several passes
    Manifest.create(fixture.repartition(3), dir, "grp")
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    spark.conf.set("graft.manifest.indexBatchMaxFiles", "2")
    try {
      val total = Manifest.entriesRelation(spark, dir).count()
      assert(total >= 4L, s"fixture produced too few files ($total)")
      // ONE pass: at most 2 files indexed, the rest must stay
      // bloom-NULL (an all-zero bitset on an UNSCANNED file would be a
      // silent false negative at read time)
      assert(Manifest.addBloomIndex(spark, dir, "id", bits = 256, k = 3))
      val indexed1 = Manifest.entriesRelation(spark, dir)
        .filter(col("bloom").isNotNull).count()
      assert(indexed1 === 2L,
        s"first pass indexed $indexed1 files, expected the batch cap 2")
      // the partially-indexed layout still answers point reads with
      // zero false negatives (bloom-less files admit conservatively)
      val (hit1, _, _) = Manifest.readPoint(spark, dir, "id", 5L)
      assert(hit1.filter($"id" === 5L).count() === 1L)
      // convergence: loop until the build reports nothing left
      var passes = 1
      while (Manifest.addBloomIndex(spark, dir, "id", bits = 256, k = 3)) {
        passes += 1
        assert(passes < 32, "bounded index build failed to converge")
      }
      assert(passes >= 2, "the cap never forced a second pass")
      assert(Manifest.entriesRelation(spark, dir)
        .filter(col("bloom").isNull).count() === 0L)
      val (hitAll, listed, totalFiles) =
        Manifest.readPoint(spark, dir, "id", 5L)
      assert(hitAll.filter($"id" === 5L).count() === 1L)
      assert(listed < totalFiles, "a fully-indexed layout must skip")
      // the sketch build batches and converges the same way, and the
      // converged estimate is exact below k
      var sp = 0
      while (Manifest.addDistinctSketch(spark, dir, "id", k = 64)) {
        sp += 1
        assert(sp < 32, "bounded sketch build failed to converge")
      }
      assert(sp >= 2, "the cap never forced a second sketch pass")
      val (est, _) = Manifest.approxDistinct(spark, dir)
      assert(est === 6.0)
    } finally {
      spark.conf.unset("graft.manifest.driverCensusMaxFiles")
      spark.conf.unset("graft.manifest.indexBatchMaxFiles")
    }
  }

  test("checkpoint at census scale: a 1500-file layout serves " +
      "entriesRelation from parquet — zero manifest text reads in " +
      "executors, header-only driver opens — and readRange/vacuum " +
      "latencies stay flat vs the distributed text parse") {
    val (dir, _) = cfsDir()
    // 1500 one-row files in one commit: the census is file-count-
    // bound, not data-bound — exactly the regime the checkpoint serves
    val big = spark.range(1500).toDF("id")
      .withColumn("grp", lit("a")).repartition(1500)
    Manifest.create(big, dir, "grp", statsCol = "id")
    Manifest.append(spark.range(1500, 1510).toDF("id")
      .withColumn("grp", lit("b")), dir, "grp", statsCol = "id")
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      def timedRange(): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = Manifest.readRange(spark, dir, 100L, 120L)
          .filter(col("id").between(100L, 120L)).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val (n1, tParse) = timedRange() // distributed TEXT parse
      Manifest.checkpoint(spark, dir)
      CountingFileSystem.reset()
      val (n2, tCkpt) = timedRange()  // checkpoint-served
      assert(n1 === 21L && n2 === n1,
        "the two census regimes listed different file sets")
      assert(CountingFileSystem.executorOpensOf("""v\d{6}\.json""") === 0L,
        "a checkpoint-covered census still parsed manifest TEXT in " +
          "executors - the checkpoint is not serving")
      assert(CountingFileSystem.driverOpensOf("""v\d{6}\.json""") <= 4L,
        "the driver opened manifests beyond one-line header reads")
      val t0 = System.nanoTime()
      val (_, m, _) = Manifest.vacuum(spark, dir)
      val tVac = (System.nanoTime() - t0) / 1e9
      assert(m >= 1L)
      assert(Manifest.read(spark, dir).count() === 1510L,
        "vacuum on the checkpointed census lost live files")
      info(f"1500-file census: readRange text-parse $tParse%.2fs, " +
        f"checkpoint-served $tCkpt%.2fs, vacuum $tVac%.2fs")
      // flat = the checkpoint path never pays MORE than the parse it
      // replaces (generous slack absorbs test-box jitter)
      assert(tCkpt <= tParse * 3 + 2.0,
        f"checkpoint-served range read ($tCkpt%.2fs) is slower than " +
          f"the text parse it replaces ($tParse%.2fs)")
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("branch verbs at census scale: the zero-copy carry is served " +
      "from the checkpoint (no manifest text read anywhere), and the " +
      "create->append->merge cycle lands the right content under " +
      "threshold 0") {
    val (dir, _) = cfsDir()
    val big = spark.range(400).toDF("id")
      .withColumn("grp", lit("a")).repartition(400)
    Manifest.create(big, dir, "grp")
    Manifest.checkpoint(spark, dir)
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      CountingFileSystem.reset()
      Manifest.branchCreate(spark, dir, "exp")
      // the 400-entry carry into the branch's v1 must ride the source's
      // parquet checkpoint: zero manifest text opens in executors, and
      // the driver opened manifests only for one-line header reads
      assert(CountingFileSystem.executorOpensOf("""v\d{6}\.json""") === 0L,
        "branchCreate parsed manifest TEXT despite a covering checkpoint")
      assert(CountingFileSystem.driverOpensOf("""v\d{6}\.json""") <= 4L,
        "branchCreate read manifest entries driver-side")
      val bdir = Manifest.branchDir(dir, "exp")
      Manifest.append(spark.range(400L, 410L).toDF("id")
        .withColumn("grp", lit("b")), bdir, "grp")
      // merge-back: branch-side censuses text-parse DISTRIBUTED (the
      // branch has no checkpoint — executors open its manifests), the
      // main-side carry stays checkpoint-served
      CountingFileSystem.reset()
      Manifest.branchMergeInto(spark, dir, "exp")
      assert(CountingFileSystem.executorOpensOf("""v\d{6}\.json""") > 0L,
        "the branch-side census did not run in executors")
      assert(Manifest.read(spark, dir).count() === 410L)
      assert(Manifest.read(spark, dir).filter($"grp" === "b")
        .count() === 10L, "the branch's appended partition did not merge")
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("vacuum below the threshold still reclaims identically (the " +
      "driver fast path did not fork semantics)") {
    val (dir, local) = cfsDir()
    Manifest.create(fixture, dir, "grp")
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", $"value" * 2),
      dir, "grp")
    val orphanDir = local.resolve("data/c000777-dead/__p=a")
    java.nio.file.Files.createDirectories(orphanDir)
    (1 to 5).foreach { i =>
      java.nio.file.Files.createFile(orphanDir.resolve(s"junk_$i.parquet"))
    }
    val (d, m, _) = Manifest.vacuum(spark, dir)
    assert(d >= 5L && m >= 1L)
    assert(!java.nio.file.Files.exists(local.resolve("data/c000777-dead")))
    assert(Manifest.read(spark, dir).agg(sum("value"))
      .as[Double].head() === 280.0)
  }

  test("distribution-mode=hash bounds a many-task commit to one file " +
      "per partition; mode none keeps the frame's task layout") {
    // 48 input tasks x 3 partition values: mode `none` writes up to one
    // file per (task, partition) — the cluster-scale small-files trap —
    // while `hash` clusters by the partition column first (Iceberg's
    // write.distribution-mode=hash) and bounds each partition to its
    // task's single file. Content must be identical either way.
    def wide = spark.range(0, 600).repartition(48)
      .select(col("id"), (col("id") % 3).cast("string").as("grp"),
        (col("id") * 2).cast("double").as("value"))
    def filesPerPart(dir: String): Map[String, Long] =
      Manifest.entriesRelation(spark, dir)
        .groupBy("p").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val noneDir = tempDir("graft_dist_none")
    val hashDir = tempDir("graft_dist_hash")
    val key = "graft.manifest.distributionMode"
    val prev = spark.conf.get(key, "none")
    try {
      spark.conf.set(key, "none")
      Manifest.create(wide, noneDir, "grp")
      spark.conf.set(key, "hash")
      Manifest.create(wide, hashDir, "grp")
    } finally spark.conf.set(key, prev)
    val none = filesPerPart(noneDir)
    val hash = filesPerPart(hashDir)
    assert(none.values.max > 1L,
      "fixture too small: mode none should emit multi-file partitions")
    assert(hash.values.max === 1L,
      s"hash mode must bound each partition to one task's file: $hash")
    assert(Manifest.read(spark, hashDir).collect().toSet ===
      Manifest.read(spark, noneDir).collect().toSet,
      "distribution mode changed the snapshot content")
  }
}
