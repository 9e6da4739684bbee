package graft

import graft.operators.Manifest
import org.apache.spark.sql.functions._

/** FS-level contracts of the transactional-manifest protocol (q316/q317
  * gate the snapshot SEMANTICS; this suite pins what happens on disk):
  * commits never touch existing bytes, version collisions fail loudly,
  * vacuum removes exactly the unreferenced files, manifest-pruned reads
  * list only the hit partitions' files, and purge-emptied partitions
  * vanish from the manifest.
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def mkdir() = tempDir("graft_manifest_spec")

  private def fixture = Seq(
    (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
    (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0)
  ).toDF("id", "grp", "value")

  private def crcs(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir, "data")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map { p =>
        val c = new java.util.zip.CRC32()
        c.update(java.nio.file.Files.readAllBytes(p))
        p.toString -> c.getValue
      }.toMap
  }

  test("overwritePartitions never rewrites an existing byte (immutable data files)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val before = crcs(dir)
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", $"value" * 2),
      dir, "grp")
    val after = crcs(dir)
    before.foreach { case (path, crc) =>
      assert(after.get(path).contains(crc),
        s"$path was mutated or deleted by a commit — data files must be " +
          "immutable (that's what makes pinned readers consistent)")
    }
    // and the snapshot actually moved
    assert(Manifest.read(spark, dir).filter($"grp" === "b")
      .agg(sum("value")).as[Double].head() === 140.0)
  }

  test("version collision is a loud failure, never a silent overwrite") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val conf = spark.sparkContext.hadoopConfiguration
    // a racing writer prepared version 2 first
    Manifest.commitManifest(dir, 2, Seq.empty, conf)
    val err = intercept[IllegalArgumentException] {
      Manifest.commitManifest(dir, 2, Seq.empty, conf)
    }
    assert(err.getMessage.contains("lost the race"))
  }

  test("vacuum deletes orphans and superseded files, keeps the latest snapshot bit-identical") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // crashed writer: files land, manifest never renames in
    Manifest.writeCommitFiles(fixture.filter($"grp" === "a"), dir, "grp", 999)
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "a").withColumn("value", $"value" + 1.0),
      dir, "grp")
    val latestBefore = Manifest.read(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(crcs(dir).keys.exists(_.contains("c000999")),
      "fixture bug: orphan files missing before vacuum")
    Manifest.vacuum(spark, dir)
    val files = crcs(dir).keys.toSeq
    assert(!files.exists(_.contains("c000999")),
      "vacuum left the crashed writer's orphan files")
    // superseded v1 'grp=a' files are gone, still-referenced ones remain
    assert(files.exists(_.contains("c000001")),
      "vacuum deleted files the latest manifest still references")
    assert(!files.exists(f => f.contains("c000001") && f.contains("__p=a")),
      "vacuum kept superseded files no manifest references")
    assert(Manifest.read(spark, dir).collect().map(_.toString).sorted.toSeq
      === latestBefore, "vacuum changed the latest snapshot")
    // superseded manifests are gone: time travel to v1 now fails loudly
    val err = intercept[IllegalArgumentException] {
      Manifest.readVersion(spark, dir, 1)
    }
    assert(err.getMessage.contains("vacuumed"))
  }

  test("readPartitions lists only the hit partitions' files") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val hit = Manifest.readPartitions(spark, dir, Seq("b"))
    assert(hit.inputFiles.forall(_.contains("__p=b")),
      "point read listed files outside the hit partition")
    assert(hit.select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    val err = intercept[IllegalArgumentException] {
      Manifest.readPartitions(spark, dir, Seq("zzz"))
    }
    assert(err.getMessage.contains("no manifest entry"))
  }

  test("purge drops emptied partitions from the manifest (no silent retention)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // grp=b dies entirely; grp=c loses one row; grp=a untouched
    Manifest.purge(spark, dir, "grp", $"id".isin(3L, 4L, 5L))
    val t = Manifest.read(spark, dir)
    assert(t.filter($"grp" === "b").count() === 0L)
    assert(t.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 6L))
    // the emptied partition is not just filtered — it has NO manifest
    // entry, so a point read of it is loud, not silently empty
    val err = intercept[IllegalArgumentException] {
      Manifest.readPartitions(spark, dir, Seq("b"))
    }
    assert(err.getMessage.contains("no manifest entry"))
    // NULL-predicate rows count as KEEP (the purgeRows over-deletion law)
    val dir2 = mkdir()
    Manifest.create(fixture.withColumn("id",
      when($"id" === 6L, lit(null)).otherwise($"id")), dir2, "grp")
    Manifest.purge(spark, dir2, "grp", $"id".isin(5L))
    assert(Manifest.read(spark, dir2).filter($"grp" === "c").count() === 1L,
      "a NULL-valued victim predicate over-deleted the null-id row")
  }

  test("commitBatch: replays skip before writing a byte; empty batches publish nothing") {
    val dir = mkdir()
    assert(Manifest.commitBatch(fixture.filter($"grp" === "a"), dir, "grp", 0L))
    // crash-replay of batch 0: skipped, and skipped BEFORE any file
    // lands (no new commit dir, not even an orphan)
    val before = crcs(dir).keySet
    assert(!Manifest.commitBatch(
      fixture.filter($"grp" === "a"), dir, "grp", 0L))
    assert(crcs(dir).keySet === before,
      "a replayed batch wrote files — replay must be a pure no-op")
    assert(Manifest.commitBatch(fixture.filter($"grp" === "b"), dir, "grp", 1L))
    // an empty micro-batch (streaming engines deliver them) is a no-op
    // that doesn't burn a version or break readers
    assert(!Manifest.commitBatch(fixture.filter($"grp" === "zzz"), dir,
      "grp", 2L))
    assert(Manifest.read(spark, dir).select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(Manifest.committedBatches(dir,
      spark.sparkContext.hadoopConfiguration) === Set(0L, 1L))
  }

  test("readRange: loud without stats; all-null-stats files conservatively included") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val err = intercept[IllegalArgumentException] {
      Manifest.readRange(spark, dir, 0L, 100L)
    }
    assert(err.getMessage.contains("silent full scan"))
    // a file whose stats column is entirely NULL has no interval — it
    // must be admitted by EVERY range probe, not silently skipped
    val dir2 = mkdir()
    Manifest.create(fixture.withColumn("id",
      when($"grp" === "c", lit(null)).otherwise($"id")), dir2, "grp",
      statsCol = "id")
    val got = Manifest.readRange(spark, dir2, 1L, 2L)
    assert(got.inputFiles.exists(_.contains("__p=c")),
      "all-null-stats file was skipped — unknown range must admit")
    assert(got.filter($"id".between(1L, 2L)).count() === 2L)
    // and a disjoint interval IS skipped: grp=b holds ids 3,4 only
    assert(!Manifest.readRange(spark, dir2, 1L, 2L).inputFiles
      .exists(_.contains("__p=b")),
      "a file with a disjoint stats interval was listed")
  }

  test("compact(filesPerPartition=1) leaves one file per partition, content bit-stable") {
    val dir = mkdir()
    Manifest.create(fixture.filter($"id" % 2 === 0), dir, "grp",
      statsCol = "id")
    Manifest.append(fixture.filter($"id" % 2 === 1), dir, "grp",
      statsCol = "id")
    val before = Manifest.read(spark, dir)
    val want = before.collect().map(_.toString).sorted.toSeq
    assert(before.inputFiles.length > 3, "fixture bug: not fragmented")
    Manifest.compact(spark, dir, "grp", filesPerPartition = 1,
      statsCol = "id")
    val after = Manifest.read(spark, dir)
    assert(after.inputFiles.length === 3,
      s"expected 1 file per partition, got ${after.inputFiles.length}")
    assert(after.collect().map(_.toString).sorted.toSeq === want,
      "compaction changed the content")
    // skipping stats survive: the compacted manifest still carries
    // per-file intervals readRange can prune on
    assert(Manifest.readRange(spark, dir, 1L, 6L)
      .count() === 6L)
  }

  test("schema-widening append surfaces the union schema (old rows NULL-fill)") {
    // the lakehouse reality: early commits predate later columns; a
    // snapshot read must widen with NULLs, not silently drop the new
    // column depending on which file's footer the reader sampled first
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.append(fixture.filter($"grp" === "a")
      .withColumn("id", $"id" + 100L)
      .withColumn("quality", $"value" * 2), dir, "grp")
    val t = Manifest.read(spark, dir)
    assert(t.columns.contains("quality"),
      "the widened column vanished from the snapshot read")
    assert(t.filter($"quality".isNotNull).count() === 2L)
    assert(t.filter($"quality".isNull).count() === 6L,
      "pre-widening rows must NULL-fill, not drop")
    // and the pruned read paths widen the same way
    assert(Manifest.readPartitions(spark, dir, Seq("a"))
      .columns.contains("quality"))
  }

  test("pinned reader sees old-or-new, never a mix, across a multi-partition rewrite") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val pinned = Manifest.readVersion(spark, dir, 1)
    Manifest.overwritePartitions(
      fixture.filter($"grp".isin("a", "c")).withColumn("value", lit(0.0)),
      dir, "grp")
    assert(pinned.agg(sum("value")).as[Double].head() === 210.0,
      "pinned snapshot drifted under a concurrent commit")
    assert(Manifest.read(spark, dir).agg(sum("value")).as[Double].head()
      === 70.0, "fresh read missed the committed rewrite")
  }

  test("changedPartitions reports exactly the rewritten/appended partitions") {
    val dir = mkdir()
    val conf = spark.sparkContext.hadoopConfiguration
    Manifest.create(fixture, dir, "grp")
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", lit(0.0)),
      dir, "grp")
    Manifest.append(fixture.filter($"grp" === "a")
      .withColumn("grp", lit("d")), dir, "grp")
    assert(Manifest.changedPartitions(spark, dir, 1, 2, conf) === Set("b"))
    assert(Manifest.changedPartitions(spark, dir, 1, 3, conf) === Set("b", "d"))
    assert(Manifest.changedPartitions(spark, dir, 3, 3, conf) === Set.empty)
  }

  test("disjoint optimistic writers both land, in either commit order") {
    def run(firstA: Boolean): Map[String, Double] = {
      val dir = mkdir()
      Manifest.create(fixture, dir, "grp")
      val pa = Manifest.prepareOverwrite(
        fixture.filter($"grp" === "a").withColumn("value", $"value" * 2),
        dir, "grp")
      val pb = Manifest.prepareOverwrite(
        fixture.filter($"grp" === "b").withColumn("value", $"value" * 3),
        dir, "grp")
      val order = if (firstA) Seq(pa, pb) else Seq(pb, pa)
      assert(order.map(Manifest.commitPrepared(spark, dir, _)) ===
        Seq(2, 3), "the second writer must rebase, not fail")
      Manifest.read(spark, dir).groupBy("grp").agg(sum("value").as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val expected = Map("a" -> 60.0, "b" -> 210.0, "c" -> 110.0)
    assert(run(firstA = true) === expected)
    assert(run(firstA = false) === expected,
      "disjoint commits must commute")
  }

  test("catalog: unwritten tables carry forward; readers pin the vector; " +
      "a partial writer stays invisible") {
    val dir = mkdir()
    val a1 = fixture
    val b1 = fixture.groupBy("grp").agg(sum("value").as("s"))
    Manifest.catalogCommit(dir, Seq(("a", a1, "grp"), ("b", b1, "grp")))
    // v2 rewrites only table a — b must carry forward at its v1 version
    Manifest.catalogCommit(dir,
      Seq(("a", a1.withColumn("value", $"value" * 2), "grp")))
    assert(Manifest.catalogRead(spark, dir, "b")
      .agg(sum("s")).as[Double].head() === 210.0,
      "unwritten table lost its carry-forward pin")
    assert(Manifest.catalogRead(spark, dir, "a")
      .agg(sum("value")).as[Double].head() === 420.0)
    // pinned v1 still reads the original a
    assert(Manifest.catalogRead(spark, dir, "a", version = 1)
      .agg(sum("value")).as[Double].head() === 210.0)
    // a partial writer advances a's per-table manifest with no catalog
    // rename: catalog readers must not see it
    Manifest.append(a1.withColumn("value", lit(1e9)),
      s"$dir/tables/a", "grp")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.catalogLatest(dir, conf) === 2)
    assert(Manifest.catalogRead(spark, dir, "a")
      .agg(sum("value")).as[Double].head() === 420.0,
      "a catalog reader saw a commit the catalog never published")
    val e = intercept[IllegalArgumentException] {
      Manifest.catalogRead(spark, dir, "zzz")
    }
    assert(e.getMessage.contains("no table 'zzz'"))
  }

  test("dedupRepair: untouched partitions keep their bytes, emptied " +
      "partitions vanish, NULL keys never dedup") {
    val dir = mkdir()
    // grp a: one dup pair (ids 1,2 share key 'x') -> partial rewrite;
    // grp b: all dups of grp-a keys -> emptied; grp c: clean ->
    // untouched bytes; NULL keys (ids 7,8) must BOTH survive
    val d = Seq(
      (1L, "a", Option("x")), (2L, "a", Option("x")), (3L, "a", Option("y")),
      (4L, "b", Option("x")), (5L, "b", Option("y")),
      (6L, "c", Option("z")), (7L, "c", None), (8L, "c", None)
    ).toDF("id", "grp", "key")
    Manifest.create(d, dir, "grp")
    val before = crcs(dir)
    assert(Manifest.dedupRepair(spark, dir, "grp", col("key"), "id"))
    val t = Manifest.read(spark, dir)
    assert(t.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 6L, 7L, 8L),
      "keep-min + NULL-key retention broke")
    // the emptied partition is GONE from the manifest — the pruned
    // reader's loud no-entry require is the proof
    val gone = intercept[IllegalArgumentException] {
      Manifest.readPartitions(spark, dir, Seq("b"))
    }
    assert(gone.getMessage.contains("no manifest entry"))
    // grp c's data file must be the ORIGINAL bytes (no rewrite)
    val after = crcs(dir)
    val cFiles = before.keys.filter(_.contains("__p=c"))
    assert(cFiles.nonEmpty && cFiles.forall(f => after.get(f) === before.get(f)),
      "an untouched partition was rewritten")
    // idempotent: second run commits nothing
    val conf = spark.sparkContext.hadoopConfiguration
    val v = Manifest.latestVersion(dir, conf)
    assert(!Manifest.dedupRepair(spark, dir, "grp", col("key"), "id"))
    assert(Manifest.latestVersion(dir, conf) === v)
  }

  test("deletion vectors: no byte moves on delete; apply rewrites only " +
      "affected partitions; time travel keeps every version's DV") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val before = crcs(dir)
    assert(Manifest.deleteRows(spark, dir, $"id" === 1L) === 1L)
    assert(crcs(dir) === before, "a MOR delete touched a data file")
    assert(Manifest.readWithDeletes(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L, 5L, 6L))
    // deleting an already-deleted row is a no-op (no commit)
    assert(Manifest.deleteRows(spark, dir, $"id" === 1L) === 0L)
    // second delete accumulates in a NEW version; v2's DV is unchanged
    assert(Manifest.deleteRows(spark, dir, $"id" === 5L) === 1L)
    assert(Manifest.readWithDeletes(spark, dir, version = 2)
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L, 4L, 5L, 6L), "v2's deletion vector drifted")
    assert(Manifest.readWithDeletes(spark, dir, version = 1)
      .count() === 6L, "v1 must still read the full table")
    // apply: only grp a (id 1) and grp c (id 5) rewrite; grp b keeps bytes
    assert(Manifest.applyDeletes(spark, dir, "grp"))
    val after = crcs(dir)
    val bFiles = before.keys.filter(_.contains("__p=b"))
    assert(bFiles.nonEmpty &&
      bFiles.forall(f => after.get(f) === before.get(f)),
      "an unaffected partition was rewritten by applyDeletes")
    assert(Manifest.read(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L, 6L))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.deletionVector(spark, dir,
      Manifest.latestVersion(dir, conf)).isEmpty,
      "the applied version must carry no deletion vector")
    assert(!Manifest.applyDeletes(spark, dir, "grp"),
      "apply without a DV must be a no-op")
  }

  test("bloom index: no false negatives, coexists with range stats, " +
      "unindexed commits admit conservatively") {
    val dir = mkdir()
    Manifest.create(fixture.repartition(4), dir, "grp",
      statsCol = "id")
    Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3)
    // every present key must come back exactly (zero false negatives)
    (1L to 6L).foreach { kv =>
      // no bits/k hints: the reader derives them from the persisted index
      val (df, listed, total) = Manifest.readPoint(spark, dir, "id", kv)
      assert(listed >= 1 && listed <= total)
      assert(df.filter($"id" === kv).count() === 1L,
        s"bloom dropped present key $kv")
    }
    // range stats survived the index commit
    assert(Manifest.readRange(spark, dir, 2L, 3L)
      .filter($"id".between(2L, 3L)).count() === 2L)
    // a post-index append has no bloom -> its file must always admit
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(100L)), dir, "grp", statsCol = "id")
    val (df2, listed2, total2) = Manifest.readPoint(spark, dir, "id", 100L)
    assert(df2.filter($"id" === 100L).count() === 1L,
      "an unindexed commit must admit conservatively")
    assert(listed2 >= 1 && total2 > listed2 - 1)
    // incremental refresh: only the bloom-less appended file gets
    // indexed; already-indexed entries keep their EXACT bloom strings
    val conf2 = spark.sparkContext.hadoopConfiguration
    assert(Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
    val (df3, _, _) = Manifest.readPoint(spark, dir, "id", 100L)
    assert(df3.filter($"id" === 100L).count() === 1L,
      "the refreshed index lost the appended key")
    // and a second refresh with nothing to do is a no-op (no commit)
    val v = Manifest.latestVersion(dir, conf2)
    assert(!Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
    assert(Manifest.latestVersion(dir, conf2) === v)
  }

  test("branches: isolated both ways, purge-on-branch merges as a drop, " +
      "duplicate branch names are loud") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.branchCreate(spark, dir, "dev")
    val bdir = Manifest.branchDir(dir, "dev")
    // the branch reads the source's snapshot without owning any bytes
    assert(Manifest.read(spark, bdir).count() === 6L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(bdir, "data")), "branch create copied data")
    // branch work: drop grp b entirely (purge) + double grp a
    Manifest.purge(spark, bdir, "grp", $"grp" === "b")
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "a").withColumn("value", $"value" * 2),
      bdir, "grp")
    // main untouched by branch work
    assert(Manifest.read(spark, dir).agg(sum("value")).as[Double].head()
      === 210.0, "branch work leaked into main")
    // branch sees its own world
    assert(Manifest.read(spark, bdir).agg(sum("value")).as[Double].head()
      === 170.0) // a doubled (60) + c (110); b gone
    val v = Manifest.branchMergeInto(spark, dir, "dev")
    assert(v === 2)
    assert(Manifest.read(spark, dir).agg(sum("value")).as[Double].head()
      === 170.0, "merge missed the branch's drop or rewrite")
    assert(Manifest.read(spark, dir).filter($"grp" === "b").isEmpty,
      "the branch-purged partition survived the merge")
    val e = intercept[IllegalArgumentException] {
      Manifest.branchCreate(spark, dir, "dev")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("deletion vector carries forward across append/overwrite/repair " +
      "commits — no resurrection; rewrites read THROUGH the DV") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.deleteRows(spark, dir, $"id" === 1L) === 1L)
    // append: the new version must keep excluding id 1
    Manifest.append(fixture.filter($"id" === 6L)
      .withColumn("id", lit(7L)), dir, "grp")
    assert(Manifest.readWithDeletes(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L, 5L, 6L, 7L),
      "an append resurrected a merge-on-read-deleted row")
    // overwrite of an UNRELATED partition: still excluded
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", $"value" + 1.0),
      dir, "grp")
    assert(Manifest.readWithDeletes(spark, dir).filter($"id" === 1L).isEmpty,
      "a partition overwrite dropped the carried deletion vector")
    // dedupRepair physically rewrites partition c (ids 5,6 duplicate on
    // grp) — it must not re-materialize DV-deleted rows; delete id 5's
    // twin first so the repair touches a DV-carrying layout
    assert(Manifest.deleteRows(spark, dir, $"id" === 6L) === 1L)
    Manifest.dedupRepair(spark, dir, "grp", $"grp", "id")
    assert(Manifest.read(spark, dir).filter($"id" === 6L).isEmpty,
      "dedupRepair physically re-materialized a DV-deleted row")
    // compact folds the whole DV in: raw read == live read afterwards
    Manifest.compact(spark, dir, "grp")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.readHeader(dir,
      Manifest.latestVersion(dir, conf), conf).dv.isEmpty,
      "compact must fold the deletion vector away")
    assert(Manifest.read(spark, dir).filter($"id".isin(1L, 6L)).isEmpty,
      "compact re-materialized DV-deleted rows")
  }

  test("a delete commit writes ONLY its own victim delta; prior deltas " +
      "stay bit-identical (no accumulated-history rewrite)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    def dvCrcs: Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir, "_dv")
      if (!java.nio.file.Files.exists(root)) return Map.empty
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map { p =>
          val c = new java.util.zip.CRC32()
          c.update(java.nio.file.Files.readAllBytes(p))
          p.toString -> c.getValue
        }.toMap
    }
    assert(Manifest.deleteRows(spark, dir, $"id" === 1L) === 1L)
    val afterFirst = dvCrcs
    assert(afterFirst.nonEmpty, "first delete wrote no delta")
    assert(Manifest.deleteRows(spark, dir, $"id" === 5L) === 1L)
    val afterSecond = dvCrcs
    afterFirst.foreach { case (p, crc) =>
      assert(afterSecond.get(p).contains(crc),
        s"delta $p was rewritten by a later delete — deltas must be " +
          "immutable (the second delete writes only its own victims)")
    }
    assert(afterSecond.size > afterFirst.size,
      "the second delete added no delta of its own")
  }

  test("OCC deletes: a delete racing a disjoint append rebases and both " +
      "land; a rewrite of a victim's file aborts the delete loudly") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // stage the delete, then an append lands first
    val prep = Manifest.prepareDelete(spark, dir, $"id" === 3L)
    assert(prep.nNew === 1L)
    Manifest.append(fixture.filter($"id" === 6L)
      .withColumn("id", lit(7L)), dir, "grp")
    assert(Manifest.commitDelete(spark, dir, prep) === 1L)
    assert(Manifest.readWithDeletes(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L, 5L, 6L, 7L),
      "append + rebased delete must BOTH land")
    // stage another, then overwrite the victim's partition: stale
    val prep2 = Manifest.prepareDelete(spark, dir, $"id" === 4L)
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "b").withColumn("value", $"value" * 10),
      dir, "grp")
    val e = intercept[RuntimeException] {
      Manifest.commitDelete(spark, dir, prep2)
    }
    assert(e.getMessage.contains("re-prepare"),
      s"stale delete must abort with guidance, got: ${e.getMessage}")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, prep2.delta)),
      "the aborted delete left its delta behind")
  }

  test("bloom: all-NULL files converge to a no-op refresh; k persists " +
      "and a mismatched refresh is loud") {
    val dir = mkdir()
    val withNulls = fixture.withColumn("key",
      when($"grp" === "c", lit(null).cast("long")).otherwise($"id"))
    Manifest.create(withNulls.repartition(3), dir, "grp")
    assert(Manifest.addBloomIndex(spark, dir, "key", bits = 64, k = 3))
    // grp c's files hold only NULL keys — they must STILL get a (zero)
    // bitset, so the refresh has nothing left to do
    val conf = spark.sparkContext.hadoopConfiguration
    val v = Manifest.latestVersion(dir, conf)
    assert(!Manifest.addBloomIndex(spark, dir, "key", bits = 64, k = 3),
      "refresh over all-NULL files must converge to a no-op")
    assert(Manifest.latestVersion(dir, conf) === v)
    // a NULL-file never admits a point lookup (all-zero is safe)
    val (df, _, _) = Manifest.readPoint(spark, dir, "key", 2L)
    assert(df.filter($"key" === 2L).count() === 1L)
    // k is persisted: a refresh under a different k must not silently
    // mix hash families
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("key", lit(50L)), dir, "grp")
    val e = intercept[IllegalArgumentException] {
      Manifest.addBloomIndex(spark, dir, "key", bits = 64, k = 5)
    }
    assert(e.getMessage.contains("k=3"))
  }

  test("vacuum spares files and DV deltas live branches still reference") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.deleteRows(spark, dir, $"id" === 1L)
    Manifest.branchCreate(spark, dir, "audit")
    val bdir = Manifest.branchDir(dir, "audit")
    val branchBefore = Manifest.readWithDeletes(spark, dir)
      .drop("__file", "__pos")
      .collect().map(_.toString).sorted.toSeq
    // main moves on: overwrite every partition (supersedes v1 files for
    // MAIN, but the branch still references them), then apply deletes
    Manifest.overwritePartitions(fixture.withColumn("value", $"value" + 7.0),
      dir, "grp")
    Manifest.applyDeletes(spark, dir, "grp") // no-op path: DV rows stale
    Manifest.vacuum(spark, dir)
    val got = Manifest.readWithDeletes(spark, bdir).drop("__file", "__pos")
      .collect().map(_.toString).sorted.toSeq
    assert(got === branchBefore,
      "vacuuming main corrupted a live branch's snapshot")
  }

  test("commitPrepared refuses to publish staged files a vacuum reaped") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val prep = Manifest.prepareOverwrite(
      fixture.filter($"grp" === "a").withColumn("value", $"value" * 2),
      dir, "grp")
    // a retention pass runs in the prepare window: staged files are
    // manifest-invisible orphans and legally die
    Manifest.vacuum(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Manifest.commitPrepared(spark, dir, prep)
    }
    assert(e.getMessage.contains("re-prepare"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 1,
      "the reaped prepare must not move the version")
  }

  test("an append refuses to publish staged files a vacuum reaped") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = Manifest.writeCommitFiles(
      fixture.filter($"grp" === "a").withColumn("id", $"id" + 100L),
      dir, "grp", 2, suffix = "-wtest")
    // staged files are manifest-invisible orphans until published, so a
    // retention pass in the write window legally reaps them
    Manifest.vacuum(spark, dir)
    assert(staged.nonEmpty && staged.forall(e =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, e.file))),
      "fixture bug: vacuum left the staged files in place")
    val e = intercept[IllegalArgumentException] {
      Manifest.appendEntries(spark, dir, staged)
    }
    assert(e.getMessage.contains("no longer exist"), e.getMessage)
    assert(Manifest.latestVersion(dir, conf) === 1,
      "the reaped append must not move the version")
    assert(Manifest.read(spark, dir).count() === 6L,
      "the table must stay readable")
  }

  test("one-pass replica == stepwise referee == direct read across " +
      "appends, overwrites, MOR deletes and a schema-widening append; " +
      "plan size independent of version count") {
    def build(dir: String, versions: Int): Unit = {
      Manifest.create(fixture, dir, "grp")
      Manifest.append(fixture.filter($"id" === 6L)
        .withColumn("id", lit(7L)), dir, "grp")                      // v2
      Manifest.deleteRows(spark, dir, $"id" === 2L)                  // v3
      Manifest.overwritePartitions(
        fixture.filter($"grp" === "b").withColumn("value", $"value" * 2),
        dir, "grp")                                                  // v4
      // schema widening mid-history
      Manifest.append(fixture.filter($"id" === 5L)
        .withColumn("id", lit(8L)).withColumn("tag", lit("x")),
        dir, "grp")                                                  // v5
      var v = 5
      while (v < versions) {
        Manifest.append(fixture.filter($"id" === 1L)
          .withColumn("id", lit(100L + v)), dir, "grp")
        v += 1
      }
    }
    val dirA = mkdir(); build(dirA, 6)
    val onePass = Manifest.replicateFromFeed(spark, dirA)
    val stepwise = Manifest.replicateFromFeedStepwise(spark, dirA)
    val direct = Manifest.readWithDeletes(spark, dirA)
      .drop("__file", "__pos")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    assert(canon(onePass) === canon(direct),
      "one-pass replica diverged from the direct snapshot")
    assert(canon(stepwise) === canon(direct),
      "stepwise referee diverged from the direct snapshot")
    // the one-pass fold materializes O(1) times: ONE aggregation nets
    // all versions, so the shuffle count must not grow with history
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val dirB = mkdir(); build(dirB, 12)
    assert(exchanges(Manifest.replicateFromFeed(spark, dirB)) ===
      exchanges(Manifest.replicateFromFeed(spark, dirA)),
      "replica shuffle count grew with the version count — the fold is " +
        "no longer one-pass")
  }

  test("merge: update/insert/delete land keyed; cross-partition moves " +
      "rewrite both sides; duplicate source keys and racing conflicting " +
      "commits are loud; DV-deleted rows never resurrect") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // MOR-delete id 2 first: the merge rewrite of grp a must not bring
    // it back
    Manifest.deleteRows(spark, dir, $"id" === 2L)
    val source = Seq(
      (1L, "b", 111.0, false), // update that MOVES a -> b
      (9L, "c", 99.0, false),  // insert
      (5L, "c", 0.0, true)     // delete id 5
    ).toDF("id", "grp", "value", "_d")
    val v = Manifest.merge(spark, dir, "grp", source, Seq("id"),
      deleteCol = "_d")
    val got = Manifest.readWithDeletes(spark, dir, v)
      .drop("__file", "__pos")
      .select("id", "grp", "value").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "b", 111.0), (3L, "b", 30.0), (4L, "b", 40.0),
      (6L, "c", 60.0), (9L, "c", 99.0)),
      s"merge produced $got")
    // duplicate source keys are loud
    val dup = Seq((1L, "a", 1.0, false), (1L, "a", 2.0, false))
      .toDF("id", "grp", "value", "_d")
    val e1 = intercept[IllegalArgumentException] {
      Manifest.merge(spark, dir, "grp", dup, Seq("id"), deleteCol = "_d")
    }
    assert(e1.getMessage.contains("duplicate keys"))
    // a merge prepared against a base that then moves ITS partitions
    // conflicts loudly: simulate by racing two merges on the same grp
    // via the manifest moving under the second one — an overwrite of
    // grp b lands between the second merge's base read and publish.
    // (Single-threaded simulation: merge reads base at entry, so
    // committing an overwrite FIRST and merging after is the rebase
    // path — covered above; the conflict path needs the version to
    // move mid-merge, which the OCC loop detects via changedPartitions
    // against the merge's own base. Easiest honest pin: a merge whose
    // base is stale because a conflicting commit landed first still
    // succeeds when disjoint and aborts when overlapping.)
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "c").withColumn("value", lit(7.0)),
      dir, "grp")
    // disjoint merge (touches only grp b) lands fine after that commit
    val ok = Manifest.merge(spark, dir, "grp",
      Seq((3L, "b", 33.0, false)).toDF("id", "grp", "value", "_d"),
      Seq("id"), deleteCol = "_d")
    assert(ok === Manifest.latestVersion(dir,
      spark.sparkContext.hadoopConfiguration))
  }

  test("merge drops a partition it empties (no silent retention)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val source = Seq((5L, "c", 0.0, true), (6L, "c", 0.0, true))
      .toDF("id", "grp", "value", "_d")
    Manifest.merge(spark, dir, "grp", source, Seq("id"), deleteCol = "_d")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.read(spark, dir).filter($"grp" === "c").isEmpty)
    assert(!Manifest.read(spark, dir).inputFiles.exists(_.contains("__p=c")),
      "the emptied partition's files are still listed by the manifest")
  }

  test("autoCompact: decides from the manifest census, rewrites only " +
      "over-threshold partitions, converges, folds reads through the DV") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // accrete 5 single-file commits onto grp a only
    (1 to 5).foreach { b =>
      Manifest.append(fixture.filter($"id" === 1L)
        .withColumn("id", lit(100L + b)).repartition(1), dir, "grp")
    }
    Manifest.deleteRows(spark, dir, $"id" === 101L)
    val before = crcs(dir)
    assert(Manifest.autoCompact(spark, dir, "grp",
      maxFilesPerPartition = 3) === 1)
    val after = crcs(dir)
    before.filterNot(_._1.contains("__p=a")).foreach { case (p, crc) =>
      assert(after.get(p).contains(crc),
        s"autoCompact rewrote under-threshold partition file $p")
    }
    val a = Manifest.readWithDeletes(spark, dir).drop("__file", "__pos")
      .filter($"grp" === "a").select("id").as[Long].collect().sorted.toSeq
    assert(a === Seq(1L, 2L, 100L + 2, 100L + 3, 100L + 4, 100L + 5),
      "compacted content drifted (or a DV-deleted row resurrected)")
    assert(Manifest.read(spark, dir).inputFiles
      .count(_.contains("__p=a")) === 1, "hot partition not packed to 1 file")
    assert(Manifest.autoCompact(spark, dir, "grp",
      maxFilesPerPartition = 3) === 0, "autoCompact did not converge")
  }

  test("restore republishes an old snapshot as a new version and " +
      "survives vacuum") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.overwritePartitions(
      fixture.filter($"grp" === "a").withColumn("value", lit(-1.0)),
      dir, "grp")
    Manifest.deleteRows(spark, dir, $"id" === 5L)
    val v = Manifest.restore(spark, dir, 1)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(v === 4 && Manifest.latestVersion(dir, conf) === 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Manifest.readWithDeletes(spark, dir).drop("__file", "__pos"))
      === rows(fixture), "restore did not reproduce v1")
    // forensics: the bad middle versions still read until vacuum
    assert(Manifest.readVersion(spark, dir, 2)
      .filter($"value" === -1.0).count() === 2L)
    Manifest.vacuum(spark, dir)
    assert(rows(Manifest.readWithDeletes(spark, dir).drop("__file", "__pos"))
      === rows(fixture), "vacuum broke the restored snapshot")
    val e = intercept[IllegalArgumentException] {
      Manifest.readVersion(spark, dir, 2)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("clusterZOrder: both dimensions' stats land in the manifest, " +
      "either single dimension prunes, content and DV semantics hold") {
    val dir = mkdir()
    val wide = spark.range(256).selectExpr("id",
      "CAST(id % 2 AS STRING) AS grp",
      "CAST((id * 37) % 256 AS LONG) AS a",
      "CAST((id * 91) % 256 AS LONG) AS b")
    Manifest.create(wide, dir, "grp")
    Manifest.deleteRows(spark, dir, $"id" === 0L)
    Manifest.clusterZOrder(spark, dir, "grp", "a", "b",
      filesPerPartition = 4)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.readHeader(dir,
      Manifest.latestVersion(dir, conf), conf).dv.isEmpty,
      "a full clustered rewrite must fold the DV away")
    assert(Manifest.read(spark, dir).filter($"id" === 0L).isEmpty,
      "clusterZOrder resurrected a DV-deleted row")
    // box read: exact content, and a fraction of the files listed
    val (box, listed, total) = Manifest.readRange2(spark, dir,
      0L, 63L, 0L, 63L)
    val got = box.filter($"a".between(0L, 63L) && $"b".between(0L, 63L))
      .select("id").as[Long].collect().sorted.toSeq
    val want = (1L until 256L)
      .filter(i => (i * 37) % 256 <= 63 && (i * 91) % 256 <= 63).toSeq
    assert(got === want, "2-D box content drifted")
    assert(listed < total, s"box read listed all $total files")
    // EITHER single dimension prunes — the z-order property
    val (_, l1, t1) = Manifest.readRange2(spark, dir, 0L, 63L, 0L, 255L)
    val (_, l2, t2) = Manifest.readRange2(spark, dir, 0L, 255L, 0L, 63L)
    assert(l1 < t1, "dim-1-only range did not prune")
    assert(l2 < t2, "dim-2-only range did not prune")
    // loud on an unclustered layout
    val dir2 = mkdir()
    Manifest.create(fixture, dir2, "grp")
    val e = intercept[IllegalArgumentException] {
      Manifest.readRange2(spark, dir2, 0L, 1L, 0L, 1L)
    }
    assert(e.getMessage.contains("clusterZOrder"))
    // the same three box reads and the loud check through the
    // distributed census (threshold 0): rows, listed and total agree
    val boxes = Seq((0L, 63L, 0L, 63L), (0L, 63L, 0L, 255L),
      (0L, 255L, 0L, 63L))
    def readBoxes() = boxes.map { case (la, ha, lb, hb) =>
      val (df, l, t) = Manifest.readRange2(spark, dir, la, ha, lb, hb)
      (df.select("id").as[Long].collect().sorted.toSeq, l, t)
    }
    val viaDriver = readBoxes()
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      assert(readBoxes() === viaDriver,
        "distributed readRange2 diverged from the driver census")
      val e2 = intercept[IllegalArgumentException] {
        Manifest.readRange2(spark, dir2, 0L, 1L, 0L, 1L)
      }
      assert(e2.getMessage.contains("clusterZOrder"))
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("mergeBatch: a replayed batch id applies nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val source = Seq((1L, "a", 111.0, false), (9L, "c", 99.0, false))
      .toDF("id", "grp", "value", "_d")
    assert(Manifest.mergeBatch(spark, dir, "grp", source, Seq("id"),
      batchId = 0L, deleteCol = "_d"))
    val conf = spark.sparkContext.hadoopConfiguration
    val v = Manifest.latestVersion(dir, conf)
    assert(!Manifest.mergeBatch(spark, dir, "grp", source, Seq("id"),
      batchId = 0L, deleteCol = "_d"), "replayed batch committed")
    assert(Manifest.latestVersion(dir, conf) === v,
      "replayed batch moved the version")
    assert(Manifest.read(spark, dir).filter($"id" === 1L)
      .select("value").as[Double].head() === 111.0)
  }

  test("a merge batch with nothing to apply is STAMPED: redelivery " +
      "after an append lands its key deletes nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // batch 5 deletes key 9, which no live row holds
    val source = Seq((9L, "c", 0.0, true)).toDF("id", "grp", "value", "_d")
    assert(Manifest.mergeBatch(spark, dir, "grp", source, Seq("id"),
      batchId = 5L, deleteCol = "_d"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.committedBatches(dir, conf).contains(5L),
      "an empty merge batch must still record its stamp")
    assert(Manifest.history(spark, dir).filter($"op" === "merge-noop")
      .count() === 1L)
    Manifest.append(Seq((9L, "c", 90.0)).toDF("id", "grp", "value"),
      dir, "grp")
    assert(!Manifest.mergeBatch(spark, dir, "grp", source, Seq("id"),
      batchId = 5L, deleteCol = "_d"), "redelivered batch 5 applied")
    assert(Manifest.read(spark, dir).filter($"id" === 9L).count() === 1L,
      "a replayed empty merge batch deleted a row the original " +
        "delivery never touched")
    // an unstamped merge with nothing to do still commits nothing
    val v = Manifest.latestVersion(dir, conf)
    assert(Manifest.merge(spark, dir, "grp",
      Seq((10L, "c", 0.0, true)).toDF("id", "grp", "value", "_d"),
      Seq("id"), deleteCol = "_d") === v)
    assert(Manifest.latestVersion(dir, conf) === v)
  }

  test("distinct sketch: exact below k, answered from the manifest " +
      "alone, loud when stale, convergent refresh, k persisted") {
    val dir = mkdir()
    // 40 rows, 10 distinct keys, 2 partitions -> well below k: EXACT
    val df = spark.range(40).selectExpr("id",
      "CAST(id % 2 AS STRING) AS grp", "CAST(id % 10 AS LONG) AS key")
    Manifest.create(df.repartition(4), dir, "grp")
    assert(Manifest.addDistinctSketch(spark, dir, "key", k = 16))
    val (est, nFiles) = Manifest.approxDistinct(spark, dir)
    assert(est === 10.0, s"below-k estimate must be exact, got $est")
    assert(nFiles > 0)
    // partition selection merges only that partition's sketches
    val (estA, _) = Manifest.approxDistinct(spark, dir, Seq("0"))
    assert(estA === 5.0, s"partition-selected estimate drifted: $estA")
    // convergence: nothing left to sketch
    assert(!Manifest.addDistinctSketch(spark, dir, "key", k = 16))
    // k persists: a mismatched refresh is loud
    Manifest.append(df.filter($"id" < 2L)
      .withColumn("id", $"id" + 100L), dir, "grp")
    val e = intercept[IllegalArgumentException] {
      Manifest.addDistinctSketch(spark, dir, "key", k = 32)
    }
    assert(e.getMessage.contains("k=16"))
    // stale question is loud, refresh restores
    val e2 = intercept[IllegalArgumentException] {
      Manifest.approxDistinct(spark, dir)
    }
    assert(e2.getMessage.contains("addDistinctSketch"))
    assert(Manifest.addDistinctSketch(spark, dir, "key", k = 16))
    assert(Manifest.approxDistinct(spark, dir)._1 === 10.0)
  }

  test("commitDelete refuses to publish a DV delta a vacuum reaped") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val prep = Manifest.prepareDelete(spark, dir, $"id" === 3L)
    assert(prep.nNew === 1L)
    // a retention pass runs in the prepare window: the staged delta is
    // header-invisible and legally dies as an orphan
    Manifest.vacuum(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Manifest.commitDelete(spark, dir, prep)
    }
    assert(e.getMessage.contains("re-prepare"),
      s"reaped-delta publish must abort with guidance, got: ${e.getMessage}")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 1,
      "the aborted delete must not move the version")
    // the table stays fully readable — the broken header never landed
    assert(Manifest.readWithDeletes(spark, dir).count() === 6L)
  }

  test("a concurrent MOR delete on a prepared partition aborts the " +
      "publish (DV-only commits are write-write conflicts); a disjoint " +
      "one rebases under it") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // disjoint: overwrite 'a' prepared, delete lands in 'b' -> rebase
    val pA = Manifest.prepareOverwrite(
      fixture.filter($"grp" === "a").withColumn("value", $"value" * 2),
      dir, "grp")
    assert(Manifest.deleteRows(spark, dir, $"id" === 3L) === 1L)
    assert(Manifest.commitPrepared(spark, dir, pA) === 3)
    assert(Manifest.readWithDeletes(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L, 5L, 6L),
      "the disjoint delete must survive the rebased overwrite")
    // conflicting: overwrite 'b' prepared THROUGH the current DV, then
    // a new MOR delete hits 'b' — publishing would resurrect id 4
    val pB = Manifest.prepareOverwrite(
      Manifest.readWithDeletes(spark, dir).drop("__file", "__pos")
        .filter($"grp" === "b").withColumn("value", $"value" * 10),
      dir, "grp")
    assert(Manifest.deleteRows(spark, dir, $"id" === 4L) === 1L)
    val e = intercept[IllegalArgumentException] {
      Manifest.commitPrepared(spark, dir, pB)
    }
    assert(e.getMessage.contains("merge-on-read delete"),
      s"DV conflict must abort loudly, got: ${e.getMessage}")
    assert(Manifest.readWithDeletes(spark, dir)
      .filter($"id" === 4L).count() === 0L,
      "the concurrent delete must hold — nothing may resurrect id 4")
  }

  test("history is header-only: correct file counts even when entry " +
      "lines of old manifests are unreadable") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")                    // v1: files
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp")               // v2: +files
    Manifest.deleteRows(spark, dir, $"id" === 2L)           // v3: +1 DV
    val conf = spark.sparkContext.hadoopConfiguration
    val expected = Manifest.history(spark, dir)
      .orderBy("version").collect().map(_.toString).toSeq
    // truncate every NON-latest manifest to its header line: a consumer
    // that parses entry lines would now miscount or crash
    (1 to 2).foreach { v =>
      val p = java.nio.file.Paths.get(dir, "_manifests", f"v$v%06d.json")
      val header = java.nio.file.Files.readAllLines(p).get(0)
      java.nio.file.Files.writeString(p, header + "\n")
      // drop the local-FS checksum sidecar the out-of-band edit broke
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_manifests", f".v$v%06d.json.crc"))
    }
    val got = Manifest.history(spark, dir)
      .orderBy("version").collect().map(_.toString).toSeq
    assert(got === expected,
      "history must read headers only (O(versions), never O(versions × files))")
  }

  test("checkpoint: the entry relation equals the manifest parse, is " +
      "served FROM the checkpoint, and re-checkpointing is a no-op") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp", statsCol = "id")
    Manifest.append(fixture.filter($"id" <= 2L)
      .withColumn("id", $"id" + 10L), dir, "grp", statsCol = "id")
    assert(Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
    val conf = spark.sparkContext.hadoopConfiguration
    val v = Manifest.latestVersion(dir, conf)
    val parsed = Manifest.entriesRelation(spark, dir, v)
      .orderBy("p", "file").collect().map(_.toString).toSeq
    assert(parsed.nonEmpty)
    assert(Manifest.checkpoint(spark, dir) === v)
    assert(Manifest.lastCheckpoint(dir, conf) === v)
    assert(Manifest.checkpoint(spark, dir) === v, "idempotent re-checkpoint")
    // truncate the manifest to its header: a census read that still
    // parses manifest lines would now return nothing — the checkpoint
    // must serve the full relation by itself
    val mp = java.nio.file.Paths.get(dir, "_manifests", f"v$v%06d.json")
    val header = java.nio.file.Files.readAllLines(mp).get(0)
    java.nio.file.Files.writeString(mp, header + "\n")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", f".v$v%06d.json.crc"))
    val viaCkpt = Manifest.entriesRelation(spark, dir, v)
      .orderBy("p", "file").collect().map(_.toString).toSeq
    assert(viaCkpt === parsed,
      "the checkpointed relation must be bit-equal to the manifest parse")
  }

  test("batch stamps survive vacuum through the checkpoint: a replayed " +
      "batch from a vacuumed era still applies nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 42L))
    // several more commits supersede the stamped manifest, then a
    // checkpoint persists the stamp history and vacuum deletes the
    // superseded manifests (where the stamp lived)
    Manifest.append(fixture.filter($"id" === 2L)
      .withColumn("id", lit(8L)), dir, "grp")
    Manifest.checkpoint(spark, dir)
    Manifest.vacuum(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifests", "v000002.json")),
      "vacuum should have deleted the superseded stamped manifest")
    assert(Manifest.committedBatches(dir, conf).contains(42L),
      "the stamp must survive vacuum via the checkpoint")
    assert(!Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 42L),
      "a post-vacuum replay of batch 42 must be a no-op")
    assert(Manifest.read(spark, dir).filter($"id" === 7L).count() === 1L,
      "the replay duplicated rows — exactly-once broke across vacuum")
  }

  test("a no-match delete batch is STAMPED: redelivery after later " +
      "appends land rows with those keys deletes nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val keys = Seq(100L).toDF("id")
    // delivery 1: key 100 matches no live row — must stamp, not vanish
    assert(!Manifest.deleteKeysBatch(spark, dir, keys, Seq("id"),
      batchId = 7L))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.committedBatches(dir, conf).contains(7L),
      "a no-match delete batch must still record its stamp")
    assert(Manifest.history(spark, dir).filter($"op" === "delete-noop")
      .count() === 1L)
    // later: a row with that key lands
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(100L)), dir, "grp")
    // redelivery of batch 7 (at-least-once) must NOT delete the new row
    assert(!Manifest.deleteKeysBatch(spark, dir, keys, Seq("id"),
      batchId = 7L))
    assert(Manifest.read(spark, dir).filter($"id" === 100L).count() === 1L,
      "a replayed no-match delete batch killed a row the original " +
        "delivery never touched — exactly-once broke")
  }

  test("vacuum folds header stamps into the pointer: stamps survive " +
      "vacuum even WITHOUT an explicit pre-vacuum checkpoint") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 42L))
    Manifest.append(fixture.filter($"id" === 2L)
      .withColumn("id", lit(8L)), dir, "grp")
    // NO checkpoint call — vacuum itself must preserve the stamps
    Manifest.vacuum(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.committedBatches(dir, conf).contains(42L),
      "vacuum deleted the stamped header without folding the stamp " +
        "into the pointer")
    assert(!Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 42L),
      "a post-vacuum replay of batch 42 must be a no-op")
  }

  test("an unparsable _last_checkpoint pointer degrades to the full " +
      "fallbacks, never a crash") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 5L))
    Manifest.checkpoint(spark, dir)
    val p = java.nio.file.Paths.get(dir, "_manifests", "_last_checkpoint")
    java.nio.file.Files.writeString(p, "") // torn write
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", "._last_checkpoint.crc"))
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.lastCheckpoint(dir, conf) === 0)
    assert(Manifest.committedBatches(dir, conf).contains(5L),
      "with a dead pointer, stamps must come from the full header scan")
    assert(Manifest.entriesRelation(spark, dir).count() > 0,
      "with a dead pointer, the entry relation must come from the " +
        "distributed manifest parse")
    java.nio.file.Files.writeString(p, "{\"v\":notanumber}")
    assert(Manifest.lastCheckpoint(dir, conf) === 0)
    // and a fresh checkpoint repairs service
    val v = Manifest.checkpoint(spark, dir)
    assert(Manifest.lastCheckpoint(dir, conf) === v)
  }

  test("distributed entry census (threshold 0): the full lifecycle " +
      "matches the driver-census path op for op") {
    // the same flow twice: dirD under the default driver census, dirX
    // with graft.manifest.driverCensusMaxFiles=0 so EVERY census and
    // carry-forward commit routes through entriesRelation + the
    // streaming writer — content, history, skipping and the verbs'
    // return values must agree
    def flow(dir: String): (Boolean, Int) = {
      Manifest.create(fixture, dir, "grp", statsCol = "id")
      Manifest.append(fixture.filter($"id" === 1L)
        .withColumn("id", lit(11L)), dir, "grp", statsCol = "id")
      Manifest.overwritePartitions(
        fixture.filter($"grp" === "b").withColumn("value", $"value" * 2),
        dir, "grp")
      val prep = Manifest.prepareOverwrite(
        fixture.filter($"grp" === "a").withColumn("value", lit(1.0)),
        dir, "grp")
      Manifest.commitPrepared(spark, dir, prep)
      Manifest.merge(spark, dir, "grp",
        Seq((11L, "a", 99.0, false), (7L, "c", 70.0, false),
          (3L, "b", 0.0, true)).toDF("id", "grp", "value", "del"),
        Seq("id"), deleteCol = "del")
      Manifest.deleteRows(spark, dir, $"id" === 6L)
      val applied = Manifest.applyDeletes(spark, dir, "grp")
      assert(applied)
      val compacted = Manifest.autoCompact(spark, dir, "grp",
        maxFilesPerPartition = 1)
      assert(compacted >= 0)
      // no-match streamed delete still stamps; a matching one deletes
      assert(!Manifest.deleteKeysBatch(spark, dir,
        Seq(12345L).toDF("id"), Seq("id"), batchId = 3L))
      assert(Manifest.deleteKeysBatch(spark, dir,
        Seq(5L).toDF("id"), Seq("id"), batchId = 4L))
      // zero-copy branch: append on the branch, merge back
      Manifest.branchCreate(spark, dir, "dev")
      val bdir = Manifest.branchDir(dir, "dev")
      Manifest.append(fixture.filter($"id" === 2L)
        .withColumn("grp", lit("z")), bdir, "grp")
      Manifest.branchMergeInto(spark, dir, "dev")
      Manifest.vacuum(spark, dir)
      (applied, compacted)
    }
    val dirD = mkdir()
    val resultsD = flow(dirD)
    val dirX = mkdir()
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    val resultsX = try flow(dirX)
      finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
    assert(resultsX === resultsD,
      "applyDeletes / autoCompact (partitions compacted) returned " +
        "different results under the distributed census")
    def content(dir: String) = Manifest.readWithDeletes(spark, dir)
      .drop("__file", "__pos").collect().map(_.toString).sorted.toSeq
    assert(content(dirX) === content(dirD),
      "the distributed census flow diverged from the driver-census flow")
    def hist(dir: String) = Manifest.history(spark, dir)
      .select("version", "op", "batch_id", "n_dv_deltas")
      .collect().map(_.toString).sorted.toSeq
    assert(hist(dirX) === hist(dirD),
      "the version trail diverged between census paths")
    // skipping reads agree under the distributed census (a fresh
    // stats-tracked layout — the lifecycle flow's rewrites legitimately
    // drop file stats, so range reads there are loud by design)
    val dirR = mkdir()
    Manifest.create(fixture, dirR, "grp", statsCol = "id")
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(11L)), dirR, "grp", statsCol = "id")
    val viaDriver = Manifest.readRange(spark, dirR, 1L, 2L)
      .filter($"id".between(1L, 2L)).count()
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      assert(Manifest.readRange(spark, dirR, 1L, 2L)
        .filter($"id".between(1L, 2L)).count() === viaDriver,
        "distributed-census readRange diverged from the driver path")
      intercept[IllegalArgumentException] {
        Manifest.readRange(spark, dirX, 1L, 2L) // stats-less: still loud
      }
      assert(Manifest.readPartitions(spark, dirX, Seq("z"))
        .select("id").as[Long].collect().toSeq === Seq(2L))
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("changesBetween resolves DV victims' files distributed " +
      "(threshold 0) — same feed as the driver path") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(11L)), dir, "grp")
    Manifest.deleteRows(spark, dir, $"id".isin(2L, 3L))
    def feed(): Seq[String] = Manifest.changesBetween(spark, dir, 2, 3)
      .select("_change", "id").collect().map(_.toString).sorted.toSeq
    val viaDriver = feed()
    assert(viaDriver === Seq("[delete,2]", "[delete,3]"))
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try assert(feed() === viaDriver,
      "distributed DV-victim resolution diverged from the driver path")
    finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("distributed bloom/sketch builds (threshold 0): correct lookups, " +
      "exact small-set distinct counts, convergent refresh") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(11L)), dir, "grp")
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      assert(Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
      assert(!Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3),
        "an all-indexed refresh must converge to a no-op")
      // zero false negatives on every present key, through the
      // distributed probe path
      val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 11L)
      val counts = ids.map { id =>
        val (df, listed, total) = Manifest.readPoint(spark, dir, "id", id)
        assert(df.filter($"id" === id).count() === 1L,
          s"bloom point read lost id=$id")
        (listed, total)
      }
      // and each point read lists the same files as the driver census
      spark.conf.unset("graft.manifest.driverCensusMaxFiles")
      val viaDriver = try ids.map { id =>
        val (_, listed, total) = Manifest.readPoint(spark, dir, "id", id)
        (listed, total)
      } finally spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
      assert(counts === viaDriver,
        "distributed readPoint (listed, total) diverged from the driver " +
          "census")
      assert(Manifest.addDistinctSketch(spark, dir, "id", k = 64))
      assert(!Manifest.addDistinctSketch(spark, dir, "id", k = 64))
      val (est, _) = Manifest.approxDistinct(spark, dir)
      assert(est === 7.0, s"distinct estimate $est != exact 7 (below k)")
      // incremental: an append leaves old bitsets untouched and the
      // refresh sketches only the new files
      Manifest.append(fixture.filter($"id" === 2L)
        .withColumn("id", lit(12L)), dir, "grp")
      assert(Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
      assert(Manifest.addDistinctSketch(spark, dir, "id", k = 64))
      val (est2, _) = Manifest.approxDistinct(spark, dir)
      assert(est2 === 8.0)
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
  }

  test("SQL table functions: history and DV-aware time travel resolve " +
      "from spark.sql text; bad arity is loud") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.deleteRows(spark, dir, $"id" === 3L)
    graft.GraftSession.tune(spark)
    // latest snapshot reads THROUGH the deletion vector
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft_snapshot('$dir', -1)")
      .head().getLong(0) === 5L)
    // explicit version 1 = pre-delete
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft_snapshot('$dir', 1)")
      .head().getLong(0) === 6L)
    val trail = spark.sql(
        s"SELECT op FROM graft_history('$dir') ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(trail === Seq("create", "delete"))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_history('$dir', 2)").collect()
    }
    assert(e.getMessage.contains("expects 1"),
      s"bad arity must be loud, got: ${e.getMessage}")
    // change feed via SQL text: v1 -> v2 is exactly the MOR delete
    val feed = spark.sql(
        s"""SELECT _change, id FROM graft_changes('$dir', 1, 2)""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(feed === Seq(("delete", 3L)),
      s"SQL change feed diverged: $feed")
  }

  test("a stale conflicting writer fails loudly and mutates nothing") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    // both target partition 'a' from base v1; first wins
    val p1 = Manifest.prepareOverwrite(
      fixture.filter($"grp" === "a").withColumn("value", $"value" * 2),
      dir, "grp")
    val p2 = Manifest.prepareOverwrite(
      fixture.filter($"grp" === "a").withColumn("value", lit(-1.0)),
      dir, "grp")
    assert(Manifest.commitPrepared(spark, dir, p1) === 2)
    val e = intercept[IllegalArgumentException] {
      Manifest.commitPrepared(spark, dir, p2)
    }
    assert(e.getMessage.contains("write-write conflict"))
    assert(e.getMessage.contains("a"), "the message must name the partition")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 2,
      "the losing writer must not move the version")
    assert(Manifest.read(spark, dir).filter($"grp" === "a")
      .agg(sum("value")).as[Double].head() === 60.0,
      "the loser's files must stay invisible")
  }

  test("purge leaves NO stale sketch residue: rewritten files carry no " +
      "bloom/kmv strings, untouched partitions keep theirs, and index " +
      "refreshes converge to the post-purge truth") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.addBloomIndex(spark, dir, "id", bits = 256, k = 3)
    Manifest.addDistinctSketch(spark, dir, "id", k = 64)
    // purge id=3: partition b rewrites, partitions a/c are untouched
    Manifest.purge(spark, dir, "grp", $"id" === 3L)
    val entries = Manifest.entriesRelation(spark, dir)
    assert(entries.filter(col("p") === "b" &&
        (col("bloom").isNotNull || col("kmv").isNotNull)).count() === 0L,
      "a rewritten file carries a sketch computed from PRE-purge bytes " +
        "- stale residue that would resurrect the victim in index-only " +
        "answers")
    assert(entries.filter(col("p") =!= "b" &&
        (col("bloom").isNull || col("kmv").isNull)).count() === 0L,
      "purge dropped the index of partitions it never touched")
    // the un-refreshed NDV question must be LOUD, not silently stale
    intercept[IllegalArgumentException] {
      Manifest.approxDistinct(spark, dir)
    }
    // refreshes cost only the rewritten files and CONVERGE to no-ops
    assert(Manifest.addBloomIndex(spark, dir, "id", bits = 256, k = 3))
    assert(!Manifest.addBloomIndex(spark, dir, "id", bits = 256, k = 3),
      "the bloom refresh did not converge after one pass over the " +
        "rewritten files")
    assert(Manifest.addDistinctSketch(spark, dir, "id", k = 64))
    assert(!Manifest.addDistinctSketch(spark, dir, "id", k = 64),
      "the sketch refresh did not converge")
    // the refreshed indexes answer the POST-purge truth
    assert(Manifest.approxDistinct(spark, dir)._1 === 5.0)
    val (hit, _, _) = Manifest.readPoint(spark, dir, "id", 3L)
    assert(hit.filter($"id" === 3L).count() === 0L,
      "the purged key is still reachable through the point index")
    val (kept, _, _) = Manifest.readPoint(spark, dir, "id", 4L)
    assert(kept.filter($"id" === 4L).count() === 1L)
  }

  test("a losing commit attempt never mutates the published manifest's " +
      "bytes and leaves no staging debris (link-CAS publish)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = java.nio.file.Paths.get(dir, "_manifests", "v000001.json")
    val before = java.nio.file.Files.readAllBytes(p).toSeq
    intercept[IllegalArgumentException] {
      Manifest.commitManifest(dir, 1, Seq.empty, conf)
    }
    assert(java.nio.file.Files.readAllBytes(p).toSeq === before,
      "a losing commit REPLACED the published manifest - the CAS is " +
        "not a CAS (POSIX rename semantics leaking through)")
    import scala.jdk.CollectionConverters._
    val debris = java.nio.file.Files
      .list(java.nio.file.Paths.get(dir, "_manifests")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toSeq
    assert(debris.isEmpty, s"staging debris survived the loss: $debris")
  }

  test("a reader catching the pointer swap's delete+rename gap re-reads " +
      "instead of concluding 'no stamps' (replay protection survives " +
      "a cross-process pointer swap)") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 77L))
    Manifest.checkpoint(spark, dir)
    Manifest.vacuum(spark, dir) // superseded headers gone: the pointer
                                // is now the ONLY holder of stamp 77
    val p = java.nio.file.Paths.get(dir, "_manifests", "_last_checkpoint")
    val content = java.nio.file.Files.readString(p)
    // simulate a foreign-process writer mid delete+rename: the pointer
    // vanishes, then reappears ~100 ms later
    java.nio.file.Files.delete(p)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", "._last_checkpoint.crc"))
    val restorer = new Thread(() => {
      Thread.sleep(100L)
      java.nio.file.Files.writeString(p, content)
    })
    restorer.start()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.committedBatches(dir, conf).contains(77L),
      "a reader in the pointer-swap window lost the folded stamps - " +
        "the exactly-once hole the grace-period re-read exists to close")
    restorer.join()
    assert(!Manifest.commitBatch(fixture.filter($"id" === 1L)
      .withColumn("id", lit(7L)), dir, "grp", batchId = 77L),
      "batch 77 must still read as committed")
  }

  test("both census regimes emit byte-identical manifests for the same " +
      "logical content (carried + extra merge-sorted, not concatenated)") {
    import graft.operators.Manifest.{Entry, Header}
    val conf = spark.sparkContext.hadoopConfiguration
    // entries deliberately interleave: extra keys sort BETWEEN carried
    // keys, so a concatenating writer would emit them out of order
    val carried = Seq(
      Entry("a", "data/c000001/__p=a/f1.parquet", Some(1L), Some(3L)),
      Entry("a", "data/c000001/__p=a/f9.parquet"),
      Entry("c", "data/c000001/__p=c/f2.parquet", bloom = Some("AAAA")),
      Entry("d", "data/c000001/__p=d/f3.parquet", kmv = Some("BBBB")))
    val extra = Seq(
      Entry("a", "data/c000002/__p=a/f4.parquet", Some(4L), Some(9L)),
      Entry("b", "data/c000002/__p=b/f5.parquet"),
      Entry("z", "data/c000002/__p=z/f6.parquet"))
    val dirD = mkdir()
    Manifest.commitManifest(dirD, 1, scala.util.Random.shuffle(
      carried ++ extra), conf, Header(batch = 9L, op = "test"))
    val dirX = mkdir()
    import spark.implicits._
    val rel = scala.util.Random.shuffle(carried)
      .map(e => (e.p, e.file, e.lo, e.hi, e.lo2, e.hi2, e.bloom, e.kmv))
      .toDF("p", "file", "lo", "hi", "lo2", "hi2", "bloom", "kmv")
      .repartition(4)
    Manifest.commitRelationStreamed(dirX, 1, rel, extra, conf,
      Header(batch = 9L, op = "test"))
    def bytes(dir: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", "v000001.json")).toSeq
    assert(bytes(dirX) === bytes(dirD),
      "the distributed-census commit writer produced different manifest " +
        "bytes than the driver writer for identical logical content")
  }

  test("the driver census regime launches zero Spark jobs: restore, " +
      "changedPartitions, a no-op autoCompact and approxDistinct") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    Manifest.append(fixture.filter($"id" === 1L)
      .withColumn("id", lit(11L)), dir, "grp")
    assert(Manifest.addDistinctSketch(spark, dir, "id", k = 16))
    val conf = spark.sparkContext.hadoopConfiguration
    // the counter is live: a real query registers
    assert(jobsDuring(spark.range(3).count()) >= 1L)
    assert(jobsDuring(Manifest.restore(spark, dir, 3)) === 0L,
      "restore of a small layout launched Spark jobs")
    val v = Manifest.latestVersion(dir, conf)
    assert(jobsDuring(assert(Manifest.changedPartitions(spark, dir, 1, v,
      conf) === Set("a"))) === 0L,
      "changedPartitions of a small layout launched Spark jobs")
    assert(jobsDuring(assert(Manifest.autoCompact(spark, dir, "grp") === 0))
      === 0L, "a no-op autoCompact of a small layout launched Spark jobs")
    assert(jobsDuring(assert(Manifest.approxDistinct(spark, dir)._1 === 7.0))
      === 0L, "approxDistinct of a small layout launched Spark jobs")
  }

  // ---- Header schema tracking (round 18) -----------------------------

  /** Data-file paths of version `v`, parsed straight from the manifest
    * text — the independent route for forcing the pre-round mergeSchema
    * read that header-schema reads must match exactly.
    */
  private def manifestFiles(dir: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val F = """"file":"([^"]+)"""".r
    java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(dir, "_manifests",
        f"v$v%06d.json"))
      .asScala.toSeq.drop(1)
      .map(l => F.findFirstMatchIn(l).get.group(1))
      .map(f => if (f.startsWith("/")) f else s"$dir/$f")
  }

  private def forcedMergeRead(dir: String, v: Int) =
    spark.read.option("mergeSchema", "true")
      .parquet(manifestFiles(dir, v): _*)

  test("header schema: every lifecycle commit records the union schema " +
      "and snapshot reads equal the forced mergeSchema read") {
    val dir = mkdir()
    val conf = spark.sparkContext.hadoopConfiguration
    Manifest.create(fixture, dir, "grp")                           // v1
    Manifest.append(fixture.filter($"grp" === "a")                 // v2
      .withColumn("id", $"id" + 100L)
      .withColumn("quality", $"value" * 2), dir, "grp")
    // covering overwrite: the new files carry every base column
    Manifest.overwritePartitions(                                  // v3
      fixture.filter($"grp" === "b").withColumn("value", $"value" * 10)
        .withColumn("quality", lit(null).cast("double")), dir, "grp")
    Manifest.deleteRows(spark, dir, $"id" === 3L)                  // v4 (DV)
    Manifest.purge(spark, dir, "grp", $"id" === 5L)                // v5
    Manifest.compact(spark, dir, "grp")                            // v6
    (1 to 6).foreach { v =>
      val h = Manifest.readHeader(dir, v, conf)
      assert(h.schema.nonEmpty,
        s"v$v: lifecycle commit did not record a header schema")
      val viaHeader = Manifest.readVersion(spark, dir, v)
      val forced = forcedMergeRead(dir, v)
      assert(viaHeader.schema === forced.schema,
        s"v$v: header-schema read schema diverged from mergeSchema")
      assert(viaHeader.collect().toSet === forced.collect().toSet,
        s"v$v: header-schema read rows diverged from mergeSchema")
    }
    // and the DV-aware hot path agrees with itself end to end
    val live = Manifest.readWithDeletes(spark, dir)
      .drop("__file", "__pos")
    assert(live.filter($"id" === 3L).isEmpty, "DV victim resurrected")
    assert(live.columns.contains("quality"), "widened column lost")
  }

  test("header schema: a narrowing overwrite falls back to mergeSchema " +
      "(empty header field), a full rewrite re-anchors it") {
    val dir = mkdir()
    val conf = spark.sparkContext.hadoopConfiguration
    Manifest.create(fixture.withColumn("extra", $"id" * 7L), dir, "grp")
    // narrower frame: whether a dropped file was the last holder of
    // `extra` is not provable at commit time -> no recorded schema
    Manifest.overwritePartitions(fixture.filter($"grp" === "a"),
      dir, "grp")
    assert(Manifest.readHeader(dir, 2, conf).schema.isEmpty,
      "narrowing overwrite must NOT claim a union schema")
    val viaFallback = Manifest.readVersion(spark, dir, 2)
    val forced = forcedMergeRead(dir, 2)
    assert(viaFallback.schema === forced.schema)
    assert(viaFallback.collect().toSet === forced.collect().toSet)
    // a compact rewrites every file: the new files ARE the snapshot,
    // so schema tracking re-anchors even from an unknown base
    Manifest.compact(spark, dir, "grp")
    val h3 = Manifest.readHeader(dir, 3, conf)
    assert(h3.schema.nonEmpty, "compact must re-anchor the header schema")
    assert(Manifest.readVersion(spark, dir, 3).schema ===
      forcedMergeRead(dir, 3).schema)
  }

  test("header schema: restore and branches carry it; stamped no-op " +
      "commits keep it; header scalar fields survive a schema that " +
      "names them") {
    val dir = mkdir()
    val conf = spark.sparkContext.hadoopConfiguration
    // column names that collide with header keys must not confuse the
    // header's scalar-field regex scan (schema is the LAST member)
    val tricky = fixture
      .withColumn("batch", lit(7L)).withColumn("op", lit("x"))
      .withColumn("n", lit(1L))
    Manifest.create(tricky, dir, "grp")
    Manifest.append(tricky.filter($"grp" === "a")
      .withColumn("id", $"id" + 50L), dir, "grp")
    val h2 = Manifest.readHeader(dir, 2, conf)
    assert(h2.schema.nonEmpty && h2.batch === -1L && h2.op === "append",
      s"header scalars corrupted by schema payload: $h2")
    Manifest.restore(spark, dir, 1)                                // v3
    assert(Manifest.readHeader(dir, 3, conf).schema ===
      Manifest.readHeader(dir, 1, conf).schema,
      "restore must carry the restored version's schema")
    assert(Manifest.readVersion(spark, dir, 3).collect().toSet ===
      Manifest.readVersion(spark, dir, 1).collect().toSet)
    Manifest.branchCreate(spark, dir, "dev")
    val bdir = Manifest.branchDir(dir, "dev")
    assert(Manifest.readHeader(bdir, 1, conf).schema ===
      Manifest.readHeader(dir, 3, conf).schema,
      "branch v1 must carry the source schema")
    assert(Manifest.read(spark, bdir).collect().toSet ===
      Manifest.read(spark, dir).collect().toSet)
  }

  test("header carry policy: every commit verb carries dv, bloomK and " +
      "kmvK by its own rule, and batch only from its own stamp") {
    import graft.operators.Manifest.Header
    val dir = mkdir()
    val conf = spark.sparkContext.hadoopConfiguration
    def latest = Manifest.latestVersion(dir, conf)
    def header(d: String, v: Int): Header = Manifest.readHeader(d, v, conf)
    def row(id: Long, grp: String, value: Double) =
      Seq((id, grp, value)).toDF("id", "grp", "value")
    Manifest.create(fixture, dir, "grp")
    assert(Manifest.addBloomIndex(spark, dir, "id", bits = 64, k = 3))
    assert(Manifest.addDistinctSketch(spark, dir, "id", k = 16))
    assert(Manifest.deleteRows(spark, dir, $"id" === 2L) === 1L)
    val carried: (Seq[String], Seq[String]) => Boolean = _ == _
    val extended: (Seq[String], Seq[String]) => Boolean =
      (b, h) => h.length == b.length + 1 && h.init == b
    val folded: (Seq[String], Seq[String]) => Boolean = (_, h) => h.isEmpty
    /** `verb` publishes exactly one version, whose header is checked
      * against the base's (`from`, default the version it replaced).
      */
    def step(op: String, batch: Long = -1L, from: Int = 0,
        dv: (Seq[String], Seq[String]) => Boolean = carried)(
        verb: => Any): Unit = {
      val v = latest
      val base = header(dir, if (from > 0) from else v)
      assert(base.dv.nonEmpty || op == "delete",
        s"fixture bug: no live DV for $op to carry or fold")
      verb
      assert(latest === v + 1, s"$op did not publish exactly one version")
      val h = header(dir, v + 1)
      assert(h.op === op && h.batch === batch && h.bloomK === 3 &&
        h.kmvK === 16 && dv(base.dv, h.dv),
        s"$op: header $h over base $base")
    }
    step("append") { Manifest.append(row(7L, "a", 10.0), dir, "grp") }
    step("append-batch", batch = 11L) {
      assert(Manifest.commitBatch(row(8L, "a", 80.0), dir, "grp", 11L))
    }
    val stamped = latest
    step("overwrite") {
      Manifest.overwritePartitions(fixture.filter($"grp" === "b"), dir, "grp")
    }
    step("overwrite") {
      Manifest.commitPrepared(spark, dir, Manifest.prepareOverwrite(
        fixture.filter($"grp" === "c"), dir, "grp"))
    }
    step("merge") {
      Manifest.merge(spark, dir, "grp", row(3L, "b", 33.0), Seq("id"))
    }
    step("auto-compact") {
      assert(Manifest.autoCompact(spark, dir, "grp",
        maxFilesPerPartition = 2) > 0)
    }
    // restore heads the new version with the RESTORED version's carry,
    // but not with its stamp
    step("restore", from = stamped) { Manifest.restore(spark, dir, stamped) }
    step("replace-batch", batch = 12L) {
      assert(Manifest.replacePartitionsBatch(fixture.filter($"grp" === "c"),
        Set.empty, dir, "grp", 12L))
    }
    step("dedup-repair") { // id 7 duplicates id 1's value
      assert(Manifest.dedupRepair(spark, dir, "grp", $"value", "id"))
    }
    step("purge") { Manifest.purge(spark, dir, "grp", $"id" === 3L) }
    step("delete", dv = extended) {
      assert(Manifest.deleteRows(spark, dir, $"id" === 4L) === 1L)
    }
    step("apply-deletes", dv = folded) {
      assert(Manifest.applyDeletes(spark, dir, "grp"))
    }
    step("delete", dv = extended) {
      assert(Manifest.deleteRows(spark, dir, $"id" === 5L) === 1L)
    }
    step("compact", dv = folded) { Manifest.compact(spark, dir, "grp") }
    step("delete", dv = extended) {
      assert(Manifest.deleteRows(spark, dir, $"id" === 6L) === 1L)
    }
    // a branch's v1 carries the source's DV with absolute paths
    val src = header(dir, latest)
    Manifest.branchCreate(spark, dir, "carry")
    val b = header(Manifest.branchDir(dir, "carry"), 1)
    assert(b.op === "branch-create" && b.batch === -1L && b.bloomK === 3 &&
      b.kmvK === 16 && b.dv === src.dv.map(p => s"$dir/$p"),
      s"branch-create: header $b over source $src")
  }

  // ---- Commit costs: one-write deletes, one-census merges -------------

  /** 60 rows over grp 0/1/2, written by 4 tasks: every partition starts
    * with 4 files, and ids 0 and 1 live in grp 0 and grp 1.
    */
  private def spread = spark.range(60).repartition(4)
    .select($"id", ($"id" % 3).cast("string").as("grp"),
      ($"id" * 10).cast("double").as("value"))

  private def rowsAt(dir: String, v: Int) =
    Manifest.readWithDeletes(spark, dir, v)
      .select("id", "grp", "value").as[(Long, String, Double)].collect().toSeq

  test("deleteRows on a layout with a live DV stages its delta in one " +
      "write; a delete that matches nothing stages nothing") {
    val dir = mkdir()
    Manifest.create(spread, dir, "grp")
    assert(Manifest.deleteRows(spark, dir, $"id" === 3L) === 1L)
    var n = -1L
    val jobs = jobsDuring { n = Manifest.deleteRows(spark, dir, $"id" === 6L) }
    assert(n === 1L)
    // the live DV's broadcast and the write that observes the census
    assert(jobs === 2L, s"deleteRows launched $jobs Spark jobs")
    val conf = spark.sparkContext.hadoopConfiguration
    val dvs = new java.io.File(s"$dir/_dv").list().toSet
    val v = Manifest.latestVersion(dir, conf)
    assert(Manifest.deleteRows(spark, dir, $"id" === 999L) === 0L)
    assert(Manifest.latestVersion(dir, conf) === v &&
      new java.io.File(s"$dir/_dv").list().toSet === dvs,
      "a no-match delete published or left a staged delta")
    val prep = Manifest.prepareDelete(spark, dir, $"grp" === "0")
    assert(prep.nNew === 18L && prep.victimFiles.size === 4 &&
      prep.victimFiles.forall(_.startsWith("__p=0/")),
      s"observed victim census $prep")
  }

  test("merge runs one census action and writes one file per affected " +
      "partition over a base written by several tasks") {
    val dir = mkdir()
    Manifest.create(spread, dir, "grp")
    assert(Manifest.deleteRows(spark, dir, $"id" === 30L) === 1L)
    val source = Seq((0L, "0", 1.0), (1L, "1", 2.0), (100L, "1", 3.0))
      .toDF("id", "grp", "value")
    var v = 0
    val jobs = jobsDuring {
      v = Manifest.merge(spark, dir, "grp", source, Seq("id"))
    }
    // the source cut, the census action's stages and the rebalanced write
    assert(jobs === 12L, s"merge launched $jobs Spark jobs")
    def files(p: String) =
      manifestFiles(dir, v).count(_.contains(s"/__p=$p/"))
    assert(files("0") === 1 && files("1") === 1,
      s"merge wrote ${files("0")} / ${files("1")} files into grp 0 / 1")
    assert(files("2") === 4, "fixture bug: grp 2 should keep its 4 files")
    val expected = spread.as[(Long, String, Double)].collect().toSeq
      .filterNot(r => Set(0L, 1L, 30L)(r._1)) ++
      Seq((0L, "0", 1.0), (1L, "1", 2.0), (100L, "1", 3.0))
    assert(rowsAt(dir, v).sortBy(_._1) === expected.sortBy(_._1))
  }

  test("a merge writes a partition above AQE's advisory size with " +
      "parallel writers and a partition below it as one file") {
    val dir = mkdir()
    // grp big: 20,000 rows in 4 files; grp small: 20 rows
    Manifest.create(spark.range(20020).repartition(4).select($"id",
      when($"id" < 20000L, "big").otherwise("small").as("grp"),
      ($"id" * 10).cast("double").as("value")), dir, "grp")
    val row = Seq((0L, "big", 1.0), (20000L, "small", 2.0))
    // at a 16 KB advisory size grp big is a large partition, as a
    // multi-GB one is at the 64 MB default
    val v = Scoped.withConf(spark,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB") { s =>
      Manifest.merge(s, dir, "grp",
        s.createDataFrame(row).toDF("id", "grp", "value"), Seq("id"))
    }
    def files(p: String) =
      manifestFiles(dir, v).count(_.contains(s"/__p=$p/"))
    assert(files("big") > 1 && files("small") === 1,
      s"merge wrote ${files("big")} / ${files("small")} files into big / small")
    val rows = rowsAt(dir, v)
    assert(rows.size === 20020 && row.forall(rows.contains))
  }

  test("a merge retires exactly the base DV deltas whose partitions it " +
      "rewrote; reads and the change feed match a replayed model") {
    val conf = spark.sparkContext.hadoopConfiguration
    for ((victim, retired) <- Seq((1L, true), (3L, false))) {
      val dir = mkdir()
      Manifest.create(fixture, dir, "grp") // a: 1, 2  b: 3, 4  c: 5, 6
      assert(Manifest.deleteRows(spark, dir, $"id" === victim) === 1L)
      val vd = Manifest.latestVersion(dir, conf)
      val dv = Manifest.readHeader(dir, vd, conf).dv
      // rewrites grp a only
      val vm = Manifest.merge(spark, dir, "grp",
        Seq((2L, "a", 22.0)).toDF("id", "grp", "value"), Seq("id"))
      assert(Manifest.readHeader(dir, vm, conf).dv ===
        (if (retired) Nil else dv), s"delete of id $victim")
      val model = fixture.as[(Long, String, Double)].collect().toSeq
        .filterNot(r => r._1 == victim || r._1 == 2L) :+ ((2L, "a", 22.0))
      assert(rowsAt(dir, vm).sortBy(_._1) === model.sortBy(_._1))
      val feed = Manifest.changesBetween(spark, dir, vd, vm)
        .select("_change", "id", "grp", "value")
        .as[(String, Long, String, Double)].collect().toSeq
      def side(kind: String) = feed.filter(_._1 == kind)
        .map(r => (r._2, r._3, r._4))
      val replayed = (rowsAt(dir, vd) diff side("delete")) ++ side("insert")
      assert(replayed.sortBy(_._1) === model.sortBy(_._1),
        s"delete of id $victim: feed $feed")
    }
  }

  test("a duplicate-key merge fails before staging a file") {
    val dir = mkdir()
    Manifest.create(fixture, dir, "grp")
    def staged = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.map(_.toString).toSet
    }
    val before = staged
    val dup = Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "grp", "value")
    val e = intercept[IllegalArgumentException] {
      Manifest.merge(spark, dir, "grp", dup, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    assert(staged === before, "the failed merge left files under data/")
  }
}
