package graft

import graft.operators.Manifest
import org.apache.spark.sql.functions._

/** REAL-THREAD races against the optimistic-concurrency machinery. The
  * q349/q373 gates simulate interleavings deterministically (prepare,
  * let a rival land, publish); this suite runs genuinely concurrent
  * writers — racing CAS renames, racing rebases, racing staged-file
  * writes — and pins the serializability contract: every
  * conflict-free commit LANDS (no lost updates, no aborts for
  * disjoint work), the version count equals the successful commit
  * count, and the final content is the per-partition last-writer
  * state. Spark actions are thread-safe by contract; the manifest CAS
  * is the part under test.
  */
class ManifestConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def mkdir() = tempDir("graft_manifest_conc")

  private def race(work: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = work.map { w =>
      new Thread(() => try w() catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    if (!errs.isEmpty) throw errs.peek()
  }

  test("four racing writers on disjoint partitions: every prepared " +
      "commit lands through the rebase loop, none is lost") {
    val dir = mkdir()
    val grps = Seq("a", "b", "c", "d")
    val base = grps.zipWithIndex.flatMap { case (g, i) =>
      Seq((i * 10L, g, 0.0), (i * 10L + 1L, g, 0.0))
    }.toDF("id", "grp", "value")
    Manifest.create(base, dir, "grp")
    val rounds = 3
    race(grps.map { g => () =>
      (1 to rounds).foreach { r =>
        val df = Seq((g.head.toLong, g, r.toDouble * 100.0))
          .toDF("id", "grp", "value")
        val prep = Manifest.prepareOverwrite(df, dir, "grp")
        Manifest.commitPrepared(spark, dir, prep, maxAttempts = 50)
      }
    })
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 1 + grps.size * rounds,
      "a racing writer's commit was lost or double-counted")
    val got = Manifest.read(spark, dir)
      .select("grp", "value").as[(String, Double)].collect().toSet
    assert(got === grps.map(g => g -> (rounds * 100.0)).toSet,
      s"final content is not the per-partition last-writer state: $got")
  }

  test("four racing writers under the DISTRIBUTED census (threshold 0): " +
      "the rebase loop holds when every carry-forward is a Spark job") {
    val dir = mkdir()
    val grps = Seq("a", "b", "c", "d")
    val base = grps.zipWithIndex.flatMap { case (g, i) =>
      Seq((i * 10L, g, 0.0), (i * 10L + 1L, g, 0.0))
    }.toDF("id", "grp", "value")
    Manifest.create(base, dir, "grp")
    spark.conf.set("graft.manifest.driverCensusMaxFiles", "0")
    try {
      race(grps.map { g => () =>
        val df = Seq((g.head.toLong, g, 100.0)).toDF("id", "grp", "value")
        val prep = Manifest.prepareOverwrite(df, dir, "grp")
        Manifest.commitPrepared(spark, dir, prep, maxAttempts = 50)
      })
    } finally spark.conf.unset("graft.manifest.driverCensusMaxFiles")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 1 + grps.size,
      "a racing writer's commit was lost or double-counted under the " +
        "distributed census")
    val got = Manifest.read(spark, dir)
      .select("grp", "value").as[(String, Double)].collect().toSet
    assert(got === grps.map(g => g -> 100.0).toSet,
      s"final content diverged under the distributed census: $got")
  }

  test("a racing MOR delete and disjoint partition writers all land; " +
      "the delete excludes exactly the base victims") {
    val dir = mkdir()
    val base = (0L until 30L).map(i => (i, s"g${i % 3}", i.toDouble))
      .toDF("id", "grp", "value")
    Manifest.create(base, dir, "grp")
    // writer thread: 4 prepared overwrites of FRESH partitions
    // (append-shaped, conflict-free); deleter thread: stage + publish
    // a delete of id % 5 == 0 from the ORIGINAL snapshot
    val writer = () => (1 to 4).foreach { r =>
      val df = Seq((1000L + r, s"new$r", r.toDouble))
        .toDF("id", "grp", "value")
      val prep = Manifest.prepareOverwrite(df, dir, "grp")
      Manifest.commitPrepared(spark, dir, prep, maxAttempts = 50)
    }
    val deleter = () => {
      val prep = Manifest.prepareDelete(spark, dir, $"id" % 5 === 0)
      Manifest.commitDelete(spark, dir, prep, maxAttempts = 50)
      ()
    }
    race(Seq(writer, deleter))
    val ids = Manifest.readWithDeletes(spark, dir)
      .select("id").as[Long].collect().toSet
    val want = (0L until 30L).filterNot(_ % 5 == 0).toSet ++
      (1 to 4).map(r => 1000L + r)
    assert(ids === want,
      s"lost update under the delete/append race:\n  missing ${want -- ids}" +
        s"\n  extra ${ids -- want}")
  }

  test("racing PLAIN appends: all land via the pure-addition rebase, " +
      "no staged-file clobber, no lost rows") {
    val dir = mkdir()
    Manifest.create(Seq((0L, "base", 0.0)).toDF("id", "grp", "value"),
      dir, "grp")
    val writers = 4
    val perWriter = 3
    race((1 to writers).map { w => () =>
      (1 to perWriter).foreach { r =>
        Manifest.append(
          Seq((w * 100L + r, s"g$w", r.toDouble)).toDF("id", "grp", "value"),
          dir, "grp")
      }
    })
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 1 + writers * perWriter)
    val ids = Manifest.read(spark, dir).select("id").as[Long]
      .collect().toSet
    val want = Set(0L) ++ (for (w <- 1 to writers; r <- 1 to perWriter)
      yield w * 100L + r)
    assert(ids === want, s"append race lost rows: missing ${want -- ids}")
  }

  test("racing commitBatch with DISTINCT batch ids: all land exactly " +
      "once; duplicate ids land once total") {
    val dir = mkdir()
    Manifest.create(Seq((0L, "base", 0.0)).toDF("id", "grp", "value"),
      dir, "grp")
    // three writers, two share a batch id (a rebalanced streaming task
    // re-delivering) — the duplicate must land once
    race(Seq(
      () => { Manifest.commitBatch(Seq((1L, "a", 1.0))
        .toDF("id", "grp", "value"), dir, "grp", batchId = 100L); () },
      () => { Manifest.commitBatch(Seq((1L, "a", 1.0))
        .toDF("id", "grp", "value"), dir, "grp", batchId = 100L); () },
      () => { Manifest.commitBatch(Seq((2L, "b", 2.0))
        .toDF("id", "grp", "value"), dir, "grp", batchId = 101L); () }
    ))
    val rows = Manifest.read(spark, dir).filter($"id" > 0L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(rows === Seq(1L, 2L),
      s"duplicate-stamp race double-applied or lost a batch: $rows")
  }

  test("merge racing a MOR delete of a merge-partition row NEVER " +
      "resurrects the victim: either the merge aborts loudly or both " +
      "effects land") {
    // the silent-corruption interleave: a DV-only delete commit lands
    // inside merge's base→publish window. Entries don't change, so the
    // partition conflict check alone cannot see it — merge's rewrite
    // (computed through BASE's deletion vector) would re-materialize
    // the victim. The round-15 DV-diff check must abort that merge.
    // Run the genuine race several times; whatever the interleaving,
    // the victim must be gone at the end, and a merge that reported
    // success must also show its update.
    (1 to 3).foreach { round =>
      val dir = mkdir()
      val base = (0L until 12L).map(i => (i, s"g${i % 2}", i.toDouble))
        .toDF("id", "grp", "value")
      Manifest.create(base, dir, "grp")
      val mergeOk = new java.util.concurrent.atomic.AtomicBoolean(false)
      val merger = () => {
        val src = Seq((2L, "g0", 200.0)).toDF("id", "grp", "value")
        try {
          Manifest.merge(spark, dir, "grp", src, Seq("id"))
          mergeOk.set(true)
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("re-merge") => () // loud abort: fine
        }
      }
      val deleter = () => {
        // victim id 4 lives in g0 — the merge's affected partition
        try { Manifest.deleteRows(spark, dir, $"id" === 4L); () }
        catch { case e: RuntimeException
            if e.getMessage.contains("re-prepare") =>
          // merge rewrote the victim's file first: stale positions
          // abort loudly; re-run against the new snapshot
          Manifest.deleteRows(spark, dir, $"id" === 4L); ()
        }
      }
      race(Seq(merger, deleter))
      val rows = Manifest.readWithDeletes(spark, dir)
        .select("id", "value").as[(Long, Double)].collect().toMap
      assert(!rows.contains(4L),
        s"round $round: the committed MOR delete was resurrected " +
          "(merge published a rewrite computed through the stale DV)")
      if (mergeOk.get())
        assert(rows.get(2L).contains(200.0),
          s"round $round: merge reported success but its update is missing")
    }
  }

  test("racing batch-stamped merges with the SAME batch id: exactly one " +
      "applies (the exactly-once stamp holds under a true race)") {
    val dir = mkdir()
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "grp", "value")
    Manifest.create(base, dir, "grp")
    val src = Seq((3L, "a", 30.0, false)).toDF("id", "grp", "value", "_d")
    val applied = new java.util.concurrent.atomic.AtomicInteger(0)
    race((1 to 3).map { _ => () =>
      // losers either see the stamp (false) or lose the CAS inside
      // merge's bounded retry and surface an exception — both are
      // acceptable "did not apply" outcomes; silent double-apply is not
      val ok = try Manifest.mergeBatch(spark, dir, "grp", src, Seq("id"),
        batchId = 7L, deleteCol = "_d") catch { case _: Throwable => false }
      if (ok) applied.incrementAndGet()
      ()
    })
    assert(applied.get() >= 1, "no racer applied the batch at all")
    assert(Manifest.read(spark, dir).filter($"id" === 3L).count() === 1L,
      "the batch-stamped merge double-applied or vanished under the race")
  }

  test("racing duplicate mergeBatch deliveries: exactly one returns " +
      "true, the others return false, none throws, the row lands once") {
    val dir = mkdir()
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "grp", "value")
    Manifest.create(base, dir, "grp")
    val src = Seq((3L, "a", 30.0)).toDF("id", "grp", "value")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    // race rethrows the first racer's exception: none may throw
    race((1 to 3).map { _ => () =>
      results.add(Manifest.mergeBatch(spark, dir, "grp", src, Seq("id"),
        batchId = 7L))
      ()
    })
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSeq.sorted === Seq(false, false, true),
      "a duplicate delivery must apply exactly once and report the rest " +
        "as replays")
    assert(Manifest.read(spark, dir).filter($"id" === 3L).count() === 1L)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Manifest.latestVersion(dir, conf) === 2,
      "a duplicate delivery published a version")
  }
}
