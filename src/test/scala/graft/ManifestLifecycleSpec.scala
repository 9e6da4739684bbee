package graft

import graft.operators.Manifest
import org.apache.spark.sql.functions._

/** MODEL-BASED randomized lifecycle testing of the transactional
  * manifest layer: a seeded random sequence of lifecycle operations
  * (append, partition overwrite, merge-on-read delete, purge, MERGE,
  * compaction, clustering, restore, vacuum, batch-stamped append +
  * replay) runs against BOTH the real layout and a trivial in-memory
  * model; after every committed version the live read must equal the
  * model EXACTLY, every recorded version must time-travel back to its
  * model state, and vacuum must not disturb the latest snapshot.
  * Example-based specs pin designed scenarios; this pins the
  * INTERACTIONS nobody designed — the DV carried through an overwrite
  * followed by a restore followed by a merge, and every other
  * interleaving a seed happens to draw. Two seeds × ~30 ops keeps the
  * suite fast while the seeds stay reproducible forever.
  */
class ManifestLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (Long, String, Double)

  private def grpOf(rng: scala.util.Random) = s"g${rng.nextInt(4)}"

  private def liveRows(dir: String, version: Int = -1): Set[Row3] =
    Manifest.readWithDeletes(spark, dir, version)
      .select($"id", $"grp", $"value").as[Row3].collect().toSet

  private def runLifecycle(seed: Long, steps: Int): Unit = {
    val dir = tempDir(s"graft_manifest_model_$seed")
    val rng = new scala.util.Random(seed)
    var nextId = 0L
    def freshRows(n: Int, grp: Option[String] = None): Seq[Row3] =
      (0 until n).map { _ =>
        nextId += 1
        (nextId, grp.getOrElse(grpOf(rng)), (nextId % 97).toDouble)
      }
    val conf = spark.sparkContext.hadoopConfiguration

    var model: Set[Row3] = freshRows(12).toSet
    Manifest.create(model.toSeq.toDF("id", "grp", "value"), dir, "grp")
    // committed version -> expected model state (for time travel)
    var history = Map(1 -> model)
    var vacuumFloor = 1 // versions below this died with a vacuum
    var usedBatchIds = Set.empty[Long]

    (1 to steps).foreach { step =>
      val op = rng.nextInt(10)
      op match {
        case 0 => // plain append
          val rows = freshRows(1 + rng.nextInt(4))
          Manifest.append(rows.toDF("id", "grp", "value"), dir, "grp")
          model ++= rows

        case 1 => // partition overwrite (fresh content for one group)
          val g = grpOf(rng)
          val rows = freshRows(1 + rng.nextInt(3), Some(g))
          Manifest.overwritePartitions(
            rows.toDF("id", "grp", "value"), dir, "grp")
          model = model.filterNot(_._2 == g) ++ rows

        case 2 => // merge-on-read delete by id predicate
          val m = 2 + rng.nextInt(5)
          val after = model.filterNot(_._1 % m == 0)
          if (after.nonEmpty) { // an all-empty layout has nothing to read
            Manifest.deleteRows(spark, dir, $"id" % m === 0)
            model = after
          }

        case 3 => // copy-on-write purge by value predicate
          val cut = rng.nextInt(97).toDouble
          val after = model.filterNot(_._3 > cut)
          if (after.nonEmpty) {
            Manifest.purge(spark, dir, "grp", $"value" > cut)
            model = after
          }

        case 4 => // MERGE: update some survivors, insert, delete one
          val present = model.toSeq.sortBy(_._1)
          if (present.nonEmpty) {
            val ups = present.filter(_._1 % 3 == 0)
              .map(r => (r._1, r._2, r._3 + 1000.0, false))
            val del = present(rng.nextInt(present.size))
            val ins = freshRows(1 + rng.nextInt(2))
              .map(r => (r._1, r._2, r._3, false))
            val src = (ups.filterNot(_._1 == del._1) ++ ins :+
              ((del._1, del._2, del._3, true)))
              .toDF("id", "grp", "value", "_d")
            Manifest.merge(spark, dir, "grp", src, Seq("id"),
              deleteCol = "_d")
            val upMap = ups.filterNot(_._1 == del._1)
              .map(r => r._1 -> ((r._1, r._2, r._3))).toMap
            model = model.filterNot(r => upMap.contains(r._1))
              .filterNot(_._1 == del._1) ++
              upMap.values ++ ins.map(r => (r._1, r._2, r._3))
          }

        case 5 => // compaction (content-invariant, folds the DV)
          if (model.nonEmpty) Manifest.compact(spark, dir, "grp")

        case 6 => // z-order clustering (content-invariant)
          if (model.nonEmpty)
            Manifest.clusterZOrder(spark, dir, "grp", "id", "value",
              filesPerPartition = 2)

        case 7 => // restore to a random still-recorded version
          val candidates = history.keys.filter(_ >= vacuumFloor).toSeq
          if (candidates.nonEmpty) {
            val v = candidates(rng.nextInt(candidates.size))
            if (history(v).nonEmpty) { // an all-empty snapshot can't re-read
              Manifest.restore(spark, dir, v)
              model = history(v)
            }
          }

        case 8 => // batch-stamped append + a replay that must no-op
          val bid = rng.nextLong().abs % 1000000L
          if (!usedBatchIds.contains(bid)) {
            usedBatchIds += bid
            val rows = freshRows(1 + rng.nextInt(3))
            val df = rows.toDF("id", "grp", "value")
            if (Manifest.commitBatch(df, dir, "grp", bid)) model ++= rows
            assert(!Manifest.commitBatch(df, dir, "grp", bid),
              s"seed=$seed step=$step: replayed batch $bid committed")
          }

        case 9 => // vacuum: latest snapshot must be untouched
          Manifest.vacuum(spark, dir)
          vacuumFloor = Manifest.latestVersion(dir, conf)
          history = history.filter(_._1 >= vacuumFloor)
      }
      val v = Manifest.latestVersion(dir, conf)
      val got = liveRows(dir)
      assert(got == model,
        s"seed=$seed step=$step op=$op v=$v: live read diverged from " +
          s"the model\n  only-live:  ${(got -- model).toSeq.sortBy(_._1)
            .take(5)}\n  only-model: ${(model -- got).toSeq.sortBy(_._1)
            .take(5)}")
      history += (v -> model)
    }

    // time travel: every still-recorded version reads back its model
    history.toSeq.sortBy(_._1).foreach { case (v, expect) =>
      if (expect.nonEmpty)
        assert(liveRows(dir, v) == expect,
          s"seed=$seed: time travel to v$v diverged from its model state")
    }
  }

  test("random lifecycle (seed 7, 30 ops): live read == model at every " +
      "version; time travel == recorded history") {
    runLifecycle(seed = 7L, steps = 30)
  }

  test("random lifecycle (seed 41, 30 ops)") {
    runLifecycle(seed = 41L, steps = 30)
  }
}
