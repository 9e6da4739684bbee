package graft.queries

import graft.{Scoped, Tables}
import graft.operators.{ChangeData, Par}
import graft.operators.Checkpoints.CutOps
import GateOps.{flag, refereed}
import org.apache.spark.sql.functions._

/** Change-data-capture battery: snapshot diff, MERGE/upsert, and SCD
  * Type-2 history. The two snapshots are derived deterministically from
  * the `customer` table (key-modulus membership + a balance bump), so
  * the DuckDB oracle reconstructs the identical inputs from the same
  * parquet — no extra test fixtures.
  */
object ChangeDataQueries {
  import RelationalQueries.Q

  /** Old snapshot: customers whose key is not ≡0 (mod 9) — the ≡0 rows
    * become inserts. Original values throughout.
    */
  private def oldSnap(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "customer").filter(col("c_custkey") % 9 =!= 0)

  /** New snapshot: drops keys ≡0 (mod 11) (deletes) and bumps the
    * account balance by exactly 100.0 on keys ≡0 (mod 7) (updates; the
    * IEEE sum is bit-identical in Spark and DuckDB).
    */
  private def newSnap(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "customer").filter(col("c_custkey") % 11 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")))

  private val oracleSnaps =
    """WITH oldsnap AS (
      |  SELECT * FROM customer WHERE c_custkey % 9 <> 0),
      |newsnap AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 11 <> 0)""".stripMargin

  val queries: Map[String, Q] = Map(
    // CDC diff: one co-partitioned full-outer join; emits only the
    // changed rows (insert/update/delete) with new + old values.
    "q83_snapshot_diff" -> ((s, dir) =>
      ChangeData.snapshotDiff(oldSnap(s, dir), newSnap(s, dir),
          keyCols = Seq("c_custkey"))
        .orderBy("c_custkey")),

    // MERGE/upsert round-trip: applying the diff to the old snapshot
    // must reproduce the new snapshot bit-for-bit — the oracle IS the
    // directly-computed new snapshot, so the hash gate proves the
    // diff+merge pair is lossless.
    "q84_merge_upsert" -> ((s, dir) => {
      val old = oldSnap(s, dir)
      val diff = ChangeData.snapshotDiff(old, newSnap(s, dir),
        keyCols = Seq("c_custkey"))
      ChangeData.applyChangeset(old, diff, keyCols = Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // Incremental aggregate maintenance: the base aggregate plus ONLY
    // the changeset's signed deltas must equal a full re-aggregation of
    // the new snapshot (the oracle recomputes it from scratch). The q93
    // snapshot derivation adds group MIGRATION (segment rewritten on
    // keys ≡0 mod 13) so update rows move between groups, and carries
    // the value as exact cents (integer-valued doubles sum exactly, so
    // incremental base+delta arithmetic is bit-equal to the oracle's
    // re-sum in any order).
    "q93_incremental_agg" -> ((s, dir) => {
      val old = oldSnap(s, dir).withColumn("bal_cents",
        round(col("c_acctbal") * 100).cast("long"))
      val nw = newSnap(s, dir)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 13 === 0, lit("MIGRATED"))
            .otherwise(col("c_mktsegment")))
        .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
      val baseAgg = old.groupBy("c_mktsegment")
        .agg(sum(col("bal_cents").cast("double")).as("sum_val"),
          count(lit(1)).as("n"), count(col("bal_cents")).as("n_nonnull"))
      val diff = ChangeData.snapshotDiff(old, nw, keyCols = Seq("c_custkey"))
      ChangeData.incrementalAgg(baseAgg, diff,
          groupCols = Seq("c_mktsegment"), valueCol = "bal_cents")
        .orderBy("c_mktsegment")
    }),

    // SCD Type-2: collapse each customer's order-priority history into
    // validity intervals [valid_from, valid_to) — one keyed exchange,
    // two windows sharing the sort, no self-join.
    "q85_scd2_intervals" -> ((s, dir) =>
      ChangeData.scd2(
          Tables.load(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
              col("o_orderpriority")),
          keyCols = Seq("o_custkey"), timeCol = "o_orderdate",
          tiebreakCol = "o_orderkey", valueCols = Seq("o_orderpriority"))
        .orderBy("o_custkey", "version_n")),

    // INCREMENTAL JOIN-VIEW maintenance (q93 maintains aggregates;
    // this maintains the JOIN view itself — the other half of IVM):
    // V = customer ⋈ orders under the standard regime, dimension
    // updates/inserts/deletes (the q83 snapshot rules) + fact APPENDS
    // (orders from 1997 arrive later). The maintained view drops the
    // changed keys' old rows, re-joins only those keys against the
    // fact, and joins unchanged keys against only the APPENDED fact —
    // the pre-1997 fact is never rescanned for unchanged keys. Oracle
    // = the from-scratch join over (new snapshot ⋈ all orders), so
    // the hash equality IS the delta rule.
    "q367_incremental_join_view" -> ((s, dir) => {
      val cols = Seq("c_custkey", "c_mktsegment", "c_acctbal",
        "o_orderkey", "o_totalprice").map(col)
      def viewOf(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
        a.join(b, Seq("c_custkey")).select(cols: _*)
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1997-01-01").cast("timestamp")
      val factOld = o.filter(col("o_orderdate") < cut)
      val factIns = o.filter(col("o_orderdate") >= cut)
      val aOld = oldSnap(s, dir)
      val aNew = newSnap(s, dir)
      val vOld = viewOf(aOld, factOld)
      val changed = ChangeData.snapshotDiff(aOld, aNew,
          keyCols = Seq("c_custkey"))
        .select("c_custkey").distinct()
      ChangeData.incrementalJoinView(vOld, aNew, changed, o, factIns,
          keyCols = Seq("c_custkey"))
        .orderBy("c_custkey", "o_orderkey")
    }),

    // STREAMING MATERIALIZED VIEW (q367's IVM ∘ q319's exactly-once
    // sink): the base view (dim ⋈ pre-1997 fact) publishes as the
    // manifest's v1; the 1997+ fact arrives as micro-batches and each
    // batch's delta view (dim ⋈ batch — the append case of the q367
    // delta rule) lands through `Manifest.commitBatch`, so a replayed
    // delivery publishes NOTHING (REPLAY_COMMITTED otherwise). The
    // final snapshot census must equal the from-scratch join of the
    // dim against ALL orders — exactly-once + IVM, one hash.
    "q368_stream_view_maintenance" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_mv").toString
      val dim = newSnap(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      def viewOf(b: org.apache.spark.sql.DataFrame) =
        dim.join(b, Seq("c_custkey"))
          .select(col("c_mktsegment"), col("c_custkey"),
            col("o_orderkey"), col("o_totalprice"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1997-01-01").cast("timestamp")
      Manifest.create(viewOf(o.filter(col("o_orderdate") < cut)), tmp,
        "c_mktsegment")
      val inserts = Tables.readTableStream(s, dir, "orders")
        .filter(col("o_orderdate") >= cut)
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          col("o_totalprice"))
      var firstBatch: org.apache.spark.sql.DataFrame = null
      val q = inserts.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (id == 0L) firstBatch = b.cutLineage
          Manifest.commitBatch(viewOf(b), tmp, "c_mktsegment", id)
          ()
        }
        .option("checkpointLocation", s"$tmp/_ckpt").start()
      try q.processAllAvailable() finally q.stop()
      val replayed = firstBatch != null &&
        Manifest.commitBatch(viewOf(firstBatch), tmp, "c_mktsegment", 0L)
      val census = Manifest.read(s, tmp)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_okey"),
          round(sum("o_totalprice"), 2).as("sum_price"))
      refereed(census, "c_mktsegment")(
          flag("REPLAY_COMMITTED", replayed),
          flag("NO_BATCHES", firstBatch == null))
        .orderBy("c_mktsegment")
    }),

    // INCREMENTAL SCD2 merge (q93's incremental discipline pointed at
    // the q85 dimension): history = orders before 1997 built into a
    // dimension, delta = 1997+ orders folded in by `scd2Merge` — only
    // affected keys' current intervals reopen; closed history and
    // untouched keys pass through verbatim. The oracle builds
    // FROM-SCRATCH over all orders, so the hash equality IS the
    // incremental law, including the boundary collapse (a delta that
    // repeats the current value must EXTEND the interval, not open a
    // new version).
    "q364_scd2_merge_gate" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderpriority"))
      val cut = lit("1997-01-01").cast("timestamp")
      val dim = ChangeData.scd2(o.filter(col("o_orderdate") < cut),
        keyCols = Seq("o_custkey"), timeCol = "o_orderdate",
        tiebreakCol = "o_orderkey", valueCols = Seq("o_orderpriority"))
      ChangeData.scd2Merge(dim, o.filter(col("o_orderdate") >= cut),
          keyCols = Seq("o_custkey"), timeCol = "o_orderdate",
          tiebreakCol = "o_orderkey", valueCols = Seq("o_orderpriority"))
        .orderBy("o_custkey", "version_n")
    }),

    // Point-in-time (time travel) read over the q85 SCD2 dimension:
    // every customer's priority AS OF 1998-06-01 — the read half of
    // the SCD2 contract (reproduce an old report, join facts to the
    // dimension as it was, audit what a model saw at training time).
    // One map-side interval filter over the dimension
    // (`ChangeData.scd2AsOf`), no join, no extra window beyond the
    // q85 build.
    "q173_scd2_asof" -> ((s, dir) => {
      val dim = ChangeData.scd2(
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_orderpriority")),
        keyCols = Seq("o_custkey"), timeCol = "o_orderdate",
        tiebreakCol = "o_orderkey", valueCols = Seq("o_orderpriority"))
      ChangeData.scd2AsOf(dim, lit("1998-06-01").cast("timestamp"))
        .select(col("o_custkey"), col("o_orderpriority"),
          col("valid_from"), col("version_n"))
        .orderBy("o_custkey")
    }),

    // STREAMING SCD2 ENRICHMENT — the temporal-join half of the SCD2
    // contract live at the door: each purchase event picks up the
    // user's tier version valid AT ITS EVENT TIME (valid_from ≤ ts <
    // valid_to) from the signup-history dimension, as a STATELESS
    // stream-static broadcast join (the dimension is SCD2-interval-
    // sized; no state store, no watermark needed — this is why SCD2
    // beats a mutable dim for streams: the join is pure). Tier is
    // event_id%3 (integer-exact, no FP bucket hazard); purchases with
    // no version yet read tier −1. Drained census per tier, oracle
    // restates the q85 interval build + the interval join.
    "q361_stream_scd2_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.OutputMode
      val dim = ChangeData.scd2(
          Tables.load(s, dir, "events")
            .filter(col("event_type") === "signup")
            .select(col("user_id"), col("ts"), col("event_id"),
              (col("event_id") % 3).as("tier")),
          keyCols = Seq("user_id"), timeCol = "ts",
          tiebreakCol = "event_id", valueCols = Seq("tier"))
        .select(col("user_id").as("d_user"), col("tier"),
          col("valid_from"), col("valid_to"))
      val purchases = graft.streaming.EventStreams.readEventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      val enriched = purchases.join(broadcast(dim),
          purchases("user_id") === dim("d_user") &&
            dim("valid_from") <= purchases("ts") &&
            (dim("valid_to").isNull || purchases("ts") < dim("valid_to")),
          "left")
        .select(coalesce(col("tier"), lit(-1L)).as("tier"), col("value"))
      graft.streaming.EventStreams
        .runToMemory(enriched, OutputMode.Append())
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("tier")
    }),

    // Streaming upsert view over the event change feed — last-write-wins
    // per user_id, one struct per key in RocksDB state; on the bounded
    // drain it equals the batch per-key argmax, which the oracle states.
    "q120_stream_upsert_view" -> ((s, dir) =>
      graft.streaming.EventStreams.streamingUpsertView(s, dir)),

    // Partition backfill via dynamic partition overwrite: the
    // day-partitioned layout has 2024-01-05 rewritten with doubled
    // values through `ChangeData.overwritePartitions` — ONLY that
    // partition's files were replaced (ChangeDataSpec pins the other
    // partitions bit-identical). The query reads the post-backfill
    // layout; the oracle states the same backfill arithmetically over
    // the raw table, so the layout mutation itself is hash-gated.
    "q140_partition_backfill" -> ((s, dir) => {
      val layout = Tables.eventsBackfillLayout(s, dir)
      s.read.parquet(layout)
        .groupBy(col("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("dt")
    }),

    // Targeted retention purge (right-to-be-forgotten; q140's delete
    // twin): users 3 and 7 are removed from the day-partitioned layout
    // by rewriting ONLY their days' partitions
    // (`ChangeData.purgeRows`); partitions a purge would leave empty
    // are dropped explicitly — dynamic overwrite never touches a
    // partition absent from the frame, the silent-retention trap.
    // The gate aggregates the surviving content per day and per purged
    // user; the oracle restates the purge over the raw table.
    // ChangeDataSpec pins untouched partitions byte-identical and the
    // empty-partition drop on a synthetic mini-layout.
    "q177_retention_purge" -> ((s, dir) => {
      val layout = Tables.eventsPurgeLayout(s, dir)
      val t = s.read.parquet(layout)
      t.groupBy(col("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          sum(when(col("user_id").isin(3L, 7L), 1L).otherwise(0L))
            .as("n_victim_rows"))
        .orderBy("dt")
    }),

    // TRANSACTIONAL MANIFEST commit (the atomic-publish protocol the
    // q140/q177 dynamic-overwrite lifecycles lack): a two-partition
    // backfill publishes through ONE manifest rename. The gate drives
    // the full hazard sequence in a fresh layout each run — pin v1,
    // crash a writer (backfill files written, manifest never renamed),
    // then commit the real backfill — and checks (a) the pinned reader
    // still sees the ORIGINAL rows exactly (old-or-new, never a mix;
    // exceptAll both ways, exact rows, no FP), (b) the crashed writer's
    // orphan files moved the version nowhere, and (c) the fresh read is
    // the backfilled content, hash-gated against the oracle's
    // arithmetic restatement — which also proves orphan invisibility,
    // because a directory-listing reader would double-count the orphan
    // day and fail the hash. PIN:/CRASH: violation rows never appear in
    // the oracle.
    "q316_manifest_txn_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_manifest_txn").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val pinned = Manifest.readVersion(s, tmp, 1)
      Manifest.writeCommitFiles(
        ev.filter(col("dt") === lit("2024-01-03").cast("date"))
          .withColumn("value", col("value") * 3), tmp, "dt", 999999)
      val crashMovedVersion = Manifest.latestVersion(tmp,
        s.sparkContext.hadoopConfiguration) != 1
      Manifest.overwritePartitions(
        ev.filter(col("dt").isin(lit("2024-01-05").cast("date"),
            lit("2024-01-09").cast("date")))
          .withColumn("value", col("value") * 2), tmp, "dt")
      val fresh = Manifest.read(s, tmp)
      val freshAgg = fresh.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      val pinViol = pinned.exceptAll(ev).unionAll(ev.exceptAll(pinned))
        .select(concat(lit("PIN:"), col("dt").cast("string")).as("dt"))
        .groupBy("dt").agg(count(lit(1)).as("n"))
        .withColumn("sum_value", lit(0.0))
      refereed(freshAgg.unionByName(pinViol), "dt")(
          flag("CRASH_VISIBLE", crashMovedVersion))
        .orderBy("dt")
    }),

    // Manifest DATA SKIPPING (min/max file stats — the Delta/Iceberg
    // move that makes a non-partition-column range read cheap): the
    // layout is built range-clustered on o_custkey with per-file
    // min/max recorded in the manifest, and `readRange` LISTS only the
    // files whose interval intersects the probe — never a scan with a
    // post-filter. The content gate applies the precise predicate on
    // the admitted files and must hash-equal the oracle's restatement
    // over the raw table (proving stats admit every matching row); the
    // NOSKIP violation fires unless at least half the files were
    // skipped (runtime file-list proof, not plan text).
    "q320_manifest_skipping_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_manifest_skip").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Manifest.create(o.repartitionByRange(8, col("o_custkey")), tmp,
        "o_orderstatus", statsCol = "o_custkey")
      val hit = Manifest.readRange(s, tmp, 10L, 40L)
      val total = Manifest.read(s, tmp).inputFiles.length
      val listed = hit.inputFiles.length
      val census = hit.filter(col("o_custkey").between(10L, 40L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
          round(sum("o_totalprice"), 2).as("sum_price"))
      refereed(census, "o_orderstatus")(flag("NOSKIP", listed * 2 > total))
        .orderBy("o_orderstatus")
    }),

    // Manifest COMPACTION (the q319 accretion repair): three appends
    // fragment the layout (one file per partition per commit, plus the
    // range-clustered create), then `compact` rewrites every partition
    // into ONE range-clustered file per partition, published as a
    // single atomic manifest rename. Content must be bit-stable
    // (hash-gated census over the compacted snapshot — same oracle
    // arithmetic as the raw table), the file count must actually drop
    // to one per partition (FRAGMENTED violation otherwise), and
    // skipping stats survive compaction (readRange still admits all
    // matching rows — folded into the census by reading THROUGH
    // readRange).
    "q321_manifest_compaction_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_manifest_compact").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Manifest.create(o.filter(col("o_orderkey") % 3 === 0), tmp,
        "o_orderstatus", statsCol = "o_custkey")
      Manifest.append(o.filter(col("o_orderkey") % 3 === 1), tmp,
        "o_orderstatus", statsCol = "o_custkey")
      Manifest.append(o.filter(col("o_orderkey") % 3 === 2), tmp,
        "o_orderstatus", statsCol = "o_custkey")
      val before = Manifest.read(s, tmp).inputFiles.length
      Manifest.compact(s, tmp, "o_orderstatus", filesPerPartition = 1,
        statsCol = "o_custkey")
      val after = Manifest.read(s, tmp).inputFiles.length
      val nParts = 3 // o_orderstatus domain: O / F / P
      val census = Manifest.readRange(s, tmp, 0L, Long.MaxValue)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sum_cust"),
          round(sum("o_totalprice"), 2).as("sum_price"))
      refereed(census, "o_orderstatus")(
          flag("FRAGMENTED", after > nParts || after >= before))
        .orderBy("o_orderstatus")
    }),

    // OPTIMISTIC CONCURRENCY on the manifest (the Delta/Iceberg commit
    // protocol q316's single-writer gate doesn't exercise): two writers
    // prepare partition overwrites from the SAME base snapshot — A
    // doubles 2024-01-03, B triples 2024-01-05. A publishes first; B's
    // publish finds the base moved, sees its write-set DISJOINT from
    // the interleaved commit, rebases its delta onto the latest
    // manifest, and lands (snapshot isolation: disjoint writers never
    // block or lose updates). Writer C then prepares a CONFLICTING
    // overwrite of 2024-01-03 from the stale base — its publish must
    // fail LOUDLY (first committer wins) and leave the layout
    // untouched: C's orphan files stay invisible, the version doesn't
    // move. Violations (REBASE_LOST / CONFLICT_MISSED / LOSER_MUTATED)
    // never appear in the oracle; the final census carries both A's
    // and B's effects and none of C's, hash-gated.
    "q349_manifest_occ_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_manifest_occ").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      def day(d: String) = col("dt") === lit(d).cast("date")
      val prepA = Manifest.prepareOverwrite(
        ev.filter(day("2024-01-03")).withColumn("value", col("value") * 2),
        tmp, "dt")
      val prepB = Manifest.prepareOverwrite(
        ev.filter(day("2024-01-05")).withColumn("value", col("value") * 3),
        tmp, "dt")
      val vA = Manifest.commitPrepared(s, tmp, prepA)
      val vB = try Manifest.commitPrepared(s, tmp, prepB)
        catch { case _: IllegalArgumentException => -1 }
      val prepC = Manifest.PreparedCommit(prepA.base, prepA.entries,
        prepA.touched) // a stale writer re-targeting A's partition
      val cFailed = try { Manifest.commitPrepared(s, tmp, prepC); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("write-write conflict") }
      val vAfterC = Manifest.latestVersion(tmp,
        s.sparkContext.hadoopConfiguration)
      val census = Manifest.read(s, tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("REBASE_LOST", vA != 2 || vB != 3),
          flag("CONFLICT_MISSED", !cFailed),
          flag("LOSER_MUTATED", vAfterC != 3))
        .orderBy("dt")
    }),

    // ATOMIC MULTI-TABLE CATALOG (the cross-table consistency the
    // per-table manifests can't give): a training-data release moves
    // docs AND their per-source census together; the catalog pointer
    // names a consistent (table → version) vector, published with one
    // rename. The gate publishes release 1 (doc_id%3≠0), pins catalog
    // v1, publishes release 2 (doc_id%3≠1), then simulates a CRASHED
    // writer (a per-table manifest commits but the catalog never
    // renames). Checks: the pinned v1 reader's cross-table INVARIANT
    // (census table ≡ census recomputed from the docs table AT THE
    // SAME catalog vector) still holds after release 2; the latest
    // vector's invariant holds; the crash moved the catalog nowhere
    // and stays invisible to catalog readers (the final census read
    // THROUGH the catalog is hash-gated — a reader following the
    // latest per-table manifest instead would see the orphan and fail
    // the hash). PIN_INVARIANT / LATEST_INVARIANT / CRASH_VISIBLE rows
    // never appear in the oracle.
    "q353_catalog_txn_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_catalog_txn").toString
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      def census(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("source").agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"))
      val rel1 = docs.filter(col("doc_id") % 3 =!= 0)
      Manifest.catalogCommit(tmp, Seq(("docs", rel1, "lang"),
        ("census", census(rel1), "source")))
      val rel2 = docs.filter(col("doc_id") % 3 =!= 1)
      Manifest.catalogCommit(tmp, Seq(("docs", rel2, "lang"),
        ("census", census(rel2), "source")))
      // catalog reads pin their (table -> version) vector at
      // construction and nothing vacuums, so both invariant diffs ride
      // the final job as lazy sentinels (they were driver-blocking
      // counts of a full census recompute each)
      def invariantProbe(v: Int): org.apache.spark.sql.DataFrame = {
        val d = Manifest.catalogRead(s, tmp, "docs", v)
        val c = Manifest.catalogRead(s, tmp, "census", v)
        val r = census(d)
        c.exceptAll(r).unionAll(r.exceptAll(c))
      }
      val pinProbe = invariantProbe(1)
      // crashed writer: docs manifest advances, catalog never renames
      Manifest.append(
        rel1.limit(5).withColumn("n_chars", lit(-1L)),
        s"$tmp/tables/docs", "lang")
      val latestProbe = invariantProbe(2)
      val crashMoved = Manifest.catalogLatest(tmp,
        s.sparkContext.hadoopConfiguration) != 2
      val out = Manifest.catalogRead(s, tmp, "census")
        .select(col("source"), col("n"), col("sum_chars"))
      refereed(out, "source")(
          flag("PIN_INVARIANT", pinProbe),
          flag("LATEST_INVARIANT", latestProbe),
          flag("CRASH_VISIBLE", crashMoved))
        .orderBy("source")
    }),

    // DEDUP-REPAIR maintenance job (OPTIMIZE for duplicate rows): the
    // layout is built with two planted duplicate families — every 7th
    // doc cloned INTO ITS OWN lang partition (partial rewrite) and
    // every 10th doc cloned into a synthetic 'clonex' partition (which
    // the repair must EMPTY and drop from the manifest entirely). The
    // repair dedups by md5(text) keep-min-doc_id, rewrites ONLY the
    // affected partitions in one atomic commit, and is idempotent (a
    // second run commits nothing). In-gate checks: exactly one version
    // advance per effective run (NOT_ATOMIC), the second run a no-op
    // (NOT_IDEMPOTENT); the 'clonex' vanish and the keep-first
    // semantics are proven by the hash (any surviving clone or any
    // over-deleted original breaks the per-lang census). Clone ids
    // ride a derived max+1 stride (the q49 discipline), so the oracle
    // restates the fixture arithmetically at any SF.
    "q355_dedup_repair_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dedup_repair").toString
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
      val stride = docs.agg(max("doc_id")).head().getLong(0) + 1L
      val clones1 = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(stride))
      val clones2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2L * stride))
        .withColumn("lang", lit("clonex"))
      Manifest.create(docs.unionByName(clones1).unionByName(clones2),
        tmp, "lang")
      val conf = s.sparkContext.hadoopConfiguration
      val did1 = Manifest.dedupRepair(s, tmp, "lang", md5(col("text")),
        "doc_id")
      val v1 = Manifest.latestVersion(tmp, conf)
      val did2 = Manifest.dedupRepair(s, tmp, "lang", md5(col("text")),
        "doc_id")
      val v2 = Manifest.latestVersion(tmp, conf)
      val census = Manifest.read(s, tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"),
          sum("doc_id").as("sum_ids"))
      refereed(census, "lang")(
          flag("NOT_ATOMIC", !did1 || v1 != 2),
          flag("NOT_IDEMPOTENT", did2 || v2 != v1))
        .orderBy("lang")
    }),

    // FILE-LEVEL BLOOM INDEX — point-lookup skipping for a
    // high-cardinality UNCLUSTERED key (where q320's min/max stats
    // admit everything): the manifest carries a 1 KiB Bloom per file,
    // a point read lists only might-contain files. The layout is
    // fragmented to ~96 files (32 round-robin tasks × 3 status
    // partitions) so o_orderkey scatters across all of them; each of
    // the five present-key lookups must read < half the files
    // (NOSKIP), the absent key must return zero rows (GHOST — a
    // false NEGATIVE would also break the hash by dropping a present
    // key's rows). Census of the looked-up rows is hash-gated.
    "q359_bloom_index_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_bloom_idx").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Manifest.create(o.repartition(32), tmp, "o_orderstatus")
      Manifest.addBloomIndex(s, tmp, "o_orderkey")
      val keys = Seq(1L, 2L, 3L, 5L, 8L)
      // the six point lookups are independent read-only probes of the
      // final layout — overlap their per-call bloom-position jobs
      val allLookups = Par.all((keys :+ -99L).map(kv =>
        () => Manifest.readPoint(s, tmp, "o_orderkey", kv)))
      val lookups = allLookups.init
      val rows = lookups.zip(keys).map { case ((df, _, _), kv) =>
        df.filter(col("o_orderkey") === kv)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice")
      }.reduce(_ unionByName _)
      val noskip = lookups.exists { case (_, listed, total) =>
        listed * 2 > total }
      val (ghostDf, _, _) = allLookups.last
      // final layout state — the absent-key probe rides the final job
      val ghost = ghostDf.filter(col("o_orderkey") === -99L)
      // the distributed bitset probe (census threshold 0) must admit
      // exactly the same files and rows as the driver probe; the file
      // censuses are eager driver work inside readPoint, the row diff
      // defers to the final job (both reads pin their file lists here)
      val (dDf, dListed, dTotal) = lookups.head
      val (xDf, xListed, xTotal) =
        Scoped.withConf(s, "graft.manifest.driverCensusMaxFiles" -> "0") { d =>
          val (df, listed, total) = Manifest.readPoint(d, tmp, "o_orderkey", keys.head)
          (Scoped.rebind(df, s), listed, total)
        }
      refereed(rows, "o_orderstatus")(
          flag("NOSKIP", noskip),
          flag("GHOST", ghost),
          flag("PATH_DIVERGED", xListed != dListed || xTotal != dTotal),
          flag("PATH_DIVERGED",
            xDf.exceptAll(dDf).unionAll(dDf.exceptAll(xDf))))
        .orderBy("o_orderkey")
    }),

    // CHANGE DATA FEED between manifest versions (Delta's
    // table_changes): immutable files make the row delta equal the
    // FILE delta — v1→v3 reads only the files the lifecycle touched
    // (the appended synthetic day and both generations of the
    // overwritten 2024-01-05), never the table. An overwrite surfaces
    // as delete+insert; the self-feed v1→v1 must be EMPTY
    // (SELF_NONEMPTY). Census per (_change, dt), hash-gated against
    // the oracle's lifecycle restatement.
    "q370_change_feed" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdf").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("value", col("value") + 1000.0)
      Manifest.append(extra, tmp, "dt")
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")
      val feed = Manifest.changesBetween(s, tmp, 1, 3)
      // fixed-version feeds over an unvacuumed layout — lazy probe
      val selfNonEmpty = Manifest.changesBetween(s, tmp, 1, 1)
      val census = feed.groupBy(col("_change"),
          col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "_change")(flag("SELF_NONEMPTY", selfNonEmpty))
        .orderBy("_change", "dt")
    }),

    // CDC REPLICATION (the consumer of q370's feed): a downstream
    // replica reconstructs the latest snapshot by folding each
    // consecutive version's change feed onto the v1 snapshot —
    // replica ∖ deletes ∪ inserts, multiset semantics, one step per
    // version. Proves the feed COMPOSES (every intermediate version's
    // feed is complete), which the single v1→v3 diff of q370 cannot.
    // The lifecycle adds a purge step on top of q370's (append +
    // overwrite), so delete-heavy feeds replicate too. In-gate:
    // replica ≡ the direct snapshot read, exact rows both ways
    // (REPLICA_DIVERGED); census hash-gated against the lifecycle
    // restatement.
    "q372_cdf_replica" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdf_replica").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("value", col("value") + 1000.0)
      Manifest.append(extra, tmp, "dt")
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")
      Manifest.purge(s, tmp, "dt", col("user_id").isin(3L, 7L))
      // the replica feeds the census AND both diff directions — one
      // materialization; the diff reads only it and the final layout
      // state, so it rides the final job as a lazy sentinel instead of
      // a driver-blocking count
      val replica = Manifest.replicateFromFeed(s, tmp).cutLineage
      val direct = Manifest.read(s, tmp)
      val diverged = replica.exceptAll(direct)
        .unionAll(direct.exceptAll(replica))
      val census = replica.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(flag("REPLICA_DIVERGED", diverged))
        .orderBy("dt")
    }),

    // ZERO-COPY BRANCHES (git-for-data over the manifest layer): two
    // dev branches fork from main v1 without copying a byte
    // (BRANCH_COPIED fires if branch-create materialized any data
    // file). Branch dev doubles 2024-01-03; main — concurrently —
    // triples 2024-01-05; dev2 (also forked at v1) touches 01-05 too.
    // Main must stay byte-stable under branch work (MAIN_LEAKED), the
    // dev merge lands because its changes are disjoint from main's
    // movement since the fork, and the dev2 merge must FAIL loudly
    // (NO_CONFLICT) and mutate nothing (LOSER_MUTATED). Final main
    // census = 01-03 doubled + 01-05 tripled, hash-gated.
    "q369_branch_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_branch").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      def day(d: String) = col("dt") === lit(d).cast("date")
      Manifest.branchCreate(s, tmp, "dev")
      Manifest.branchCreate(s, tmp, "dev2")
      val copied = java.nio.file.Files.exists(
        java.nio.file.Paths.get(Manifest.branchDir(tmp, "dev"), "data"))
      Manifest.overwritePartitions(
        ev.filter(day("2024-01-03")).withColumn("value", col("value") * 2),
        Manifest.branchDir(tmp, "dev"), "dt")
      // Manifest.read pins its version at construction and this gate
      // never vacuums — the isolation probe rides the final job lazily
      val mainLeaked = Manifest.read(s, tmp).exceptAll(ev)
        .unionAll(ev.exceptAll(Manifest.read(s, tmp)))
      Manifest.overwritePartitions(
        ev.filter(day("2024-01-05")).withColumn("value", col("value") * 3),
        tmp, "dt")
      val vMerge = Manifest.branchMergeInto(s, tmp, "dev")
      Manifest.overwritePartitions(
        ev.filter(day("2024-01-05")).withColumn("value", lit(-1.0)),
        Manifest.branchDir(tmp, "dev2"), "dt")
      val conf = s.sparkContext.hadoopConfiguration
      val conflicted = try {
        Manifest.branchMergeInto(s, tmp, "dev2"); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("merge conflict") }
      val vAfter = Manifest.latestVersion(tmp, conf)
      val census = Manifest.read(s, tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("BRANCH_COPIED", copied),
          flag("MAIN_LEAKED", mainLeaked),
          flag("NO_CONFLICT", !conflicted),
          flag("LOSER_MUTATED", vAfter != vMerge))
        .orderBy("dt")
    }),

    // TTL RETENTION SWEEP — policy-driven expiry over deletion vectors
    // (the scheduled governance job: clicks keep 5 days, views 10, the
    // rest forever, relative to the dataset's own max date): the sweep
    // is merge-on-read (files byte-stable — MOR_REWROTE), the live
    // read drops exactly the expired classes' old rows (hash-gated
    // census), a second sweep at the same as-of finds nothing
    // (NOT_IDEMPOTENT), and the deferred applyDeletes folds the DV in
    // without changing the census (APPLY_DIVERGED). The as-of anchor
    // derives from max(ts), so the fixture scales with any SF.
    "q363_ttl_sweep_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ttl").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val asOf = ev.agg(max(to_date(col("ts")))).head().getDate(0)
        .toString
      val policy = Map("click" -> 5, "view" -> 10)
      val files1 = Manifest.read(s, tmp).inputFiles.toSet
      val n1 = Manifest.ttlSweep(s, tmp, "event_type", "ts", policy, asOf)
      val files2 = Manifest.read(s, tmp).inputFiles.toSet
      val n2 = Manifest.ttlSweep(s, tmp, "event_type", "ts", policy, asOf)
      val live = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos").cutLineage
      Manifest.applyDeletes(s, tmp, "dt")
      val applied = Manifest.read(s, tmp)
      // `live` is pinned pre-apply and `applied` reads the final layout
      // state — the divergence diff rides the final job lazily
      val applyDiverged = live.exceptAll(applied)
        .unionAll(applied.exceptAll(live))
      val census = applied.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "event_type")(
          flag("MOR_REWROTE", n1 == 0 || files2 != files1),
          flag("NOT_IDEMPOTENT", n2 != 0),
          flag("APPLY_DIVERGED", applyDiverged))
        .orderBy("event_type")
    }),

    // DELETION VECTORS — merge-on-read row deletes (the Delta/Iceberg
    // DV mechanism; q177/q355 are the copy-on-write alternative): a
    // delete writes ONLY a (file, row-position) list + a manifest
    // bump; data files never move (MOR_REWROTE fires if the file set
    // changed). Two deletes accumulate (users 3/7, then all 'error'
    // events — NOT_CUMULATIVE checks stage-2 live ≡ stage-1 live minus
    // the error rows, exact rows); time travel at v1 still reads the
    // FULL table (TT_DIVERGED); `applyDeletes` then folds the DV into
    // a copy-on-write rewrite and drops it (DV_NOT_DROPPED). Final
    // per-day census of the post-apply snapshot is hash-gated — the
    // oracle restates both victim predicates over raw events.
    "q358_deletion_vectors" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dv").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val files1 = Manifest.read(s, tmp).inputFiles.toSet
      val n1 = Manifest.deleteRows(s, tmp, col("user_id").isin(3L, 7L))
      val files2 = Manifest.read(s, tmp).inputFiles.toSet
      val live1 = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos").cutLineage
      val n2 = Manifest.deleteRows(s, tmp, col("event_type") === "error")
      // readWithDeletes pins its version at construction and this
      // gate never vacuums, so the stage-2/TT snapshots stay readable
      // after applyDeletes — all three diffs ride the final job as
      // lazy sentinels (they were three driver-blocking counts)
      val live2 = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
      val expected2 = live1.filter(col("event_type") =!= "error")
      val cumulativeProbe = live2.exceptAll(expected2)
        .unionAll(expected2.exceptAll(live2))
      val tt = Manifest.readWithDeletes(s, tmp, version = 1)
        .drop("__file", "__pos")
      val ttProbe = tt.exceptAll(ev).unionAll(ev.exceptAll(tt))
      val applied = Manifest.applyDeletes(s, tmp, "dt")
      val conf = s.sparkContext.hadoopConfiguration
      val dvProbe = Manifest.deletionVector(s, tmp,
        Manifest.latestVersion(tmp, conf))
      val census = Manifest.read(s, tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("MOR_REWROTE", n1 == 0 || files2 != files1),
          flag("NOT_CUMULATIVE", n2 == 0),
          flag("NOT_CUMULATIVE", cumulativeProbe),
          flag("TT_DIVERGED", ttProbe),
          flag("DV_NOT_DROPPED", !applied),
          flag("DV_NOT_DROPPED", dvProbe))
        .orderBy("dt")
    }),

    // DESCRIBE HISTORY — the audit trail read back from manifest
    // headers alone (zero data bytes): a fixed eight-step lifecycle
    // (create, append, batch-stamped append, overwrite, MOR delete,
    // apply, compact, restore) must read back as exactly those eight
    // (version, op, batch, dv-delta-count) rows — the oracle is the
    // literal expected trail.
    "q384_history_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_history").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")                                 // 1
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
      Manifest.append(extra, tmp, "dt")                              // 2
      Manifest.commitBatch(extra.withColumn("dt",
        lit("2024-02-02").cast("date")), tmp, "dt", batchId = 42L)   // 3
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")         // 4
      Manifest.deleteRows(s, tmp, col("user_id").isin(3L, 7L))       // 5
      Manifest.applyDeletes(s, tmp, "dt")                            // 6
      Manifest.compact(s, tmp, "dt")                                 // 7
      Manifest.restore(s, tmp, 2)                                    // 8
      Manifest.history(s, tmp)
        .select("version", "op", "batch_id", "n_dv_deltas")
        .orderBy("version")
    }),

    // MANIFEST PARQUET CHECKPOINT — the distributed entry census (the
    // Delta/Iceberg move): every other manifest consumer parses entry
    // lines on the driver, which is the layer's 100 TB ceiling (at
    // 10^6-10^7 files the driver becomes a single-threaded JSON
    // parser). `checkpoint` materializes the latest entry relation as
    // parquet; `entriesRelation` serves censuses from it as a
    // DataFrame — executors parse, the driver holds headers only. The
    // gate builds a two-commit layout, diffs the DISTRIBUTED manifest
    // parse against the checkpoint read (PARSE_DIVERGED — they must be
    // the same relation), reconstructs the TABLE CONTENT from the
    // checkpoint's file list alone (the census read path — the oracle
    // restates it over events), and pins the maintenance contract:
    // re-checkpointing is a no-op (CKPT_STALE) and a post-checkpoint
    // commit is never served from the stale checkpoint (STALE_SERVED).
    "q387_manifest_checkpoint_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ckpt").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
      Manifest.append(extra, tmp, "dt")
      val conf = s.sparkContext.hadoopConfiguration
      // the distributed manifest parse, pinned BEFORE any checkpoint
      val parsed = Manifest.entriesRelation(s, tmp).cutLineage
      val v = Manifest.checkpoint(s, tmp)
      val ckptStale = v != Manifest.latestVersion(tmp, conf) ||
        Manifest.lastCheckpoint(tmp, conf) != v ||
        Manifest.checkpoint(s, tmp) != v // idempotent re-checkpoint
      val viaCkpt = Manifest.entriesRelation(s, tmp)
      // the checkpoint parquet is immutable and `parsed` is pinned —
      // the parse diff rides the final job lazily
      val parseDiverged = viaCkpt.exceptAll(parsed)
        .unionAll(parsed.exceptAll(viaCkpt))
      // table content reconstructed from the checkpoint relation's
      // file list ALONE (immutable data files make the list a snapshot)
      val files = viaCkpt.select("file").collect()
        .map(r => s"$tmp/${r.getString(0)}")
      val census = s.read.option("mergeSchema", "true").parquet(files: _*)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      // a commit after the checkpoint must be served by the live parse,
      // never the stale checkpoint — both counts fold into one lazy
      // probe (post-append entry census vs the pinned checkpoint census)
      Manifest.append(extra.withColumn("dt",
        lit("2024-02-02").cast("date")), tmp, "dt")
      val staleProbe = Manifest.entriesRelation(s, tmp)
        .agg(count(lit(1)).as("c2"))
        .crossJoin(parsed.agg(count(lit(1)).as("c1")))
        .filter(col("c2") <= col("c1"))
      refereed(census, "dt")(
          flag("CKPT_STALE", ckptStale),
          flag("PARSE_DIVERGED", parseDiverged),
          flag("STALE_SERVED", staleProbe))
        .orderBy("dt")
    }),

    // SQL FRONT-END for the lakehouse verbs (the q53 move pointed at
    // the manifest layer): `graft_history('dir')` and
    // `graft_snapshot('dir', v)` are session-registered TABLE functions
    // resolving to the exact plans the Scala APIs build, so DESCRIBE
    // HISTORY and DV-aware time travel are reachable from `spark.sql`
    // text — the gap between "a lakehouse library" and "a lakehouse".
    // In-gate referees: SQL history ≡ the API relation
    // (SQL_HISTORY_DIVERGED), SQL snapshot at v1 ≡ the created base
    // (TT_DIVERGED). The emitted census reads the LATEST snapshot
    // through SQL text — post-append, post-MOR-delete — and the oracle
    // restates it over events.
    "q388_sql_lakehouse_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqllake").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
      Manifest.append(extra, tmp, "dt")
      Manifest.deleteRows(s, tmp, col("user_id").isin(3L, 7L))
      graft.GraftSession.tune(s) // table functions registered
      // all lifecycle verbs precede the referees and nothing vacuums —
      // both divergence diffs ride the final job as lazy sentinels
      val sqlHist = s.sql(s"SELECT * FROM graft_history('$tmp')")
      val apiHist = Manifest.history(s, tmp)
      val histDiverged = sqlHist.exceptAll(apiHist)
        .unionAll(apiHist.exceptAll(sqlHist))
      val sqlV1 = s.sql(s"SELECT * FROM graft_snapshot('$tmp', 1)")
      val ttDiverged = sqlV1.exceptAll(ev).unionAll(ev.exceptAll(sqlV1))
      val census = s.sql(
        s"""SELECT CAST(dt AS STRING) AS dt, COUNT(*) AS n,
           |  ROUND(SUM(value), 2) AS sum_value
           |FROM graft_snapshot('$tmp', -1)
           |GROUP BY dt""".stripMargin)
      refereed(census, "dt")(
          flag("SQL_HISTORY_DIVERGED", histDiverged),
          flag("TT_DIVERGED", ttDiverged))
        .orderBy("dt")
    }),

    // DESCRIBE DETAIL — the table-level inspection verb (history shows
    // the trail, detail shows the current shape): version + op from
    // the header, file count header-carried (zero entry parsing),
    // partition count from an entry census (q387's read path above
    // the census threshold), DV-delta and checkpoint-coverage counts. Reached
    // through SQL text (graft_detail). The deterministic columns are
    // oracle-pinned; the parallelism-dependent file count is refereed
    // in-gate against the entry relation (N_FILES_DIVERGED).
    "q391_manifest_detail_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_detail").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      Manifest.append(
        ev.filter(col("dt") === lit("2024-01-01").cast("date"))
          .withColumn("dt", lit("2024-02-01").cast("date")), tmp, "dt")
      Manifest.deleteRows(s, tmp, col("user_id").isin(3L, 7L))
      Manifest.checkpoint(s, tmp)
      graft.GraftSession.tune(s)
      val d = s.sql(s"SELECT * FROM graft_detail('$tmp')")
        .cutLineage
      val row = d.head()
      // final layout state — the entry-census cross-check rides the
      // final job as a lazy probe instead of a driver-blocking count
      val nFilesProbe = Manifest.entriesRelation(s, tmp)
        .agg(count(lit(1)).as("c"))
        .filter(col("c") =!= lit(row.getLong(2)))
      refereed(d.select(col("version"), col("op"), col("n_partitions"),
          col("n_dv_deltas"), col("checkpoint_version")), "op")(
          flag("N_FILES_DIVERGED", nFilesProbe))
        .orderBy("version")
    }),

    // SQL WRITE VERBS × DISTRIBUTED ENTRY CENSUS — the round-16 pair:
    // (a) the GRAFT write grammar (MERGE INTO / DELETE FROM / OPTIMIZE /
    // CHECKPOINT / VACUUM) drives the whole lifecycle from SQL text,
    // and (b) the gate runs with graft.manifest.driverCensusMaxFiles=0,
    // so EVERY entry census and carry-forward commit is served from the
    // distributed entry relation (checkpoint parquet / executor text
    // parse) instead of the driver regex parse — the 100 TB read path,
    // content-gated against the oracle. In-gate referees: the injected
    // parser door (spark.sql) and the GraftSql.run door agree
    // (DOOR_DIVERGED), OPTIMIZE folds the DV (DV_NOT_FOLDED), vacuum
    // reclaims superseded manifests without moving the snapshot
    // (VACUUM_BROKE).
    "q392_sql_census_gate" -> ((caller, dir) => Scoped.withConf(caller,
        "graft.manifest.driverCensusMaxFiles" -> "0") { s =>
      import graft.operators.Manifest
      import graft.plans.GraftSql
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqlverbs").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") <= 20)
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      // MERGE source: user 3's rows update (value x10), user 5's
      // re-land as Feb inserts (shifted ids), user 7's rows delete
      ev.filter(col("user_id") === 3)
        .withColumn("value", col("value") * 10)
        .withColumn("__del", lit(false))
        .unionByName(ev.filter(col("user_id") === 5)
          .withColumn("event_id", col("event_id") + 10000000L)
          .withColumn("dt", lit("2024-02-01").cast("date"))
          .withColumn("__del", lit(false)))
        .unionByName(ev.filter(col("user_id") === 7)
          .withColumn("__del", lit(true)))
        .createOrReplaceTempView("q392_src")
      GraftSql.run(s, s"GRAFT MERGE INTO '$tmp' PARTITION BY dt " +
        "USING q392_src ON event_id DELETE WHEN __del")
      GraftSql.run(s, s"GRAFT DELETE FROM '$tmp' WHERE user_id = 9")
      GraftSql.run(s, s"GRAFT OPTIMIZE '$tmp' PARTITION BY dt")
      val conf = s.sparkContext.hadoopConfiguration
      val dvNotFolded = Manifest.readHeader(tmp,
        Manifest.latestVersion(tmp, conf), conf).dv.nonEmpty
      // both SQL doors must answer identically (the injected parser
      // is present on GraftSession-built sessions; a foreign session
      // without it legitimately skips the cross-check)
      val viaRun = GraftSql.run(s, s"GRAFT CHECKPOINT '$tmp'")
        .head().getLong(0)
      val doorDiverged = (try
          Some(s.sql(s"GRAFT CHECKPOINT '$tmp'").head().getLong(0))
        catch { case _: org.apache.spark.sql.catalyst.parser.ParseException =>
          None }).exists(_ != viaRun)
      val nBefore = Manifest.readWithDeletes(s, tmp).count()
      val vac = GraftSql.run(s, s"GRAFT VACUUM '$tmp'").head()
      // the post-vacuum row-count check reads final state — it rides
      // the final job as a lazy probe, OR-ed (one flag name) with the
      // driver-side receipt check so the referee fires once either way
      val vacuumProbe = Manifest.readWithDeletes(s, tmp)
        .agg(count(lit(1)).as("c")).filter(col("c") =!= nBefore)
      val census = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      Scoped.rebind(refereed(census, "dt")(
          flag("DV_NOT_FOLDED", dvNotFolded),
          flag("DOOR_DIVERGED", doorDiverged),
          flag("VACUUM_BROKE", vac.getLong(1) <= 0L),
          flag("VACUUM_BROKE", vacuumProbe))
        .orderBy("dt"), caller)
    }),

    // NO-MATCH DELETE-BATCH REPLAY PROTECTION — the round-15 advisory
    // hole: a streamed delete batch whose keys match NO live rows used
    // to vanish without a stamp, so an at-least-once redelivery landing
    // AFTER later appends brought rows with those keys would delete
    // rows the original delivery never touched. Now the no-match batch
    // commits a stamped "delete-noop" version; the redelivery is a
    // pinned no-op. Referees: the stamp exists post-delivery
    // (NOT_STAMPED), the noop version is in the trail (NO_NOOP_OP), and
    // the redelivered batch deletes nothing (REPLAY_DELETED). The
    // emitted census (per-user counts incl. the late-landing rows) is
    // oracle-restated.
    "q393_delete_noop_replay" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_noopdel").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") <= 10)
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val conf = s.sparkContext.hadoopConfiguration
      // delivery 1: delete keys that do NOT exist yet (future ids)
      val keys = ev.filter(col("user_id") === 4)
        .select((col("event_id") + 20000000L).as("event_id"))
      val committed = Manifest.deleteKeysBatch(s, tmp, keys,
        Seq("event_id"), batchId = 11L)
      val notStamped = committed ||
        !Manifest.committedBatches(tmp, conf).contains(11L)
      // the noop-version trail probe reads header state later verbs
      // only ever append to (exactly one delete-noop either way in the
      // green path) — lazy probe in the final job
      val noNoopOp = Manifest.history(s, tmp)
        .filter(col("op") === "delete-noop")
        .agg(count(lit(1)).as("c")).filter(col("c") =!= 1L)
      // later: rows with exactly those keys land
      Manifest.append(ev.filter(col("user_id") === 4)
        .withColumn("event_id", col("event_id") + 20000000L), tmp, "dt")
      // at-least-once redelivery of batch 11 must delete NOTHING
      val n1 = Manifest.readWithDeletes(s, tmp).count()
      Manifest.deleteKeysBatch(s, tmp, keys, Seq("event_id"),
        batchId = 11L)
      // post-redelivery state is final — lazy probe against the pinned
      // pre-redelivery count
      val replayDeleted = Manifest.readWithDeletes(s, tmp)
        .agg(count(lit(1)).as("c")).filter(col("c") =!= lit(n1))
      val census = Manifest.readWithDeletes(s, tmp)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .withColumn("user_id", col("user_id").cast("string"))
      refereed(census, "user_id")(
          flag("NOT_STAMPED", notStamped),
          flag("NO_NOOP_OP", noNoopOp),
          flag("REPLAY_DELETED", replayDeleted))
        .orderBy("user_id")
    }),

    // SQL BRANCH + APPLY DELETES — the remaining write verbs under
    // oracle gating (q392 covers MERGE/DELETE/OPTIMIZE/CHECKPOINT/
    // VACUUM): a MOR delete folds copy-on-write through
    // `GRAFT APPLY DELETES` (NOT_APPLIED if the DV survives or the
    // fold reports otherwise), a zero-copy branch forks via
    // `GRAFT BRANCH CREATE`, commits stay invisible to main until
    // `GRAFT BRANCH MERGE` lands them as ONE main commit
    // (MAIN_LEAKED pins the isolation). Final per-day census
    // oracle-restated.
    "q394_sql_branch_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      import graft.plans.GraftSql
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqlbranch").toString
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") <= 15)
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      GraftSql.run(s, s"GRAFT DELETE FROM '$tmp' WHERE user_id = 2")
      val applyRow = GraftSql.run(s,
        s"GRAFT APPLY DELETES '$tmp' PARTITION BY dt").head()
      val conf = s.sparkContext.hadoopConfiguration
      val notApplied = applyRow.getLong(0) != 1L ||
        Manifest.readHeader(tmp,
          Manifest.latestVersion(tmp, conf), conf).dv.nonEmpty
      GraftSql.run(s, s"GRAFT BRANCH CREATE '$tmp' exp")
      Manifest.append(ev.filter(col("user_id") === 1)
          .withColumn("dt", lit("2024-02-01").cast("date")),
        Manifest.branchDir(tmp, "exp"), "dt")
      // branch commits must be invisible on main until the merge —
      // Manifest.read pins its pre-merge version at construction and
      // nothing vacuums, so the probe rides the final job lazily
      val mainLeaked = Manifest.read(s, tmp)
        .filter(col("dt") === lit("2024-02-01").cast("date"))
      GraftSql.run(s, s"GRAFT BRANCH MERGE '$tmp' exp")
      val census = Manifest.readWithDeletes(s, tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("NOT_APPLIED", notApplied),
          flag("MAIN_LEAKED", mainLeaked))
        .orderBy("dt")
    }),

    // SQL FORGET-LIST PURGE (round 17 — the RTBF verb): a key RELATION
    // of victim users drives `GRAFT PURGE KEYS` over a plain
    // partitioned layout (the q177 shape, purge re-expressed as SQL
    // text): the verb's receipt must equal the true victim count
    // (WRONG_COUNT), a redelivered purge with the same forget list
    // removes nothing (NOT_IDEMPOTENT — exercised through the
    // injected-parser door where present, the run door otherwise), and
    // the surviving census is the q177 oracle restated.
    "q395_sql_purge_keys_gate" -> ((s, dir) => {
      import graft.plans.GraftSql
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqlpk").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      ev.write.mode("overwrite").partitionBy("dt").parquet(tmp)
      ev.filter(col("user_id").isin(3L, 7L)).select("user_id").distinct()
        .createOrReplaceTempView("q395_keys")
      val stmt = s"GRAFT PURGE KEYS '$tmp' PARTITION BY dt " +
        "USING q395_keys ON user_id"
      val purged = GraftSql.run(s, stmt).head().getLong(0)
      // the true victim count reads source state nothing mutates —
      // the receipt cross-check rides the final job as a lazy probe
      val wrongCount = ev.filter(col("user_id").isin(3L, 7L))
        .agg(count(lit(1)).as("c")).filter(col("c") =!= lit(purged))
      val rerun = (try s.sql(stmt)
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            GraftSql.run(s, stmt)
        }).head().getLong(0)
      val notIdempotent = rerun != 0L
      val census = s.read.parquet(tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          sum(when(col("user_id").isin(3L, 7L), 1L).otherwise(0L))
            .as("n_victim_rows"))
      refereed(census, "dt")(
          flag("WRONG_COUNT", wrongCount),
          flag("NOT_IDEMPOTENT", notIdempotent))
        .orderBy("dt")
    }),

    // SQL INDEX BUILDS (round 17): `GRAFT ADD BLOOM INDEX` / `GRAFT
    // ADD DISTINCT SKETCH` drive the convergence-looped maintenance
    // passes from SQL text. Referees: the point lookups behind the
    // q359 oracle rows skip (NOSKIP), a re-add of either index reports
    // ZERO passes (NOT_CONVERGED — the idempotence receipt), and the
    // sketch answers the table-wide NDV within the estimator bound
    // (ERR_BOUND).
    "q396_sql_index_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      import graft.plans.GraftSql
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqlidx").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Manifest.create(o.repartition(32), tmp, "o_orderstatus")
      val bloomStmt = s"GRAFT ADD BLOOM INDEX '$tmp' ON o_orderkey"
      val sketchStmt = s"GRAFT ADD DISTINCT SKETCH '$tmp' ON o_custkey"
      def sql(stmt: String) = (try s.sql(stmt)
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            GraftSql.run(s, stmt)
        }).head()
      val built = GraftSql.run(s, bloomStmt).head().getLong(0) >= 1L &&
        sql(sketchStmt).getLong(0) >= 1L
      val notConverged = !built || sql(bloomStmt).getLong(0) != 0L ||
        GraftSql.run(s, sketchStmt).head().getLong(0) != 0L
      val keys = Seq(1L, 2L, 3L, 5L, 8L)
      // the five point lookups are independent read-only probes of the
      // final layout — overlap their per-call bloom-position jobs and
      // manifest reads
      val lookups = Par.all(keys.map(kv =>
        () => Manifest.readPoint(s, tmp, "o_orderkey", kv)))
      val rows = lookups.zip(keys).map { case ((df, _, _), kv) =>
        df.filter(col("o_orderkey") === kv)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice")
      }.reduce(_ unionByName _)
      val noskip = lookups.exists { case (_, listed, total) =>
        listed * 2 > total }
      val (est, _) = Manifest.approxDistinct(s, tmp)
      // the exact NDV reads source state nothing mutates — lazy probe
      // against the sketch's driver-side estimate
      val errProbe = o.agg(countDistinct("o_custkey").as("c"))
        .filter(abs(lit(est) - col("c")) / col("c") > 0.08)
      refereed(rows, "o_orderstatus")(
          flag("NOSKIP", noskip),
          flag("NOT_CONVERGED", notConverged),
          flag("ERR_BOUND", errProbe))
        .orderBy("o_orderkey")
    }),

    // SQL TTL RETENTION (round 17): `GRAFT TTL SWEEP` runs the
    // per-class retention policy from its literal SQL grammar
    // (POLICY 'click'=5, 'view'=10 AS OF the table's max date — the
    // q363 policy verbatim). Referees mirror q363: the sweep is
    // merge-on-read (MOR_REWROTE if any data file moved or nothing
    // swept), a re-sweep deletes nothing (NOT_IDEMPOTENT), and
    // `GRAFT APPLY DELETES` folds the DV to exactly the pre-apply live
    // rows (APPLY_DIVERGED). Census shares q363's oracle.
    "q397_sql_ttl_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      import graft.plans.GraftSql
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sqlttl").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val asOf = ev.agg(max(to_date(col("ts")))).head().getDate(0)
        .toString
      val stmt = s"GRAFT TTL SWEEP '$tmp' CLASS event_type TIME ts " +
        s"POLICY 'click'=5, 'view'=10 AS OF '$asOf'"
      val files1 = Manifest.read(s, tmp).inputFiles.toSet
      val n1 = GraftSql.run(s, stmt).head().getLong(0)
      val files2 = Manifest.read(s, tmp).inputFiles.toSet
      val n2 = (try s.sql(stmt)
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException =>
            GraftSql.run(s, stmt)
        }).head().getLong(0)
      val live = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos").cutLineage
      GraftSql.run(s, s"GRAFT APPLY DELETES '$tmp' PARTITION BY dt")
      val applied = Manifest.read(s, tmp)
      // pinned pre-apply `live` vs the final layout state — lazy probe
      val applyDiverged = live.exceptAll(applied)
        .unionAll(applied.exceptAll(live))
      val census = applied.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "event_type")(
          flag("MOR_REWROTE", n1 == 0 || files2 != files1),
          flag("NOT_IDEMPOTENT", n2 != 0),
          flag("APPLY_DIVERGED", applyDiverged))
        .orderBy("event_type")
    }),

    // MANIFEST-ONLY DISTINCT COUNTS — per-file KMV sketches (exact
    // union-truncate merge algebra) ride the manifest like the Bloom
    // index, so "how many distinct customers in these partitions?" is
    // answered from the manifest alone: zero data bytes at question
    // time. Gate: per-status exact distinct census (hash-gated) +
    // estimator error bound per status AND overall (ERR_BOUND), an
    // all-sketched refresh is a no-op (NOT_CONVERGED), and after an
    // append the un-refreshed question fails LOUDLY instead of
    // silently under-counting (SILENT_STALE) while a refresh sketches
    // only the new files and restores service (REFRESH_BROKEN).
    "q382_manifest_ndv_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ndv").toString
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      Manifest.create(o.repartition(16), tmp, "o_orderstatus")
      Manifest.addDistinctSketch(s, tmp, "o_custkey", k = 1024)
      val exact = o.groupBy("o_orderstatus")
        .agg(countDistinct("o_custkey").as("n_distinct"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val errs = exact.keys.toSeq.map { st =>
        val (est, _) = Manifest.approxDistinct(s, tmp, Seq(st))
        math.abs(est - exact(st)) / math.max(exact(st), 1L)
      }
      val exactAll = o.agg(countDistinct("o_custkey")).head().getLong(0)
      val (estAll, _) = Manifest.approxDistinct(s, tmp)
      val errAll = math.abs(estAll - exactAll) / exactAll
      val errBound = (errs :+ errAll).exists(_ > 0.08)
      val notConverged = Manifest.addDistinctSketch(s, tmp, "o_custkey",
        k = 1024)
      // new commit -> stale sketch must be LOUD, refresh must restore
      Manifest.append(o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L),
        tmp, "o_orderstatus")
      val silentStale = try { Manifest.approxDistinct(s, tmp); true }
        catch { case e: IllegalArgumentException =>
          !e.getMessage.contains("addDistinctSketch") }
      val refreshBroken = {
        val did = Manifest.addDistinctSketch(s, tmp, "o_custkey", k = 1024)
        val (est2, _) = Manifest.approxDistinct(s, tmp)
        !did || math.abs(est2 - exactAll) / exactAll > 0.08
      }
      // union-truncate is exact set algebra, so the distributed merge
      // (census threshold 0) must land the BIT-IDENTICAL estimate
      val ndvPathDiverged = {
        val (d, _) = Manifest.approxDistinct(s, tmp)
        val (x, _) = Scoped.withConf(s,
          "graft.manifest.driverCensusMaxFiles" -> "0")(Manifest.approxDistinct(_, tmp))
        x != d
      }
      val census = o.groupBy("o_orderstatus")
        .agg(countDistinct("o_custkey").as("n_distinct"))
      refereed(census, "o_orderstatus")(
          flag("ERR_BOUND", errBound),
          flag("NOT_CONVERGED", notConverged),
          flag("SILENT_STALE", silentStale),
          flag("REFRESH_BROKEN", refreshBroken),
          flag("NDV_PATH_DIVERGED", ndvPathDiverged))
        .orderBy("o_orderstatus")
    }),

    // STREAMING UPSERT (apply-changes): a document stream drives
    // per-micro-batch MERGE commits into a manifested layout — each
    // batch's rows compile to keyed deletes (doc_id≡1 mod 7), updates
    // (≡0 mod 3, +1000 chars) and shifted-key inserts (≡2 mod 5, into
    // a 'synthetic' source partition), stamped with the batch id so a
    // redelivered batch applies nothing (REPLAYED). The drained table
    // must equal the batch restatement (hash gate) — the streaming
    // half of q376.
    "q379_stream_upsert_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_upsert").toString
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      Manifest.create(docs, tmp, "source")
      val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
      val replayed = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = graft.streaming.DocumentStreams.readDocumentsStream(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            batchId: Long) =>
          val dels = batch.filter(col("doc_id") % 7 === 1)
            .withColumn("_d", lit(true))
          val ups = batch.filter(col("doc_id") % 3 === 0 &&
              col("doc_id") % 7 =!= 1)
            .withColumn("n_chars", col("n_chars") + 1000L)
            .withColumn("_d", lit(false))
          val ins = batch.filter(col("doc_id") % 5 === 2)
            .withColumn("doc_id", col("doc_id") + off)
            .withColumn("source", lit("synthetic"))
            .withColumn("n_chars", col("n_chars") + 500L)
            .withColumn("_d", lit(false))
          val feed = dels.unionByName(ups).unionByName(ins)
          Manifest.mergeBatch(s, tmp, "source", feed, Seq("doc_id"),
            batchId, deleteCol = "_d")
          // delivery retry: the SAME batch id arrives again
          if (Manifest.mergeBatch(s, tmp, "source", feed, Seq("doc_id"),
              batchId, deleteCol = "_d"))
            replayed.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val census = Manifest.read(s, tmp).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"))
      refereed(census, "source")(flag("REPLAYED", replayed.get() > 0))
        .orderBy("source")
    }),

    // STREAMING MERGE-ON-READ DELETE — the ingestion-door twin of the
    // q358 DV lifecycle (and the delete sibling of q379's streaming
    // upsert): a CDC-shaped feed delivers delete KEYS per micro-batch,
    // and `deleteKeysBatch` applies each batch as one batch-stamped DV
    // commit — keyed semi-join victims (a million-key batch is a
    // shuffle join, never a million-term predicate), no data file ever
    // moves (MOR_REWROTE), and a re-delivered batch id applies nothing
    // (REPLAYED — pinned by a same-id double apply inside the drain).
    // On the bounded drain the live table equals events minus the
    // victim predicates, which is q358's oracle restated pre-apply.
    "q389_stream_mor_delete" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_stream_dv").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      val files1 = Manifest.read(s, tmp).inputFiles.toSet
      val replayed = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = graft.streaming.EventStreams.readEventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            batchId: Long) =>
          val keys = batch
            .filter(col("event_type") === "error" ||
              col("user_id").isin(3L, 7L))
            .select("event_id")
          Manifest.deleteKeysBatch(s, tmp, keys, Seq("event_id"), batchId)
          // delivery retry: the SAME batch id arrives again
          if (Manifest.deleteKeysBatch(s, tmp, keys, Seq("event_id"),
              batchId))
            replayed.incrementAndGet()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      val files2 = Manifest.read(s, tmp).inputFiles.toSet
      val census = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("MOR_REWROTE", files2 != files1),
          flag("REPLAYED", replayed.get() > 0))
        .orderBy("dt")
    }),

    // Z-ORDER CLUSTERED MANIFEST (liquid clustering): each day's rows
    // rewrite along the Morton curve over (user_id, event_id) with
    // BOTH dimensions' per-file min/max in the manifest. A selective
    // 2-D box then lists a file fraction (NOSKIP if it reads most of
    // the table), and crucially a range on the SECOND dimension alone
    // also prunes (DIM2_NOSKIP) — the property a single-column sort
    // cannot give. Box rows are exact (hash-gated).
    "q380_zorder_manifest_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_zorder_manifest").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      Manifest.clusterZOrder(s, tmp, "dt", "user_id", "event_id",
        filesPerPartition = 4)
      val b = ev.agg(min("user_id"), max("user_id"), min("event_id"),
        max("event_id")).head()
      val (umn, umx, emn, emx) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      val (uHi, eHi) = (umn + (umx - umn) / 6, emn + (emx - emn) / 6)
      val (box, listed, total) = Manifest.readRange2(s, tmp, umn, uHi,
        emn, eHi)
      val rows = box
        .filter(col("user_id").between(umn, uHi) &&
          col("event_id").between(emn, eHi))
        .select(col("event_id"), col("user_id"),
          col("dt").cast("string").as("dt"), col("value"))
      // threshold honest for a genuinely 2-D distribution (the sf1
      // stress: event ids spread band-wise inside every day): 4-6
      // z-files per day, a 1/36 box admits ~1-2 per day at file
      // granularity -> well under half the files; a broken layout
      // (no second-dimension stats, or a linear sort serving only
      // dim 1) lists essentially all of them
      val noskip = listed * 2 > total
      val (_, listed2, total2) = Manifest.readRange2(s, tmp, umn, umx,
        emn, eHi)
      val dim2Noskip = listed2 >= total2
      refereed(rows, "dt")(
          flag("NOSKIP", noskip),
          flag("DIM2_NOSKIP", dim2Noskip))
        .orderBy("event_id")
    }),

    // MERGE INTO — the keyed upsert against a manifested layout
    // (update + insert + delete clauses in one commit): day 01-02
    // bumps user 1's values (update), a synthetic 02-01 day inserts
    // with shifted keys, and 01-04's error rows delete by key. Only
    // the three touched days may rewrite — every other day must keep
    // its exact bytes (UNTOUCHED_REWRITTEN), and a second identical
    // merge must be a near-no-op semantically (NOT_IDEMPOTENT: the
    // live read is unchanged — inserts re-match as same-value updates,
    // deletes find nothing). Census per day hash-gated against the
    // arithmetic restatement.
    "q376_manifest_merge_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_merge").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      def day(d: String) = col("dt") === lit(d).cast("date")
      val offset = ev.agg(max("event_id")).head().getLong(0) + 1L
      val updates = ev.filter(day("2024-01-02") && col("user_id") === 1L)
        .withColumn("value", col("value") + 5000.0)
        .withColumn("_d", lit(false))
      val inserts = ev.filter(day("2024-01-01"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("event_id", col("event_id") + offset)
        .withColumn("value", col("value") + 1000.0)
        .withColumn("_d", lit(false))
      val deletes = ev.filter(day("2024-01-04") &&
          col("event_type") === "error")
        .withColumn("_d", lit(true))
      val source = updates.unionByName(inserts).unionByName(deletes)
      val before = Manifest.read(s, tmp).inputFiles.toSet
      Manifest.merge(s, tmp, "dt", source, Seq("event_id"),
        deleteCol = "_d")
      val after = Manifest.read(s, tmp).inputFiles.toSet
      // only the matched/landing days may move — 01-01 is a SOURCE of
      // inserts but NOT an affected partition, so its bytes must stay
      val touchedDays = Set("2024-01-02", "2024-01-04", "2024-02-01")
      val untouchedRewritten = before.exists(f =>
        !after.contains(f) &&
          !touchedDays.exists(d => f.contains(s"__p=$d")))
      val live1 = Manifest.read(s, tmp).cutLineage
      Manifest.merge(s, tmp, "dt", source, Seq("event_id"),
        deleteCol = "_d")
      val live2 = Manifest.read(s, tmp)
      // live1 is pinned pre-remerge, live2 reads the final state — the
      // idempotence diff rides the final job as a lazy sentinel
      val notIdem = live2.exceptAll(live1)
        .unionAll(live1.exceptAll(live2))
      val census = live2.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("UNTOUCHED_REWRITTEN", untouchedRewritten),
          flag("NOT_IDEMPOTENT", notIdem))
        .orderBy("dt")
    }),

    // AUTO-COMPACTION POLICY (the OPTIMIZE trigger the streaming-
    // ingest sink needs): six micro-batch appends accrete six extra
    // files onto day 01-01; `autoCompact(maxFiles=4)` must rewrite
    // ONLY that day — every other day keeps its exact bytes
    // (UNTOUCHED_REWRITTEN) — down to one file (NOT_COMPACTED), decide
    // from the MANIFEST census alone, leave the content bit-stable
    // (hash gate), and converge (a second pass compacts nothing —
    // NOT_CONVERGED). Oracle restates the appended mass
    // arithmetically.
    "q377_auto_compact_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_autocompact").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev.repartition(2), tmp, "dt")
      val d1 = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
      (1 to 6).foreach { b =>
        Manifest.commitBatch(d1.withColumn("value", col("value") + b * 10.0)
          .repartition(1), tmp, "dt", batchId = b.toLong)
      }
      val before = Manifest.read(s, tmp).inputFiles.toSet
      val nHot = Manifest.autoCompact(s, tmp, "dt",
        maxFilesPerPartition = 4)
      val after = Manifest.read(s, tmp).inputFiles.toSet
      val untouchedRewritten = before.exists(f =>
        !after.contains(f) && !f.contains("__p=2024-01-01"))
      val hotFiles = after.count(_.contains("__p=2024-01-01"))
      val nAgain = Manifest.autoCompact(s, tmp, "dt",
        maxFilesPerPartition = 4)
      val census = Manifest.read(s, tmp)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("UNTOUCHED_REWRITTEN", nHot != 1 || untouchedRewritten),
          flag("NOT_COMPACTED", hotFiles != 1),
          flag("NOT_CONVERGED", nAgain != 0))
        .orderBy("dt")
    }),

    // RESTORE — rollback as a forward commit: after an append, an
    // overwrite, and a MOR delete, `restore(1)` publishes a new
    // version that IS v1 again. The bad history stays readable for
    // forensics until vacuum (FORENSICS_LOST pins the pre-restore
    // version still showing the delete), and vacuuming AFTER the
    // restore must keep every restored file because the latest
    // manifest re-references them (VACUUM_BROKE). Census = plain
    // events, hash-gated.
    "q378_restore_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_restore").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")                                // v1
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
      Manifest.append(extra, tmp, "dt")                             // v2
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")        // v3
      Manifest.deleteRows(s, tmp, col("event_type") === "error")    // v4
      val vRestored = Manifest.restore(s, tmp, 1)                   // v5
      val forensics = Manifest.readWithDeletes(s, tmp, version = 4)
        .drop("__file", "__pos")
      // must run BEFORE vacuum (v4's files die there) — but both
      // forensics probes fold into ONE aggregation job, not two
      val fRow = forensics.agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"),
        sum(when(col("dt") === lit("2024-02-01").cast("date"), 1L)
          .otherwise(0L)).as("n_feb")).head()
      val forensicsLost = fRow.getLong(0) > 0 || fRow.getLong(1) == 0
      val preVac = Manifest.readWithDeletes(s, tmp, vRestored)
        .drop("__file", "__pos").cutLineage
      Manifest.vacuum(s, tmp)
      val postVac = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
      // preVac is pinned, postVac reads the final state — lazy sentinel
      val vacProbe = postVac.exceptAll(preVac)
        .unionAll(preVac.exceptAll(postVac))
      val census = postVac.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("FORENSICS_LOST", forensicsLost),
          flag("VACUUM_BROKE", vacProbe))
        .orderBy("dt")
    }),

    // OCC FOR MERGE-ON-READ DELETES (the round-14 capability the
    // single-writer delete path lacked): a delete prepared against v1
    // races an append — the append lands first, the delete REBASES and
    // both effects survive (BOTH_LOST if either vanished), matching the
    // serial delete-then-append order: victims are v1 rows only, so
    // the appended day keeps its users 3/7 rows. A second delete races
    // a rewrite of its victims' files and must abort LOUDLY
    // (NO_CONFLICT) with its staged delta cleaned up (DELTA_LEAKED)
    // and the version unmoved (LOSER_MUTATED). Census over the final
    // live read, hash-gated.
    "q373_dv_occ_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dv_occ").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")
      // writer A stages the delete; writer B's append lands first
      val prepA = Manifest.prepareDelete(s, tmp,
        col("user_id").isin(3L, 7L))
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("value", col("value") + 1000.0)
      Manifest.append(extra, tmp, "dt")
      val n1 = Manifest.commitDelete(s, tmp, prepA)
      // readWithDeletes pins its version at construction and nothing
      // vacuums here, so both serial-order probes stay valid after the
      // later overwrite — they ride the final job as lazy sentinels
      val live1 = Manifest.readWithDeletes(s, tmp).drop("__file", "__pos")
      // serial delete-then-append order: the appended day must survive
      // the rebased delete EXACTLY (victims are base-snapshot rows
      // only), and no base row of users 3/7 may remain
      val appended = live1
        .filter(col("dt") === lit("2024-02-01").cast("date"))
      val appendDiff = appended.exceptAll(extra)
        .unionAll(extra.exceptAll(appended))
      val deleteMissed = live1
        .filter(col("dt") =!= lit("2024-02-01").cast("date") &&
          col("user_id").isin(3L, 7L))
      // writer C stages a delete, then its victims' files get rewritten
      val prepC = Manifest.prepareDelete(s, tmp,
        col("event_type") === "view")
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")
      val conf = s.sparkContext.hadoopConfiguration
      val vBefore = Manifest.latestVersion(tmp, conf)
      val conflicted = try {
        Manifest.commitDelete(s, tmp, prepC); false
      } catch { case e: RuntimeException =>
        e.getMessage.contains("re-prepare") }
      val deltaLeaked = prepC.delta != null && java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmp, prepC.delta))
      val vAfter = Manifest.latestVersion(tmp, conf)
      val census = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("BOTH_LOST", n1 == 0),
          flag("BOTH_LOST", appendDiff),
          flag("BOTH_LOST", deleteMissed),
          flag("NO_CONFLICT", !conflicted),
          flag("DELTA_LEAKED", deltaLeaked),
          flag("LOSER_MUTATED", vAfter != vBefore))
        .orderBy("dt")
    }),

    // BRANCH-AWARE VACUUM (round-14: the documented vacuum-vs-branch
    // foot-gun made impossible): an audit branch forks AFTER a MOR
    // delete (so it references main's data files AND its DV delta
    // absolutely), main then rewrites a day twice (the first rewrite's
    // files end up referenced by NOBODY) and vacuums. The branch must
    // read back bit-identically (BRANCH_CORRUPTED), while the
    // nobody's-files generation is actually reclaimed (VACUUM_NOOP
    // fires if the orphan commit survived). Output = the branch's
    // per-day live census, hash-gated against events minus users 3/7.
    "q374_branch_vacuum_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_branch_vac").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      Manifest.create(ev, tmp, "dt")
      Manifest.deleteRows(s, tmp, col("user_id").isin(3L, 7L))
      Manifest.branchCreate(s, tmp, "audit")
      val bdir = Manifest.branchDir(tmp, "audit")
      val before = Manifest.readWithDeletes(s, bdir)
        .drop("__file", "__pos").cutLineage
      def day(d: String) = col("dt") === lit(d).cast("date")
      Manifest.overwritePartitions(
        ev.filter(day("2024-01-03")).withColumn("value", col("value") * 5),
        tmp, "dt") // generation referenced by nobody after the next one
      Manifest.overwritePartitions(
        ev.filter(day("2024-01-03")).withColumn("value", col("value") * 9),
        tmp, "dt")
      Manifest.vacuum(s, tmp)
      val after = Manifest.readWithDeletes(s, bdir).drop("__file", "__pos")
      // `before` is pinned pre-vacuum, `after` reads the final branch
      // state — the corruption diff rides the final job lazily
      val corrupted = after.exceptAll(before)
        .unionAll(before.exceptAll(after))
      val orphanGen = java.nio.file.Files.walk(
          java.nio.file.Paths.get(tmp, "data")).iterator()
      val vacNoop = {
        import scala.jdk.CollectionConverters._
        orphanGen.asScala.exists(_.toString.contains("c000003"))
      }
      val census = after.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("BRANCH_CORRUPTED", corrupted),
          flag("VACUUM_NOOP", vacNoop))
        .orderBy("dt")
    }),

    // CHANGE FEED AS A STREAMING SOURCE (round-14: the lakehouse
    // streaming story beyond the ingest sink q319): a Structured
    // Streaming file-source leg on the source's `_manifests/` dir
    // drives per-version feed application onto a replica layout — the
    // lifecycle includes an append, a partition overwrite, a
    // MERGE-ON-READ delete (the feed materializes the DV delta), and a
    // purge. After a bounded AvailableNow drain the replica must equal
    // the source's live read exactly (DIVERGED); a RESTART from the
    // same checkpoint with no new versions must apply nothing
    // (REPLAYED — replay safety, the exactly-once half). Census
    // per day, hash-gated against the lifecycle restatement.
    "q375_change_feed_stream" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdf_stream").toString
      val dst = java.nio.file.Files
        .createTempDirectory("graft_cdf_stream_dst").toString + "/replica"
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdf_stream_ck").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("event_type"), col("value"))
      Manifest.create(ev, tmp, "dt")                                // v1
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("value", col("value") + 1000.0)
      Manifest.append(extra, tmp, "dt")                             // v2
      Manifest.overwritePartitions(
        ev.filter(col("dt") === lit("2024-01-05").cast("date"))
          .withColumn("value", col("value") * 2), tmp, "dt")        // v3
      Manifest.deleteRows(s, tmp, col("event_type") === "error")    // v4
      Manifest.purge(s, tmp, "dt", col("user_id").isin(3L, 7L))     // v5
      Manifest.changeFeedStream(s, tmp, dst, "dt", ckpt)
        .awaitTermination()
      val conf = s.sparkContext.hadoopConfiguration
      val vDrained = Manifest.latestVersion(dst, conf)
      // the replica read PINS vDrained's immutable files here, so its
      // materialization is independent of whatever the restart below
      // commits (nothing, by contract — and the version compare would
      // catch a violation either way): the two overlap (§2.6). The two
      // stream lifecycles themselves CANNOT overlap — they share the
      // checkpoint, and the restart's replay semantics are only defined
      // against a terminated predecessor.
      val replicaPinned = Manifest.read(s, dst)
      val (replica, replayed) = Par.all(
        () => replicaPinned.cutLineage,
        () => {
          // restart from the same checkpoint: nothing new -> no commit
          Manifest.changeFeedStream(s, tmp, dst, "dt", ckpt)
            .awaitTermination()
          Manifest.latestVersion(dst, conf) != vDrained
        })
      val srcLive = Manifest.readWithDeletes(s, tmp)
        .drop("__file", "__pos")
      // replica is pinned and the source layout never mutates again —
      // the divergence diff rides the final job as a lazy sentinel
      val diverged = replica.exceptAll(srcLive)
        .unionAll(srcLive.exceptAll(replica))
      val census = replica.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      refereed(census, "dt")(
          flag("DIVERGED", diverged),
          flag("REPLAYED", replayed))
        .orderBy("dt")
    }),

    // Manifest lifecycle tail — append, purge, TIME TRAVEL, vacuum: a
    // synthetic day appends (v2), users 3/7 purge (v3; emptied
    // partitions vanish from the manifest — the silent-retention trap
    // is structurally impossible), a v2 time-travel read BEFORE vacuum
    // must reproduce the pre-purge union exactly (the audit path:
    // what did the model see at training time), and after vacuum the
    // latest snapshot is bit-identical while superseded files and
    // manifests are gone (ManifestSpec pins the FS side). Output is
    // the post-vacuum per-day census, hash-gated; TT: rows never
    // appear in the oracle.
    "q317_manifest_lifecycle_gate" -> ((s, dir) => {
      import graft.operators.Manifest
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_manifest_life").toString
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("dt"), col("event_id"),
          col("user_id"), col("value"))
      val extra = ev.filter(col("dt") === lit("2024-01-01").cast("date"))
        .withColumn("dt", lit("2024-02-01").cast("date"))
        .withColumn("value", col("value") + 1000.0)
      Manifest.create(ev, tmp, "dt")
      Manifest.append(extra, tmp, "dt")
      Manifest.purge(s, tmp, "dt", col("user_id").isin(3L, 7L))
      val preVacuumTt = Manifest.readVersion(s, tmp, 2)
      val expected2 = ev.unionAll(extra)
      // eager: the v2 manifest dies at vacuum below, so the audit
      // comparison must run now (bounded — it's a diff row count)
      val ttViolations = preVacuumTt.exceptAll(expected2)
        .unionAll(expected2.exceptAll(preVacuumTt)).count()
      Manifest.vacuum(s, tmp)
      val post = Manifest.read(s, tmp)
      val postAgg = post.groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
          sum(when(col("user_id").isin(3L, 7L), 1L).otherwise(0L))
            .as("n_victim_rows"))
      refereed(postAgg, "dt")(flag("TT_DIVERGED", ttViolations > 0))
        .orderBy("dt")
    })
  )

  val oracles: Map[String, String] = Map(
    "q140_partition_backfill" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |    THEN value * 2 ELSE value END), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q177_retention_purge" ->
      """SELECT CAST(ts AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(0 AS BIGINT) AS n_victim_rows
        |FROM events WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Backfilled content only — no PIN:/CRASH_VISIBLE violation rows.
    // (OR-form, not IN: DuckDB 1.0.0 evaluates `CAST(ts AS DATE) IN
    // (DATE ...)` to false on TIMESTAMP columns.)
    "q316_manifest_txn_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |      OR CAST(ts AS DATE) = DATE '2024-01-09'
        |    THEN value * 2 ELSE value END), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // The five looked-up keys' rows exactly — no NOSKIP / GHOST rows.
    "q359_bloom_index_gate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3, 5, 8)
        |ORDER BY o_orderkey""".stripMargin,
    // The replicated snapshot after append + overwrite + purge — no
    // REPLICA_DIVERGED row.
    "q372_cdf_replica" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, user_id, value FROM events
        |  UNION ALL
        |  SELECT DATE '2024-02-01' AS dt, user_id, value + 1000.0
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
        | lc AS (SELECT dt, user_id,
        |    CASE WHEN dt = DATE '2024-01-05' THEN value * 2
        |      ELSE value END AS value
        |  FROM base)
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM lc WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The lifecycle's delta: inserts = the synthetic day + the doubled
    // 01-05 generation; deletes = the original 01-05 — no SELF_NONEMPTY.
    "q370_change_feed" ->
      """WITH f AS (
        |  SELECT 'insert' AS _change, '2024-02-01' AS dt,
        |    value + 1000.0 AS value
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |  UNION ALL
        |  SELECT 'insert', '2024-01-05', value * 2
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |  UNION ALL
        |  SELECT 'delete', '2024-01-05', value
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05')
        |SELECT _change, dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM f GROUP BY 1, 2 ORDER BY _change, dt""".stripMargin,
    // Post-merge main: the branch's doubled day + main's tripled day —
    // no BRANCH_COPIED / MAIN_LEAKED / NO_CONFLICT / LOSER_MUTATED
    // rows, and none of dev2's -1 values.
    "q369_branch_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03'
        |      THEN value * 2
        |    WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |      THEN value * 3 ELSE value END), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Survivors of the literal TTL policy, anchored at max(ts)'s date —
    // no MOR_REWROTE / NOT_IDEMPOTENT / APPLY_DIVERGED rows.
    "q363_ttl_sweep_gate" ->
      """WITH m AS (SELECT MAX(CAST(ts AS DATE)) AS mdt FROM events),
        | k AS (SELECT e.event_type, e.value FROM events e, m
        |   WHERE NOT (e.event_type = 'click'
        |       AND e.ts < CAST(m.mdt - INTERVAL 5 DAY AS TIMESTAMP))
        |     AND NOT (e.event_type = 'view'
        |       AND e.ts < CAST(m.mdt - INTERVAL 10 DAY AS TIMESTAMP)))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // The literal expected audit trail of the eight-step lifecycle.
    "q384_history_gate" ->
      """SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(batch_id AS BIGINT) AS batch_id,
        |  CAST(n_dv_deltas AS BIGINT) AS n_dv_deltas
        |FROM (VALUES
        |  (1, 'create', -1, 0),
        |  (2, 'append', -1, 0),
        |  (3, 'append-batch', 42, 0),
        |  (4, 'overwrite', -1, 0),
        |  (5, 'delete', -1, 1),
        |  (6, 'apply-deletes', -1, 0),
        |  (7, 'compact', -1, 0),
        |  (8, 'restore', -1, 0)
        |) AS t(version, op, batch_id, n_dv_deltas)
        |ORDER BY version""".stripMargin,
    // q358's victim predicates restated pre-apply: the streamed
    // key-list deletes leave exactly the non-error, non-(3,7) rows
    // live — no MOR_REWROTE / REPLAYED rows.
    "q389_stream_mor_delete" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events
        |WHERE NOT (event_type = 'error' OR user_id IN (3, 7))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The table content by day, reconstructed from the checkpoint's
    // file list alone — no CKPT_STALE / PARSE_DIVERGED / STALE_SERVED
    // rows.
    "q387_manifest_checkpoint_gate" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, value FROM events
        |  UNION ALL
        |  SELECT DATE '2024-02-01', value FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    // The latest snapshot (post-append, post-MOR-delete) read through
    // SQL text — no SQL_HISTORY_DIVERGED / TT_DIVERGED rows.
    "q388_sql_lakehouse_gate" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, user_id, value FROM events
        |  UNION ALL
        |  SELECT DATE '2024-02-01', user_id, value FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM base WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The literal table shape after create + append + MOR delete +
    // checkpoint: v3, op delete, the base days plus the synthetic one,
    // one DV delta, checkpoint covering v3 — no N_FILES_DIVERGED row.
    "q391_manifest_detail_gate" ->
      """SELECT CAST(3 AS BIGINT) AS version, 'delete' AS op,
        |  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) + 1 AS BIGINT)
        |   FROM events) AS n_partitions,
        |  CAST(1 AS BIGINT) AS n_dv_deltas,
        |  CAST(3 AS BIGINT) AS checkpoint_version""".stripMargin,
    // Final content after the SQL-verb lifecycle under the distributed
    // entry census: user 3 updated (x10), user 5 re-inserted on the
    // synthetic Feb day, users 7 and 9 gone — no DV_NOT_FOLDED /
    // DOOR_DIVERGED / VACUUM_BROKE rows.
    "q392_sql_census_gate" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, user_id,
        |    CASE WHEN user_id = 3 THEN value * 10 ELSE value END AS value
        |  FROM events
        |  WHERE user_id <= 20 AND user_id NOT IN (7, 9)
        |  UNION ALL
        |  SELECT DATE '2024-02-01', user_id, value FROM events
        |  WHERE user_id = 5)
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    // Everything survives: the no-match delete batch never kills the
    // late-landing user-4 twins — no NOT_STAMPED / NO_NOOP_OP /
    // REPLAY_DELETED rows.
    "q393_delete_noop_replay" ->
      """WITH base AS (
        |  SELECT user_id, value FROM events WHERE user_id <= 10
        |  UNION ALL
        |  SELECT user_id, value FROM events WHERE user_id = 4)
        |SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    // The post-lifecycle per-day census: user 2 gone (MOR delete
    // folded from SQL), user 1's Feb copies merged in from the branch
    // — no NOT_APPLIED / MAIN_LEAKED rows.
    "q394_sql_branch_gate" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, value FROM events
        |  WHERE user_id <= 15 AND user_id <> 2
        |  UNION ALL
        |  SELECT DATE '2024-02-01', value FROM events
        |  WHERE user_id = 1)
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    // q177's survivor census restated (dt as text so referee rows can
    // ride the column) — no WRONG_COUNT / NOT_IDEMPOTENT rows.
    "q395_sql_purge_keys_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(0 AS BIGINT) AS n_victim_rows
        |FROM events WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q359's five looked-up keys, indexes built from SQL text — no
    // NOSKIP / NOT_CONVERGED / ERR_BOUND rows.
    "q396_sql_index_gate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 2, 3, 5, 8)
        |ORDER BY o_orderkey""".stripMargin,
    // q363's TTL-survivor census, the sweep driven from SQL text — no
    // MOR_REWROTE / NOT_IDEMPOTENT / APPLY_DIVERGED rows.
    "q397_sql_ttl_gate" ->
      """WITH m AS (SELECT MAX(CAST(ts AS DATE)) AS mdt FROM events),
        | k AS (SELECT e.event_type, e.value FROM events e, m
        |   WHERE NOT (e.event_type = 'click'
        |       AND e.ts < CAST(m.mdt - INTERVAL 5 DAY AS TIMESTAMP))
        |     AND NOT (e.event_type = 'view'
        |       AND e.ts < CAST(m.mdt - INTERVAL 10 DAY AS TIMESTAMP)))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-status exact distinct-customer census — no ERR_BOUND /
    // NOT_CONVERGED / SILENT_STALE / REFRESH_BROKEN rows.
    "q382_manifest_ndv_gate" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Survivors + updates + synthetic inserts of the streamed feed —
    // no REPLAYED row.
    "q379_stream_upsert_gate" ->
      """WITH f AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
        |      ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 1
        |  UNION ALL
        |  SELECT 'synthetic', n_chars + 500 FROM documents
        |  WHERE doc_id % 5 = 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // The exact 2-D box — no NOSKIP / DIM2_NOSKIP rows.
    "q380_zorder_manifest_gate" ->
      """WITH b AS (SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
        |    MIN(event_id) AS emn, MAX(event_id) AS emx FROM events)
        |SELECT e.event_id, e.user_id,
        |  CAST(CAST(e.ts AS DATE) AS VARCHAR) AS dt, e.value
        |FROM events e, b
        |WHERE e.user_id BETWEEN b.umn AND b.umn + (b.umx - b.umn) // 6
        |  AND e.event_id BETWEEN b.emn AND b.emn + (b.emx - b.emn) // 6
        |ORDER BY e.event_id""".stripMargin,
    // MERGE result: 01-02's user-1 rows bumped, 01-04's errors gone,
    // the shifted-key insert day added — no UNTOUCHED_REWRITTEN /
    // NOT_IDEMPOTENT rows.
    "q376_manifest_merge_gate" ->
      """WITH f AS (
        |  SELECT CAST(ts AS DATE) AS dt,
        |    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02'
        |        AND user_id = 1 THEN value + 5000.0
        |      ELSE value END AS value
        |  FROM events
        |  WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-04'
        |    AND event_type = 'error')
        |  UNION ALL
        |  SELECT DATE '2024-02-01', value + 1000.0 FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // Base content plus the six micro-batch appends, bit-stable
    // through the compaction — no UNTOUCHED_REWRITTEN / NOT_COMPACTED /
    // NOT_CONVERGED rows.
    "q377_auto_compact_gate" ->
      """WITH f AS (
        |  SELECT CAST(ts AS DATE) AS dt, value FROM events
        |  UNION ALL
        |  SELECT CAST(e.ts AS DATE), e.value + t.b * 10.0
        |  FROM events e, (SELECT unnest(generate_series(1, 6)) AS b) t
        |  WHERE CAST(e.ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // The restored snapshot IS v1 = plain events — no FORENSICS_LOST /
    // VACUUM_BROKE rows.
    "q378_restore_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Rebased-delete serial order: v1 rows of users 3/7 gone, the
    // racing append's day keeps ALL users, the conflicted view-delete
    // never applied, and the overwritten day re-introduces raw rows
    // doubled — no BOTH_LOST / NO_CONFLICT / DELTA_LEAKED /
    // LOSER_MUTATED rows.
    "q373_dv_occ_gate" ->
      """WITH f AS (
        |  SELECT CAST(ts AS DATE) AS dt, value FROM events
        |  WHERE user_id NOT IN (3, 7)
        |    AND CAST(ts AS DATE) <> DATE '2024-01-05'
        |  UNION ALL
        |  SELECT DATE '2024-01-05', value * 2 FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |  UNION ALL
        |  SELECT DATE '2024-02-01', value + 1000.0 FROM events
        |  WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // The audit branch pinned at fork time: events minus the
    // MOR-deleted users, untouched by main's later rewrites and the
    // vacuum — no BRANCH_CORRUPTED / VACUUM_NOOP rows.
    "q374_branch_vacuum_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The drained replica: append + overwrite + MOR delete + purge all
    // streamed through the feed — no DIVERGED / REPLAYED rows.
    "q375_change_feed_stream" ->
      """WITH f AS (
        |  SELECT CAST(ts AS DATE) AS dt, user_id, event_type, value
        |  FROM events WHERE CAST(ts AS DATE) <> DATE '2024-01-05'
        |  UNION ALL
        |  SELECT DATE '2024-01-05', user_id, event_type, value * 2
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        |  UNION ALL
        |  SELECT DATE '2024-02-01', user_id, event_type, value + 1000.0
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM f WHERE event_type <> 'error' AND user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Post-apply snapshot: both victim predicates removed — no
    // MOR_REWROTE / NOT_CUMULATIVE / TT_DIVERGED / DV_NOT_DROPPED rows.
    "q358_deletion_vectors" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM events
        |WHERE user_id NOT IN (3, 7) AND event_type <> 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The planted fixture deduped by md5(text) keep-min-doc_id,
    // restated arithmetically — no NOT_ATOMIC / NOT_IDEMPOTENT rows,
    // and no 'clonex' row (the repair empties and drops it).
    "q355_dedup_repair_gate" ->
      """WITH st AS (SELECT MAX(doc_id) + 1 AS stride FROM documents),
        | u AS (
        |   SELECT doc_id, lang, n_chars, text FROM documents
        |   UNION ALL
        |   SELECT doc_id + st.stride, lang, n_chars, text
        |   FROM documents, st WHERE doc_id % 7 = 0
        |   UNION ALL
        |   SELECT doc_id + 2 * st.stride, 'clonex', n_chars, text
        |   FROM documents, st WHERE doc_id % 10 = 0),
        | k AS (SELECT *, md5(text) AS kk FROM u),
        | dup AS (SELECT kk, MIN(doc_id) AS kmin FROM k
        |   WHERE kk IS NOT NULL GROUP BY 1 HAVING COUNT(*) > 1),
        | surv AS (SELECT k.* FROM k LEFT JOIN dup ON k.kk = dup.kk
        |   WHERE dup.kk IS NULL OR k.doc_id = dup.kmin)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,
    // Release-2 census only — no PIN_INVARIANT / LATEST_INVARIANT /
    // CRASH_VISIBLE rows, and none of the crashed writer's -1 rows.
    "q353_catalog_txn_gate" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 3 <> 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Both disjoint writers' effects, none of the conflicting loser's —
    // no REBASE_LOST / CONFLICT_MISSED / LOSER_MUTATED rows. (OR-form
    // for the date predicate; see the q316 DuckDB IN note.)
    "q349_manifest_occ_gate" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03'
        |      THEN value * 2
        |    WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |      THEN value * 3 ELSE value END), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Range-read census over the skipping layout — no NOSKIP row.
    "q320_manifest_skipping_gate" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_custkey BETWEEN 10 AND 40
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Compacted snapshot ≡ the raw table — no FRAGMENTED row.
    "q321_manifest_compaction_gate" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Post-vacuum snapshot: purge survivors plus the appended synthetic
    // day — no TT_DIVERGED row.
    "q317_manifest_lifecycle_gate" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS dt, user_id, value FROM events
        |  UNION ALL
        |  SELECT DATE '2024-02-01' AS dt, user_id, value + 1000.0 AS value
        |  FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01')
        |SELECT CAST(dt AS VARCHAR) AS dt, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value,
        |  CAST(0 AS BIGINT) AS n_victim_rows
        |FROM base WHERE user_id NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q83_snapshot_diff" -> (oracleSnaps +
      """
        |SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
        |  CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |       WHEN n.c_custkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  n.c_name, n.c_nationkey, n.c_acctbal, n.c_mktsegment,
        |  o.c_name AS old_c_name, o.c_nationkey AS old_c_nationkey,
        |  o.c_acctbal AS old_c_acctbal, o.c_mktsegment AS old_c_mktsegment
        |FROM oldsnap o FULL OUTER JOIN newsnap n
        |  ON o.c_custkey = n.c_custkey
        |WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
        |   OR o.c_name IS DISTINCT FROM n.c_name
        |   OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
        |   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        |   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |ORDER BY c_custkey""".stripMargin),
    "q84_merge_upsert" -> (oracleSnaps +
      """
        |SELECT * FROM newsnap ORDER BY c_custkey""".stripMargin),
    // Full re-aggregation of the q93 new snapshot — what incrementalAgg
    // must reproduce WITHOUT rescanning the base.
    "q93_incremental_agg" ->
      """WITH newsnap AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 13 = 0 THEN 'MIGRATED'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    CAST(round((CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |                     ELSE c_acctbal END) * 100) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_custkey % 11 <> 0)
        |SELECT c_mktsegment, CAST(SUM(bal_cents) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS n, COUNT(bal_cents) AS n_nonnull
        |FROM newsnap GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-segment census of the from-scratch join — no
    // REPLAY_COMMITTED / NO_BATCHES rows.
    "q368_stream_view_maintenance" -> (oracleSnaps +
      """
        |SELECT n.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o.o_orderkey) AS BIGINT) AS sum_okey,
        |  ROUND(SUM(o.o_totalprice), 2) AS sum_price
        |FROM newsnap n JOIN orders o ON n.c_custkey = o.o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // From-scratch join of the new snapshot against ALL orders — the
    // maintained view must reproduce it exactly.
    "q367_incremental_join_view" -> (oracleSnaps +
      """
        |SELECT n.c_custkey, n.c_mktsegment, n.c_acctbal,
        |  o.o_orderkey, o.o_totalprice
        |FROM newsnap n JOIN orders o ON n.c_custkey = o.o_custkey
        |ORDER BY n.c_custkey, o.o_orderkey""".stripMargin),
    // From-scratch over ALL orders — the merge must reproduce it
    // exactly (same restatement as q85's).
    "q364_scd2_merge_gate" ->
      """WITH s AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |starts AS (
        |  SELECT o_custkey, o_orderpriority, o_orderkey,
        |    o_orderdate AS valid_from
        |  FROM s WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderpriority)
        |SELECT o_custkey, o_orderpriority, valid_from,
        |  lead(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) AS INTEGER) AS version_n,
        |  (lead(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) IS NULL) AS is_current
        |FROM starts ORDER BY o_custkey, version_n""".stripMargin,
    "q85_scd2_intervals" ->
      """WITH s AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |starts AS (
        |  SELECT o_custkey, o_orderpriority, o_orderkey,
        |    o_orderdate AS valid_from
        |  FROM s WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderpriority)
        |SELECT o_custkey, o_orderpriority, valid_from,
        |  lead(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) AS INTEGER) AS version_n,
        |  (lead(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) IS NULL) AS is_current
        |FROM starts ORDER BY o_custkey, version_n""".stripMargin,
    "q173_scd2_asof" ->
      """WITH s AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |starts AS (
        |  SELECT o_custkey, o_orderpriority, o_orderkey,
        |    o_orderdate AS valid_from
        |  FROM s WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderpriority),
        |iv AS (
        |  SELECT o_custkey, o_orderpriority, valid_from,
        |    lead(valid_from) OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from, o_orderkey) AS valid_to,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from, o_orderkey) AS INTEGER) AS version_n
        |  FROM starts)
        |SELECT o_custkey, o_orderpriority, valid_from, version_n
        |FROM iv
        |WHERE valid_from <= TIMESTAMP '1998-06-01'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1998-06-01')
        |ORDER BY o_custkey""".stripMargin,
    // The q85 interval build over signup events + the event-time
    // interval join, per-tier census.
    "q361_stream_scd2_enrich" ->
      """WITH sg AS (SELECT user_id, ts, event_id, event_id % 3 AS tier
        |  FROM events WHERE event_type = 'signup'),
        | s2 AS (SELECT *, lag(tier) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS prev FROM sg),
        | st AS (SELECT user_id, tier, event_id, ts AS valid_from
        |   FROM s2 WHERE prev IS NULL OR prev IS DISTINCT FROM tier),
        | iv AS (SELECT user_id, tier, valid_from,
        |     lead(valid_from) OVER (PARTITION BY user_id
        |       ORDER BY valid_from, event_id) AS valid_to FROM st),
        | p AS (SELECT user_id, ts, value FROM events
        |   WHERE event_type = 'purchase'),
        | e AS (SELECT COALESCE(iv.tier, -1) AS tier, p.value
        |   FROM p LEFT JOIN iv ON p.user_id = iv.user_id
        |     AND iv.valid_from <= p.ts
        |     AND (iv.valid_to IS NULL OR p.ts < iv.valid_to))
        |SELECT CAST(tier AS BIGINT) AS tier,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(SUM(value), 2) AS sum_value
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-key last-write-wins argmax over the whole feed — what the
    // streaming view must equal on the bounded drain. (ts, event_id)
    // ordering matches the struct-max tiebreak; event_id is unique.
    "q120_stream_upsert_view" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_event_type, value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
  )
}
