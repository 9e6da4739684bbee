package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture operators: snapshot diffing, changeset apply
  * (MERGE/upsert), and SCD Type-2 history building. The reference
  * pipeline rebuilds its curated tables from scratch every run
  * (`/root/reference/src/pipeline_orchestrator.py:81-97`, `mode=
  * "overwrite"`); at 100 TB a full rebuild is the single most expensive
  * thing an ETL can do, so the scale path is incremental: diff the new
  * snapshot against the old, ship only the changeset, and merge it into
  * the base — these three operators are that path.
  *
  * Scale design (100 TB):
  *  - `snapshotDiff` is ONE co-partitioned full-outer join on the key.
  *    Both sides shuffle exactly once on the same key (bucketing either
  *    side removes its exchange entirely — see `graft.Bucketing`), and
  *    the row-change test is a null-safe struct comparison evaluated
  *    inside the join's generated code, not a second pass. Nothing is
  *    collected; output is only the changed rows — for slowly-changing
  *    data that is orders of magnitude smaller than either snapshot.
  *  - `applyChangeset` is one anti join (keys touched by the changeset
  *    drop out of the base) plus a union of the changeset's upserts.
  *    When the changeset is small — the expected case — Spark broadcasts
  *    it and the base is never shuffled at all; a 100 TB base merges
  *    with a map-only plan.
  *  - `scd2` is the windowed run-collapse: one exchange on the key, one
  *    sort by (time, tiebreak), a lag() to mark run starts, and a second
  *    window over the (already co-partitioned, already sorted) run-start
  *    rows to close each version with the next version's start. No
  *    groupBy, no self-join, no row multiplication.
  */
object ChangeData {

  private def nonKeyCols(df: DataFrame, keyCols: Seq[String]): Seq[String] =
    df.columns.filterNot(keyCols.contains).toSeq

  /** Diff two snapshots of the same table into an insert/update/delete
    * changeset. Keys must be non-null and unique per snapshot (the usual
    * primary-key contract); both snapshots must share a schema.
    *
    * Output: keyCols, `op` ('insert'|'update'|'delete'), the new-side
    * non-key columns (null for deletes), and the old-side non-key
    * columns as `old_<name>` (null for inserts). Unchanged rows are not
    * emitted. Column-level change detection is null-safe (a value
    * moving to/from NULL is an update).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(oldSnap.columns.sameElements(newSnap.columns),
      s"snapshot schemas differ: ${oldSnap.columns.mkString(",")} vs " +
        newSnap.columns.mkString(","))
    require(keyCols.nonEmpty && keyCols.forall(oldSnap.columns.contains),
      s"key columns $keyCols must exist in the snapshot schema")
    val payload = nonKeyCols(oldSnap, keyCols)
    val o = oldSnap.alias("o")
    val n = newSnap.alias("n")
    val joinCond = keyCols.map(k => col(s"o.$k") === col(s"n.$k"))
      .reduce(_ && _)
    val oldKey = col(s"o.${keyCols.head}")
    val newKey = col(s"n.${keyCols.head}")
    val changed = !(struct(payload.map(c => col(s"o.$c")): _*) <=>
      struct(payload.map(c => col(s"n.$c")): _*))
    val op = when(oldKey.isNull, lit("insert"))
      .when(newKey.isNull, lit("delete"))
      .when(changed, lit("update"))
    o.join(n, joinCond, "full_outer")
      .withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(
        keyCols.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) ++
          Seq(col("op")) ++
          payload.map(c => col(s"n.$c").as(c)) ++
          payload.map(c => col(s"o.$c").as(s"old_$c")): _*)
  }

  /** Apply a `snapshotDiff`-shaped changeset to a base snapshot
    * (MERGE/upsert): base rows whose key appears in the changeset drop
    * out (anti join), then the changeset's inserts and updates come in
    * with their new values. `applyChangeset(old, snapshotDiff(old, new,
    * k), k)` reproduces `new` exactly — q84 pins that round-trip under
    * the hash gate.
    */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keyCols: Seq[String]): DataFrame = {
    require(changes.columns.contains("op"),
      "changeset must carry an 'op' column (snapshotDiff output)")
    val untouched = base.join(
      changes.select(keyCols.map(col): _*), keyCols, "left_anti")
    val upserts = changes.filter(col("op") =!= "delete")
      .select(base.columns.map(col).toSeq: _*)
    untouched.unionByName(upserts)
  }

  /** Collapse a keyed, timestamped attribute stream into SCD Type-2
    * validity intervals: consecutive rows (ordered by `timeCol`, ties
    * broken by `tiebreakCol`) with null-safe-equal `valueCols` form one
    * version; each version is `[valid_from, valid_to)` where `valid_to`
    * is the next version's start (null on the current version).
    *
    * Output: keyCols, valueCols, valid_from, valid_to, version_n
    * (1-based per key), is_current.
    */
  def scd2(df: DataFrame, keyCols: Seq[String], timeCol: String,
           tiebreakCol: String, valueCols: Seq[String]): DataFrame = {
    val ordered = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol), col(tiebreakCol))
    val valueStruct = struct(valueCols.map(col): _*)
    val prev = lag(valueStruct, 1).over(ordered)
    // Run start: first row of the key, or a null-safe value change.
    val starts = df
      .withColumn("_is_start", prev.isNull || !(valueStruct <=> prev))
      .filter(col("_is_start"))
    // The filtered frame keeps the key-hash partitioning and (time,
    // tiebreak) sort of the first window, so closing the intervals is
    // sort-free: same partition spec, same ordering.
    starts
      .withColumn("valid_from", col(timeCol))
      .withColumn("valid_to", lead(col(timeCol), 1).over(ordered))
      .withColumn("version_n", row_number().over(ordered))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCols ++ valueCols).map(col) ++ Seq(col("valid_from"),
        col("valid_to"), col("version_n"), col("is_current")): _*)
  }

  /** INCREMENTAL SCD2 merge — fold a batch of new change rows into an
    * existing dimension WITHOUT rebuilding history: only affected keys'
    * current intervals reopen (closed history and untouched keys pass
    * through verbatim), so a day's delta costs the delta, not the
    * dimension. Append-regime contract: every change must land at or
    * after its key's current `valid_from` (earlier rows would rewrite
    * closed history — loud require). A change whose value equals the
    * key's current value EXTENDS the interval (the pseudo-row trick:
    * the rebuild seeds each affected key with its current row at its
    * original valid_from, tiebreak −∞ so boundary ties keep the
    * incumbent first), which is exactly the from-scratch collapse —
    * q364 gates merged ≡ from-scratch cross-engine. Scale shape: keyed
    * semi/anti joins split the dimension; the rebuild window sees only
    * (affected current rows ∪ changes).
    */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keyCols: Seq[String],
      timeCol: String, tiebreakCol: String,
      valueCols: Seq[String]): DataFrame = {
    val keyColumns = keyCols.map(col)
    val affected = changes.select(keyColumns: _*).distinct()
    val dimA = dim.join(affected, keyCols, "left_semi")
    val dimU = dim.join(affected, keyCols, "left_anti")
    val cur = dimA.filter(col("is_current"))
    val late = changes
      .join(cur.select(keyColumns :+ col("valid_from").as("__cf"): _*),
        keyCols)
      .filter(col(timeCol) < col("__cf")).limit(1).count()
    require(late == 0,
      "scd2Merge: a change precedes its key's current interval - " +
        "closed history would need rewriting; rebuild instead")
    val tbType = changes.select(col(tiebreakCol)).schema.head.dataType
    val pseudo = cur.select(keyColumns ++ Seq(
      col("valid_from").as(timeCol),
      lit(Long.MinValue).cast(tbType).as(tiebreakCol)) ++
      valueCols.map(col): _*)
    val tailIn = pseudo.unionByName(changes.select(keyColumns ++
      Seq(col(timeCol), col(tiebreakCol)) ++ valueCols.map(col): _*))
    val rebuilt = scd2(tailIn, keyCols, timeCol, tiebreakCol, valueCols)
    val offs = cur.select(keyColumns :+
      (col("version_n") - 1).as("__off"): _*)
    val rebuiltAdj = rebuilt.join(offs, keyCols, "left")
      .withColumn("version_n",
        (col("version_n") + coalesce(col("__off"), lit(0))).cast("int"))
      .drop("__off")
    dimU.unionByName(dimA.filter(!col("is_current")))
      .unionByName(rebuiltAdj.select(dim.columns.map(col): _*))
  }

  /** INCREMENTAL JOIN-VIEW maintenance — the delta rule for the
    * warehouse's standard materialized view V = dim ⋈ fact, under the
    * standard change regime (dimension rows update/insert/delete; fact
    * rows APPEND): the old view drops the changed dimension keys' rows
    * (one anti-join against a model-sized key set), the changed keys
    * re-join the full fact (keyed, fact-side filtered by the join
    * itself), and unchanged keys join only the APPENDED fact rows —
    * the old fact is NEVER rescanned, which is the entire point of IVM
    * at 100 TB. `dimNew` must be key-unique (loud require); q367 gates
    * maintained ≡ from-scratch cross-engine.
    */
  def incrementalJoinView(vOld: DataFrame, dimNew: DataFrame,
      changedKeys: DataFrame, factNew: DataFrame, factIns: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val dupKeys = dimNew.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c")).filter(col("__c") > 1)
      .limit(1).count()
    require(dupKeys == 0,
      "incrementalJoinView: dimNew must be unique per key")
    val kept = vOld.join(broadcast(changedKeys), keyCols, "left_anti")
    val rejoined = dimNew.join(broadcast(changedKeys), keyCols, "left_semi")
      .join(factNew, keyCols)
    val appended = dimNew.join(broadcast(changedKeys), keyCols, "left_anti")
      .join(factIns, keyCols)
    kept.unionByName(rejoined.select(vOld.columns.map(col): _*))
      .unionByName(appended.select(vOld.columns.map(col): _*))
  }

  /** Targeted deletion from a partitioned layout (the GDPR /
    * right-to-be-forgotten path, and the delete twin of the q140
    * backfill): rewrite ONLY the partitions that contain victim rows —
    * at 100 TB a full-table rewrite to delete one user's rows is not
    * an option, and dynamic partition overwrite already scopes the
    * write. One census pass finds the affected partitions and whether
    * anything survives in each (the collect is bounded by the layout's
    * partition domain — the calendar here — same bound q140 rides on);
    * survivors rewrite through `overwritePartitions`, while partitions
    * left EMPTY are dropped via the FS API, because a dynamic
    * overwrite never touches a partition absent from the frame — the
    * silent-retention trap this operator exists to close.
    */
  /** `purgeRows` with the victims given as a KEY RELATION instead of a
    * predicate — the forget-list shape (a domain-level GDPR purge
    * delivers millions of ids; an IN-list predicate caps out, a keyed
    * join does not). The key frame left-joins in with a marker column,
    * so NULL keys in the layout never match (the purgeRows
    * NULL-counts-as-KEEP discipline, for free from join semantics) and
    * the census/rewrite machinery is shared verbatim.
    */
  /** Driver-held id lists compile into `isInCollection` literals; past
    * this bound the purge entry points route the list through the
    * key-relation overloads instead — a 2^20-id literal is a multi-MB
    * plan the driver re-serializes into every task, where a broadcast
    * hash join ships the ids once. The battery's forget-lists stay on the
    * literal path.
    */
  private[graft] val inListMaxIds = 10000

  def purgeRowsKeys(spark: SparkSession, layoutDir: String,
      partitionCol: String, keys: DataFrame, keyCols: Seq[String],
      maxAffected: Int = 1 << 16): Unit = {
    require(keyCols.nonEmpty, "purgeRowsKeys: keyCols must be non-empty")
    val t = spark.read.parquet(layoutDir)
    val cols = t.columns
    val marked = t.join(
      keys.select(keyCols.map(col): _*).distinct()
        .withColumn("__victim", lit(1)),
      keyCols, "left")
    purgeMarked(spark, layoutDir, partitionCol,
      marked, col("__victim").isNotNull, cols, maxAffected)
  }

  def purgeRows(spark: SparkSession, layoutDir: String, partitionCol: String,
                victim: Column, maxAffected: Int = 1 << 16): Unit = {
    val t = spark.read.parquet(layoutDir)
    purgeMarked(spark, layoutDir, partitionCol, t, victim, t.columns,
      maxAffected)
  }

  /** Shared census + victim-partition rewrite of the purge family. */
  private def purgeMarked(spark: SparkSession, layoutDir: String,
      partitionCol: String, frame: DataFrame, victim: Column,
      outCols: Seq[String], maxAffected: Int): Unit = {
    // A NULL-valued predicate (e.g. `user_id === x` on a null user_id)
    // must count as KEEP: under the raw column it would satisfy neither
    // `victim` nor `!victim`, dropping the row from the census AND the
    // rewrite — silent over-deletion on the one path whose contract is
    // "delete exactly the victim rows".
    val isVictim = coalesce(victim, lit(false))
    val parts = frame.groupBy(col(partitionCol))
      .agg(sum(when(isVictim, 1L).otherwise(0L)).as("n_victim"),
        sum(when(!isVictim, 1L).otherwise(0L)).as("n_keep"))
      .filter(col("n_victim") > 0)
      .limit(maxAffected + 1)
      .collect()
    require(parts.length <= maxAffected,
      s"purgeRows: more than $maxAffected affected partitions - run " +
        "per-partition-range batches instead of one driver-sized census")
    if (parts.isEmpty) return
    val (live, dead) = parts.partition(_.getLong(2) > 0L)
    if (live.nonEmpty) {
      val rewrite = frame
        .filter(col(partitionCol).isin(live.map(_.get(0)).toSeq: _*)
          && !isVictim)
        .select(outCols.map(col): _*)
      overwritePartitions(rewrite, layoutDir, partitionCol)
    }
    dead.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(
        s"$layoutDir/$partitionCol=${r.get(0)}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
    }
  }

  /** Point-in-time (time travel) read of an SCD2 dimension: the rows
    * whose validity interval [valid_from, valid_to) covers `at` — one
    * map-side filter over the dimension, no join, no window. This is
    * the read half of the scd2 contract: reproduce last quarter's
    * report, join facts to the dimension AS IT WAS, audit what a model
    * saw at training time. (For a fact-side per-row as-of, use
    * `TemporalJoins.asofBackward` — this is the dimension-wide cut at
    * one instant.)
    */
  def scd2AsOf(dim: DataFrame, at: Column): DataFrame =
    dim.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))

  /** Maintain a grouped (sum, count, non-null count) aggregate under a
    * `snapshotDiff` changeset WITHOUT rescanning the base fact — the
    * payoff of the CDC path: at 100 TB the base aggregate is a tiny
    * table and the changeset is the only thing that moves.
    *
    * Each changeset row contributes up to two signed deltas: the new
    * side adds (+value, +1) to its group, the old side subtracts
    * (-old_value, -1) from ITS group — so updates that move a row
    * between groups are handled, and same-group updates net out. The
    * deltas aggregate to one row per touched group (map-side combine)
    * and merge into the base with one full-outer join on the group key;
    * groups whose count reaches zero disappear, like a re-aggregation.
    *
    * `baseAgg` must carry columns `groupCols :+ sumCol :+ nCol :+
    * nnCol` as produced by `sum(value), count(*), count(value)`; the
    * non-null count is what lets an all-null-value group keep the NULL
    * sum a direct re-aggregation would produce.
    *
    * `groupCols` and `valueCol` must be PAYLOAD (non-key) columns of
    * the diffed snapshots: the old side of each delta reads the
    * `old_<col>` columns, which `snapshotDiff` emits only for non-key
    * columns (a key column cannot change within a row, so grouping by
    * one needs no old side — pass it through `snapshotDiff`'s key
    * output and group on that instead).
    */
  def incrementalAgg(baseAgg: DataFrame, changes: DataFrame,
                     groupCols: Seq[String], valueCol: String,
                     sumCol: String = "sum_val", nCol: String = "n",
                     nnCol: String = "n_nonnull"): DataFrame = {
    require(changes.columns.contains("op"),
      "changeset must carry an 'op' column (snapshotDiff output)")
    require(Seq(sumCol, nCol, nnCol).forall(baseAgg.columns.contains),
      s"baseAgg must carry $sumCol/$nCol/$nnCol")
    val missingOld = (groupCols :+ valueCol)
      .filterNot(c => changes.columns.contains(s"old_$c"))
    require(missingOld.isEmpty,
      s"groupCols/valueCol must be payload (non-key) snapshot columns — " +
        s"the changeset has no old_<col> for: ${missingOld.mkString(", ")} " +
        "(snapshotDiff emits old_<col> only for non-key columns)")
    val one = lit(1L)
    val newSide = changes.filter(col("op") =!= "delete")
      .select(groupCols.map(col) ++ Seq(
        col(valueCol).cast("double").as("_v"), one.as("_c"),
        when(col(valueCol).isNotNull, one).otherwise(lit(0L)).as("_nn")): _*)
    val oldSide = changes.filter(col("op") =!= "insert")
      .select(groupCols.map(g => col(s"old_$g").as(g)) ++ Seq(
        (-col(s"old_$valueCol")).cast("double").as("_v"), (-one).as("_c"),
        when(col(s"old_$valueCol").isNotNull, -one).otherwise(lit(0L)).as("_nn")): _*)
    val delta = newSide.unionByName(oldSide)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("_v").as("_dv"), sum("_c").as("_dc"), sum("_nn").as("_dnn"))
      .select(groupCols.map(g => col(g).as(s"_d_$g")) ++
        Seq(col("_dv"), col("_dc"), col("_dnn")): _*)
    // Null-safe merge join: groupBy puts NULL group keys in one group,
    // so the base↔delta match must too (a plain equality join would
    // leave a NULL-keyed base row and its NULL-keyed delta unmatched —
    // two output rows where the re-aggregation has one).
    val joinCond = groupCols.map(g => col(g) <=> col(s"_d_$g")).reduce(_ && _)
    baseAgg.join(delta, joinCond, "full_outer")
      // A base-absent group key comes from the delta side; `_dc` is the
      // presence witness (it is non-null exactly on delta rows, NULL
      // group keys included, where coalesce of the key columns isn't).
      .withColumn("_n_out", coalesce(col(nCol), lit(0L)) + coalesce(col("_dc"), lit(0L)))
      .withColumn("_nn_out", coalesce(col(nnCol), lit(0L)) + coalesce(col("_dnn"), lit(0L)))
      .withColumn("_sum_out", when(col("_nn_out") > 0,
        coalesce(col(sumCol), lit(0.0)) + coalesce(col("_dv"), lit(0.0))))
      .filter(col("_n_out") > 0)
      .select(groupCols.map(g =>
        when(col("_dc").isNotNull, col(s"_d_$g")).otherwise(col(g)).as(g)) ++
        Seq(col("_sum_out").as(sumCol),
          col("_n_out").as(nCol), col("_nn_out").as(nnCol)): _*)
  }

  /** Convenience for q84-style self-checks: true when the two frames
    * have identical content (symmetric exceptAll both ways is empty).
    */
  def sameContent(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Dynamic-partition-overwrite backfill: rewrite ONLY the partitions
    * present in `df`, leaving every other partition's files untouched —
    * the daily-backfill move on a partitioned 100 TB table, where a
    * static overwrite would delete the whole dataset and a
    * read-modify-write would pay a full rewrite for a one-day fix.
    * Uses Spark's `partitionOverwriteMode=dynamic` as a PER-WRITE
    * option, not a session-conf set/restore: the writer option takes
    * precedence over the session conf and is visible only to this
    * write, so concurrent writers on the same SparkSession can't race
    * on the global setting (another thread's static overwrite picking
    * up "dynamic", or the restore clobbering a concurrent setter).
    * ChangeDataSpec pins the contract that untouched partitions' files
    * are bit-identical afterwards.
    */
  def overwritePartitions(df: DataFrame, layoutDir: String,
                          partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(layoutDir)
}
