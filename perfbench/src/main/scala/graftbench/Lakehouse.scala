package graftbench

import graft.operators.Manifest
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class LRow(id: Long, day: String, amount: Double, tag: String)

/** A seeded stream of writes and reads on one day-partitioned manifest
  * table. The table is created in set-up; every pass then runs one cycle
  * of the same shape on it: an append, a snapshot scan, a key delete, a
  * point lookup of a live key, a merge upsert, a point lookup of a key
  * never written, a Bloom-index refresh, compaction and a checkpoint.
  * Every pass does the same operations, so passes are comparable. Row
  * contents and keys come from the seed; the model keeps the rows the
  * table must hold.
  */
object LakehouseGen {
  sealed trait Step
  final case class Append(rows: Seq[LRow]) extends Step
  final case class Merge(rows: Seq[LRow]) extends Step
  final case class Delete(ids: Seq[Long]) extends Step
  case object Compact extends Step
  case object Checkpoint extends Step
  case object Bloom extends Step
  case object Scan extends Step
  final case class Point(id: Long, expected: Set[LRow]) extends Step

  val Days: Seq[String] = (1 to 8).map(d => f"2024-01-$d%02d")
  def dayOf(id: Long): String = Days((id % Days.size).toInt)

  /** Logical size of a row as the user hands it over. */
  def userBytes(r: LRow): Long = 8 + 8 + r.day.length + r.tag.length

  /** The expected table, advanced one cycle at a time. */
  final class Model(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private var nextId = 0L
    val live = mutable.LinkedHashMap.empty[Long, LRow]
    private var cycles = 0L

    private def row(id: Long): LRow =
      LRow(id, dayOf(id), math.round(rng.nextDouble() * 1e6) / 100.0,
        rng.alphanumeric.take(6 + rng.nextInt(10)).mkString)
    private def fresh(n: Int): Seq[LRow] = Seq.fill(n) {
      val id = nextId; nextId += 1
      row(id)
    }
    private def pick(n: Int): Seq[Long] = {
      val ids = live.keys.toIndexedSeq
      Seq.fill(n)(ids(rng.nextInt(ids.size))).distinct
    }
    private def put(rows: Seq[LRow]): Seq[LRow] = { rows.foreach(r => live(r.id) = r); rows }

    def initial(n: Int): Seq[LRow] = put(fresh(n))

    def cycle(): Seq[Step] = {
      cycles += 1
      val append = Append(put(fresh(40)))
      val deleted = pick(8)
      deleted.foreach(live.remove)
      val probe = pick(1).head
      val point = Point(probe, live.get(probe).toSet)
      val merge = Merge(put(pick(20).map(row) ++ fresh(8)))
      val ghost = -1L - cycles
      Seq(append, Scan, Delete(deleted), point, merge, Point(ghost, Set.empty), Bloom, Compact,
        Checkpoint)
    }
  }
}

final class Lakehouse(ctx: Ctx) extends Workload {
  import LakehouseGen._
  import ctx.spark.implicits._

  private val spark = ctx.spark
  private val dir = ctx.work.resolve("table")
  private val d = dir.toString
  private var model: Model = _
  private var userB = 0L
  private var pointOk = 0
  private var pointAll = 0
  private val listedFrac = mutable.ArrayBuffer.empty[Double]

  def nominalPassS: Double = 3.5
  def opSamples: Seq[String] = Seq("commit")

  /** A client's batch arrives as one partition. */
  private def frame(rows: Seq[LRow]): DataFrame = rows.toDF().coalesce(1)

  def prepare(rep: Int): Unit = {
    Fs.deleteTree(dir)
    model = new Model(ctx.seed)
    val rows = model.initial(1000)
    userB = rows.map(userBytes).sum
    Manifest.create(frame(rows), d, "day")
    Manifest.addBloomIndex(spark, d, "id")
  }

  def pass(): Unit = model.cycle().foreach {
    case Append(rows) =>
      userB += rows.map(userBytes).sum
      ctx.op("commit", "manifest", "Manifest.append")(Manifest.append(frame(rows), d, "day"))
    case Merge(rows) =>
      userB += rows.map(userBytes).sum
      ctx.op("commit", "manifest", "Manifest.merge")(
        Manifest.merge(spark, d, "day", frame(rows), Seq("id")))
    case Delete(ids) =>
      ctx.op("commit", "manifest", "Manifest.deleteRows")(
        Manifest.deleteRows(spark, d, col("id").isin(ids: _*)))
    case Compact =>
      ctx.op("maintenance", "manifest", "Manifest.autoCompact")(
        Manifest.autoCompact(spark, d, "day"))
    case Checkpoint =>
      ctx.op("maintenance", "manifest", "Manifest.checkpoint")(Manifest.checkpoint(spark, d))
    case Bloom =>
      ctx.op("maintenance", "manifest", "Manifest.addBloomIndex")(
        Manifest.addBloomIndex(spark, d, "id"))
    case Scan =>
      ctx.op("scan_read", "manifest", "Manifest.readWithDeletes")(
        Manifest.readWithDeletes(spark, d).agg(count(lit(1)), sum(col("amount"))).collect())
    case Point(id, expected) =>
      ctx.op("point_read", "manifest", "Manifest.readPoint") {
        val (df, listed, total) = Manifest.readPoint(spark, d, "id", id)
        val got = df.filter(col("id") === id)
          .select("id", "day", "amount", "tag").as[LRow].collect().toSet
        pointAll += 1
        if (got == expected) pointOk += 1
        if (total > 0) listedFrac += listed.toDouble / total
      }
  }

  /** Parquet data files under the table and all bytes it holds. */
  private def dataFiles: (Long, Long) = {
    val all = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (all.count(_.toString.endsWith(".parquet")), all.map(Files.size).sum)
  }

  private def writeAmp: Double = dataFiles._2.toDouble / userB

  def checks(): Seq[Check] = {
    val expected = model.live.values.toSet
    val got = ctx.ops.attempt("Manifest.readWithDeletes(final)")(
      Manifest.readWithDeletes(spark, d).select("id", "day", "amount", "tag")
        .as[LRow].collect().toSet).getOrElse(Set.empty)
    Seq(
      Check("lakehouse.final_snapshot", got == expected, expected.size,
        (got intersect expected).size),
      Check("lakehouse.point_reads", pointOk == pointAll && pointAll > 0, pointAll, pointOk))
  }

  def named(): Map[String, Double] = {
    val s = ctx.samples
    val commits = s.get("commit")
    Map(
      "commit_p50_s" -> Stats.median(commits),
      "scan_read_p50_s" -> Stats.median(s.get("scan_read")),
      "point_read_p50_s" -> Stats.median(s.get("point_read")),
      "write_amp" -> writeAmp)
  }

  override def counters(tr: Traced, passes: Int): Map[String, Double] = Map(
    "manifest.files_listed_frac" ->
      (if (listedFrac.isEmpty) 0.0 else listedFrac.sum / listedFrac.size),
    "manifest.files_per_commit" ->
      dataFiles._1.toDouble / Manifest.latestVersion(d, spark.sparkContext.hadoopConfiguration))
}
