package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Fs {
  /** Delete a file tree if it exists. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x)))
}

/** Counts operations attempted and failed. A failing operation is
  * recorded and the run goes on, so one bad call cannot hide the rest.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 20) errors += s"$name: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300).replace('\n', ' ')
        None
    }
  }
}

/** Named latency samples, in seconds. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, seconds: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  /** The samples of each kind of operation filed under `cls`. */
  def kinds(cls: String): Seq[Seq[Double]] =
    m.collect { case (k, v) if k.startsWith(cls + "/") => v.toSeq }.toSeq
  def clear(): Unit = m.clear()
}

/** An output check done inside the JVM: `matched` of `expected` result
  * rows agreed with the reference.
  */
final case class Check(name: String, ok: Boolean, expected: Long, matched: Long)

/** An output check the launcher finishes in DuckDB: run `sql` over the
  * CSV or parquet `tables` and compare with the parquet result at `got`,
  * or, when `sql` is empty, compare its row count with `expectedRows`.
  */
final case class Pending(name: String, got: String, sql: String,
                         tables: Map[String, String] = Map.empty,
                         expectedRows: Long = -1L)

/** What a workload sees: the session, its tracer, counters and a private
  * work directory. `op` times one call into `layer` as a span, counts it
  * as attempted (and as failed if it throws) and files its latency under
  * `sample`.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val work: Path) {
  val ops = new Ops
  val samples = new Samples

  def op[T](sample: String, layer: String, name: String)(body: => T): Option[T] =
    timed(sample, name)(trace.span(layer, name)(body))

  /** `op` without a span of its own, for calls whose parts are spans.
    * The latency is filed under `sample` and under `sample/name`, its kind.
    */
  def timed[T](sample: String, name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = ops.attempt(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    if (r.isDefined) {
      samples.add(sample, dt)
      samples.add(s"$sample/$name", dt)
    }
    System.err.println(f"graftbench op $name%s $dt%.4f ${if (r.isDefined) "ok" else "FAILED"}")
    r
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One benchmark workload. `prepare` builds the seeded inputs and any
  * untimed layout (it is repeated to take the median set-up time), and
  * `pass` is the timed unit of work (also run untimed to warm up).
  */
trait Workload {
  /** One pass's wall time on a four-core VM at `local[2]`, from which
    * `--seconds` is turned into a pass count (see `Main.passesFor`).
    */
  def nominalPassS: Double
  /** The class of operation whose latency is the run's `op_p50_s`. */
  def opSamples: Seq[String]
  def prepare(rep: Int): Unit
  def pass(): Unit
  def checks(): Seq[Check]
  def pending(): Seq[Pending] = Nil
  /** Workload-specific figures under the names the doc uses. */
  def named(): Map[String, Double]
  /** Per-layer ratios and counts for the traced run, per pass. */
  def counters(tr: Traced, passes: Int): Map[String, Double] = Map.empty
}
