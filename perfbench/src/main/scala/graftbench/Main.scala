package graftbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.Using

/** Runs one workload for a fixed time and writes its figures as JSON
  * for the launcher (`perfbench/run.py`), which finishes the DuckDB
  * output checks and prints the result line.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --root REPO --work DIR --out DIR [--cpus K]
  */
object Main {

  /** The layers, named after the engine's modules (see perfbench/README.md). */
  val Layers: Seq[String] = Seq("ingest", "quality", "transform", "sinks",
    "dedup", "similarity", "text", "manifest", "streaming", "graphs",
    "queries", "session")

  /** Untimed passes before measuring. The first is cold (class loading,
    * code generation); the JIT is still speeding passes up by a fifth
    * after it, so a second one runs before the clock starts.
    */
  val WarmUpPasses = 2

  /** The fewest timed passes a run measures, whatever its budget. */
  val MinPasses = 3

  /** Timed passes for `seconds` of measurement: as many as fit at the
    * workload's nominal pass time, and never fewer than MinPasses. The
    * count, not the clock, ends the measurement, so every run times the
    * same passes: under a time limit a faster run fits one more pass, and
    * that pass (later, so warmer and quicker) moves the median.
    */
  def passesFor(seconds: Double, nominalPassS: Double): Int =
    math.max(MinPasses, math.round(seconds / nominalPassS).toInt)

  def workload(name: String, ctx: Ctx, root: String): Workload = name match {
    case "retail_etl" => new RetailEtl(ctx, s"$root/conf/retail_pipeline.yaml")
    case "curation" => new Curation(ctx)
    case "lakehouse" => new Lakehouse(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Files.createDirectories(Paths.get(args("out")).toAbsolutePath)
    val cpus = args.getOrElse("cpus", "2")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    Fs.deleteTree(work)
    Files.createDirectories(work)

    val sessionStartUs = System.currentTimeMillis() * 1000L
    val spark = GraftSession.builder("graftbench", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    val sessionEndUs = System.currentTimeMillis() * 1000L
    val jvmToSessionS = (sessionEndUs / 1000L - jvmStartMs) / 1000.0

    val trace = new Trace(traced, spark.sparkContext, s"$name-$seed")
    trace.record("session", "GraftSession.builder", sessionStartUs, sessionEndUs)
    val ctx = new Ctx(spark, trace, seed, work)
    try {
      val wl = workload(name, ctx, args("root"))

      // Set-up: session (above), then the workload's inputs and layouts
      // three times for a median, then WarmUpPasses untimed passes.
      val prepS = (0 until 3).map { rep =>
        trace.on = traced && rep == 0
        val t0 = System.nanoTime()
        wl.prepare(rep)
        (System.nanoTime() - t0) / 1e9
      }
      trace.on = false
      val tw = System.nanoTime()
      (0 until WarmUpPasses).foreach(_ => wl.pass())
      val warmS = (System.nanoTime() - tw) / 1e9
      ctx.samples.clear()
      val setupS = jvmToSessionS + Stats.median(prepS) + warmS

      def measure(budget: Double): Int = {
        val n = passesFor(budget, wl.nominalPassS)
        (0 until n).foreach { _ =>
          val p0 = System.nanoTime()
          trace.span("bench", "pass")(wl.pass())
          ctx.samples.add("pass", (System.nanoTime() - p0) / 1e9)
        }
        n
      }

      val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val passes = measure(if (traced) seconds / 2 else seconds)
      val untracedPass = Stats.median(ctx.samples.get("pass"))
      val opSamples = wl.opSamples.flatMap(ctx.samples.get)
      val named = wl.named()
      val tail = Stats.tail(opSamples)
      metrics ++= Seq(
        "setup_s" -> setupS,
        "pass_s" -> untracedPass,
        "op_p50_s" -> Stats.meanOfMedians(wl.opSamples.flatMap(ctx.samples.kinds)))

      if (traced) {
        ctx.samples.clear()
        trace.on = true
        val tracedPasses = measure(seconds / 2)
        trace.on = false
        val tr = trace.finish()
        val tracedPassSamples = ctx.samples.get("pass")
        val tracedPass = Stats.median(tracedPassSamples)
        metrics.clear()
        metrics ++= tr.rollup(Layers.filterNot(_ == "session"), tracedPasses)
        metrics ++= tr.rollup(Seq("session"), 1)
        metrics ++= wl.counters(tr, tracedPasses)
        metrics("spark.failed_tasks") = tr.failedTasks.toDouble
        metrics("trace.overhead_frac") = tracedPass / untracedPass - 1.0
        // The mean, so that layer busy times (also per-pass means) plus the
        // benchmark's own self time add up to it.
        metrics("trace.pass_s") = tracedPassSamples.sum / tracedPasses
        metrics("trace.bench_self_s") =
          tr.spans.filter(_.layer == "bench").map(tr.selfUs).sum / 1e6 / tracedPasses
        Files.writeString(out.resolve("spans.json"), tr.spansJson)
      }

      val checks = wl.checks()
      val pending = wl.pending()
      metrics("peak_rss_mb") = peakRssMb()
      val result = Json.obj(
        "workload" -> Json.str(name),
        "seed" -> seed.toString,
        "cpus" -> cpus,
        "traced" -> traced.toString,
        "passes" -> passes.toString,
        "op_samples" -> opSamples.size.toString,
        "op_tail" -> tail.map { case (p, v) =>
          Json.obj("pct" -> Json.num(p), "s" -> Json.num(v)) }.getOrElse("null"),
        "setup_parts" -> Json.obj(
          "jvm_to_session_s" -> jvmToSessionS.toString,
          "prepare_s" -> Json.arr(prepS.map(_.toString)),
          "warm_up_s" -> warmS.toString),
        "attempted" -> ctx.ops.attempted.toString,
        "failed" -> ctx.ops.failed.toString,
        "errors" -> Json.arr(ctx.ops.errors.toSeq.map(Json.str)),
        "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "named" -> Json.obj(named.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "checks" -> Json.arr(checks.map(c => Json.obj(
          "name" -> Json.str(c.name), "ok" -> c.ok.toString,
          "expected" -> c.expected.toString, "matched" -> c.matched.toString))),
        "pending" -> Json.arr(pending.map(p => Json.obj(
          "name" -> Json.str(p.name), "got" -> Json.str(p.got), "sql" -> Json.str(p.sql),
          "expected_rows" -> p.expectedRows.toString,
          "tables" -> Json.obj(p.tables.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)))))
      Files.writeString(out.resolve("result.json"), result)
    } finally spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
