package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import graft.operators.{Checkpoints, Par}
import graft.streaming.EventStreams
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Latches shared between the driver and local-mode tasks. */
object ScopeSpecLatches {
  @volatile var draining = new CountDownLatch(1)
  @volatile var planned = new CountDownLatch(1)
}

/** The execution-scope primitives: `Par.all` overlaps chains and cancels
  * the siblings of a failed one; `Scoped.withConf` keeps a conf change
  * off the shared session, so overlapped chains never read it.
  */
class ScopeSpec extends SparkSpec {

  /** Partition counts of the shuffles in `df`'s initial physical plan. */
  private def shuffleWidths(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
  }

  test("Par.all returns results in input order and runs the chains concurrently") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val out = Par.all((1 to 6).map(i => () => {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(200)
      running.decrementAndGet()
      i * 10
    }))
    assert(out === (1 to 6).map(_ * 10))
    assert(peak.get === 6, "six chains must overlap fully")
    val (a, b) = Par.all(() => "x", () => 2)
    assert((a, b) === (("x", 2)))
  }

  test("a scoped session keeps tune()'s confs, functions and GRAFT parser; the caller's conf is untouched") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    assume(before != "-1")
    Scoped.withConf(spark, key -> "-1") { s =>
      assert(s ne spark)
      assert(s.conf.get(key) === "-1")
      assert(spark.conf.get(key) === before)
      assert(s.conf.get("spark.sql.ansi.enabled") === "false")
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.catalog.functionExists("vec_mean"))
      val parsed = try { s.sql("GRAFT CHECKPOINT '/nonexistent_graft_table'"); true }
        catch {
          case _: org.apache.spark.sql.catalyst.parser.ParseException => false
          case _: Exception => true
        }
      assert(parsed, "the GRAFT verb parser must survive the clone")
    }
    assert(spark.conf.get(key) === before)
  }

  test("a failed chain cancels its sibling's running Spark job and surfaces first") {
    val sc = spark.sparkContext // the session Par.all tags jobs on
    val jobSeconds = 60
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.all(Seq(
        () => { Thread.sleep(1000); throw new IllegalStateException("chain failed") },
        () => sc.parallelize(1 to 2, 2).map { x =>
          // a long task that still honours a kill
          val ctx = TaskContext.get()
          val end = System.nanoTime() + jobSeconds * 1000000000L
          while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
          x
        }.count()))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage === "chain failed", "the original error must surface")
    assert(elapsed < jobSeconds / 3,
      f"call returned after $elapsed%.1fs — the sibling job ran on")
    val cancelled = err.getSuppressed.toSeq
    assert(cancelled.exists(e => String.valueOf(e.getMessage).contains("cancel")),
      s"sibling's job must end cancelled; suppressed: ${cancelled.map(_.getMessage)}")
  }

  test("a drain overlapped with a batch aggregate leaves the batch at the session width") {
    val session = spark.conf.get("spark.sql.shuffle.partitions")
    assume(session != "8", "the drain width must differ from the session's")
    ScopeSpecLatches.draining = new CountDownLatch(1)
    ScopeSpecLatches.planned = new CountDownLatch(1)
    // the drain holds its micro-batch open until the batch side planned
    val hold = udf { (x: Long) =>
      ScopeSpecLatches.draining.countDown()
      ScopeSpecLatches.planned.await(30, TimeUnit.SECONDS)
      x
    }
    val stream = Tables.readTableStream(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), max(hold(col("o_orderkey"))).as("k"))
    val (drained, batchWidths) = Par.all(
      () => EventStreams.runToMemory(stream, OutputMode.Complete()),
      () => {
        ScopeSpecLatches.draining.await(30, TimeUnit.SECONDS)
        try shuffleWidths(spark.range(1000).groupBy(col("id") % 7).count())
        finally ScopeSpecLatches.planned.countDown()
      })
    assert(batchWidths.nonEmpty && batchWidths.forall(_ === session.toInt),
      s"batch side planned at $batchWidths while the drain ran, session is $session")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === session)
    // the drained frame belongs to the caller's session and plans at its width
    assert(drained.sparkSession eq spark)
    val downstream = shuffleWidths(drained.groupBy(col("n") % 2).count())
    assert(downstream.nonEmpty && downstream.forall(_ === session.toInt), downstream)
    assert(drained.count() === Tables.load(spark, sfDir, "orders")
      .select("o_orderstatus").distinct().count())
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_stream_")),
      "drain views must not land in the shared session's catalog")
  }

  test("concurrent cutNoConstraints never turns off the shared session's constraint flag") {
    val key = "spark.sql.constraintPropagation.enabled"
    assert(spark.conf.get(key, "true") === "true")
    val slow = udf { (x: Long) => Thread.sleep(2); x }
    val src = spark.range(0, 400, 1, 4).select(slow(col("id")).as("id"))
      .filter(col("id") > 5)
    val cuts = 4
    val done = new AtomicInteger(0)
    val sawOff = new AtomicBoolean(false)
    val results = Par.all[Option[DataFrame]]((1 to cuts).map(_ => () => {
      try Some(Checkpoints.cutNoConstraints(src))
      finally done.incrementAndGet()
    }) :+ (() => {
      while (done.get < cuts) {
        if (spark.conf.get(key, "true") != "true") sawOff.set(true)
        Thread.sleep(1)
      }
      None
    })).flatten
    assert(!sawOff.get, s"the shared session read $key=false during a cut")
    assert(spark.conf.get(key, "true") === "true")
    results.foreach { cut =>
      assert(cut.sparkSession eq spark)
      assert(cut.count() === 394L)
      val rdd = cut.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }
      assert(rdd.exists(_.constraints.isEmpty),
        "the checkpointed relation must carry no constraints")
    }
    // non-vacuous: a plain cut of the same frame does carry constraints
    val plain = Checkpoints.cut(src).queryExecution.analyzed
      .collectFirst { case r: LogicalRDD => r }
    assert(plain.exists(_.constraints.nonEmpty))
  }
}
