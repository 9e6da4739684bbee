package graftbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def ctx() = new Ctx(null, new Trace(false, null, "test"), 1L,
    Files.createTempDirectory("graftbench-test"))

  test("a throwing operation is counted as attempted and failed, and not timed") {
    val c = ctx()
    Fs.deleteTree(c.work)
    assert(c.op("x", "manifest", "ok")(1).contains(1))
    assert(c.op("x", "manifest", "boom")(throw new IllegalStateException("no")).isEmpty)
    assert(c.ops.attempted == 2)
    assert(c.ops.failed == 1)
    assert(c.samples.get("x").size == 1)
    assert(c.ops.errors.exists(_.startsWith("boom: IllegalStateException")))
  }

  test("self time is duration minus the union of child spans") {
    val spans = Seq(
      Span(1, 0, "r", "bench", "pass", 0, 100),
      Span(2, 1, "r", "ingest", "a", 10, 40),
      Span(3, 1, "r", "quality", "b", 30, 60),
      Span(4, 1, "r", "sinks", "c", 80, 90))
    val t = Traced(spans, Nil, Nil)
    assert(t.selfUs(spans.head) == 100 - 50 - 10)
    assert(t.selfUs(spans(1)) == 30)
  }

  test("layer rollup splits busy time into job time and driver time") {
    val spans = Seq(Span(1, 0, "r", "sinks", "w", 1000000, 3000000))
    val jobs = Seq(JobRec(0, 1, 1500, 2000, Seq(0)), JobRec(1, 1, 1800, 2500, Seq(1)))
    val tasks = Seq(1 -> TaskAgg(cpuNs = 2000000000L, waitMs = 500))
    val r = Traced(spans, jobs, tasks).rollup(Seq("sinks"), passes = 2)
    assert(r("sinks.busy_s") == 1.0)
    assert(r("sinks.job_s") == 0.5)
    assert(r("sinks.driver_s") == 0.5)
    assert(r("sinks.task_cpu_s") == 1.0)
    assert(r("sinks.sched_wait_s") == 0.25)
  }

  test("the pass count follows the budget and the nominal pass, not the clock") {
    assert(Main.passesFor(10, 2.0) == 5)
    assert(Main.passesFor(10, 4.5) == Main.MinPasses)
    assert(Main.passesFor(5, 2.0) == Main.MinPasses)
    assert(Main.passesFor(60, 3.5) == 17)
  }
}
