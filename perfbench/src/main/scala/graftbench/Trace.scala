package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer, recorded from the benchmark's side of
  * the call. Times are epoch microseconds so they line up with Spark's
  * job and task timestamps (epoch milliseconds).
  */
final case class Span(id: Int, parent: Int, run: String, layer: String,
                      name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spark job/stage/task facts gathered by [[Trace]]'s listener. */
final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long,
                        stages: Seq[Int])
final case class TaskAgg(var cpuNs: Long = 0, var waitMs: Long = 0,
                         var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                         var inputBytes: Long = 0, var failed: Long = 0)

/** Span recorder plus a listener that attributes every Spark job to the
  * span open when the job started. The benchmark opens spans only from
  * its own thread and only around its own calls into the engine, so the
  * traced run is sequential and the attribution is exact: the open span
  * id travels with each job as a local property, and a job that carries
  * none, or a stale one, goes to the innermost span whose interval holds
  * the job start.
  *
  * With tracing off, `span` runs its body and records nothing.
  */
final class Trace(val enabled: Boolean, sc: SparkContext, val runId: String) {
  import Trace._

  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  private def nowUs: Long = System.nanoTime() / 1000L + epochOffsetUs

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[(Int, String, String, Long)]()
  private var nextId = 1

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val rec = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
      jobById.put(e.jobId, rec)
      jobs.add(rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stageTasks.computeIfAbsent(e.stageId, _ => TaskAgg())
      agg.synchronized {
        if (!e.taskInfo.successful) agg.failed += 1
        val sub = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
        agg.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        Option(e.taskMetrics).foreach { m =>
          agg.cpuNs += m.executorCpuTime
          agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          agg.spillBytes += m.diskBytesSpilled
          agg.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Spans are recorded only while `on`; the listener runs throughout
    * a traced run, and jobs outside every span are not attributed.
    */
  @volatile var on: Boolean = false

  /** Record a span measured by the caller. */
  def record(layer: String, name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, 0, runId, layer, name, startUs, endUs)
      nextId += 1
    }

  /** Time `body` as a call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.push((id, layer, name, nowUs))
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        val (_, l, n, start) = stack.pop()
        spans += Span(id, parent, runId, l, n, start, nowUs)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Wait for the listener bus, then freeze what was recorded. */
  def finish(): Traced = {
    if (enabled) {
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val byId = spans.map(s => s.id -> s).toMap
    val js = jobs.asScala.toSeq.map { j =>
      val t = j.startMs * 1000L
      // A pool thread keeps the property it inherited when it was made,
      // so a property naming a span that was not open at the job's
      // start is stale; fall back to the time.
      val tagged = byId.get(j.span).filter(s => s.startUs - 1000 <= t && t <= s.endUs + 1000)
      j.copy(span = tagged.orElse(innermost(t)).map(_.id).getOrElse(0))
    }
    val stageOwner = js.flatMap(j => j.stages.map(_ -> j.span)).toMap
    val tasks = stageTasks.asScala.toSeq.map { case (st, agg) =>
      (stageOwner.getOrElse(st, 0), agg)
    }
    Traced(spans.toSeq, js, tasks)
  }

  private def innermost(tUs: Long): Option[Span] =
    spans.filter(s => s.startUs <= tUs && tUs <= s.endUs).maxByOption(_.startUs)
}

object Trace {
  val SpanProp = "graftbench.span"
}

/** A finished trace: spans plus the jobs and task aggregates attributed
  * to them (span id 0 = outside every span).
  */
final case class Traced(spans: Seq[Span], jobs: Seq[JobRec],
                        tasks: Seq[(Int, TaskAgg)]) {

  /** Duration minus the part of the interval covered by child spans. */
  def selfUs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startUs, c.endUs))
    s.durUs - Traced.unionLength(kids)
  }

  /** Per-layer figures, each divided by `passes`. */
  def rollup(layers: Seq[String], passes: Int): Map[String, Double] = {
    val d = math.max(1, passes).toDouble
    layers.flatMap { layer =>
      val ss = spans.filter(_.layer == layer)
      val ids = ss.map(_.id).toSet
      val busyUs = ss.map(selfUs).sum
      val myJobs = jobs.filter(j => ids(j.span) && j.endMs >= j.startMs)
      val jobUs = Traced.unionLength(myJobs.map(j => (j.startMs * 1000L, j.endMs * 1000L)))
      val agg = tasks.filter(t => ids(t._1)).map(_._2)
      Seq(
        s"$layer.calls" -> ss.size / d,
        s"$layer.busy_s" -> busyUs / 1e6 / d,
        s"$layer.job_s" -> jobUs / 1e6 / d,
        s"$layer.driver_s" -> math.max(0L, busyUs - jobUs) / 1e6 / d,
        s"$layer.task_cpu_s" -> agg.map(_.cpuNs).sum / 1e9 / d,
        s"$layer.sched_wait_s" -> agg.map(_.waitMs).sum / 1e3 / d,
        s"$layer.shuffle_mb" -> agg.map(_.shuffleBytes).sum / 1048576.0 / d,
        s"$layer.spill_mb" -> agg.map(_.spillBytes).sum / 1048576.0 / d)
    }.toMap
  }

  /** Input bytes read by tasks of jobs attributed to `spanName` spans. */
  def inputBytesIn(spanName: String): Long = {
    val ids = spans.filter(_.name == spanName).map(_.id).toSet
    tasks.filter(t => ids(t._1)).map(_._2.inputBytes).sum
  }

  def failedTasks: Long = tasks.map(_._2.failed).sum

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs},""" +
      s""""self_us":${selfUs(s)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Traced {
  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
