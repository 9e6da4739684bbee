package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** Overlap independent Spark action chains from driver threads (the
  * guide's §2.6 move): Spark's FIFO scheduler back-fills the cores one
  * chain's stragglers leave idle with another chain's tasks. Chains must
  * not depend on each other's side effects; a chain that needs another
  * SQL conf takes it from `graft.Scoped.withConf`.
  */
private[graft] object Par {

  /** Chains one call runs at once: q359's six lookups overlap fully, a
    * longer input queues instead of spawning unbounded driver threads.
    */
  val MaxConcurrent = 8

  private val calls = new AtomicInteger(0)

  /** Run every thunk and return the results in input order.
    *
    * Plain per-call daemon threads, not a shared pool: a fixed pool
    * deadlocks when a chain itself calls `all` (the inner call waits for
    * slots its ancestors hold). Each chain runs under its own Spark job
    * TAG, so the caller's job group and description survive. The first
    * chain to fail (in time) cancels its siblings' jobs by tag, no new
    * chain starts, and every thread is joined before the original error
    * is rethrown with the siblings' errors attached as suppressed — no
    * write is still running when the error reaches the caller.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val chains = thunks.toIndexedSeq
    val n = chains.length
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val call = s"graft-par-${calls.incrementAndGet()}"
    def tag(i: Int) = s"$call-$i"
    val results = new Array[Any](n)
    val errors = new Array[Throwable](n)
    val failed = new AtomicInteger(-1)
    val next = new AtomicInteger(0)
    def cancelSiblings(): Unit = {
      val f = failed.get
      if (f >= 0) sc.filterNot(_.isStopped).foreach { c =>
        (0 until n).filter(_ != f).foreach(i =>
          c.cancelJobsWithTag(tag(i), s"sibling chain ${tag(f)} failed"))
      }
    }
    val workers = (0 until math.min(n, MaxConcurrent)).map { w =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && failed.get < 0) {
          sc.foreach(_.addJobTag(tag(i)))
          try results(i) = chains(i)()
          catch { case e: Throwable =>
            errors(i) = e
            if (failed.compareAndSet(-1, i)) cancelSiblings()
          } finally sc.foreach(_.removeJobTag(tag(i)))
          i = next.getAndIncrement()
        }
      }, s"$call-w$w")
      th.setDaemon(true)
      th.start()
      th
    }
    // a sibling can submit a job after the first cancel: keep cancelling
    // until every thread has quiesced
    workers.foreach { th =>
      while (th.isAlive) { th.join(100); cancelSiblings() }
    }
    val f = failed.get
    if (f >= 0) {
      val err = errors(f)
      errors.filter(e => e != null && (e ne err)).foreach(err.addSuppressed)
      throw err
    }
    results.toSeq.map(_.asInstanceOf[A])
  }

  /** Two chains with distinct result types. */
  def all[A, B](a: () => A, b: () => B): (A, B) = {
    val r = all(Seq[() => Any](a, b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Three chains with distinct result types. */
  def all[A, B, C](a: () => A, b: () => B, c: () => C): (A, B, C) = {
    val r = all(Seq[() => Any](a, b, c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
