package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture. One session per suite (getOrCreate
  * reuses the JVM-wide session, so the whole `sbt test` run pays one
  * startup); small core/partition counts keep tiny-frame tests fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", cpus = "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
    s
  }

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp dir named `prefix…`; its tree is deleted after the
    * suite, so suite runs leave nothing behind.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

  /** sf0.001 testdata — tiny, used for end-to-end operator checks. */
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. A tagged drain job brackets
    * it on each side: the listener bus delivers in order, so once a
    * drain job's start is seen, every job started before it is counted.
    */
  def jobsDuring(body: => Any): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-during-drain-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val drains = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.job.description") == tag))
          drains.incrementAndGet()
        else jobs.incrementAndGet()
    }
    def drain(n: Int): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (drains.get < n && System.nanoTime() < deadline)
        Thread.sleep(10L)
      assert(drains.get >= n, s"listener never saw drain job $n")
    }
    sc.addSparkListener(listener)
    try {
      drain(1)
      val before = jobs.get()
      body
      drain(2)
      jobs.get() - before
    } finally sc.removeSparkListener(listener)
  }
}
