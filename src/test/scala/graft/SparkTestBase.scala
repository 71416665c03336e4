package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared session for suites: one JVM-wide factory session on 4 cores. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Temp dir that is actually deleted when the test JVM exits — bare
    * Files.createTempDirectory accumulates sf-sized parquet trees in /tmp
    * across runs until writes start failing.
    */
  def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    SparkTestBase.deleteOnExit(d.toFile)
    d.toString
  }

  /** `f`'s value and the start events of the Spark jobs it ran on this
    * thread (AQE's stage jobs included: they carry the caller's local
    * properties). The list is complete when it returns: a sentinel job run
    * afterwards is the last event on the listener bus.
    */
  def withJobs[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.test.jobs")).foreach {
          case `tag` => jobs.add(e)
          case t if t == tag + "-end" => sentinelJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.jobs", tag)
      val v = try f finally sc.setLocalProperty("graft.test.jobs", null)
      sc.setLocalProperty("graft.test.jobs", tag + "-end")
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.jobs", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      (v, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Retry an assertion until it holds or `timeoutMs` elapses. Needed for
    * StreamingQueryListener counters: Spark delivers progress events
    * asynchronously on the listener bus, which processAllAvailable() does
    * NOT flush — asserting immediately races event delivery.
    */
  def eventually(timeoutMs: Long = 10000, intervalMs: Long = 50)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) {
      Thread.sleep(intervalMs)
      ok = cond
    }
    assert(ok, s"condition not met within ${timeoutMs}ms")
  }
}

object SparkTestBase {
  private[graft] def deleteOnExit(f: java.io.File): Unit = {
    // initialise Fixtures now: its first use inside a shutdown hook would
    // register the session caches' own hook during shutdown, which the
    // JVM refuses, and the dir would stay
    val fixtures = Fixtures
    Runtime.getRuntime.addShutdownHook(new Thread(() => fixtures.deleteRecursively(f)))
  }

  lazy val session: SparkSession = {
    // embedded Derby (JdbcSinkSpec) writes derby.log into the CWD — the
    // repo root under sbt — unless told otherwise
    System.setProperty("derby.stream.error.file",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-derby.log")
    GraftSession.create(cores = 4)
  }
}
