package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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
