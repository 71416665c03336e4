package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The fixture lifecycle on [[SessionCache]]: one build per (session, key)
  * under concurrent first calls, composition without deadlock, and release
  * of one session's entries and temp dirs, on the shared test session and a
  * `newSession()` child of it.
  */
class FixtureSpec extends SparkTestBase {

  /** Run `calls` on 8 threads released together; their results in order. */
  private def concurrently[T](calls: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(8)
    try {
      val start = new CountDownLatch(1)
      val futures = calls.map(c => pool.submit(new Callable[T] {
        def call(): T = { start.await(); c() }
      }))
      start.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("eight threads making the first call get one build, timed") {
    val builds = new AtomicInteger
    val f = new Fixture[Int]("probe", (_, _) => {
      builds.incrementAndGet(); Thread.sleep(200); 42 })
    assert(concurrently(Seq.fill(8)(() => f(spark, "k"))) == Seq.fill(8)(42))
    assert(builds.get == 1)
    assert(f.buildSeconds(spark, "k").exists(_ >= 0.2))
    assert(f(spark, "k") == 42 && builds.get == 1)
    // another key of the same fixture is its own entry
    assert(f(spark, "k2") == 42 && builds.get == 2)
  }

  test("a composed fixture builds its base once and does not deadlock") {
    val baseBuilds = new AtomicInteger
    val topBuilds = new AtomicInteger
    val base = new Fixture[String]("base", (_, dir) => {
      baseBuilds.incrementAndGet(); Thread.sleep(100); s"$dir/base" })
    val top = new Fixture[String]("top", (s, dir) => {
      topBuilds.incrementAndGet(); base(s, dir) + "+top" })
    val calls = (0 until 8).map(i =>
      if (i % 2 == 0) () => top(spark, "d") else () => base(spark, "d"))
    val got = concurrently(calls)
    assert(got.zipWithIndex.forall { case (v, i) =>
      v == (if (i % 2 == 0) "d/base+top" else "d/base") })
    assert(baseBuilds.get == 1 && topBuilds.get == 1)
  }

  test("a build that throws caches nothing; the next call builds again") {
    val builds = new AtomicInteger
    val f = new Fixture[Int]("flaky", (_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first")
      else 7)
    assertThrows[IllegalStateException](f(spark, "k"))
    assert(f.buildSeconds(spark, "k").isEmpty)
    assert(f(spark, "k") == 7 && builds.get == 2)
  }

  test("releasing a child session drops only its entries and deletes only its temp dirs") {
    val child = spark.newSession()
    val builds = new AtomicInteger
    val written = new Fixture[String]("written", (s, _) => {
      builds.incrementAndGet()
      val out = Fixtures.tempDir(s, "fixture-spec")
      Files.write(new File(out, "part").toPath, Array[Byte](1))
      out
    })
    // a caller-supplied dir a fixture hands back as is, like mediaTableDir's
    // pre-generated <sfDir>/media.parquet
    val sfDir = tmp("fixture-spec-sf")
    val media = new File(sfDir, "media.parquet")
    graft.sources.MediaTable.Kinds.foreach(k => new File(media, s"kind=$k").mkdirs())
    Files.write(new File(media, "_SUCCESS").toPath, Array.empty[Byte])

    val parentOut = written(spark, sfDir)
    val childOut = written(child, sfDir)
    assert(parentOut != childOut && builds.get == 2)
    assert(Fixtures.mediaTableDir(child, sfDir) == media.getAbsolutePath)

    SessionCache.release(child)

    assert(!new File(childOut).exists, "the child's fixture dir must be deleted")
    assert(!new File(childOut).getParentFile.exists, "the child's temp root must be deleted")
    assert(new File(parentOut, "part").isFile, "the parent's fixture dir must survive")
    assert(new File(media, "_SUCCESS").isFile, "a dir the fixture did not create must survive")
    assert(written.buildSeconds(child, sfDir).isEmpty)
    assert(written.buildSeconds(spark, sfDir).isDefined)
    assert(written(spark, sfDir) == parentOut && builds.get == 2,
      "the parent's entry must survive the child's release")

    // after a release, the next call rebuilds
    val again = written(child, sfDir)
    assert(builds.get == 3 && again != childOut && new File(again, "part").isFile)
    SessionCache.release(child)
    assert(!new File(again).exists)
  }

  test("Fixtures.all names every registry fixture, bases first") {
    assert(Fixtures.all.map(_.name) == Seq(
      "logTableDir", "fbChunkDir", "compactedLogTableDir", "retainedLogTableDir",
      "indexedLogTableDir", "rangeIndexedLogTableDir", "rollupDirs",
      "materializedLogTableDir", "bpeMerges", "nestedIngested", "ivfIndex",
      "ivfIndexScaled", "pqIndex", "ivfPqIndex", "dedupIndexDirs",
      "qualityModel", "clusters", "minhashTruth", "podDayTruth",
      "embeddingsCount", "annBruteTruth", "knnQueryBatch", "knnBruteTruth",
      "clusteredEmbeddings", "ivfIndexClustered", "knnClusteredQueryBatch",
      "knnClusteredBruteTruth", "zorderedEventsDir", "zorderedIndexedEventsDir",
      "mediaTableDir"))
  }
}
