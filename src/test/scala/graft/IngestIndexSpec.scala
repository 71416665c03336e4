package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{LogSchema, NgramIndex, SidecarIndex, ZoneMapIndex}
import graft.plans.PromoteMapKeys
import graft.streaming.IngestStream

/** Index-at-ingest: the streaming sink builds both sidecars from one
  * read-back of each batch's new files. These specs pin what that pass
  * stores (the same rows as the standalone builds), what it costs (Spark
  * jobs per micro-batch) and the staleness contract around the commit
  * marker.
  */
class IngestIndexSpec extends SparkTestBase {

  private val Ngram = NgramIndex.Config(n = 4, expectedNdv = 1L << 12)
  private val SeqCol = PromoteMapKeys.promotedName("content_seq")
  private val ZoneCols = Seq("timestamp", SeqCol)

  /** `n` JSON lines on day `day` of January 2026, `content.seq` from `seq0`. */
  private def lines(n: Int, day: Int, seq0: Int, text: Int => String): String =
    (0 until n).map { i =>
      s"""{"ts":"2026-01-${f"$day%02d"}T08:${f"${i / 60 % 60}%02d"}:${f"${i % 60}%02d"}Z","cluster":"c1","kubernetes":{"namespace_name":"ns${i % 2}","pod_name":"pod-$i","container_name":"main","host":"h1","labels":{"app":"a"}},"log":"${text(i)}","content":{"level":"info","seq":${seq0 + i}}}"""
    }.mkString("\n")

  private def land(in: String, name: String, body: String): Unit = {
    Files.write(Paths.get(in, name), body.getBytes("UTF-8"))
    ()
  }

  private def start(in: String, out: String, ckpt: String, indexing: Boolean): StreamingQuery =
    IngestStream.sinkPartitionedParquet(
      LogSchema.withPromotedColumns(
        IngestStream.ingested(IngestStream.readJsonLines(spark, in)),
        numberKeys = Seq("content_seq")),
      out, ckpt, Trigger.ProcessingTime(0),
      ngramIndex = if (indexing) Some(Ngram) else None,
      zoneMapCols = if (indexing) ZoneCols else Nil).start()

  private def dataFiles(table: String): Set[String] =
    LogSchema.readLogs(spark, table).inputFiles.map(SidecarIndex.norm).toSet

  /** Both sidecars' rows keyed by normalized file: (file, n, bloom bytes)
    * and (file, col, lo, hi).
    */
  private def sidecarRows(table: String): (Set[(String, Int, Seq[Byte])], Set[(String, String, Any, Any)]) = {
    // the part files, not the `_`-prefixed dir, which Spark would warn it ignored
    def rows(dirName: String) = spark.read.parquet(
      new java.io.File(table, dirName).listFiles().map(_.getPath).filter(_.endsWith(".parquet")): _*)
      .collect()
    val ngram = rows(NgramIndex.IndexDirName)
      .map(r => (SidecarIndex.norm(r.getAs[String]("file")), r.getAs[Int]("n"),
        r.getAs[Array[Byte]]("bloom").toSeq)).toSet
    val zone = rows(ZoneMapIndex.IndexDirName)
      .map(r => (SidecarIndex.norm(r.getAs[String]("file")), r.getAs[String]("col"),
        r.getAs[Any]("lo"), r.getAs[Any]("hi"))).toSet
    (ngram, zone)
  }

  /** Jobs the streaming query `q` starts while `f` runs. The count is
    * complete when it returns: a sentinel job run afterwards is the last
    * event on the listener bus.
    */
  private def queryJobs(q: StreamingQuery)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = s"graft-sentinel-${java.util.UUID.randomUUID()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty("sql.streaming.queryId") == q.id.toString))
          jobs.incrementAndGet()
        if (props.exists(p => p.getProperty("graft.test.sentinel") == sentinel))
          sentinelJobs.add(e.jobId)
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.test.sentinel", sentinel)
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.sentinel", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("index-at-ingest stores the standalone builds' rows, in at most 9 jobs for a 2-day batch") {
    val in = tmp("graft-iidx-in"); val out = tmp("graft-iidx-out")
    val ckpt = tmp("graft-iidx-ckpt")
    val q = start(in, out, ckpt, indexing = true)
    try {
      land(in, "b1.json", lines(40, 10, 0, i => s"first day line $i"))
      q.processAllAvailable()
      // the measured batch touches two days, one of them already indexed,
      // so the coverage read has rows to skip
      val jobs = queryJobs(q) {
        land(in, "b2.json",
          lines(30, 10, 1000, i => s"again day ten $i") + "\n" +
            lines(30, 11, 2000, i => if (i == 7) "kwxqzvy needle" else s"day eleven $i"))
        q.processAllAvailable()
      }
      assert(jobs <= 9, s"a 2-day micro-batch with both sidecars ran $jobs Spark jobs")
    } finally q.stop()
    val files = dataFiles(out)
    assert(files.exists(_.contains("date=2026-01-11")) && files.exists(_.contains("date=2026-01-10")))

    val (ngram, zone) = sidecarRows(out)
    assert(ngram.map(_._1) == files, "one n-gram row per data file")
    assert(ngram.size == files.size)
    assert(zone.map(r => (r._1, r._2)) == (for (f <- files; c <- ZoneCols) yield (f, c)),
      "one zone row per (data file, column)")
    assert(zone.size == files.size * ZoneCols.size)

    // the same files through the standalone builds, with the sidecars
    // built at ingest moved aside
    val aside = tmp("graft-iidx-aside")
    Seq(NgramIndex.IndexDirName, ZoneMapIndex.IndexDirName).foreach(d =>
      Files.move(Paths.get(out, d), Paths.get(aside, d)))
    assert(NgramIndex.build(spark, out, Ngram.n, Ngram.expectedNdv, Ngram.fpp).size == files.size)
    assert(ZoneMapIndex.build(spark, out, ZoneCols).size == files.size)
    val (ngram2, zone2) = sidecarRows(out)
    assert(ngram2 == ngram, "identical bloom bytes per file")
    assert(zone2 == zone, "identical lo/hi per (file, column)")

    // and the bounds are the plain per-file min/max
    val table = LogSchema.readLogs(spark, out)
    val oracle = ZoneCols.flatMap { c =>
      table.groupBy(input_file_name().as("file"))
        .agg(min(col(c).cast("double")), max(col(c).cast("double")))
        .collect().map(r => (SidecarIndex.norm(r.getString(0)), c, r.get(1), r.get(2)))
    }.toSet
    assert(zone == oracle)
    // the planted needle prunes through the ingest-built index
    val p = NgramIndex.prune(spark, out, "kwxqzvy needle").get
    assert(p.unindexed == 0 && p.pruned > 0)
  }

  test("staleness: a file the index step never saw is scanned until the next batch of its day indexes it; replay appends nothing") {
    val in = tmp("graft-istale-in"); val out = tmp("graft-istale-out")
    val ckpt = tmp("graft-istale-ckpt")
    def run(indexing: Boolean)(body: => Unit): Unit = {
      val q = start(in, out, ckpt, indexing)
      try { body; q.processAllAvailable() } finally q.stop()
    }
    def full(needle: String): Long =
      LogSchema.readLogs(spark, out).where(col("log").contains(needle)).count()
    def fullRange(lo: Double, hi: Double): Long =
      LogSchema.readLogs(spark, out).where(col(SeqCol).cast("double").between(lo, hi)).count()

    run(indexing = true)(land(in, "b0.json", lines(20, 10, 0, i => s"indexed line $i")))
    // the same state as a crash between the commit marker and the index
    // step: batch 1's file is in day 10 and committed, but no sidecar row
    // names it
    run(indexing = false)(land(in, "b1.json",
      lines(20, 10, 5000, i => if (i == 3) "kwxqzvy stale needle" else s"unindexed line $i")))
    val stale = dataFiles(out) -- sidecarRows(out)._1.map(_._1)
    assert(stale.size == 1 && stale.head.contains("date=2026-01-10"))

    val byBloom = NgramIndex.prune(spark, out, "kwxqzvy stale needle").get
    assert(byBloom.unindexed > 0 && byBloom.candidates.map(SidecarIndex.norm).toSet.contains(stale.head))
    assert(NgramIndex.searchLogs(spark, out, "kwxqzvy stale needle").count() == 1L)
    assert(full("kwxqzvy stale needle") == 1L)
    val byRange = ZoneMapIndex.prune(spark, out, SeqCol, 5000d, 5019d).get
    assert(byRange.unindexed > 0 && byRange.candidates.map(SidecarIndex.norm).toSet.contains(stale.head))
    assert(ZoneMapIndex.rangeScan(spark, out, SeqCol, 5000d, 5019d).count() == 20L)
    assert(fullRange(5000d, 5019d) == 20L)

    // the next batch touching day 10 converges both sidecars
    run(indexing = true)(land(in, "b2.json", lines(5, 10, 9000, i => s"later line $i")))
    val files = dataFiles(out)
    val (ngram, zone) = sidecarRows(out)
    assert(ngram.map(_._1) == files, "every file in the n-gram sidecar")
    ZoneCols.foreach(c => assert(zone.filter(_._2 == c).map(_._1) == files, s"every file in the zone map on $c"))
    assert(NgramIndex.prune(spark, out, "kwxqzvy stale needle").get.unindexed == 0)
    assert(ZoneMapIndex.prune(spark, out, SeqCol, 5000d, 5019d).get.unindexed == 0)
    assert(NgramIndex.searchLogs(spark, out, "kwxqzvy stale needle").count() == 1L)
    assert(ZoneMapIndex.rangeScan(spark, out, SeqCol, 5000d, 5019d).count() == 20L)

    // replay the last batch id: its marker skips it, so neither the table
    // nor a sidecar gains a row
    val rows = LogSchema.readLogs(spark, out).count()
    val last = new java.io.File(ckpt, "commits").listFiles().map(_.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(ckpt, s"commits/$last").delete())
    new java.io.File(ckpt, s"commits/.$last.crc").delete()
    run(indexing = true)(())
    assert(LogSchema.readLogs(spark, out).count() == rows)
    assert(rows == 45L)
    assert(sidecarRows(out) == ((ngram, zone)))
  }
}
