package graft

import graft.model.ZoneMapIndex
import org.apache.spark.sql.functions._

/** Zone-map skip index: range scans through the index must equal the
  * plain filtered read for EVERY index state (fresh, stale-unindexed,
  * dead-rows, boundary queries), while provably shrinking the file list
  * on a span-tight layout.
  */
class ZoneMapSpec extends SparkTestBase {
  import spark.implicits._

  /** 8 range-clustered files over x ∈ [0, 8000): file i spans ~[1000i,
    * 1000(i+1)) — the tight-span layout zone maps exist for.
    */
  private def writeClustered(out: String): Unit =
    (0 until 8000).map(i => (i.toLong, i.toLong, s"r$i")).toDF("id", "x", "s")
      .repartitionByRange(8, col("x"))
      .sortWithinPartitions("x")
      .write.mode("overwrite").parquet(out)

  test("rangeScan equals the plain filter and prunes most files") {
    val out = tmp("graft-zonemap")
    writeClustered(out)
    assert(ZoneMapIndex.build(spark, out, Seq("x")).nonEmpty)

    val got = ZoneMapIndex.rangeScan(spark, out, "x", 2500d, 3500d)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(out).where(col("x").between(2500, 3500))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.size == 1001)

    val p = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d).get
    assert(p.unindexed == 0)
    assert(p.pruned >= 5, s"a 1/8-span query must prune most of 8 files: $p")
    assert(p.candidates.size <= 3)
  }

  test("pruneAll: one pass decides several ranges; unindexed columns are skipped, also on the cached re-probe") {
    val out = tmp("graft-zonemap-fused")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val live = spark.read.parquet(out).inputFiles.toSeq
    val ranges = Seq(("x", 2500d, 3500d), ("x", 0d, 999d), ("id", 10d, 20d))
    val fused = ZoneMapIndex.pruneAll(spark, out, ranges, live)
    // `id` is not indexed — no entry, matching prune's None
    assert(fused.size == 2)
    val solo = ranges.flatMap { case (c, lo, hi) =>
      ZoneMapIndex.prune(spark, out, c, lo, hi)
    }
    assert(fused.map(_.candidates.toSet) == solo.map(_.candidates.toSet))
    assert(fused.map(_.pruned) == solo.map(_.pruned))
    // generation unchanged: the cached re-probe (including the negative
    // for the unindexed column) decides identically
    val again = ZoneMapIndex.pruneAll(spark, out, ranges, live)
    assert(again.map(_.candidates.toSet) == fused.map(_.candidates.toSet))
  }

  test("cold probe collects only surviving rows; unindexed columns and missing indexes cost no scan/listing") {
    import graft.model.SidecarIndex
    val out = tmp("graft-zonemap-bounded")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val live = spark.read.parquet(out).inputFiles.toSeq
    SidecarIndex.lastProbeCollected.set(-1L)
    val p = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d).get
    val collected = SidecarIndex.lastProbeCollected.get
    assert(collected >= 0L, "a fresh table's first probe must be cold")
    // the scan ships only rows the range could not rule out — exactly the
    // candidates here (full coverage), not one row per file
    assert(collected == p.candidates.size.toLong && collected <= 3L,
      s"collected $collected rows for ${p.candidates.size} candidates " +
        s"over ${live.size} files")
    // an unindexed column is a manifest decision: no index scan at all
    SidecarIndex.lastProbeCollected.set(-1L)
    assert(ZoneMapIndex.pruneAll(spark, out, Seq(("id", 0d, 10d)), live).isEmpty)
    assert(SidecarIndex.lastProbeCollected.get == -1L,
      "an unindexed column must not trigger an index scan")
    // a missing index never forces the by-name live listing
    val bare = tmp("graft-zonemap-noidx")
    writeClustered(bare)
    assert(ZoneMapIndex.pruneAll(spark, bare, Seq(("x", 0d, 1d)),
      sys.error("live listing must not be forced when the index is missing")
        : Seq[String]) == Nil)
  }

  test("two sessions probe one table concurrently across a generation change without interference") {
    val out = tmp("graft-zonemap-twosession")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val live = spark.read.parquet(out).inputFiles.toSeq
    val s2 = spark.newSession()
    val expected = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
      .get.candidates.toSet
    // 8 threads × 2 sessions hammer the same probe; every decision must
    // equal the single-threaded one and nothing may throw (the cache is
    // keyed per session and generation — no cross-session thrash)
    def hammer(): Unit = {
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(8)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until 16).foreach { i =>
        val s = if (i % 2 == 0) spark else s2
        pool.execute(() =>
          try {
            val p = ZoneMapIndex.pruneAll(spark = s, tablePath = out,
              ranges = Seq(("x", 2500d, 3500d)), live = live).head
            assert(p.candidates.toSet == expected)
          } catch { case t: Throwable => errs.add(t) })
      }
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(errs.isEmpty, s"concurrent probe failed: ${errs.peek()}")
    }
    hammer()
    // generation change mid-life: rebuild, then both sessions must converge
    // on the new generation (the first probe to see it unpersists the old one)
    ZoneMapIndex.build(spark, out, Seq("x", "id"), rebuild = true)
    assert(ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
      .get.candidates.toSet == expected)
    assert(ZoneMapIndex.prune(s2, out, "x", 2500d, 3500d)
      .get.candidates.toSet == expected)
    hammer()
    // the new generation serves the widened column set in both sessions
    assert(ZoneMapIndex.prune(s2, out, "id", 10d, 20d).isDefined)
  }

  test("a new index generation's first probe leaves no cache entry of the old one") {
    import graft.model.SidecarIndex
    val out = tmp("graft-zonemap-unpersist")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // The cache entry the current generation's frame reads through, found
    // through that same plan: the generation reads the dir's part files
    def entry() = {
      val ip = SidecarIndex.indexPath(out, ZoneMapIndex.IndexDirName)
      val files = ip.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(ip)
        .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      cm.lookupCachedData(
        spark.read.schema(SidecarIndex.ZoneMapSchema).parquet(files.toIndexedSeq: _*)
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .get.cachedRepresentation.cacheBuilder
    }
    def probeReleases(change: => Unit): Unit = {
      ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
      val old = entry()
      val oldRdd = old.cachedColumnBuffers.id
      assert(spark.sparkContext.getPersistentRDDs.contains(oldRdd))
      change
      ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
      assert(entry() ne old, "the new generation must not read the old cache entry")
      assert(!spark.sparkContext.getPersistentRDDs.contains(oldRdd),
        "the old generation's cached blocks must be released")
    }
    probeReleases(ZoneMapIndex.build(spark, out, Seq("x", "id"), rebuild = true))
    // vacuum publishes by rename, which Spark's own write-path recache
    // does not see: the index releases the retired entry itself
    probeReleases {
      val dead = new org.apache.hadoop.fs.Path(spark.read.parquet(out).inputFiles.head)
      dead.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dead, false)
      assert(ZoneMapIndex.vacuum(spark, out) > 0)
    }
  }

  test("releasing a child session drops its sidecar state; the parent stays warm") {
    import graft.model.SidecarIndex
    val out = tmp("graft-zonemap-release")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val child = spark.newSession()
    def collected(s: org.apache.spark.sql.SparkSession): Long = {
      SidecarIndex.lastProbeCollected.set(-1L)
      ZoneMapIndex.prune(s, out, "x", 2500d, 3500d)
      SidecarIndex.lastProbeCollected.get
    }
    assert(collected(spark) >= 0L && collected(child) >= 0L,
      "each session's first probe is cold")
    assert(collected(child) == -1L, "the child's re-probe is warm")
    SessionCache.release(child)
    assert(collected(spark) == -1L, "the parent's entries survive the child's release")
    assert(collected(child) >= 0L, "the child's entries went with its release")
  }

  test("unindexed (freshly appended) files are always scanned; build indexes only them") {
    val out = tmp("graft-zonemap-stale")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    // fresh ingest the index has not seen — MUST survive every pruning
    Seq((90001L, 3000L, "late")).toDF("id", "x", "s")
      .write.mode("append").parquet(out)

    val p = ZoneMapIndex.prune(spark, out, "x", 6000d, 6100d).get
    assert(p.unindexed >= 1, "the appended file is not in the index yet")
    val got = ZoneMapIndex.rangeScan(spark, out, "x", 2999d, 3001d)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got.contains(90001L), "stale index must not hide fresh rows")

    val newlyIndexed = ZoneMapIndex.build(spark, out, Seq("x"))
    assert(newlyIndexed.size == p.unindexed,
      "incremental build reads exactly the unindexed files")
    assert(ZoneMapIndex.prune(spark, out, "x", 6000d, 6100d).get.unindexed == 0)
  }

  test("a warm prune runs no Spark job: the live list is the table's cached listing generation") {
    val out = tmp("graft-zonemap-warm")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val cold = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
    val (warm, jobs) = withJobs(ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d))
    assert(jobs.isEmpty, s"a warm prune ran ${jobs.size} job(s)")
    assert(warm == cold && warm.exists(_.pruned >= 5))
  }

  test("widening the column set re-indexes existing files for the new columns only") {
    val out = tmp("graft-zonemap-addcol")
    writeClustered(out)
    assert(ZoneMapIndex.build(spark, out, Seq("x")).size == 8)
    // a per-file `have` set would return empty here and leave `id`
    // unindexed forever; per-(file, column) coverage must re-read
    assert(ZoneMapIndex.build(spark, out, Seq("x", "id")).size == 8)
    assert(ZoneMapIndex.prune(spark, out, "id", 0d, 10d).isDefined,
      "the added column must become pruneable")
    assert(ZoneMapIndex.build(spark, out, Seq("x", "id")).isEmpty,
      "converged: nothing left to index")
    val got = ZoneMapIndex.rangeScan(spark, out, "id", 100d, 200d).count()
    assert(got == 101L)
  }

  test("rebuild scoped to partitions is rejected (it would wipe the rest of the sidecar)") {
    val out = tmp("graft-zonemap-rebuildscope")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    assertThrows[IllegalArgumentException] {
      ZoneMapIndex.build(spark, out, Seq("x"), rebuild = true,
        partitions = Seq(out))
    }
  }

  test("query bounds exactly on a file's min/max keep the file (ulp-widened compare)") {
    val out = tmp("graft-zonemap-boundary")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val got = ZoneMapIndex.rangeScan(spark, out, "x", 0d, 0d)
      .select("id").collect()
    assert(got.length == 1, "the file whose min IS the query point must be read")
  }

  test("index-at-ingest: the streaming sink maintains the zone map per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.IngestStream
    val in = tmp("graft-zm-sin"); val out = tmp("graft-zm-sout")
    val ckpt = tmp("graft-zm-sckpt")
    def lines(n: Int, day: Int): Seq[String] =
      (0 until n).map { i =>
        s"""{"ts":"2026-01-${f"$day%02d"}T08:00:${f"${i % 60}%02d"}Z","cluster":"c1","kubernetes":{"namespace_name":"ns${i % 2}","pod_name":"pod-$i","container_name":"main","host":"h1","labels":{"app":"a"}},"log":"zm line $i","content":{"level":"info"}}"""
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"),
      lines(20, 10).mkString("\n").getBytes("UTF-8"))
    val q = IngestStream.sinkPartitionedParquet(
      IngestStream.ingested(IngestStream.readJsonLines(spark, in)),
      out, ckpt, Trigger.ProcessingTime(0),
      zoneMapCols = Seq("timestamp")).start()
    q.processAllAvailable()
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b2.json"),
      lines(20, 11).mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()

    // no manual build: the sink indexed both batches' days itself
    def epoch(s: String) = java.time.Instant.parse(s).getEpochSecond.toDouble
    val dayB = ZoneMapIndex.prune(spark, out, "timestamp",
      epoch("2026-01-11T00:00:00Z"), epoch("2026-01-11T23:59:59Z")).get
    assert(dayB.unindexed == 0, "every streamed file must be indexed at ingest")
    assert(dayB.pruned > 0, s"day-A files must prune for a day-B range: $dayB")
    val got = ZoneMapIndex.rangeScan(spark, out, "timestamp",
      epoch("2026-01-11T00:00:00Z"), epoch("2026-01-11T23:59:59Z")).count()
    assert(got == 20L, "the indexed range scan must return exactly day B's rows")
  }

  test("NaN values never hide in-range rows; NaN-only files still prune") {
    val out = tmp("graft-zonemap-nan")
    // 4 tight-span files over x ∈ [0, 4000), each POISONED with one NaN
    // row: Spark's max() returns NaN for such a file, and NaN bounds
    // fail every `hi >= qlo` verdict — before the build-side NaN strip,
    // rangeScan silently dropped every one of these files' rows
    (0 until 4000).map { i =>
      val x = if (i % 1000 == 999) Double.NaN else i.toDouble
      (i.toLong, x)
    }.toDF("id", "x")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(out)
    ZoneMapIndex.build(spark, out, Seq("x"))

    val got = ZoneMapIndex.rangeScan(spark, out, "x", 2500d, 3500d)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(out).where(col("x").between(2500d, 3500d))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty,
      "a file of in-range rows plus one NaN must be scanned, not pruned")
    // the strip must not DISABLE pruning: out-of-range files still skip
    val p = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d).get
    assert(p.pruned >= 2, s"out-of-range poisoned files must still prune: $p")

    // a file holding ONLY NaN values matches no range — prunable, and
    // both scan paths agree on excluding its rows
    Seq((99001L, Double.NaN), (99002L, Double.NaN)).toDF("id", "x")
      .coalesce(1).write.mode("append").parquet(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val p2 = ZoneMapIndex.prune(spark, out, "x", 0d, 4000d).get
    assert(p2.unindexed == 0 && p2.pruned >= 1,
      s"the all-NaN file must be indexed (null bounds) and pruned: $p2")
    val full = ZoneMapIndex.rangeScan(spark, out, "x", 0d, 4000d)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!full.contains(99001L) && !full.contains(99002L))

    // NaN query bounds are a caller error, not a silent empty result
    assertThrows[IllegalArgumentException] {
      ZoneMapIndex.rangeScan(spark, out, "x", Double.NaN, 4000d).count()
    }
  }

  test("vacuum drops rows for deleted files; scans stay exact afterwards") {
    val out = tmp("graft-zonemap-vacuum")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val victim = new org.apache.hadoop.fs.Path(
      spark.read.parquet(out).inputFiles.head)
    victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(victim, false)
    assert(ZoneMapIndex.vacuum(spark, out) == 1L)
    val got = ZoneMapIndex.rangeScan(spark, out, "x", 0d, 8000d).count()
    val want = spark.read.parquet(out).count()
    assert(got == want, "post-vacuum scans must match the surviving table")
  }

  test("vacuum crash window: between-renames state recovers on the next probe") {
    val out = tmp("graft-zonemap-crash")
    writeClustered(out)
    ZoneMapIndex.build(spark, out, Seq("x"))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ip = new org.apache.hadoop.fs.Path(out, ZoneMapIndex.IndexDirName)
    val staged = new org.apache.hadoop.fs.Path(out,
      "." + ZoneMapIndex.IndexDirName + ".staged")
    require(fs.rename(ip, staged)) // crash fell between vacuum's renames
    val p = ZoneMapIndex.prune(spark, out, "x", 2500d, 3500d)
    assert(p.isDefined && p.get.pruned >= 5,
      "the next probe must promote the staged dir and keep pruning")
    assert(fs.exists(ip) && !fs.exists(staged))
    assert(ZoneMapIndex.rangeScan(spark, out, "x", 2500d, 3500d).count() == 1001L)
  }
}
