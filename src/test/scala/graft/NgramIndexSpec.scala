package graft

import graft.expressions.NgramHash
import graft.model.{LogSchema, NgramIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The n-gram bloom skip index (NgramIndex, the ngrambf_v1 analogue):
  * search-equivalence for every needle shape, real file skipping, and
  * safety under the two staleness producers (fresh unindexed files,
  * compaction rewriting indexed files away).
  */
class NgramIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(prefix: String): String = {
    val out = tmp(prefix)
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
    LogSchema.writePartitioned(logs, out)
    out
  }

  private def fullScan(path: String, needle: String): DataFrame =
    LogSchema.readLogs(spark, path).where(col("log").contains(needle))

  private def sameIds(a: DataFrame, b: DataFrame): Unit = {
    val l = a.select("id").as[Long].collect().sorted.toSeq
    val r = b.select("id").as[Long].collect().sorted.toSeq
    assert(l == r)
  }

  test("gram hashing: needle grams are a subset of any containing line's grams") {
    val line = "error: purchase cart failed for pod-17"
    val lineGrams = NgramHash.gramHashes(
      line.getBytes("UTF-8"), 4).toSet
    for (needle <- Seq("purchase", "pod-17", "error: p", "口口口口grams")) {
      if (line.contains(needle))
        assert(NgramHash.needleHashes(needle, 4).forall(lineGrams))
    }
    assert(NgramHash.needleHashes("abc", 4).isEmpty, "needle shorter than n has no grams")
  }

  test("searchLogs == full scan for present, rare, absent, and too-short needles") {
    val table = freshTable("graft-ngidx")
    val indexed = NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    assert(indexed.nonEmpty)
    for (needle <- Seq("purchase", "view", "no-such-needle-xyzzy", "pur", "")) {
      sameIds(NgramIndex.searchLogs(spark, table, needle), fullScan(table, needle))
    }
    // too-short needle: the index must decline, not guess
    assert(NgramIndex.prune(spark, table, "pur").isEmpty)
    assert(NgramIndex.prune(spark, table, "purchase").isDefined)
  }

  test("a needle unique to one partition reads fewer files than the table has") {
    val table = freshTable("graft-ngidx-prune")
    // plant a unique marker in exactly one day by appending a one-row file
    val one = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("zqxjkwv-marker-row only here"))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-01-03")))
    one.write.mode("append").partitionBy("date").parquet(table)
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val total = LogSchema.readLogs(spark, table).inputFiles.length
    val p = NgramIndex.prune(spark, table, "zqxjkwv-marker").get
    assert(p.unindexed == 0, "everything was indexed")
    assert(p.candidates.size < total && p.pruned > 0,
      s"index must skip files: ${p.candidates.size} of $total")
    val hits = NgramIndex.searchLogs(spark, table, "zqxjkwv-marker")
    assert(hits.count() == 1)
    // the read itself (not just the decision) touched only candidate files
    assert(hits.inputFiles.length == p.candidates.size)
  }

  test("build coverage is per gram width: a build at n = 4 over an n = 3 sidecar indexes every file") {
    val table = freshTable("graft-ngidx-widths")
    val one = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("zqxwidth-marker row only here"))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-01-03")))
    one.write.mode("append").partitionBy("date").parquet(table)
    val total = LogSchema.readLogs(spark, table).inputFiles.length
    assert(NgramIndex.build(spark, table, n = 3, expectedNdv = 1L << 14).size == total)
    val p3 = NgramIndex.prune(spark, table, "zqxwidth-marker", n = 3).get
    assert(p3.pruned > 0)
    assert(NgramIndex.prune(spark, table, "zqxwidth-marker", n = 4).isEmpty,
      "no row of width 4 yet: the index cannot help")
    assert(NgramIndex.build(spark, table, n = 4, expectedNdv = 1L << 14).size == total,
      "width-3 rows do not cover a width-4 probe")
    val p4 = NgramIndex.prune(spark, table, "zqxwidth-marker", n = 4).get
    assert(p4.unindexed == 0 && p4.pruned > 0, s"the n = 4 probe must prune: $p4")
    val again3 = NgramIndex.prune(spark, table, "zqxwidth-marker", n = 3).get
    assert(again3.candidates.toSet == p3.candidates.toSet && again3.pruned == p3.pruned)
    assert(NgramIndex.searchLogs(spark, table, "zqxwidth-marker", n = 4).count() == 1)
    assert(NgramIndex.build(spark, table, n = 4, expectedNdv = 1L << 14).isEmpty)
  }

  test("empty candidate set short-circuits to an empty result with the right schema") {
    val table = freshTable("graft-ngidx-empty")
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val p = NgramIndex.prune(spark, table, "no-such-needle-xyzzy").get
    // with per-file ndv this small the fpp makes all-files-pruned near
    // certain; tolerate a stray false positive rather than flake
    if (p.candidates.isEmpty) {
      val res = NgramIndex.searchLogs(spark, table, "no-such-needle-xyzzy")
      assert(res.isEmpty)
      assert(res.schema == LogSchema.readLogs(spark, table).schema)
    }
  }

  test("requiredLogNeedles: only provable AND-path log needles, never OR/NOT/ILIKE/regex branches") {
    import graft.query.LogQuery.requiredLogNeedles
    assert(requiredLogNeedles("log~'purchase' _and_ cluster='c1'") == Seq("purchase"))
    assert(requiredLogNeedles("log='exact line'") == Seq("exact line"))
    assert(requiredLogNeedles("log~'abc' _and_ log~'def'") == Seq("abc", "def"))
    // regex metacharacters: containment is not provable
    assert(requiredLogNeedles("log~'[0-9]+'").isEmpty)
    // OR: neither branch is required of every row
    assert(requiredLogNeedles("log~'abc' _or_ log~'def'").isEmpty)
    // NOT: requires absence, prunes nothing
    assert(requiredLogNeedles("_not_ log~'abc'").isEmpty)
    // ILIKE is case-insensitive; the byte-gram index is not
    assert(requiredLogNeedles("log=~'%abc%'").isEmpty)
    // other fields do not live in the log grams
    assert(requiredLogNeedles("namespace='purchase'").isEmpty)
  }

  test("searchLogsQuery: front-end parity with the unindexed filter, and real pruning on a planted needle") {
    val table = freshTable("graft-ngidx-fe")
    val one = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("vbnqpzw-feneedle purchase row"))
      .withColumn("cluster", lit("c1"))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-01-05")))
    one.write.mode("append").partitionBy("date").parquet(table)
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val total = LogSchema.readLogs(spark, table).inputFiles.length

    // mixed query: needle + metadata; parity against the plain front-end
    val q = "log~'purchase' _and_ cluster='c1' _and_ namespace!='signup'"
    sameIds(
      NgramIndex.searchLogsQuery(spark, table, q),
      graft.query.LogQuery.filter(LogSchema.readLogs(spark, table), q))

    // the planted-needle query reads fewer files than the table holds
    val planted = NgramIndex.searchLogsQuery(
      spark, table, "log~'vbnqpzw-feneedle' _and_ cluster='c1'")
    assert(planted.count() == 1)
    assert(planted.inputFiles.length < total)

    // a query with no provable needle falls back to the full scan
    val noNeedle = NgramIndex.searchLogsQuery(spark, table, "log~'[0-9]+'")
    sameIds(noNeedle,
      graft.query.LogQuery.filter(LogSchema.readLogs(spark, table), "log~'[0-9]+'"))
  }

  test("combined probe: one searchLogsQuery intersects ngram and zone-map candidates") {
    import graft.model.ZoneMapIndex
    val table = freshTable("graft-ngidx-combined")
    // plant a row that is BOTH needle-unique and numerically outlying,
    // in its own fresh file
    val one = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("qzxcombined needle row"))
      .withColumn("id", lit(77000001L))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-01-06")))
    one.write.mode("append").partitionBy("date").parquet(table)
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    ZoneMapIndex.build(spark, table, Seq("id"))
    val total = LogSchema.readLogs(spark, table).inputFiles.length

    // both predicates provable: parity with the plain filter, and the
    // files actually read are the INTERSECTION of the two candidate sets
    val q = "log~'qzxcombined' _and_ id>=77000000 _and_ id<=77000002"
    val got = NgramIndex.searchLogsQuery(spark, table, q)
    sameIds(got, graft.query.LogQuery.filter(LogSchema.readLogs(spark, table), q))
    assert(got.count() == 1)
    val ng = NgramIndex.prune(spark, table, "qzxcombined").get.candidates.toSet
    val zm = ZoneMapIndex.prune(spark, table, "id", 77000000d, 77000002d)
      .get.candidates.toSet
    assert(got.inputFiles.toSet == (ng intersect zm),
      "files read must be exactly the intersection of both indexes' candidates")

    // zone-map-only query (no provable needle): still prunes
    val zq = "id>=77000000 _and_ id<=77000002 _and_ namespace!='x'"
    val zgot = NgramIndex.searchLogsQuery(spark, table, zq)
    sameIds(zgot, graft.query.LogQuery.filter(LogSchema.readLogs(spark, table), zq))
    assert(zgot.inputFiles.length < total, "the numeric range alone must prune")

    // an upper-unbounded range must NOT prune (NaN-greatest semantics:
    // `id > v` admits NaN, which min/max bounds cannot see) — parity only
    val uq = "id>=77000000"
    sameIds(NgramIndex.searchLogsQuery(spark, table, uq),
      graft.query.LogQuery.filter(LogSchema.readLogs(spark, table), uq))
    assert(graft.query.LogQuery.requiredNumericRanges(
      uq, Set("id")).isEmpty, "upper-unbounded ranges are not prunable")
  }

  test("pruneAll: the fused multi-needle probe equals per-needle prunes; the cached re-probe is identical") {
    val table = freshTable("graft-ngidx-fused")
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val live = LogSchema.readLogs(spark, table).inputFiles.toSeq
    val needles = Seq("purchase", "view", "no-such-needle-xyzzy", "pur")
    val fused = NgramIndex.pruneAll(spark, table, needles, live)
    // "pur" is shorter than the gram width — skipped, not guessed
    assert(fused.size == 3)
    val solo = needles.flatMap(NgramIndex.prune(spark, table, _))
    assert(fused.map(_.candidates.toSet) == solo.map(_.candidates.toSet))
    assert(fused.map(_.pruned) == solo.map(_.pruned))
    // generation unchanged: the cached re-probe decides identically
    val again = NgramIndex.pruneAll(spark, table, needles, live)
    assert(again.map(_.candidates.toSet) == fused.map(_.candidates.toSet))
  }

  test("cold probe driver transfer is candidate-bounded; a missing index never forces the live listing") {
    import graft.model.SidecarIndex
    val table = freshTable("graft-ngidx-bounded")
    // missing index: pruneAll must return before the by-name live list is
    // ever forced (the pre-index short-circuit paid a full listing once)
    assert(NgramIndex.pruneAll(spark, table, Seq("purchase"),
      sys.error("live listing must not be forced when the index is missing")
        : Seq[String]) == Nil)
    val one = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("zqxbounded-marker row lives here"))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-01-04")))
    one.write.mode("append").partitionBy("date").parquet(table)
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val total = LogSchema.readLogs(spark, table).inputFiles.length
    SidecarIndex.lastProbeCollected.set(-1L)
    val p = NgramIndex.prune(spark, table, "zqxbounded-marker").get
    val collected = SidecarIndex.lastProbeCollected.get
    assert(collected >= 0L, "a fresh table's first probe must be cold")
    assert(p.unindexed == 0)
    // the scan ships only rows the needle could not rule out — exactly
    // the candidates here (full coverage), far fewer than the file count
    assert(collected == p.candidates.size.toLong,
      s"collected $collected rows for ${p.candidates.size} candidates")
    assert(collected < total.toLong, s"collected $collected of $total files")
    // the warm re-probe is decided from cache: no new collect
    SidecarIndex.lastProbeCollected.set(-1L)
    val again = NgramIndex.prune(spark, table, "zqxbounded-marker").get
    assert(again.candidates.toSet == p.candidates.toSet)
    assert(SidecarIndex.lastProbeCollected.get == -1L,
      "cached re-probe must not rescan the index")
  }

  test("maintain: one call converges the index after compaction; scoped build touches only the named day") {
    val table = tmp("graft-ngidx-maint")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
      .withColumn("date", to_date(col("timestamp")))
    logs.repartition(4).write.mode("overwrite").partitionBy("date").parquet(table)
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    val stats = LogSchema.compactPartitions(spark, table,
      targetBytes = 1L << 40, minFiles = 2, jobParallelism = 2)
    assert(stats.nonEmpty)

    // compaction left fresh files unindexed and dead rows behind; one
    // maintain() call must close both gaps
    val (indexed, dead) = NgramIndex.maintain(spark, table,
      NgramIndex.Config(expectedNdv = 1L << 14))
    assert(indexed.nonEmpty && dead > 0)
    assert(NgramIndex.prune(spark, table, "purchase").get.unindexed == 0)
    // ...and is an idempotent no-op on a converged index
    assert(NgramIndex.maintain(spark, table,
      NgramIndex.Config(expectedNdv = 1L << 14)) == ((Seq.empty, 0L)))

    // scoped build: plant one fresh file in each of two days, index only one
    def plant(day: String, marker: String): Unit =
      LogSchema.readLogs(spark, table).limit(1)
        .withColumn("log", lit(marker))
        .drop("date").withColumn("date", lit(java.sql.Date.valueOf(day)))
        .write.mode("append").partitionBy("date").parquet(table)
    plant("2024-03-01", "scoped-day-a row")
    plant("2024-03-02", "scoped-day-b row")
    val dirA = new java.io.File(table, "date=2024-03-01").getAbsolutePath
    val onlyA = NgramIndex.build(spark, table, expectedNdv = 1L << 14,
      partitions = Seq(dirA))
    assert(onlyA.size == 1 && onlyA.head.contains("date=2024-03-01"))
    // day B's file is still unindexed (scanned, not lost); day A's is not
    assert(NgramIndex.prune(spark, table, "purchase").get.unindexed == 1)
    // re-running the same scoped build is a no-op (the scoped have-probe
    // sees day A's fresh row)
    assert(NgramIndex.build(spark, table, expectedNdv = 1L << 14,
      partitions = Seq(dirA)).isEmpty)
  }

  test("index-at-ingest: the streaming sink indexes each micro-batch's days; search stays exact with zero manual builds") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.IngestStream
    val in = tmp("graft-ngidx-sin"); val out = tmp("graft-ngidx-sout")
    val ckpt = tmp("graft-ngidx-sckpt")
    def lines(n: Int, day: Int, text: Int => String): Seq[String] =
      (0 until n).map { i =>
        s"""{"ts":"2026-01-${f"$day%02d"}T08:00:${f"${i % 60}%02d"}Z","cluster":"c1","kubernetes":{"namespace_name":"ns${i % 2}","pod_name":"pod-$i","container_name":"main","host":"h1","labels":{"app":"a"}},"log":"${text(i)}","content":{"level":"info"}}"""
      }
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"),
      lines(30, 10, i => s"plain line $i").mkString("\n").getBytes("UTF-8"))
    val q = IngestStream.sinkPartitionedParquet(
      IngestStream.ingested(IngestStream.readJsonLines(spark, in)),
      out, ckpt, Trigger.ProcessingTime(0),
      ngramIndex = Some(NgramIndex.Config(expectedNdv = 1L << 14))).start()
    q.processAllAvailable()
    // second batch lands a marker row in a DIFFERENT day
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b2.json"),
      lines(10, 11, i => if (i == 3) "kwxqzvy-stream-needle here" else s"late line $i")
        .mkString("\n").getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()

    // the sink indexed everything itself — no NgramIndex.build in this test
    val p = NgramIndex.prune(spark, out, "kwxqzvy-stream-needle").get
    assert(p.unindexed == 0, "every streamed file must be indexed at ingest")
    val total = LogSchema.readLogs(spark, out).inputFiles.length
    assert(p.candidates.size < total && p.pruned > 0,
      s"planted needle must skip files: ${p.candidates.size} of $total")
    val hits = NgramIndex.searchLogs(spark, out, "kwxqzvy-stream-needle")
    assert(hits.count() == 1)
    // exactness over the streamed table (no `id` column here: compare logs)
    def logLines(df: DataFrame): Seq[String] =
      df.select("log").as[String].collect().sorted.toSeq
    assert(logLines(NgramIndex.searchLogs(spark, out, "line")) ==
      logLines(fullScan(out, "line")))
  }

  test("staleness: unindexed fresh files are scanned; compaction-rewritten files stay searchable; vacuum drops dead rows") {
    val table = tmp("graft-ngidx-stale")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
      .withColumn("date", to_date(col("timestamp")))
    // fragmented layout so compaction has work to do
    logs.repartition(6).write.mode("overwrite").partitionBy("date").parquet(table)
    val first = NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    assert(first.nonEmpty)
    // incremental: nothing new => no-op
    assert(NgramIndex.build(spark, table, expectedNdv = 1L << 14).isEmpty)

    // fresh unindexed partition: search must still see it (sound fallback)
    val extra = LogSchema.readLogs(spark, table).limit(1)
      .withColumn("log", lit("fresh purchase row after indexing"))
      .drop("date").withColumn("date", lit(java.sql.Date.valueOf("2024-02-27")))
    extra.write.mode("append").partitionBy("date").parquet(table)
    // collect the truth ONCE: a kept DataFrame's lineage would pin the
    // pre-compaction file list and fail the re-read after the swap
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq
    val expected = ids(fullScan(table, "purchase"))
    assert(ids(NgramIndex.searchLogs(spark, table, "purchase")) == expected)
    val p1 = NgramIndex.prune(spark, table, "purchase").get
    assert(p1.unindexed > 0, "the fresh file must be flagged unindexed")

    // incremental build indexes exactly the fresh file
    val second = NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    assert(second.size == 1)

    // compaction rewrites indexed files away: dead index rows must be
    // ignored, new files scanned unconditionally => still exact
    val stats = LogSchema.compactPartitions(spark, table,
      targetBytes = 1L << 40, minFiles = 2, jobParallelism = 2)
    assert(stats.nonEmpty, "compaction must have merged fragmented days")
    assert(ids(NgramIndex.searchLogs(spark, table, "purchase")) == expected)

    // vacuum reports the dead rows and the index still works after
    val dead = NgramIndex.vacuum(spark, table)
    assert(dead > 0)
    val third = NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    assert(third.nonEmpty, "post-compaction files get re-indexed")
    assert(ids(NgramIndex.searchLogs(spark, table, "purchase")) == expected)
    assert(NgramIndex.prune(spark, table, "purchase").get.unindexed == 0)
  }

  test("vacuum crash windows: between-renames state recovers on read; stale aside dir is cleaned") {
    val table = freshTable("graft-ngidx-crash")
    NgramIndex.build(spark, table, expectedNdv = 1L << 14)
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().sorted.toSeq
    val expected = ids(fullScan(table, "purchase"))
    val conf = spark.sparkContext.hadoopConfiguration
    val ip = new org.apache.hadoop.fs.Path(table, NgramIndex.IndexDirName)
    val fs = ip.getFileSystem(conf)

    // simulate a crash BETWEEN vacuum's two renames: index dir gone,
    // complete staged dir present — exactly the state the old
    // delete-then-rename protocol could strand forever
    val staged = new org.apache.hadoop.fs.Path(table,
      "." + NgramIndex.IndexDirName + ".staged")
    require(fs.rename(ip, staged))
    assert(!fs.exists(ip) && fs.exists(staged))
    val p = NgramIndex.prune(spark, table, "purchase")
    assert(p.isDefined && p.get.unindexed == 0,
      "the next probe must PROMOTE the staged dir, not fall back to a full scan")
    assert(fs.exists(ip) && !fs.exists(staged), "recovery renames staged -> index")
    assert(ids(NgramIndex.searchLogs(spark, table, "purchase")) == expected)

    // a stale .old aside (crash after promote, before the final delete)
    // must never block or corrupt the next vacuum
    val old = new org.apache.hadoop.fs.Path(table,
      "." + NgramIndex.IndexDirName + ".old")
    fs.mkdirs(old)
    val victim = new org.apache.hadoop.fs.Path(
      LogSchema.readLogs(spark, table).inputFiles.head)
    fs.delete(victim, false)
    assert(NgramIndex.vacuum(spark, table) >= 1L)
    assert(!fs.exists(old), "vacuum clears the stale aside dir")
    val expected2 = ids(fullScan(table, "purchase"))
    assert(ids(NgramIndex.searchLogs(spark, table, "purchase")) == expected2)
  }
}
