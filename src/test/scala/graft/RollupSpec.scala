package graft

import graft.model.{LogSchema, Rollup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental rollup maintenance ([[graft.model.Rollup]]): equivalence
  * with a direct aggregate, partition-grain incrementality, retention
  * propagation, idempotence, and the HLL distinct-pod merge path.
  */
class RollupSpec extends SparkTestBase {
  import spark.implicits._

  /** A small deterministic log frame spanning `days` days × `perDay` rows,
    * shaped like [[LogSchema.logsFromEvents]] output.
    */
  private def logsDf(days: Int, perDay: Int, tag: String = ""): DataFrame = {
    val rows = for {
      d <- 0 until days
      i <- 0 until perDay
    } yield {
      val id = (d * perDay + i).toLong
      val err = i % 4 == 0
      (id,
        java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d ${i % 24}%02d:30:00"),
        s"c${id % 2}",
        if (err) "error" else "info",
        s"app-${i % 3}",
        s"pod-${i % 5}",
        "main",
        s"host-${i % 2}",
        if (err) Map("flag.err" -> "y") else Map.empty[String, String],
        Map("event.value" -> id.toDouble),
        s"line $tag$id")
    }
    rows.toDF("id", "timestamp", "cluster", "namespace", "app", "pod_name",
      "container_name", "host", "fields_string", "fields_number", "log")
  }

  private def directAggregate(logs: DataFrame): Seq[Row3] =
    logs.groupBy(to_date(col("timestamp")).cast("string").as("day"),
        col("namespace"))
      .agg(count(lit(1)).as("cnt"),
        count(try_element_at(col("fields_string"), lit("flag.err")))
          .as("err_cnt"),
        sum(length(col("log"))).as("bytes"))
      .orderBy("day", "namespace")
      .collect().toSeq
      .map(r => Row3(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  private case class Row3(day: String, ns: String, cnt: Long, err: Long,
    bytes: Long)

  private def rollupAggregate(out: String): Seq[Row3] =
    Rollup.readRollup(spark, out)
      .groupBy(col("date").cast("string").as("day"), col("namespace"))
      .agg(sum("cnt").as("cnt"), sum("err_cnt").as("err_cnt"),
        sum("bytes").as("bytes"))
      .orderBy("day", "namespace")
      .collect().toSeq
      .map(r => Row3(r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  test("refresh materializes the aggregate of everything ingested") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 3, perDay = 48)
    LogSchema.writePartitioned(logs, src)
    val stats = Rollup.refresh(spark, src, out)
    assert(stats.map(_.action).toSet == Set("new") && stats.size == 3)
    assert(rollupAggregate(out) == directAggregate(logs))
  }

  test("refresh is incremental: only the appended day is re-aggregated, " +
      "other day dirs' files are untouched") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val initial = logsDf(days = 3, perDay = 48)
    LogSchema.writePartitioned(initial, src)
    Rollup.refresh(spark, src, out)
    def dayFiles(day: String): Set[String] = {
      val d = new java.io.File(s"$out/date=$day")
      Option(d.listFiles()).toSeq.flatten
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .map(f => s"${f.getName}@${f.lastModified}").toSet
    }
    val before1 = dayFiles("2024-02-01"); val before2 = dayFiles("2024-02-02")
    // append into day 3 only
    val late = logsDf(days = 3, perDay = 60, tag = "late-")
      .where(to_date(col("timestamp")) === "2024-02-03")
    LogSchema.writePartitioned(late, src, mode = "append")
    val second = Rollup.refresh(spark, src, out)
    assert(second == Seq(Rollup.RefreshStat("2024-02-03", "changed")))
    assert(dayFiles("2024-02-01") == before1 && dayFiles("2024-02-02") == before2,
      "unchanged days must not be rewritten")
    assert(rollupAggregate(out) ==
      directAggregate(initial.unionByName(late)))
  }

  test("a third refresh with nothing new is a no-op") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    LogSchema.writePartitioned(logsDf(days = 2, perDay = 24), src)
    Rollup.refresh(spark, src, out)
    assert(Rollup.refresh(spark, src, out).isEmpty)
  }

  test("retention on the source propagates: dropped source day drops its rollup day") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 3, perDay = 24)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    val dropped = LogSchema.dropPartitionsBefore(spark, src,
      java.time.LocalDate.parse("2024-02-02"))
    assert(dropped.size == 1)
    val second = Rollup.refresh(spark, src, out)
    assert(second == Seq(Rollup.RefreshStat("2024-02-01", "dropped")))
    assert(!new java.io.File(s"$out/date=2024-02-01").exists)
    assert(rollupAggregate(out) ==
      directAggregate(logs.where(to_date(col("timestamp")) >= "2024-02-02")))
  }

  test("compaction of a source day re-fingerprints it; rollup content is stable") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 2, perDay = 48)
    // fragmented write: several files per day, so compaction has work
    logs.withColumn("date", to_date(col("timestamp"))).repartition(6)
      .write.mode("overwrite").partitionBy("date").parquet(src)
    Rollup.refresh(spark, src, out)
    val beforeAgg = rollupAggregate(out)
    val stats = LogSchema.compactPartitions(spark, src,
      targetBytes = 1L << 40, minFiles = 2)
    assert(stats.nonEmpty)
    val second = Rollup.refresh(spark, src, out)
    assert(second.nonEmpty && second.forall(_.action == "changed"),
      "compaction rewrites files, so fingerprints must move")
    assert(rollupAggregate(out) == beforeAgg,
      "re-aggregating merged files must not change the rollup")
  }

  private def hiddenIn(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith(".") && !n.endsWith(".crc")).toSeq

  test("refresh crash windows on a changed day: an undone promote is completed, a stale staged dir is cleared") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val initial = logsDf(days = 2, perDay = 48)
    LogSchema.writePartitioned(initial, src)
    Rollup.refresh(spark, src, out)
    val late = logsDf(days = 2, perDay = 60, tag = "late-")
      .where(to_date(col("timestamp")) === "2024-02-02")
    LogSchema.writePartitioned(late, src, mode = "append")
    // a refresh that died between its renames on day 2: the new aggregate
    // staged and complete, the old day moved aside
    val day2 = new java.io.File(out, "date=2024-02-02")
    Rollup.dayAggregates(spark.read.parquet(s"$src/date=2024-02-02")).coalesce(1)
      .write.parquet(new java.io.File(out, ".date=2024-02-02.staged").getPath)
    assert(day2.renameTo(new java.io.File(out, ".date=2024-02-02.old")))
    // and one that died before its first rename on day 1, mid-write
    val torn = new java.io.File(out, ".date=2024-02-01.staged")
    assert(torn.mkdir())
    java.nio.file.Files.write(new java.io.File(torn, "part-00000.parquet").toPath,
      "torn".getBytes("UTF-8"))
    assert(Rollup.refresh(spark, src, out) ==
      Seq(Rollup.RefreshStat("2024-02-02", "changed")))
    assert(rollupAggregate(out) == directAggregate(initial.unionByName(late)))
    assert(hiddenIn(out).isEmpty, hiddenIn(out).toString)
  }

  test("a source day hidden by a crashed compaction keeps its rollup day: refresh recovers it") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 2, perDay = 48)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    // a compaction of day 2 that died between its renames: the compacted
    // day staged and complete, the live day moved aside
    val day2 = new java.io.File(src, "date=2024-02-02")
    spark.read.parquet(day2.getPath).coalesce(1)
      .write.parquet(new java.io.File(src, ".date=2024-02-02.staged").getPath)
    assert(day2.renameTo(new java.io.File(src, ".date=2024-02-02.old")))
    assert(Rollup.refresh(spark, src, out) ==
      Seq(Rollup.RefreshStat("2024-02-02", "changed")),
      "the promoted compaction output is a changed day, not a dropped one")
    assert(day2.exists && new java.io.File(out, "date=2024-02-02").exists)
    assert(rollupAggregate(out) == directAggregate(logs))
  }

  test("refresh crash window on a new day: a partially written staged day is never published") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val all = logsDf(days = 3, perDay = 48)
    val initial = all.where(to_date(col("timestamp")) < "2024-02-03")
    LogSchema.writePartitioned(initial, src)
    Rollup.refresh(spark, src, out)
    LogSchema.writePartitioned(all.where(to_date(col("timestamp")) === "2024-02-03"),
      src, mode = "append")
    // the first refresh of day 3 died in the middle of its write: a torn
    // file in the staged dir, no _SUCCESS, nothing to move aside
    val torn = new java.io.File(out, ".date=2024-02-03.staged")
    assert(torn.mkdir())
    java.nio.file.Files.write(new java.io.File(torn, "part-00000.parquet").toPath,
      "torn".getBytes("UTF-8"))
    val day3 = new org.apache.hadoop.fs.Path(out, "date=2024-02-03")
    val fs = day3.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!graft.model.DirSwap.recover(fs, day3) && !fs.exists(day3),
      "recovery must not publish the torn day")
    assert(rollupAggregate(out) == directAggregate(initial))
    assert(Rollup.refresh(spark, src, out) ==
      Seq(Rollup.RefreshStat("2024-02-03", "new")))
    assert(rollupAggregate(out) == directAggregate(all))
    assert(hiddenIn(out).isEmpty, hiddenIn(out).toString)
  }

  test("distinct-pod HLL sketches merge across rollup rows within tolerance") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 3, perDay = 120)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    val est = Rollup.readRollup(spark, out)
      .groupBy(col("date").cast("string").as("day"))
      .agg(Rollup.mergedDistinctPods(col("pods_hll")).as("pods"))
      .orderBy("day")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = logs
      .groupBy(to_date(col("timestamp")).cast("string").as("day"))
      .agg(count_distinct(col("pod_name")).as("pods"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (day, ex) =>
      val e = est(day)
      assert(math.abs(e - ex) <= math.max(1L, (ex * 0.05).toLong),
        s"day $day: estimate $e vs exact $ex")
    }
  }

  test("KLL quantile sketches merge across rollup rows and day boundaries within rank tolerance") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 3, perDay = 200)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    // per-day AND whole-range merges — the any-slice contract
    val perDay = Rollup.readRollup(spark, out)
      .groupBy(col("date").cast("string").as("day"))
      .agg(Rollup.mergedQuantile(col("m_event_value_kll"), 0.5).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val all = Rollup.readRollup(spark, out)
      .agg(Rollup.mergedQuantile(col("m_event_value_kll"), 0.5).as("q"))
      .head().getDouble(0)
    perDay.foreach { case (day, q) =>
      val b = logs.where(to_date(col("timestamp")).cast("string") === day)
        .agg(expr("percentile(fields_number['event.value'], array(0.4, 0.6))"))
        .head().getSeq[Double](0)
      assert(q >= b(0) && q <= b(1),
        s"day $day: merged p50 $q outside exact p40..p60 [${b(0)}, ${b(1)}]")
    }
    val bAll = logs
      .agg(expr("percentile(fields_number['event.value'], array(0.4, 0.6))"))
      .head().getSeq[Double](0)
    assert(all >= bAll(0) && all <= bAll(1),
      s"whole-range merged p50 $all outside exact p40..p60 $bAll")
  }

  test("top-k host sketch states combine across rollup rows and days; small domain = exact") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 2, perDay = 150)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    // whole-range combine (both days' states merged)
    val got = Rollup.readRollup(spark, out)
      .agg(Rollup.mergedTopHosts(col("hosts_topk"), 10).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item"), col("t.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = logs.groupBy("host").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact,
      s"combined top-k must be exact on a small domain: $got vs $exact")
  }

  test("theta set algebra across days: overlap and churn from the MV match exact sets") {
    val src = tmp("rollup-src"); val out = tmp("rollup-out")
    val logs = logsDf(days = 2, perDay = 120)
    LogSchema.writePartitioned(logs, src)
    Rollup.refresh(spark, src, out)
    val days = Rollup.readRollup(spark, out)
      .groupBy(col("date").cast("string").as("day"))
      .agg(Rollup.mergedTheta(col("pods_theta")).as("th"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    import spark.implicits._
    val pair = days.keys.toSeq.sorted
    val est = Seq((days(pair(0)), days(pair(1)))).toDF("a", "b")
      .select(Rollup.podsOverlap(col("a"), col("b")).as("both"),
        Rollup.podsChurned(col("a"), col("b")).as("gone"))
      .head()
    val setByDay = logs
      .select(to_date(col("timestamp")).cast("string").as("day"), col("pod_name"))
      .collect().groupBy(_.getString(0)).map { case (d, rs) =>
        d -> rs.map(_.getString(1)).toSet }
    val exactBoth = (setByDay(pair(0)) intersect setByDay(pair(1))).size
    val exactGone = (setByDay(pair(0)) diff setByDay(pair(1))).size
    // tiny domain → the sketches are exact
    assert(est.getLong(0) == exactBoth, s"overlap ${est.getLong(0)}")
    assert(est.getLong(1) == exactGone, s"churn ${est.getLong(1)}")
  }

  test("materializePromotedColumns backfills only missing partitions and is idempotent") {
    val dir = tmp("materialize")
    val logs = logsDf(days = 2, perDay = 24)
    logs.withColumn("date", to_date(col("timestamp"))).repartition(2)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val first = LogSchema.materializePromotedColumns(spark, dir,
      numberKeys = Seq("event.value"))
    assert(first.size == 2)
    // already-backfilled table: re-run must touch nothing
    assert(LogSchema.materializePromotedColumns(spark, dir,
      numberKeys = Seq("event.value")).isEmpty)
    // a NEW day written without the column: only it is rewritten
    val day3 = logsDf(days = 3, perDay = 24)
      .where(to_date(col("timestamp")) === "2024-02-03")
    day3.withColumn("date", to_date(col("timestamp")))
      .write.mode("append").partitionBy("date").parquet(dir)
    val third = LogSchema.materializePromotedColumns(spark, dir,
      numberKeys = Seq("event.value"))
    assert(third.size == 1 && third.head.endsWith("date=2024-02-03"))
    // the physical column matches the map subscript everywhere
    val table = LogSchema.readLogs(spark, dir)
    assert(table.columns.contains("promoted_event_value"))
    val mismatches = table.where(
      !(col("promoted_event_value") <=>
        try_element_at(col("fields_number"), lit("event.value")))).count()
    assert(mismatches == 0)
    // and the plan-time rule rewrites the subscript to it (pushdown-ready)
    val sums = table
      .agg(sum(try_element_at(col("fields_number"), lit("event.value"))),
        sum(col("promoted_event_value"))).head
    assert(sums.getDouble(0) == sums.getDouble(1))
  }
}
