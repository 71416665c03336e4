package graft

import graft.model.{LogSchema, Rollup}
import graft.query.LogQuery
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Plan shapes of the dashboard charts ([[graft.query.LogQuery]] over the
  * log table and its [[graft.model.Rollup]]): a rollup-routed chart over a
  * one-split rollup is one Spark job with no exchange, a raw chart sorts
  * its result in one partition (no range-partitioned sort), and every
  * answer equals the same chart stated with a global `orderBy` over a
  * plain parquet read, row for row.
  */
class ChartPlanSpec extends SparkTestBase {

  private lazy val (raw, rollupDir) = {
    val src = tmp("chartplan-src"); val out = tmp("chartplan-rollup")
    LogSchema.writePartitioned(
      LogSchema.logsFromEvents(graft.sources.Tables.events(spark, sf("sf0.001"))), src)
    Rollup.refresh(spark, src, out)
    (LogSchema.readLogs(spark, src), out)
  }

  /** The rows of `df` and the number of Spark jobs collecting it ran. */
  private def collectJobs(df: DataFrame): (Seq[Row], Int) = {
    val (rows, jobs) = withJobs(df.collect().toSeq)
    (rows, jobs.size)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private val query = "cluster='c1' _and_ _not_ namespace=~'%view%'"

  // the charts as stated before the one-partition sort: a global orderBy,
  // over the plain parquet read of the rollup
  private def plainRollup: DataFrame = spark.read.parquet(rollupDir)
  private def filtered(df: DataFrame): DataFrame = df.where(LogQuery.predicate(df, query))
  private val rollupHourMs: Column =
    (unix_date(col("date")).cast("long") * 86400L + col("hour").cast("long") * 3600L) * 1000L
  private val rawHourMs: Column = unix_millis(date_trunc("hour", col("timestamp")))

  private def routedCharts(rollup: DataFrame): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("volumeRouted", LogQuery.volumeRouted(raw, rollup, query),
      filtered(plainRollup).groupBy(rollupHourMs.as("bucket_ms"))
        .agg(sum(col("cnt")).as("cnt")).orderBy("bucket_ms")),
    ("aggregateFromRollup", LogQuery.aggregateFromRollup(rollup, query, "app", "count").get,
      filtered(plainRollup).groupBy(col("app").as("group"))
        .agg(sum(col("cnt")).as("value")).orderBy("group")),
    ("seriesFromRollup", LogQuery.seriesFromRollup(rollup, query, "namespace").get,
      filtered(plainRollup).groupBy(rollupHourMs.as("bucket_ms"), col("namespace").as("group"))
        .agg(sum(col("cnt")).as("value")).orderBy("bucket_ms", "group")))

  test("a one-split rollup reads as one partition; each routed chart is 1 job with no exchange") {
    val rollup = Rollup.readRollup(spark, rollupDir)
    assert(plainRollup.inputFiles.length > 1, "the fixture rollup must span several files")
    assert(rollup.rdd.getNumPartitions == 1)
    routedCharts(rollup).foreach { case (name, chart, parent) =>
      assert(!plan(chart).contains("Exchange"), s"$name must not exchange:\n${plan(chart)}")
      val (rows, jobs) = collectJobs(chart)
      assert(jobs == 1, s"$name ran $jobs jobs")
      assert(rows.nonEmpty && rows == parent.collect().toSeq, name)
    }
  }

  test("a rollup larger than one split keeps one read partition per split; answers unchanged") {
    val bytes = plainRollup.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (bytes / 3).toString)
    try {
      val rollup = Rollup.readRollup(spark, rollupDir)
      val split = bytes / 3
      assert(rollup.rdd.getNumPartitions == ((bytes + split - 1) / split).toInt)
      assert(rollup.rdd.getNumPartitions > 1)
      routedCharts(rollup).foreach { case (name, chart, parent) =>
        assert(chart.collect().toSeq == parent.collect().toSeq, name)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("raw charts sort in one partition: no range partitioning, at most 2 jobs, same rows") {
    val value = try_element_at(col("fields_number"), lit("event.value"))
    def keysOf(df: DataFrame, mapCol: String, t: String) =
      df.select(explode(map_keys(col(mapCol))).as("field")).withColumn("ftype", lit(t))
    val charts = Seq(
      ("volume", LogQuery.volume(raw, query),
        filtered(raw).groupBy(rawHourMs.as("bucket_ms"))
          .agg(count(lit(1)).as("cnt")).orderBy("bucket_ms")),
      ("series", LogQuery.series(raw, query, "namespace"),
        filtered(raw).groupBy(rawHourMs.as("bucket_ms"), col("namespace").as("group"))
          .agg(count(lit(1)).as("value")).orderBy("bucket_ms", "group")),
      ("aggregate", LogQuery.aggregate(raw, query, "namespace", "max", Some("event.value")),
        filtered(raw).groupBy(col("namespace").as("group"))
          .agg(max(value).as("value")).orderBy("group")),
      ("fields", LogQuery.fields(raw, query),
        keysOf(filtered(raw), "fields_string", "string")
          .union(keysOf(filtered(raw), "fields_number", "number"))
          .distinct().orderBy("field", "ftype")))
    charts.foreach { case (name, chart, parent) =>
      assert(!plan(chart).toLowerCase.contains("rangepartitioning"),
        s"$name must not range-partition:\n${plan(chart)}")
      val (rows, jobs) = collectJobs(chart)
      assert(jobs <= 2, s"$name ran $jobs jobs")
      assert(rows.nonEmpty && rows == parent.collect().toSeq, name)
    }
  }
}
