package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Incrementally-maintained per-partition rollups — the Spark analogue of
  * the ClickHouse `MATERIALIZED VIEW … ENGINE = AggregatingMergeTree`
  * pattern that production deployments pair with the reference's raw log
  * table. klogs itself stores only raw rows and delegates all querying to
  * ClickHouse (/root/reference/README.md:6-8); the dashboard queries its
  * schema is purpose-built for (log volume over time per namespace/app —
  * the kobs UI's chart) are exactly what ClickHouse users answer from an MV
  * so the chart never scans raw data. At 100 TB of logs, a day's chart over
  * the raw table reads ~3 TB; over this rollup it reads a few MB.
  *
  * Design:
  *   - The rollup table mirrors the log table's daily `date=` directory
  *     layout, one rollup row per (hour, cluster, namespace, app) within
  *     the day, carrying re-aggregable measures: exact counts/sums plus an
  *     HLL sketch for distinct pods (the `uniqState`/`uniqMerge` analogue —
  *     a plain distinct count would not merge across rollup rows).
  *   - [[refresh]] is INCREMENTAL at partition grain: each source day's
  *     data-file listing (name + length) is hashed, and only days whose
  *     hash moved (new ingest, compaction rewrite) are re-aggregated;
  *     rollup days whose source partition vanished (TTL retention) are
  *     dropped. A refresh reads only the changed days, never the whole
  *     table — but it re-reads a changed day whole, so its cost is
  *     proportional to new data only at day grain: a day that gets a
  *     micro-batch at every trigger is re-read at every refresh.
  *   - Each refreshed day is published with [[DirSwap]], so a crash
  *     mid-refresh leaves every day either on its old rollup or its new
  *     one (a new day: absent), never half written. The day's freshness
  *     record travels with it: an empty `_source-<hash>` marker written
  *     into the staged day after its aggregate, so the day and the hash it
  *     was built from publish in one swap. A refresh that fails part way
  *     keeps every day it published; a day without a marker (a crash
  *     between the aggregate and the marker, or a lost marker) only
  *     re-aggregates once. The marker's `_` prefix hides it from every
  *     parquet read of the rollup.
  */
object Rollup {

  /** One day's refresh outcome: `"new"` (first rollup of this day),
    * `"changed"` (the source listing's hash moved, or the rollup day has
    * no marker), or `"dropped"` (source partition no longer exists —
    * retention propagated).
    */
  final case class RefreshStat(day: String, action: String)

  /** Numeric map keys materialized as per-group metric columns, the MV
    * analogue of `sumState`/`minState`/… on a chosen metric: each key `k`
    * contributes `m_<san>_{sum,min,max,cnt}` columns, enough to
    * re-aggregate sum/min/max/count — and avg as merged sum over merged
    * cnt — across any rollup slice. The default carries the promoted hot
    * key the rest of the engine treats as its canonical metric.
    */
  val defaultNumericKeys: Seq[String] = Seq("event.value")

  /** Column-name stem for a metric key (`event.value` → `event_value`). */
  def metricName(key: String): String = key.replaceAll("[^A-Za-z0-9]", "_")

  /** The materialized-view SELECT over one day of the log table: hourly
    * volume, error volume, raw-log bytes, a distinct-pod HLL sketch, and
    * re-aggregable stats for each requested numeric key, per (cluster,
    * namespace, app). `err_cnt` counts rows carrying the ingest-set
    * `flag.err` field; `count` of a map subscript counts non-null values,
    * and nil elision guarantees absent == null.
    */
  def dayAggregates(
      logs: DataFrame,
      numericKeys: Seq[String] = defaultNumericKeys): DataFrame = {
    val metricAggs = numericKeys.flatMap { k =>
      val c = try_element_at(col("fields_number"), lit(k))
      val n = metricName(k)
      Seq(sum(c).as(s"m_${n}_sum"), min(c).as(s"m_${n}_min"),
        max(c).as(s"m_${n}_max"), count(c).as(s"m_${n}_cnt"),
        // quantileState analogue: a KLL sketch per rollup row — unlike a
        // stored percentile VALUE, sketches merge losslessly across rows,
        // so any-range percentiles come from the MV (see mergedQuantile)
        kll_sketch_agg_double(c).as(s"m_${n}_kll"))
    }
    val aggs = Seq(
      count(lit(1)).as("cnt"),
      count(try_element_at(col("fields_string"), lit("flag.err")))
        .as("err_cnt"),
      sum(length(col("log"))).as("bytes"),
      hll_sketch_agg(col("pod_name")).as("pods_hll"),
      // topKState analogue: a frequent-items sketch of hosts per rollup
      // row; states combine across any slice (see mergedTopHosts)
      expr("approx_top_k_accumulate(host)").as("hosts_topk"),
      // uniqThetaState analogue: unlike HLL, theta sketches support set
      // ALGEBRA (intersect/difference), answering "pods live in BOTH
      // slices" / "pods that churned" from the MV (see podsOverlap)
      theta_sketch_agg(col("pod_name")).as("pods_theta")) ++ metricAggs
    logs.groupBy(
        hour(col("timestamp")).as("hour"),
        col("cluster"), col("namespace"), col("app"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Distinct-pod estimate over any slice of the rollup — the `uniqMerge`
    * half: sketches union losslessly across rollup rows, so a per-day (or
    * per-week) distinct count never needs the raw table.
    */
  def mergedDistinctPods(c: Column): Column =
    hll_sketch_estimate(hll_union_agg(c))

  /** Percentile estimate over any slice of the rollup — the
    * `quantileMerge` half of ClickHouse's `quantileState`: KLL sketches
    * merge across rollup rows, then answer any quantile. Default KLL
    * parameters bound rank error to ~1.65%, independent of row count.
    */
  def mergedQuantile(c: Column, q: Double): Column =
    kll_sketch_get_quantile_double(kll_merge_agg_double(c), lit(q))

  /** Top hosts by row count over any slice of the rollup — the
    * `topKMerge` half of ClickHouse's `topKState`: frequent-items sketch
    * states combine across rollup rows, then report the k heaviest items
    * with estimated counts as `array<struct<item, count>>`. Exact whenever
    * the tracked-item budget exceeds the true distinct count (hosts are a
    * small domain); within the sketch's error envelope otherwise.
    */
  def mergedTopHosts(c: Column, k: Int): Column =
    call_function("approx_top_k_estimate",
      call_function("approx_top_k_combine", c), lit(k))

  /** Union a slice's theta sketches into one set state — the aggregation
    * half of the `uniqTheta` algebra; feed the results to [[podsOverlap]]
    * / [[podsChurned]].
    */
  def mergedTheta(c: Column): Column = theta_union_agg(c)

  /** Estimated |A ∩ B| of two merged theta states (e.g. two days' pod
    * sets): exact below the sketch's retained-entry budget, within the
    * documented error envelope above it. HLL cannot answer this — only
    * theta states carry enough structure for intersections.
    */
  def podsOverlap(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_intersection(a, b))

  /** Estimated |A \ B| — pods present in slice A but gone in slice B (the
    * churn view operators ask for after a redeploy).
    */
  def podsChurned(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_difference(a, b))

  /** Partition-discovery read of the rollup table (recovers `date`),
    * packed into read partitions by bytes alone: ⌈rollup bytes /
    * `spark.sql.files.maxPartitionBytes`⌉ of them, at least one. The byte
    * count is the listing the read already holds.
    *
    * Rollup days are tiny by construction (hours × service triples), and
    * Spark's per-file open cost would otherwise spread a week of 40 KB
    * days over seven tasks. A rollup that fits one split reads as one
    * partition, which already satisfies a chart's grouping and ordering:
    * the routed charts of [[graft.query.LogQuery]] then plan no exchange
    * and run as one Spark job of one task. A larger rollup keeps one
    * partition per split, so the read stays bounded by rollup bytes, not
    * by one task.
    */
  def readRollup(spark: SparkSession, rollupPath: String): DataFrame = {
    val df = spark.read.parquet(rollupPath)
    val bytes = df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.sizeInBytes }.getOrElse(0L)
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    df.coalesce(math.max(1L, (bytes + split - 1) / split).toInt)
  }

  /** Name prefix of a rollup day's freshness marker; the rest is the hex
    * SHA-256 of the source day's listing it was aggregated from.
    */
  private val Marker = "_source-"

  /** Bring the rollup at `rollupPath` up to date with the log table at
    * `logPath`, re-aggregating only days whose source files changed.
    * Returns what was done, empty when already current (the steady-state
    * cron outcome). `jobParallelism` runs that many per-day refreshes as
    * concurrent Spark jobs ([[DirSwap.rewriteEach]]).
    */
  def refresh(
      spark: SparkSession,
      logPath: String,
      rollupPath: String,
      jobParallelism: Int = 1,
      numericKeys: Seq[String] = defaultNumericKeys): Seq[RefreshStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(rollupPath)
    val fs = base.getFileSystem(conf)
    fs.mkdirs(base)
    DirSwap.sweep(fs, base)
    val src = new org.apache.hadoop.fs.Path(logPath)
    val srcFs = src.getFileSystem(conf)
    // a day a crashed compaction or materialize left hidden under
    // `.date=X.old`/`.date=X.staged` is still a source day: recover it
    // read-only first, or it would count as dropped and lose its rollup day
    DirSwap.recoverAll(srcFs, src)
    // day -> hash of its listing: any ingest append or compaction rewrite
    // changes file names or sizes, so an equal hash is a sound "nothing to
    // do"; it reads only directory listings, never data
    val current = LogSchema.days(srcFs, src).map { p =>
      p.getName.stripPrefix("date=") -> digest(LogSchema.dataFiles(srcFs, p))
    }.toMap
    // day -> the hash its rollup day was built from, None without a marker
    val recorded = LogSchema.days(fs, base).map { p =>
      p.getName.stripPrefix("date=") -> fs.listStatus(p).map(_.getPath.getName)
        .collectFirst { case n if n.startsWith(Marker) => n.stripPrefix(Marker) }
    }.toMap
    val stale = current.toSeq.collect {
      case (day, fp) if !recorded.get(day).contains(Some(fp)) =>
        RefreshStat(day, if (recorded.contains(day)) "changed" else "new")
    }.sortBy(_.day)
    val orphaned = (recorded.keySet -- current.keySet).toSeq.sorted

    def refreshOne(st: RefreshStat): RefreshStat = {
      DirSwap.publish(fs, new org.apache.hadoop.fs.Path(base, s"date=${st.day}")) { staged =>
        // one output file: a day's rollup is tiny (hours × service triples)
        dayAggregates(spark.read.parquet(s"$logPath/date=${st.day}"), numericKeys)
          .coalesce(1)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(staged.toString)
        fs.create(new org.apache.hadoop.fs.Path(staged, Marker + current(st.day)), false).close()
      }
      st
    }
    val refreshed = DirSwap.rewriteEach(stale, jobParallelism)(refreshOne)
    orphaned.foreach { day =>
      fs.delete(new org.apache.hadoop.fs.Path(base, s"date=$day"), true)
    }
    refreshed ++ orphaned.map(RefreshStat(_, "dropped"))
  }

  /** Hex SHA-256 of a day's sorted `name:length` listing. */
  private def digest(files: Seq[org.apache.hadoop.fs.FileStatus]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.map(f => s"${f.getPath.getName}:${f.getLen}").sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
