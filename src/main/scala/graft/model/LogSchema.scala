package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The log-event data model: a fixed metadata "spine" plus two dynamic
  * typed map columns that absorb any flattened record shape.
  *
  * Mirrors the reference storage schema (/root/reference/schema.sql:3-19 —
  * `timestamp DateTime64(3)`, six `LowCardinality(String)` metadata columns,
  * `fields_string Map(String,String)`, `fields_number Map(String,Float64)`,
  * raw `log String`) re-expressed for Spark/Parquet:
  *   - `DateTime64(3)` → `TimestampType` (µs precision; ms at ingest),
  *   - `LowCardinality` → parquet dictionary encoding (automatic),
  *   - date partitioning + in-partition sort key replaces the MergeTree
  *     `PARTITION BY toDate(timestamp)` / `ORDER BY` physical design
  *     (/root/reference/schema.sql:17-18) so row-group min/max stats give
  *     the same data-skipping on metadata predicates.
  */
object LogSchema {

  val schema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("cluster", StringType),
    StructField("namespace", StringType),
    StructField("app", StringType),
    StructField("pod_name", StringType),
    StructField("container_name", StringType),
    StructField("host", StringType),
    StructField("fields_string", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("fields_number", MapType(StringType, DoubleType, valueContainsNull = false)),
    StructField("log", StringType),
  ))

  /** The reference sort key (/root/reference/schema.sql:18). */
  val sortKey: Seq[String] =
    Seq("cluster", "namespace", "app", "pod_name", "container_name", "host", "timestamp")

  val metadataColumns: Seq[String] =
    Seq("cluster", "namespace", "app", "pod_name", "container_name", "host")

  /** Drop null-valued entries, mirroring nil elision at ingest
    * (/root/reference/main.go:269-270,312: nil fields are never stored, so
    * key-absence *means* "field not set").
    */
  def elideNulls(m: Column): Column = map_filter(m, (_, v) => v.isNotNull)

  /** Deterministic log-shaped view over the shared `events` table, used by
    * the map/metadata query operators and mirrored 1:1 by their DuckDB
    * oracle SQL. `id` (= event_id) is carried for deterministic ordering.
    */
  def logsFromEvents(events: DataFrame): DataFrame = {
    events.select(
      col("event_id").as("id"),
      col("ts").as("timestamp"),
      concat(lit("c"), col("user_id") % 2).as("cluster"),
      col("event_type").as("namespace"),
      concat(lit("app-"), col("user_id") % 10).as("app"),
      concat(lit("pod-"), col("user_id")).as("pod_name"),
      lit("main").as("container_name"),
      concat(lit("host-"), col("user_id") % 5).as("host"),
      elideNulls(map(
        lit("event.type"), col("event_type"),
        lit("flag.err"), when(col("event_type") === "error", lit("y")),
      )).as("fields_string"),
      elideNulls(map(
        lit("event.value"), col("value"),
        lit("props.k"), get_json_object(col("props"), "$.k").try_cast(DoubleType),
      )).as("fields_number"),
      concat_ws(" ", col("event_type"), col("props")).as("log"),
    )
  }

  /** Materialize promoted columns from map keys before writing — the Spark
    * form of the reference's `ADD COLUMN … DEFAULT fields_string[k]` +
    * `MATERIALIZE COLUMN` (README.md:68-84). Queries keep using the map
    * subscript; [[graft.plans.PromoteMapKeys]] rewrites them to these
    * columns so predicates push down to the parquet scan.
    */
  def withPromotedColumns(
      df: DataFrame,
      stringKeys: Seq[String] = Nil,
      numberKeys: Seq[String] = Nil): DataFrame = {
    // Each promoted column carries (source map, exact key) as column
    // metadata — the rule resolves by that metadata, never by name, so two
    // keys sanitizing to the same identifier (`a.b` / `a_b`) stay distinct.
    // The name itself only needs uniqueness; on a sanitization collision the
    // later key gets a deterministic hash suffix.
    def add(d: DataFrame, mapCol: String, k: String): DataFrame = {
      val base = graft.plans.PromoteMapKeys.promotedName(k)
      val name =
        if (!d.columns.contains(base)) base
        else base + "_" + java.lang.Integer.toHexString(k.hashCode)
      val md = new MetadataBuilder()
        .putString(graft.plans.PromoteMapKeys.MetaSourceMap, mapCol)
        .putString(graft.plans.PromoteMapKeys.MetaSourceKey, k)
        .build()
      d.select(col("*"), try_element_at(col(mapCol), lit(k)).as(name, md))
    }
    val s = stringKeys.foldLeft(df)((d, k) => add(d, "fields_string", k))
    numberKeys.foldLeft(s)((d, k) => add(d, "fields_number", k))
  }

  /** Physical write layout: daily partitions, reference sort key within each
    * partition, zstd — the Spark equivalent of schema.sql:17-19. Filters on
    * `date` prune directories; filters on the sort-key columns skip row
    * groups via parquet min/max stats.
    */
  def writePartitioned(df: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    // REBALANCE (AQE) by date so the OUTPUT FILE COUNT tracks data size,
    // not the shuffle-partition conf: the old repartition(date, cluster,
    // namespace, app) at shuffle.partitions=32 wrote ~150 ~5 KB files for
    // a 4 MB table (measured r14 — every later scan of the table paid
    // ~150 task launches and per-file opens, 0.2-0.3 s/query). REBALANCE
    // coalesces small write tasks to advisoryPartitionSizeInBytes (~1
    // file/day at bench scale) AND — via AQE's
    // optimizeSkewsInRebalancePartitions — SPLITS a day bigger than the
    // advisory size into many right-sized tasks, which is why date alone
    // is now a safe key: the single-giant-ingest-day case the old
    // metadata-suffixed key existed for is handled by the skew split, at
    // every scale, with no hand-tuned constant. Within-file clustering is
    // unchanged: each task (whole small days, or a slice of a split day)
    // still sorts by (date, sortKey) below.
    // The sort LEADS with the partition column: the dynamic-partition
    // writer requires output ordered by its partition columns and would
    // otherwise insert its own sort by `date` alone on top of this one —
    // doubling the sort work and (Spark's sort is not guaranteed stable
    // across spills) destroying the sort-key clustering the row-group
    // skipping design depends on.
    // Bloom filters on the high-cardinality spine columns: the sort key
    // leads with cluster/namespace/app, so within a row group pod_name and
    // host min/max ranges are wide and stats-based skipping is useless for
    // the canonical "logs for pod X" point predicate. A per-row-group
    // bloom filter answers "definitely absent" for ~1 byte/ndv — the
    // parquet analogue of a MergeTree bloom_filter skip index. (ndv is a
    // per-ROW-GROUP estimate, not table-wide.)
    val w0 = df.withColumn("date", to_date(col("timestamp")))
      .hint("rebalance", col("date"))
      .sortWithinPartitions(("date" +: sortKey).map(col): _*)
      .write
      .mode(mode)
      .option("compression", "zstd")
    withBloomOptions(w0)
      .partitionBy("date")
      .parquet(path)
  }

  /** Bloom filters on the high-cardinality spine columns — shared between
    * the initial write and compaction rewrites so the physical contract
    * (point-predicate skipping on pod/host) survives merges.
    */
  private val bloomCols = Seq("pod_name", "host")
  private def withBloomOptions[T](
      w: org.apache.spark.sql.DataFrameWriter[T]): org.apache.spark.sql.DataFrameWriter[T] =
    bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", "100000")
    }

  /** The table at `path` as a parquet read, resolved once per listing
    * generation: the schema Spark infers (one Spark job) is kept per
    * session under the table's file listing signature, and later reads of
    * the same listing state it instead. Any write creates fresh file
    * names, so a new generation (a new day, a materialize that promoted
    * columns) infers again; the entries of older generations of the path
    * are dropped when a new one starts. The signature costs one driver
    * listing of the table's visible dirs, the listing Spark's own read
    * repeats anyway.
    */
  def readLogs(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listingSignature(fs, root).fold(spark.read.parquet(path)) { sig =>
      val schema = tableSchemas(spark, (path, sig)) {
        tableSchemas.invalidate { case (p, s) => p == path && s != sig }
        spark.read.parquet(path).schema
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  // keyed by (table path, listing signature): a new signature is a new generation
  private val tableSchemas =
    new graft.SessionCache[(String, Seq[(String, Long, Long)]), StructType]()

  /** (path below `root`, length, mtime) of every file a parquet read of
    * `root` lists, sorted; None when `root` does not exist.
    */
  private[model] def listingSignature(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Seq[(String, Long, Long)]] = {
    def walk(st: org.apache.hadoop.fs.FileStatus, rel: String): Seq[(String, Long, Long)] =
      if (!st.isDirectory) Seq((rel, st.getLen, st.getModificationTime))
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .flatMap(c => walk(c, rel + "/" + c.getPath.getName))
    try Some(walk(fs.getFileStatus(root), "").sorted)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Whether a parquet read skips a listed name — Spark's listing rule: a
    * `.` prefix, a `_` prefix on a name that is no `k=v` partition, or an
    * in-flight `._COPYING_` upload, except the parquet summary files. The
    * one hidden-name rule of the table's listings: staged and aside swap
    * dirs ([[DirSwap]]), `_SUCCESS`, checksums, the sidecar dirs and the
    * rollup's `_source-` markers are all hidden by it.
    */
  private def hidden(n: String): Boolean =
    ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")) &&
      !n.startsWith("_common_metadata") && !n.startsWith("_metadata")

  /** The `date=` partition dirs under `root`, sorted; empty when `root`
    * does not exist. Every job that walks the table by day lists it here.
    */
  private[model] def days(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .collect { case st if st.isDirectory && st.getPath.getName.startsWith("date=") => st.getPath }
      .sortBy(_.getName)

  /** The files directly under `dir` that a parquet read of it lists; empty
    * when `dir` does not exist.
    */
  private[model] def dataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => st.isFile && !hidden(st.getPath.getName))

  /** Execute retention: delete expired daily partition directories and
    * return what was dropped (the TTL job, /root/reference/schema.sql:19
    * `TTL ... + INTERVAL 30 DAY`). Metadata/directory-level, no data
    * rewrite — the O(1)-per-partition equivalent of MergeTree TTL part
    * drops.
    */
  def dropExpiredPartitions(spark: SparkSession, path: String, days: Int): Seq[String] =
    dropPartitionsBefore(spark, path, retentionCutoff(spark, days))

  /** Retention against an EXPLICIT cutoff date (exclusive): compliance
    * holds, backfill trims, and tests all need "drop before this date"
    * decoupled from the wall clock; the `days` form above is the
    * production TTL sugar over this.
    */
  def dropPartitionsBefore(spark: SparkSession, path: String, cutoff: java.time.LocalDate): Seq[String] = {
    // resolve the filesystem FROM the path — FileSystem.get(conf) returns
    // the default FS, which breaks (or silently no-ops) when the log table
    // lives on a different store (s3a:// table with hdfs:// defaultFS)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomed = partitionsBefore(spark, path, cutoff)
    doomed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    doomed
  }

  /** A daily partition's compaction outlook: current fragment count, total
    * bytes, and how many files a rewrite would produce.
    */
  final case class CompactionStat(
      dir: String, files: Int, bytes: Long, targetFiles: Int)

  /** Partitions whose file count exceeds both `minFiles` and what
    * `targetBytes`-sized outputs need — the merge-selection half of the
    * job, split from the rewrite so it can be tested (and dry-run)
    * independently. Only the files a parquet read lists count
    * ([[dataFiles]]): never in-flight swap dirs, `_SUCCESS` markers,
    * checksums or `._COPYING_` uploads.
    */
  def compactionPlan(
      spark: SparkSession,
      path: String,
      targetBytes: Long,
      minFiles: Int): Seq[CompactionStat] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    days(fs, base)
      .map { p =>
        val files = dataFiles(fs, p)
        val bytes = files.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        CompactionStat(p.toString, files.size, bytes, target)
      }
      .filter(st => st.files >= minFiles && st.files > st.targetFiles)
  }

  /** Compact fragmented daily partitions — the Spark analogue of MergeTree
    * background part merges (the reference's storage engine merges parts
    * continuously, cluster/clickhouse.yaml:31-34; a parquet lake runs this
    * as a maintenance job because streaming ingest emits one file per
    * micro-batch flush and a hot day accumulates hundreds of sub-row-group
    * files whose per-file open/footer cost comes to dominate scans).
    *
    * Each selected partition is rewritten to `ceil(bytes/targetBytes)`
    * files, re-clustered on the reference sort key with the same zstd +
    * bloom-filter options as [[writePartitioned]] — row-group skipping and
    * point-predicate blooms survive the merge. Partitions are processed
    * independently (at scale: schedule one job per hot partition; cold
    * partitions are selected out by the plan, making the job incremental).
    *
    * Each partition is published with [[DirSwap]], and the run first
    * heals any swap a crashed compaction, materialize or other rewrite of
    * the table left behind. `jobParallelism` rewrites that many partitions
    * as concurrent Spark jobs ([[DirSwap.rewriteEach]]).
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20,
      minFiles: Int = 4,
      jobParallelism: Int = 1): Seq[CompactionStat] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.sweep(fs, base)
    DirSwap.rewriteEach(compactionPlan(spark, path, targetBytes, minFiles), jobParallelism) { st =>
      // hash-cluster on the sort-key prefix then sort: same within-day
      // physical layout writePartitioned produces
      DirSwap.publish(fs, new org.apache.hadoop.fs.Path(st.dir)) { staged =>
        withBloomOptions(
            spark.read.parquet(st.dir).repartition(st.targetFiles,
              Seq("cluster", "namespace", "app").map(col): _*)
              .sortWithinPartitions(sortKey.map(col): _*)
              .write.mode("overwrite").option("compression", "zstd"))
          .parquet(staged.toString)
      }
      st
    }
  }

  /** Backfill promoted columns into an EXISTING written table — the Spark
    * form of the second half of the reference's promotion recipe:
    * `ALTER TABLE … ADD COLUMN c DEFAULT fields_string[k]` followed by
    * `ALTER TABLE … MATERIALIZE COLUMN c` (/root/reference/README.md:68-84),
    * which ClickHouse executes as a background per-part mutation. Here the
    * mutation unit is the daily partition: each `date=` dir whose files
    * lack any requested promoted column is rewritten with the column
    * appended ([[withPromotedColumns]] — same metadata contract the
    * plan-time [[graft.plans.PromoteMapKeys]] rule resolves by) and
    * published with [[DirSwap]], like [[compactPartitions]].
    *
    * The job is INCREMENTAL and idempotent: partitions already carrying
    * every requested column are skipped, so a re-run after new ingest (new
    * days written without promotion, e.g. by an older writer) only touches
    * the new days, and a completed backfill returns empty. The rewrite is
    * narrow — read, append a map subscript, write; no shuffle — so cost is
    * one pass over just the unbackfilled partitions' bytes.
    *
    * Mid-backfill reads: a reader scanning the whole table while some
    * partitions still lack the column must query through the MAP subscript
    * (correct everywhere, as ClickHouse reads compute the DEFAULT for
    * unmaterialized parts); the promoted-column fast path is for after the
    * backfill completes. Per-partition publication is atomic either way.
    */
  def materializePromotedColumns(
      spark: SparkSession,
      path: String,
      stringKeys: Seq[String] = Nil,
      numberKeys: Seq[String] = Nil,
      jobParallelism: Int = 1): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DirSwap.sweep(fs, base)
    DirSwap.rewriteEach(days(fs, base), jobParallelism) { live =>
      val part = spark.read.parquet(live.toString)
      val have = part.columns.toSet
      val missingS = stringKeys.filterNot(k =>
        have(graft.plans.PromoteMapKeys.promotedName(k)))
      val missingN = numberKeys.filterNot(k =>
        have(graft.plans.PromoteMapKeys.promotedName(k)))
      if (missingS.isEmpty && missingN.isEmpty) None
      else {
        DirSwap.publish(fs, live) { staged =>
          withBloomOptions(
              withPromotedColumns(part, missingS, missingN)
                .write.mode("overwrite").option("compression", "zstd"))
            .parquet(staged.toString)
        }
        Some(live.toString)
      }
    }.flatten
  }

  /** Per-day physical table health — the `system.parts` surface ClickHouse
    * operators run their dashboards and compaction/retention decisions on:
    * file count, bytes, and exact row count per daily partition. Row
    * counts come from parquet FOOTERS (each carries its row count), read
    * DISTRIBUTED — the file list is parallelized and each task opens only
    * footers, so the job reads kilobytes per file regardless of data size;
    * no data pages are touched. The files are those a parquet read lists
    * ([[dataFiles]]), so `files`/`bytes` agree with what compaction and
    * every reader see.
    */
  def partitionStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[(String, String, Long)] = days(fs, base).flatMap { p =>
      dataFiles(fs, p).map(f => (p.getName.stripPrefix("date="), f.getPath.toString, f.getLen))
    }
    val perFile = spark.createDataset(files).toDF("day", "file", "bytes")
      .repartition(math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        // executor-local conf: the Hadoop Configuration is not
        // serializable; footer reads need only the filesystem bindings,
        // which executors carry in their own default configuration
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { r =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(r.getString(1)), conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try (r.getString(0), r.getLong(2), reader.getRecordCount)
          finally reader.close()
        }
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("day", "bytes", "rows")
    perFile.groupBy(col("day"))
      .agg(count(lit(1)).as("files"), sum(col("bytes")).as("bytes"),
        sum(col("rows")).as("rows"))
      .orderBy("day")
  }

  def expiredPartitions(spark: SparkSession, path: String, days: Int): Seq[String] =
    partitionsBefore(spark, path, retentionCutoff(spark, days))

  /** The `days`-TTL cutoff. "Today" must be reckoned in the SESSION
    * timezone — partition names come from to_date() under
    * spark.sql.session.timeZone, and a skewed JVM default zone (e.g.
    * UTC+13 host, UTC session) would move the cutoff a day forward and
    * delete a still-live partition.
    */
  private def retentionCutoff(spark: SparkSession, days: Int): java.time.LocalDate = {
    val tz = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    java.time.LocalDate.now(tz).minusDays(days.toLong)
  }

  /** Daily partition dirs strictly before `cutoff` — the selection half
    * of retention, split from the delete so it can be dry-run (and
    * tested) independently, mirroring [[compactionPlan]]/[[compactPartitions]].
    */
  def partitionsBefore(spark: SparkSession, path: String, cutoff: java.time.LocalDate): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    days(fs, base)
      .filter { p =>
        val d = p.getName.stripPrefix("date=")
        scala.util.Try(java.time.LocalDate.parse(d).isBefore(cutoff)).getOrElse(false)
      }
      .map(_.toString)
  }
}
