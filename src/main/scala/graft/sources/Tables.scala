package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the shared test tables (TESTDATA.md).
  *
  * All tables are plain parquet files at `<sfDir>/<name>.parquet`. The only
  * wrinkle is `events.ts`: the driver wrote it as parquet TIMESTAMP(NANOS),
  * which Spark's vectorized reader rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong` is set; we read the raw int64
  * nanos and truncate to microseconds (same truncation DuckDB applies when
  * it reads NANOS into its native microsecond timestamp, so oracle queries
  * see identical values).
  *
  * SESSION-WIDE SIDE EFFECT, by contract: both confs set below are SQL
  * confs that must still hold when the lazy scan EXECUTES, so they cannot
  * be set-and-restored around the read — after the first [[read]], every
  * later parquet read on the session sees NANOS columns as LongType and
  * never infers TIMESTAMP_NTZ. That is the correct global posture for the
  * shared testdata this loader exists for (and for any log table this
  * engine writes); a session that also reads foreign NTZ/NANOS parquet
  * with different expectations should use a separate session.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // Session-scoped reader cache, keyed by table path: `spark.read.parquet`
  // costs a file listing plus footer schema inference PER CALL (~tens of ms
  // warm), and the query registry re-reads the same immutable tables on
  // every build — hundreds of times across a bench run. A DataFrame is an
  // immutable logical plan, safe to share across queries of one session;
  // a session's entries go when its SparkContext ends (graft.SessionCache,
  // the same cache graft.Fixtures builds on). Staleness contract: a cached
  // table pins the file listing it was resolved with — correct for
  // immutable datasets (the loader's purpose); call [[invalidate]] after
  // appending files to a cached dir.
  private val readers = new graft.SessionCache[String, DataFrame]

  /** Drop cached readers for `dir` (all sessions) — required after
    * appending or rewriting files under a cached path. Accepts the dir
    * with or without trailing slashes, or an exact cached table path —
    * a spelling mismatch must not silently leave the stale listing live.
    */
  def invalidate(dir: String): Unit = {
    val norm = dir.reverse.dropWhile(_ == '/').reverse
    readers.invalidate(key => key == norm || key.startsWith(s"$norm/"))
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // ms-precision timestamps in the testdata carry isAdjustedToUTC=false;
    // read them as session-TZ (UTC) TimestampType, not TIMESTAMP_NTZ, so
    // epoch arithmetic (unix_millis etc.) lines up with the DuckDB oracle.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    name match {
      case "events" => events(spark, dir)
      case n => readers(spark, s"$dir/$n.parquet") {
        spark.read.parquet(s"$dir/$n.parquet")
      }
    }
  }

  /** `events` with `ts` as a proper TimestampType (µs precision).
    *
    * The driver's generator has shipped `ts` two ways across rounds:
    * parquet TIMESTAMP(NANOS) — surfaced as int64 nanos under the
    * `nanosAsLong` conf — and plain TIMESTAMP(MICROS). Dispatch on the
    * RESOLVED type rather than assuming either: an unconditional
    * `ts div 1000` on a MICROS file is an analysis error that takes the
    * whole events-derived registry down with it (round-6 bench failure).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readers(spark, s"$dir/events.parquet") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw // already session-TZ TimestampType
      }
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
