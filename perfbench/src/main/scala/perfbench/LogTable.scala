package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.{LogSchema, NgramIndex, Rollup, ZoneMapIndex}
import graft.plans.PromoteMapKeys
import graft.streaming.IngestStream

/** A klogs log table fed the way production feeds it: Fluent Bit chunk
  * files land in a directory and a long-lived Structured Streaming query
  * decodes them into the date-partitioned table, building both
  * file-skipping sidecars at ingest; the rollup is refreshed after each
  * micro-batch.
  */
final class LogTable(ctx: Ctx, name: String) {
  import LogTable._
  val input: String = ctx.dir(s"$name-chunks")
  val table: String = ctx.dir(s"$name-table")
  val rollup: String = ctx.dir(s"$name-rollup")
  private val staging = ctx.dir(s"$name-staging")
  private val checkpoint = ctx.dir(s"$name-checkpoint")
  private var staged = 0
  private var landed = 0
  private var lastBatch = -1L
  var inputBytes = 0L

  /** Land `chunks` in the input directory all at once (the benchmark's own
    * work): they are written to a directory outside it, which one rename
    * moves in, so a running query's next listing sees all of them or none.
    */
  def stage(chunks: Seq[Array[Byte]]): Unit = {
    val dir = f"landed-$landed%04d"
    Gen.writeChunks(new java.io.File(staging, dir), chunks, staged)
    new java.io.File(input).mkdirs()
    java.nio.file.Files.move(new java.io.File(staging, dir).toPath, new java.io.File(input, dir).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    landed += 1
    staged += chunks.size
    inputBytes += chunks.map(_.length.toLong).sum
  }

  /** Start the streaming query: chunk files as they land, at most
    * `filesPerBatch` per micro-batch, into the table with both sidecars
    * built at ingest. It polls until stopped.
    */
  def start(filesPerBatch: Int, req: Long): StreamingQuery =
    ctx.tracer.span(Tracer.StreamQuerySpan, req) {
      val raw = IngestStream.readFbChunks(ctx.spark, s"$input/*", Some(filesPerBatch))
      val rows = LogSchema.withPromotedColumns(IngestStream.ingestedFromChunks(raw),
        numberKeys = PromotedKeys)
      IngestStream.sinkPartitionedParquet(rows, table, checkpoint, Trigger.ProcessingTime(0L),
        ngramIndex = Some(Ngram), zoneMapCols = ZoneMapCols).start()
    }

  /** Block until `q` has committed every landed chunk. Returns the duration
    * of each micro-batch that did so, in milliseconds, as the query's own
    * progress reports it (trigger execution: decode, write, index-at-ingest).
    */
  def commit(q: StreamingQuery): Seq[Long] = {
    q.processAllAvailable()
    val done = q.recentProgress.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
    done.foreach(p => lastBatch = lastBatch.max(p.batchId))
    done.map(_.durationMs.get("triggerExecution").longValue).toSeq
  }

  def refreshRollup(req: Long): Unit =
    ctx.tracer.span("Rollup.refresh", req)(Rollup.refresh(ctx.spark, table, rollup, numericKeys = RollupKeys))

  /** Load every staged chunk in one batch job through the same layer
    * functions the streaming sink calls (decode, partitioned write, both
    * sidecar builds), then build the rollup: a read-side fixture without
    * the streaming query's start-up.
    */
  def load(): Unit = {
    val spark = ctx.spark
    val raw = spark.read.format("binaryFile").load(s"$input/*")
    LogSchema.writePartitioned(LogSchema.withPromotedColumns(IngestStream.ingestedFromChunks(raw),
      numberKeys = PromotedKeys), table)
    NgramIndex.build(spark, table, Ngram.n, Ngram.expectedNdv, Ngram.fpp)
    ZoneMapIndex.build(spark, table, ZoneMapCols)
    Rollup.refresh(spark, table, rollup, ctx.cpus, RollupKeys)
  }

  /** Bytes kept for the table: data files, both sidecars and the rollup. */
  def storedBytes: Long = Stats.dirBytes(table) + Stats.dirBytes(rollup)
  def tableBytes: Long = Stats.dataFiles(table).map(_.length).sum
  def sidecarBytes: Long =
    Stats.dirBytes(s"$table/${NgramIndex.IndexDirName}") +
      Stats.dirBytes(s"$table/${ZoneMapIndex.IndexDirName}")
  def rollupBytes: Long = Stats.dirBytes(rollup)

  /** The ingest checks, with plain Spark over the files the program wrote
    * (`counts` may come from rows already read that way):
    * per-(date, namespace, app) counts and `content_bytes` sums equal the
    * generator's, every data file is covered by both sidecars, and the
    * rollup's counts equal the raw counts. Returns the failed checks.
    */
  def check(recs: Seq[Gen.Rec], counts: => Map[(String, String, String), (Long, Double)] = rawCounts()): Seq[String] = {
    val spark = ctx.spark
    val problems = mutable.Buffer.empty[String]
    val want = recs.groupBy(r => (r.date, r.ns, r.app)).map { case (k, rs) =>
      k -> (rs.size.toLong, rs.map(_.bytes).sum.toDouble)
    }
    val got = counts
    if (got != want)
      problems += s"$name: per-(date, namespace, app) counts/sums differ on " +
        s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} groups"
    val files = Stats.dataFiles(table).map(_.getAbsolutePath).toSet
    def covered(dir: String, cols: Seq[String]): Map[String, Set[String]] =
      spark.read.parquet(s"$table/$dir").select(cols.map(col): _*).collect()
        .groupBy(r => if (cols.size > 1) r.getString(1) else "")
        .map { case (k, rs) => k -> rs.map(r => norm(r.getString(0))).toSet }
    val ngram = covered(NgramIndex.IndexDirName, Seq("file")).getOrElse("", Set.empty)
    if (!files.subsetOf(ngram)) problems += s"$name: ${(files -- ngram).size} data files missing from the n-gram sidecar"
    val zone = covered(ZoneMapIndex.IndexDirName, Seq("file", "col"))
    ZoneMapCols.foreach { c =>
      val z = zone.getOrElse(c, Set.empty)
      if (!files.subsetOf(z)) problems += s"$name: ${(files -- z).size} data files missing from the zone map on $c"
    }
    val rolled = spark.read.parquet(rollup)
      .groupBy(col("date").cast("string"), col("namespace"), col("app")).agg(sum(col("cnt")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    if (rolled != got.map { case (k, v) => k -> v._1 })
      problems += s"$name: rollup counts differ from raw counts"
    problems.toSeq
  }

  /** Rows and `content_bytes` sums per (date, namespace, app) of the table. */
  def rawCounts(): Map[(String, String, String), (Long, Double)] =
    ctx.spark.read.parquet(table)
      .groupBy(col("date").cast("string"), col("namespace"), col("app"))
      .agg(count(lit(1)), sum(col("fields_number").getItem("content_bytes")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
}

object LogTable {
  /** Numeric keys promoted to columns at ingest: the record id (keyset
    * pagination, zone map) and the latency (zone map, percentiles).
    */
  val PromotedKeys = Seq("content_seq", "content_latency_ms")
  val SeqCol: String = PromoteMapKeys.promotedName("content_seq")
  val LatencyCol: String = PromoteMapKeys.promotedName("content_latency_ms")
  val ZoneMapCols = Seq(SeqCol, LatencyCol)
  val RollupKeys = Seq("content_latency_ms")
  /** Bloom sizing: a data file holds ~10^4 distinct 4-grams. */
  val Ngram: NgramIndex.Config = NgramIndex.Config(n = 4, expectedNdv = 1L << 16)

  def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
}
