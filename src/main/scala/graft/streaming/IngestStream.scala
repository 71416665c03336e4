package graft.streaming

import graft.model.{LogSchema, NgramIndex, SidecarIndex}
import graft.operators.{Ingest, IngestConfig}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The klogs ingest pipeline as Structured Streaming: the reference's
  * Fluent Bit hook dataflow (/root/reference/main.go:237-377 — decode →
  * timestamp coercion → flatten → type dispatch → route → buffer → batch
  * INSERT) re-expressed as `readStream → ingest projection → foreachBatch
  * partitioned write`.
  *
  * Semantics mapping (and deliberate divergences, SURVEY.md §3.2):
  *  - micro-batch trigger ≈ `Flush_Interval` (size-OR-time buffering
  *    becomes Trigger.ProcessingTime + `maxFilesPerTrigger`; the size bound
  *    is a rate limit, not a row count, in Spark's model);
  *  - the reference is at-least-once (failed INSERT keeps the buffer and
  *    Fluent Bit retries the chunk, clickhouse.go:78-106); checkpointed
  *    foreachBatch + per-batch commit markers skip replayed batch ids, so
  *    duplicates are limited to a crash inside the write→marker window —
  *    the same at-least-once floor as the reference, with the common
  *    restart path deduplicated;
  *  - drain-on-shutdown (main.go:386-396) = stop() after the final batch,
  *    asserted in tests.
  */
object IngestStream {

  /** Raw JSON-lines source (one Fluent Bit record per line). */
  def readJsonLines(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.text(path)
  }

  /** The ingest projection: raw record line → log-schema row. Event time is
    * taken from a `ts` field when present (coerced per main.go:85-103),
    * else the injected fallback (the reference uses now()).
    */
  def ingested(raw: DataFrame, cfg: IngestConfig = IngestConfig(),
      fallbackTs: Option[java.sql.Timestamp] = None): DataFrame = {
    val fb = fallbackTs.map(t => lit(t)).getOrElse(current_timestamp())
    val ts = Ingest.coerceTimestamp(
      get_json_object(col("value"), "$.ts"), fb)
    Ingest.ingestJson(raw, col("value"), ts, cfg)
  }

  /** Raw Fluent Bit chunk source: one msgpack chunk per file, the wire
    * shape the reference plugin's FLBPluginFlushCtx actually receives
    * (/root/reference/main.go:238-244). `binaryFile` streams whole files as
    * `content BINARY`; chunks parallelize by file, and the decode runs
    * inside the scan stage (see [[graft.expressions.FbRecords]]) — no
    * shuffle before the partitioned write.
    */
  def readFbChunks(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // binaryFile's schema is fixed by the format, but the STREAMING file
    // source still requires it stated up front (no inference pass at start)
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val r = spark.readStream.format("binaryFile").schema(schema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.load(path)
  }

  /** Chunk bytes → log rows: `explode(graft_fb_records(content))` splits a
    * chunk into its `[ts, record]` events, then the SAME graft_ingest
    * projection as the JSON-lines path (one record dataflow, two decode
    * surfaces). The wire timestamp is used when the event carried a
    * decodable one (EventTime ext / int / float / v2.1 nested,
    * main.go:85-103); otherwise the injected fallback — the reference falls
    * back to wall-clock `time.Now()`, which tests replace with a fixed
    * instant.
    */
  def ingestedFromChunks(raw: DataFrame, cfg: IngestConfig = IngestConfig(),
      fallbackTs: Option[java.sql.Timestamp] = None): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(raw.sparkSession)
    val fb = fallbackTs.map(t => lit(t)).getOrElse(current_timestamp())
    val events = raw.select(
      explode(call_function("graft_fb_records", col("content"))).as("e"))
    Ingest.ingestJson(
      events.select(col("e.ts").as("wire_ts"), col("e.record").as("value")),
      col("value"), coalesce(col("wire_ts"), fb), cfg)
  }

  /** End-to-end convenience for the wire path: msgpack chunk dir → decode →
    * ingest → partitioned parquet. The chunk-file sibling of [[start]].
    */
  def startFromChunks(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      checkpoint: String,
      cfg: IngestConfig = IngestConfig(),
      fallbackTs: Option[java.sql.Timestamp] = None,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      queryName: Option[String] = None): StreamingQuery =
    sinkPartitionedParquet(
      ingestedFromChunks(readFbChunks(spark, inPath), cfg, fallbackTs),
      outPath, checkpoint, trigger, queryName).start()

  /** Partitioned-parquet sink with the reference's physical design (daily
    * partitions + sort key, LogSchema.writePartitioned) applied per batch.
    *
    * Idempotence: a replayed batch id (checkpoint not yet committed when
    * the driver died) is SKIPPED when its commit marker exists, so the
    * common restart path does not duplicate data. Markers live under
    * `_graft_batches/<checkpoint-generation-id>/<batchId>`, where the
    * generation id is the streaming query id persisted in the checkpoint's
    * own `metadata` file: batch ids are only meaningful WITHIN one
    * checkpoint generation (a rebuilt checkpoint restarts at batch 0 with
    * re-listed inputs — matching those against stale markers would
    * silently drop new data), and two pipelines sharing an outPath get
    * disjoint namespaces. The marker is written after the data, so a crash
    * in between re-appends that one batch on replay — at-least-once in the
    * worst case, which is exactly the reference's chunk-retry guarantee
    * (/root/reference/pkg/clickhouse/clickhouse.go:78-106). Parquet
    * readers ignore the underscore-prefixed marker directory. Markers
    * older than [[MarkerRetention]] batches are pruned as newer ones
    * commit (replay only ever revisits the tail of the batch log), so the
    * marker directory stays bounded for long-lived streams.
    *
    * Index-at-ingest: with `ngramIndex` and/or `zoneMapCols` set, each
    * batch also builds both sidecars for the days it touched, after its
    * marker ([[SidecarIndex.build]]). The write stays the only pass over
    * the batch: it reports the touched days through an [[Observation]],
    * and the index step reads back only the new files.
    */
  def sinkPartitionedParquet(
      ingested: DataFrame,
      outPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      queryName: Option[String] = None,
      ngramIndex: Option[NgramIndex.Config] = None,
      zoneMapCols: Seq[String] = Nil): DataStreamWriter[org.apache.spark.sql.Row] = {
    val markers = new CommitMarkers(outPath, checkpoint,
      ingested.sparkSession.sparkContext.hadoopConfiguration)
    val w = ingested.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!markers.done(batchId)) {
          // the write is the only pass over the batch: the days it touched
          // (same derivation as writePartitioned: date=to_date(timestamp))
          // come back as an observed metric of that write, not a second job
          val touched =
            if (ngramIndex.isDefined || zoneMapCols.nonEmpty) Some(Observation())
            else None
          LogSchema.writePartitioned(
            touched.fold(batch)(o => batch.observe(o,
              collect_set(to_date(col("timestamp")).cast("string")).as("days"))),
            outPath, mode = "append")
          markers.commit(batchId)
          // Index-at-ingest (ClickHouse builds a part's minmax and
          // ngrambf_v1 granules inside the INSERT that writes it,
          // schema.sql:15-19): one read-back of the files in the days this
          // batch touched that a sidecar does not cover yet, both sidecars
          // from one aggregate — O(hot partitions) per batch, not O(table).
          // Runs AFTER the commit marker on purpose: an index failure must
          // not re-append the batch's data on replay, and a crash in between
          // merely leaves files unindexed (they are scanned, not lost — the
          // sidecars' staleness contract) until the next batch that touches
          // their day converges them.
          touched.map(touchedDays(_, batchId)).filter(_.nonEmpty).foreach { days =>
            SidecarIndex.build(batch.sparkSession, outPath, ngramIndex, zoneMapCols,
              partitions = days.map(d =>
                new org.apache.hadoop.fs.Path(outPath, s"date=$d").toString),
              dataSchema = Some(batch.schema))
          }
        }
        ()
      }
    queryName.fold(w)(w.queryName)
  }

  /** Commit markers kept per checkpoint generation — the EXACTLY-ONCE
    * HORIZON of the marker pattern, stated precisely:
    *
    *   - a replayed batch id within the last [[MarkerRetention]] batches
    *     finds its marker and is skipped — the normal restart path, since
    *     Structured Streaming replays only batches missing from the
    *     checkpoint's `commits` log and retains at most
    *     `spark.sql.streaming.minBatchesToRetain` (default 100 < 128) of
    *     offset log to replay from: Spark's own replay horizon is
    *     STRICTLY INSIDE the marker horizon, so no reachable restart
    *     re-appends data;
    *   - a batch id older than the horizon (only reachable by restoring
    *     an out-of-band checkpoint BACKUP more than [[MarkerRetention]]
    *     batches stale, or hand-editing the offset log) has had its
    *     marker pruned and falls back to the documented at-least-once
    *     floor: that batch's rows append a second time. Operators doing
    *     checkpoint restores older than the horizon must dedup
    *     downstream or raise [[MarkerRetention]] to cover their backup
    *     depth — a marker is one empty file, so the cost of a much
    *     larger horizon is directory entries, not bytes.
    */
  val MarkerRetention = 128L

  /** The commit markers of one idempotent `foreachBatch` sink writing
    * `outPath` from `checkpoint`: [[done]] says whether `batchId` already
    * committed, [[commit]] records it and prunes the marker
    * [[MarkerRetention]] batches back. Each sink chooses where in its batch
    * it commits. Markers live under
    * `_graft_batches/<checkpoint-generation-id>/<batchId>`
    * ([[sinkPartitionedParquet]] says why). The generation id is resolved
    * at the first batch, on the driver (foreachBatch runs there), when the
    * checkpoint metadata file exists.
    */
  private[streaming] final class CommitMarkers(
      outPath: String, checkpoint: String, conf: org.apache.hadoop.conf.Configuration) {
    private lazy val dir = new org.apache.hadoop.fs.Path(outPath,
      s"_graft_batches/${checkpointGenerationId(checkpoint, conf)}")
    private lazy val fs = dir.getFileSystem(conf)
    private def marker(batchId: Long) = new org.apache.hadoop.fs.Path(dir, batchId.toString)

    def done(batchId: Long): Boolean = fs.exists(marker(batchId))

    def commit(batchId: Long): Unit = {
      fs.create(marker(batchId), true).close()
      if (batchId >= MarkerRetention)
        try { fs.delete(marker(batchId - MarkerRetention), false); () }
        catch { case _: Exception => }
    }
  }

  /** The days a batch's write reported through its observation. The
    * metric arrives on the listener bus just after the write returns; if it
    * never does (a dropped listener event), the batch is left unindexed —
    * the same state as a crash between the commit marker and the index
    * step, which the next batch touching those days converges.
    */
  private def touchedDays(touched: Observation, batchId: Long): Seq[String] =
    try scala.concurrent.Await.result(touched.future, ObservationWait)
      .getSeq[String](0)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"batch $batchId: the write reported no touched days within " +
            s"$ObservationWait; its files stay unindexed until a later batch " +
            "touches their days")
        Nil
    }

  private val ObservationWait = scala.concurrent.duration.Duration(60, "s")

  /** The streaming query id persisted in `<checkpoint>/metadata` — stable
    * across restarts of the same checkpoint, fresh when the checkpoint is
    * rebuilt.
    *
    * This is only called from inside foreachBatch, i.e. AFTER the query has
    * started, when Spark has already written the metadata file — so an
    * unreadable file is an error, never a state to degrade through.
    * Degrading to a shared constant namespace (the old "default" fallback)
    * is exactly the data-loss case the generation id exists to prevent: two
    * generations sharing one marker namespace let a rebuilt checkpoint's
    * replayed batch 0 match a stale marker and be silently skipped.
    * Transient FS reads are retried briefly; persistent failure throws and
    * fails the batch (Spark retries the batch, not the silent skip).
    */
  private[graft] def checkpointGenerationId(
      checkpoint: String, conf: org.apache.hadoop.conf.Configuration,
      attempts: Int = 3): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    var lastErr: Exception = null
    (1 to attempts.max(1)).foreach { attempt =>
      try {
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(body) match {
          case Some(m) => return m.group(1)
          case None => throw new IllegalStateException(
            s"no query id found in checkpoint metadata $p: $body")
        }
      } catch {
        case e: Exception =>
          lastErr = e
          if (attempt < attempts) Thread.sleep(100L * attempt)
      }
    }
    throw new IllegalStateException(
      s"cannot read checkpoint metadata $p after $attempts attempts; " +
        "refusing to fall back to a shared marker namespace (stale markers " +
        "from another generation could silently skip replayed batches)",
      lastErr)
  }

  /** End-to-end convenience: JSON-lines dir → ingest → partitioned parquet. */
  def start(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      checkpoint: String,
      cfg: IngestConfig = IngestConfig(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      queryName: Option[String] = None): StreamingQuery =
    sinkPartitionedParquet(
      ingested(readJsonLines(spark, inPath), cfg),
      outPath, checkpoint, trigger, queryName).start()

  /** [[start]] plus the ops surface the reference runs alongside the
    * pipeline (/root/reference/main.go:230-235: metrics server started at
    * plugin init): a [[StreamMetrics]] listener attached to the session and
    * a [[MetricsServer]] serving /health + /metrics on `metricsPort`
    * (0 = ephemeral). Caller stops both: `query.stop(); server.stop()`.
    */
  def startWithMetrics(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      checkpoint: String,
      cfg: IngestConfig = IngestConfig(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      metricsPort: Int = 2021): (StreamingQuery, MetricsServer, StreamMetrics) = {
    val metrics = StreamMetrics.attach(spark)
    val server = new MetricsServer(metrics, metricsPort)
    // EVERYTHING that can fail after the listener attaches sits inside the
    // try — a bind failure on server.start() used to leak an unrestricted
    // listener on the shared session (one more per retry, each processing
    // every query's events for the life of the session)
    try {
      server.start()
      // scope the counters to THIS pipeline BEFORE it starts: restricting
      // after start leaves a window where another query's progress events
      // still count. The query name is ours to choose, so it can be fixed
      // up front (the query id only exists post-start).
      val name = s"graft-ingest-${java.util.UUID.randomUUID()}"
      metrics.restrictToName(name)
      val query = start(spark, inPath, outPath, checkpoint, cfg, trigger,
        queryName = Some(name))
      // the metrics handle is returned so the caller can BOTH wire sink
      // errors into errors_total and detach the listener at shutdown:
      // `query.stop(); server.stop(); spark.streams.removeListener(metrics)`
      (query, server, metrics)
    } catch {
      case e: Throwable =>
        server.stop()
        spark.streams.removeListener(metrics)
        throw e
    }
  }
}
