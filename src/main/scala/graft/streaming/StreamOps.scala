package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming query operators over the ingested log stream (SURVEY.md §2.9).
  * All take/return streaming DataFrames; batch equivalents of the windowed
  * aggregations are oracle-checked in the Queries registry.
  */
/** Per-dimension state for [[StreamOps.anomalyAlerts]]: the trailing ring
  * of closed bucket counts, the still-open buckets, and the newest closed
  * bucket start (the late-data cutoff).
  */
case class AnomalyDimState(
    ring: Vector[Long], open: Map[Long, Long], lastClosed: Long)

/** One scored closed bucket from [[StreamOps.anomalyAlerts]] — the same
  * row shape the batch `volumeAnomalies` emits.
  */
case class AnomalyAlert(
    dim: String, bucket_ms: Long, cnt: Long,
    mu: Double, sd: Double, z: Double, is_anomaly: Boolean)

object StreamOps {

  /** Tumbling-window event counts (the kobs volume chart, incremental).
    * Watermark bounds state: the reference accepts unbounded lateness
    * (main.go:100-101 falls back to now() and any event time lands wherever
    * its date partition says) which cannot scale — a documented divergence.
    */
  def tumblingCounts(
      logStream: DataFrame,
      window_ : String = "1 minute",
      watermark: String = "10 minutes",
      groupCols: Seq[String] = Seq("namespace")): DataFrame =
    logStream
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Session windows per metadata key (30 min gap default). */
  def sessionCounts(
      logStream: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes",
      keyCol: String = "pod_name"): DataFrame =
    logStream
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col(keyCol))
      .agg(count(lit(1)).as("cnt"))

  /** Stateful streaming dedup within the watermark on the given keys. */
  def dedupWithinWatermark(
      logStream: DataFrame,
      keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    logStream
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: correlate two live event streams on a
    * key within an event-time band — e.g. join error logs against a
    * deploy/audit stream to tag each error with the deployment that
    * preceded it. Both sides carry watermarks and the join condition
    * time-bounds right against left, which is exactly what Spark needs to
    * (a) know when a buffered left row can never match again and (b) evict
    * that state — an unbounded-condition stream-stream join grows state
    * forever and is unrunnable at log volume. State size ≈ input rate ×
    * (band + watermark), independent of stream lifetime.
    *
    * Inner by default; "left_outer" emits unmatched left rows once their
    * watermark expires (late-arriving right matches are then dropped —
    * the documented Spark semantics).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String = "timestamp",
      rightTime: String = "timestamp",
      lookBack: String = "10 minutes",
      lookAhead: String = "0 seconds",
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTime) >= l(leftTime) - expr(s"INTERVAL $lookBack") &&
        r(rightTime) <= l(leftTime) + expr(s"INTERVAL $lookAhead"),
      joinType)
  }

  /** Streaming enrich against a static dimension (stream ⋈ static is
    * broadcast per micro-batch — no state).
    */
  def enrichWithStatic(
      logStream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String): DataFrame =
    // dataset-qualified keys: unqualified col() is AMBIGUOUS_REFERENCE when
    // both sides share the key column name (the natural enrich call)
    logStream.join(broadcast(dim),
      logStream(streamKey) === dim(dimKey), "left_outer")

  /** Streaming volume-anomaly alerts — the live form of
    * [[graft.operators.Anomaly.volumeAnomalies]], and the engine's
    * custom-state operator (`flatMapGroupsWithState`; the built-in
    * windowed aggregates cannot express "score each closed bucket against
    * a trailing ring of earlier closed buckets").
    *
    * State per dimension: the last `lookback` CLOSED bucket counts (the
    * baseline ring) + the open tail buckets. A bucket closes when a newer
    * bucket appears for that dimension; closing emits its alert row —
    * same arithmetic as the batch operator bit-for-bit (exact integer
    * sums, Poisson-floored sd, half-away rounding), and buckets come from
    * the SAME `date_trunc(bucket, ts)` expression the batch operator
    * uses (session-timezone semantics included — an epoch-ms floorDiv
    * would diverge under non-whole-hour offsets like +05:30), so
    * streaming output ≡ batch output on the same events in any session
    * timezone (StreamingSpec asserts row parity).
    * Events for buckets at-or-before the last closed one are dropped
    * (documented late-data bound — the watermark analogue; the reference
    * accepts unbounded lateness, which cannot scale).
    *
    * Scale shape: one hash exchange on the dimension key; state is
    * `lookback + open` longs per dimension — thousands of dimensions cost
    * megabytes.
    */
  def anomalyAlerts(
      stream: DataFrame,
      dimCol: String,
      tsCol: String,
      bucket: String = "hour",
      lookback: Int = 24,
      minSigma: Double = 3.0): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def r4(x: Double): Double =
      if (x >= 0) math.floor(x * 1e4 + 0.5) / 1e4
      else math.ceil(x * 1e4 - 0.5) / 1e4
    stream
      .select(col(dimCol).cast("string").as("dim"),
        unix_millis(date_trunc(bucket, col(tsCol))).as("bucket_start"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AnomalyDimState, AnomalyAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (dim, rows, state) =>
        val st = state.getOption
          .getOrElse(AnomalyDimState(Vector.empty, Map.empty, Long.MinValue))
        var open = st.open
        rows.foreach { case (_, b) => // b = bucket start ms, pre-truncated
          if (b > st.lastClosed) // late-past-close events are dropped
            open = open.updated(b, open.getOrElse(b, 0L) + 1L)
        }
        if (open.isEmpty) { state.update(st); Iterator.empty }
        else {
          val maxB = open.keys.max
          var ring = st.ring
          val alerts = Vector.newBuilder[AnomalyAlert]
          open.keys.filter(_ < maxB).toSeq.sorted.foreach { b =>
            val cnt = open(b)
            if (ring.size == lookback) {
              // identical expression order to the batch operator: exact
              // integer window sums, then the same double arithmetic
              val n = lookback.toDouble
              val s1 = ring.sum
              val s2 = ring.map(c => c * c).sum
              val mu = s1.toDouble / n
              val variance = (s2.toDouble - s1.toDouble * mu) / (n - 1)
              val sd = math.max(math.sqrt(variance), math.sqrt(mu))
              val z = (cnt.toDouble - mu) / sd
              alerts += AnomalyAlert(dim, b, cnt, r4(mu), r4(sd), r4(z),
                z >= minSigma)
            }
            ring = (ring :+ cnt).takeRight(lookback)
          }
          state.update(AnomalyDimState(ring, Map(maxB -> open(maxB)),
            math.max(st.lastClosed, open.keys.filter(_ < maxB)
              .foldLeft(Long.MinValue)(math.max))))
          alerts.result().iterator
        }
      }.toDF()
  }

  /** Near-dedup AT INGEST against a persisted [[graft.model.DedupIndex]]:
    * each micro-batch of documents is probed against the corpus index (and
    * itself), survivors are appended to `outPath` and to the index so the
    * NEXT batch sees them — the streaming form of the incremental dedup
    * loop, keep-first semantics.
    *
    * Drop rule: a doc is dropped when it near-duplicates ANY predecessor —
    * an indexed corpus doc, or a same-batch doc with a smaller id —
    * whether or not that predecessor itself survived (the C4/keep-first
    * convention; near-dup chains collapse to their earliest member).
    *
    * At-least-once via [[IngestStream.CommitMarkers]]: replay of a
    * COMMITTED batch is a full no-op (marker short-circuits the write, and
    * [[graft.model.DedupIndex.append]] is idempotent on ids regardless),
    * but a crash after the survivor append and before the marker
    * re-appends that batch's survivors once on replay — the marker
    * pattern's documented floor, with the exactly-once horizon stated on
    * [[IngestStream.MarkerRetention]]. Scale shape per batch: the batch is
    * broadcast into the index probe — the corpus tables never shuffle —
    * and the batch is persisted once for its three uses (probe, survivor
    * filter, append).
    */
  def dedupAtIngest(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexDir: String,
      outPath: String,
      checkpoint: String,
      jaccardThreshold: Double = 0.5,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val markers = new IngestStream.CommitMarkers(outPath, checkpoint,
      docs.sparkSession.sparkContext.hadoopConfiguration)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!markers.done(batchId)) {
          batch.persist()
          try {
            val pairs = graft.model.DedupIndex.incrementalPairs(
              batch, idCol, textCol, indexDir, jaccardThreshold)
            val ids = batch
              .select(col(idCol).cast("long").as("id_b"))
              .withColumn("b_in", lit(true))
            // the batch-side member of each pair: id_b when id_b is in the
            // batch (covers the within-batch case — id_b is the greater),
            // else id_a (the pair's corpus side carries the larger id)
            val victims = pairs.join(ids, Seq("id_b"), "left")
              .select(when(coalesce(col("b_in"), lit(false)), col("id_b"))
                .otherwise(col("id_a")).as("victim"))
              .distinct()
            val survivors = batch.join(broadcast(victims),
              batch(idCol).cast("long") === victims("victim"), "left_anti")
            survivors.write.mode("append").parquet(outPath)
            // index append BEFORE the marker — the opposite order of the
            // ngram sink, deliberately: marker-then-append could crash in
            // between and leave a PERMANENT dedup blind spot (nothing
            // re-probes a committed batch), while a crash anywhere in this
            // order just replays the batch: same survivors recomputed (the
            // probe's id≠id filter ignores the docs' own indexed copies),
            // data re-appended once — the marker pattern's documented
            // at-least-once floor — and the index append is idempotent.
            graft.model.DedupIndex.append(survivors, idCol, textCol, indexDir)
            markers.commit(batchId)
          } finally { batch.unpersist(); () }
        }
        ()
      }
  }

  /** Compact the streaming fingerprint index: a marker-window replay can
    * re-append a batch's survivor rows ([[dedupMediaAtIngest]]'s
    * documented at-least-once floor — harmless duplicates under the
    * probe's join semantics, but probe I/O forever). Rewrites the index
    * to DISTINCT rows, published with [[graft.model.DirSwap]]. A MISSING
    * fingerprint index is not a safe default (the next batch would probe
    * against nothing and re-admit every known duplicate), so every index
    * read in this file first recovers an interrupted swap. Returns the
    * rows removed.
    *
    * `minBloatRatio` gates the rewrite: only compact when duplicates
    * exceed that fraction of the distinct rows (0.0 = any duplicate
    * triggers). The count-vs-distinct CHECK still runs — it is the
    * cheap two-aggregate pass; the gate saves the expensive rewrite +
    * double swap when the index is barely bloated, which is what a
    * per-N-batches maintenance cadence wants ([[dedupMediaAtIngest]]'s
    * `compactEvery`).
    */
  def compactMediaFpIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      minBloatRatio: Double = 0.0): Long = {
    val idx = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!graft.model.DirSwap.recover(fs, idx)) return 0L
    val rows = spark.read.parquet(indexDir)
    // ONE aggregation pass decides the gate: count + exact distinct over
    // the whole row ride the same job (a hot maintenance cadence would
    // otherwise pay three reads of the index — count, distinct().count(),
    // then the rewrite). Exact, not approx_count_distinct: the return
    // value is spec-asserted and a 2% sketch error could skip a
    // one-duplicate index under minBloatRatio = 0.0.
    val g = rows.agg(
      count(lit(1)).as("total"),
      count_distinct(struct(rows.columns.map(col).toIndexedSeq: _*))
        .as("kept")).head()
    val total = g.getLong(0)
    val kept = g.getLong(1)
    if (kept == total || (total - kept) <= kept * minBloatRatio) return 0L
    val parts = math.max(1, fs.listStatus(idx).count(_.getPath.getName.endsWith(".parquet")) / 4)
    graft.model.DirSwap.publish(fs, idx) { staged =>
      spark.read.parquet(indexDir).distinct()
        .coalesce(parts).write.mode("overwrite").parquet(staged.toString)
    }
    total - kept
  }

  /** Perceptual media dedup AT INGEST — the [[dedupAtIngest]] loop for
    * binary payloads: each micro-batch of media records is fingerprinted
    * where the bytes sit ([[graft.operators.Multimodal.
    * perceptualFingerprints]] — image dHash / audio energy fp, narrow
    * decode, pixels and PCM never ship), probed against a persisted
    * fingerprint index (parquet `(id, mod, h1, h2)` under `indexDir`) and
    * against itself; survivors append to `outPath` AND to the index so
    * the next batch sees them. Keep-first semantics, the text loop's drop
    * rule verbatim: a record is dropped when its fingerprint matches ANY
    * predecessor — an indexed corpus record (self-rows excluded by id, so
    * marker-window replays recompute identical survivors), or a
    * same-batch record with a smaller id. Undecodable payloads carry no
    * fingerprint and always survive (exact dedup covers them upstream).
    *
    * Scale shape per batch: the batch's fingerprints BROADCAST into the
    * corpus probe — the index never shuffles — matched ids aggregate
    * before anything returns, and the within-batch rule is one window
    * over the (small) batch. At-least-once via the commit-marker pattern
    * shared with [[dedupAtIngest]] (index append before marker: a crash
    * between them replays the batch into identical survivors — the
    * fingerprint probe excludes self-ids — and re-appends index rows,
    * which are harmless duplicates under the probe's semi-join
    * semantics). The OUTPUT side shares the same floor: survivors land
    * in `outPath` before the index append and marker, so a crash in
    * that window re-appends the identical survivor rows to `outPath`
    * on replay — at-least-once DUPLICATE OUTPUT, not lost output.
    * Downstream consumers dedup on `id` (exact hash-dedup is a single
    * groupBy), exactly as for [[dedupAtIngest]]; the index side is
    * reclaimed by [[compactMediaFpIndex]].
    *
    * `media` must carry the [[graft.operators.Multimodal.mediaSchema]]
    * columns (`id`, `kind`, `media`, …).
    */
  def dedupMediaAtIngest(
      media: DataFrame,
      indexDir: String,
      outPath: String,
      checkpoint: String,
      windows: Int = 16,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery: Int = 0,
      compactBloatRatio: Double = 0.25)
    : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.Multimodal
    val markers = new IngestStream.CommitMarkers(outPath, checkpoint,
      media.sparkSession.sparkContext.hadoopConfiguration)
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val conf = spark.sparkContext.hadoopConfiguration
        if (!markers.done(batchId)) {
          batch.persist()
          try {
            val fps = Multimodal.perceptualFingerprints(
              batch.select(col("id").cast("long").as("id"), col("kind"),
                col("media"), lit(0).as("width"), lit(0).as("height"),
                lit(0).as("sampleRateHz")).as[Multimodal.MediaRecord],
              windows).persist()
            try {
              val idxPath = new org.apache.hadoop.fs.Path(indexDir)
              val idxFs = idxPath.getFileSystem(conf)
              // batch rows with an indexed predecessor (any OTHER id on
              // the same fingerprint): aggregate before returning, so
              // only victim ids — bounded by the batch — leave the join
              val corpusVictims: DataFrame =
                if (!graft.model.DirSwap.recover(idxFs, idxPath) ||
                    !idxFs.listStatus(idxPath).exists(
                      _.getPath.getName.endsWith(".parquet")))
                  Seq.empty[Long].toDF("victim")
                else spark.read.parquet(indexDir)
                  .withColumnRenamed("id", "corpus_id")
                  .join(broadcast(fps), Seq("mod", "h1", "h2"))
                  .where(col("corpus_id") =!= col("id"))
                  .select(col("id").as("victim")).distinct()
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy("mod", "h1", "h2")
              val batchVictims = fps
                .withColumn("mn", min(col("id")).over(w))
                .where(col("id") =!= col("mn"))
                .select(col("id").as("victim"))
              val victims = corpusVictims.unionAll(batchVictims).distinct()
              val survivors = batch.join(broadcast(victims),
                batch("id").cast("long") === victims("victim"), "left_anti")
              survivors.write.mode("append").parquet(outPath)
              // survivors' fingerprints enter the index BEFORE the marker
              // (crash-ordering rationale on [[dedupAtIngest]])
              fps.join(broadcast(survivors.select(
                    col("id").cast("long").as("sid"))),
                  fps("id") === col("sid"), "left_semi")
                .write.mode("append").parquet(indexDir)
              markers.commit(batchId)
              // maintenance cadence (LogSchema.compactPartitions's
              // background-merge analogue): every `compactEvery`
              // committed batches, reclaim the at-least-once replay
              // bloat — gated on the rows-vs-distinct ratio so a clean
              // index never pays the rewrite. Runs AFTER the marker, so
              // a crash mid-compact replays as a no-op (marker present)
              // and the swap's own crash-safety (DirSwap) holds.
              // Best-effort: the marker is already written, so dedup
              // correctness never depends on this succeeding — a
              // transient FS error here must not fail the batch and put
              // the query into a retry loop whose replay is a no-op
              // anyway. The swap itself is crash-safe (DirSwap);
              // a skipped compaction is retried at the next cadence tick.
              if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
                try { compactMediaFpIndex(spark, indexDir, compactBloatRatio); () }
                catch {
                  case scala.util.control.NonFatal(e) =>
                    org.slf4j.LoggerFactory.getLogger(getClass).warn(
                      s"fp index compaction skipped (batch $batchId): $e")
                }
            } finally { fps.unpersist(); () }
          } finally { batch.unpersist(); () }
        }
        ()
      }
  }
}
