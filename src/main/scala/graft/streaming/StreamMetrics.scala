package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline observability mirroring the reference's Prometheus metrics
  * (/root/reference/main.go:52-74: input_records_total, errors_total,
  * batch_size and flush_time_seconds summaries) via a
  * StreamingQueryListener. Counters are process-local (the reference's are
  * too — per-DaemonSet-pod); export to any metrics sink can hang off
  * [[snapshot]].
  */
class StreamMetrics extends StreamingQueryListener {
  val inputRecordsTotal = new AtomicLong(0)
  val batchesTotal = new AtomicLong(0)
  val lastBatchSize = new AtomicLong(0)
  val lastFlushSeconds = new AtomicReference[Double](0.0)
  /** The reference's errors_total (main.go:52-74): query failures counted
    * automatically; sink-level failures wired via [[recordError]] (e.g.
    * `JdbcBatchSink.foreachBatchWriter(cfg, onError = m.recordError)`).
    */
  val errorsTotal = new AtomicLong(0)

  /** Count one pipeline error (insert failure, dropped batch, …). */
  def recordError(e: Throwable): Unit = { errorsTotal.incrementAndGet(); () }

  /** Sliding-window quantile estimators matching the reference's summary
    * objectives (main.go:56-73: batch_size and flush_time_seconds at
    * p50/p90/p95/p99). A bounded ring of recent observations — the
    * reference's client_golang summary likewise decays old samples.
    */
  val batchSizeWindow = new StreamMetrics.QuantileWindow(1024)
  val flushSecondsWindow = new StreamMetrics.QuantileWindow(1024)

  /** The last batch's seconds per [[StreamMetrics.Phases]] phase, as Spark's
    * progress reports them (`StreamingQueryProgress.durationMs`): where a
    * batch's time goes besides the sink (`addBatch`).
    */
  val phaseSeconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  // Spark delivers every query's events to every listener on the session;
  // unscoped, two pipelines would double-count into each other's metrics.
  // None = count all queries (the generic attach()); set via restrictToName.
  // Name-based (not query-id) so the restriction can be installed BEFORE
  // the query starts — the id only exists post-start, leaving a window
  // where foreign events would still count.
  private val only = new AtomicReference[Option[String]](None)
  // Started/progress events carry the query NAME; terminated events carry
  // only ids — remember which ids belong to the restricted name so query
  // failures are attributed to the right pipeline. Ids are tracked ONLY
  // while restricted: an unrestricted listener counts every failure anyway
  // (no id needed), and ids captured pre-restriction would let a foreign
  // query's later failure count into this pipeline's errors_total.
  private val ownIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

  /** Count only the streaming query carrying this `queryName`. Clears any
    * previously tracked ids (they may belong to other queries seen while
    * unrestricted).
    */
  def restrictToName(queryName: String): Unit = {
    only.set(Some(queryName))
    ownIds.clear()
  }

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    if (only.get.exists(n => n == event.name)) { ownIds.add(event.id); () }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    if (only.get.forall(n => n == p.name)) {
      if (only.get.isDefined) ownIds.add(p.id)
      inputRecordsTotal.addAndGet(p.numInputRows)
      batchesTotal.incrementAndGet()
      lastBatchSize.set(p.numInputRows)
      batchSizeWindow.observe(p.numInputRows.toDouble)
      Option(p.durationMs.get("triggerExecution")).foreach { ms =>
        lastFlushSeconds.set(ms.toDouble / 1000.0)
        flushSecondsWindow.observe(ms.toDouble / 1000.0)
      }
      StreamMetrics.Phases.foreach { ph =>
        Option(p.durationMs.get(ph)).foreach(ms => phaseSeconds.put(ph, ms.toDouble / 1000.0))
      }
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    if (event.exception.isDefined &&
        (only.get.isEmpty || ownIds.contains(event.id))) {
      errorsTotal.incrementAndGet()
      ()
    }

  def snapshot: Map[String, Double] = Map(
    "input_records_total" -> inputRecordsTotal.get.toDouble,
    "errors_total" -> errorsTotal.get.toDouble,
    "batches_total" -> batchesTotal.get.toDouble,
    "batch_size" -> lastBatchSize.get.toDouble,
    "flush_time_seconds" -> lastFlushSeconds.get,
  )
}

object StreamMetrics {
  /** Attach a fresh metrics listener to the session. */
  def attach(spark: SparkSession): StreamMetrics = {
    val m = new StreamMetrics
    spark.streams.addListener(m)
    m
  }

  /** Micro-batch phases exported per batch: `latestOffset` and `getBatch`
    * (source), `queryPlanning`, `addBatch` (the sink: write and
    * index-at-ingest) and `walCommit` (offset log).
    */
  val Phases: Seq[String] =
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit")

  /** Quantiles the reference's summaries publish (main.go:56-73). */
  val SummaryQuantiles: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99)

  /** Bounded ring of recent observations with nearest-rank quantiles.
    * Thread-safe; O(capacity) memory, O(n log n) per quantile read (reads
    * are scrape-rate, writes are batch-rate — both tiny).
    */
  final class QuantileWindow(capacity: Int) {
    require(capacity > 0, s"QuantileWindow capacity must be positive, got $capacity")
    private val buf = new Array[Double](capacity)
    private var n = 0L // total observations ever; ring index = n % capacity
    private var totalSum = 0.0

    def observe(v: Double): Unit = synchronized {
      buf((n % capacity).toInt) = v
      n += 1
      totalSum += v
    }

    def count: Long = synchronized(n)
    def sum: Double = synchronized(totalSum)

    /** One consistent view for a scrape: (count, sum, retained window
      * sorted ascending). Taken under a single lock so quantiles derived
      * from it can never be mutually torn (p50 > p99) by a concurrent
      * observe, and the sort happens once per scrape instead of once per
      * quantile.
      */
    def summarySnapshot: (Long, Double, Array[Double]) = synchronized {
      val len = math.min(n, capacity.toLong).toInt
      (n, totalSum, buf.take(len).sorted)
    }

    /** Nearest-rank quantile over a [[summarySnapshot]] window; NaN when
      * empty — the reference's client_golang summaries likewise emit NaN
      * for quantiles with no observations.
      */
    def quantileOf(sorted: Array[Double], q: Double): Double =
      if (sorted.isEmpty) Double.NaN
      else {
        val len = sorted.length
        val rank = math.min(len - 1, math.max(0, math.ceil(q * len).toInt - 1))
        sorted(rank)
      }

    /** Convenience single-quantile read (tests); see [[quantileOf]]. */
    def quantile(q: Double): Double = quantileOf(summarySnapshot._3, q)
  }
}
