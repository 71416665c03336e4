package perfbench

import scala.collection.mutable

/** `ingest`: the writes half. Seven days of Fluent Bit chunks arrive one day
  * at a time into the input of one long-lived streaming query; each day is
  * one micro-batch (decode, flatten, partitioned write, index-at-ingest)
  * followed by a rollup refresh. Rounds start from an empty table and a
  * fresh query, always take the first [[RoundDays]] days, and repeat until
  * the window closes. No query runs, so a read-side change should leave
  * every number here unchanged.
  */
object IngestWorkload {
  val ChunksPerDay = 4
  val RecsPerChunk = 500
  /** Days of a measured round: all of them, so that at about 2 s a batch
    * a 10 s window holds one round, never a speed-dependent one or two.
    */
  val RoundDays: Int = Gen.Days
  /** Days of the set-up round. */
  val WarmupDays = 2

  /** One day's commit: its micro-batch as the query reports it plus the
    * rollup refresh after it.
    */
  final case class Batch(ms: Double, rows: Int)

  final class Window {
    val batches = mutable.Buffer.empty[Batch]
    val rounds = mutable.Buffer.empty[(LogTable, Int)] // table, days committed
    val filesWritten = mutable.Buffer.empty[Int]
  }

  def run(ctx: Ctx): Result = {
    val logs = Gen.logs(ctx.seed, ChunksPerDay, RecsPerChunk)

    // set-up: two days through the whole path on a table of its own, so
    // classes, codegen and the JIT are warm before the first measured batch
    val (_, setupNs) = Stats.timed(measure(ctx, logs, new Window, deadline = Long.MinValue, days = WarmupDays, req = 0L))
    ctx.log("warm-up round done")

    val untraced = measure(ctx, logs, new Window, ctx.deadline, days = RoundDays, req = 1L)
    ctx.log(s"${untraced.batches.size} batches measured: ${untraced.batches.map(b => f"${b.ms}%.0f").mkString(" ")} ms")
    val traced = if (!ctx.traceRun) None else {
      ctx.tracer.start()
      val w = measure(ctx, logs, new Window, ctx.deadline, days = RoundDays, req = 1000000L)
      ctx.log(s"${w.batches.size} batches traced")
      Some(w)
    }

    // checks, outside the windows: each round's table against the days it took
    for (w <- untraced +: traced.toSeq; (lt, days) <- w.rounds) {
      val problems = lt.check((0 until days).flatMap(d => logs.recs.filter(_.day == d)))
      (0 until days).foreach(_ => ctx.check(problems.mkString("; "))(problems.isEmpty))
    }

    val ms = untraced.batches.map(_.ms).toSeq
    // the median batch's rate: a window holds few batches, and one slowed
    // by a collection or a busy host would otherwise set the figure
    val rowsPerS = Stats.median(untraced.batches.map(b => b.rows / (b.ms / 1e3)).toSeq)
    val last = untraced.rounds.last._1
    Result(
      setupS = setupNs / 1e9,
      itemsPerS = rowsPerS,
      opP50Ms = Stats.median(ms),
      storedRatio = last.storedBytes.toDouble / last.inputBytes,
      ops = ms.size,
      lines = Seq(
        f"ingest: ${ms.size} micro-batches of $ChunksPerDay chunks ($RecsPerChunk records each) in ${untraced.rounds.size} round(s)",
        f"ingest_rows_per_s            $rowsPerS%12.1f rows/s",
        f"ingest_batch_p50_ms          ${Stats.median(ms)}%12.1f ms"),
      layers = Layers.complete(traced.fold(mutable.Map.empty[String, Double])(w =>
        traceLayers(ctx.tracer, w) += ("trace.overhead_pct" ->
          Layers.overheadPct(w.batches.map(_.ms).toSeq, ms)))))
  }

  /** Rounds until `deadline`, at least one, each a fresh table and query fed
    * the first `days` days one day at a time. A round always runs to its
    * end: later days cost more (more partitions and sidecar entries), so a
    * window cut short on a slower run would hold a different mix of days
    * and amplify the slowdown. Batches that fail are counted as failed
    * operations and end their round.
    */
  private def measure(ctx: Ctx, logs: Gen.Logs, w: Window, deadline: Long, days: Int, req: Long): Window = {
    val t = ctx.tracer
    var r = req
    do {
      val lt = new LogTable(ctx, if (r == 0L) "warmup" else "ingest")
      var day = 0
      t.span("ingest.round", r) {
        val q = lt.start(ChunksPerDay, r)
        try {
          while (day < days) {
            lt.stage(logs.chunks.slice(day * ChunksPerDay, (day + 1) * ChunksPerDay))
            val before = if (t.enabled) Stats.dataFiles(lt.table).size else 0
            val batchMs = lt.commit(q)
            require(batchMs.nonEmpty, s"day $day landed but no micro-batch committed it")
            val (_, refreshNs) = Stats.timed(lt.refreshRollup(r))
            w.batches += Batch(batchMs.sum + Stats.ms(refreshNs), logs.recs.count(_.day == day))
            if (t.enabled) w.filesWritten += Stats.dataFiles(lt.table).size - before
            day += 1
          }
        } catch {
          case e: Exception => ctx.fail(s"ingest round $r day $day", e)
        } finally q.stop()
      }
      w.rounds += ((lt, day))
      r += 1
    } while (System.nanoTime() < deadline)
    w
  }

  /** Per-layer figures of the traced window, per batch. The write and the
    * index builds run inside the streaming sink, so their times are the
    * spans of the Spark jobs whose SQL plan writes the table or a sidecar;
    * the decode is the write's file-reading stage, which scans and decodes
    * the chunks.
    */
  private def traceLayers(t: Tracer, w: Window): mutable.Map[String, Double] = {
    val n = w.batches.size.max(1).toDouble
    val roots = t.roots("ingest.round").map(_.id).toSet
    val jobs = t.jobsByRoot.collect { case (r, js) if roots(r) => js }.flatten.toSeq
    def layerS(layer: String): Double =
      jobs.filter(_.layer == layer).groupBy(_.spanId).values
        .map(js => Tracer.covered(js.map(j => (j.start, j.end)))).sum / 1e3 / n
    val lt = w.rounds.last._1
    Layers.sparkCounts(t, "ingest.round", n) ++= Map(
      "IngestStream.decode_ingest_s" -> jobs.filter(_.layer == "LogSchema.write").map(_.scanStageMs).sum / 1e3 / n,
      "LogSchema.write_s" -> layerS("LogSchema.write"),
      "LogSchema.files_written" -> w.filesWritten.sum.toDouble / w.filesWritten.size.max(1),
      "NgramIndex.build_s" -> layerS("NgramIndex.build"),
      "ZoneMapIndex.build_s" -> layerS("ZoneMapIndex.build"),
      "Rollup.refresh_s" -> Layers.spanS(t, "Rollup.refresh", "ingest.round", n),
      "LogSchema.table_bytes" -> lt.tableBytes.toDouble,
      "SidecarIndex.sidecar_bytes" -> lt.sidecarBytes.toDouble,
      "Rollup.rollup_bytes" -> lt.rollupBytes.toDouble)
  }
}
