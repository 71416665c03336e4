package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** HTTP observability endpoint mirroring the reference's metrics server
  * (/root/reference/pkg/instrument/metrics/metrics.go:50-65): `/health`
  * answers "OK", `/metrics` serves the [[StreamMetrics]] counters in
  * Prometheus text exposition format (the reference registers
  * input_records_total / errors_total / batch_size / flush_time_seconds,
  * main.go:52-74), plus the last batch's per-phase durations.
  *
  * Uses the JDK built-in HTTP server — no added dependency, one instance
  * per driver process (the reference's server is likewise per-pod). Pass
  * port 0 to bind an ephemeral port; [[start]] returns the bound port.
  */
class MetricsServer(metrics: StreamMetrics, port: Int = 2021) {

  private var server: Option[HttpServer] = None

  def start(): Int = synchronized {
    require(server.isEmpty, "metrics server already started")
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/health", handler(_ => "OK"))
    s.createContext("/metrics", handler(_ => exposition))
    s.setExecutor(null) // single-threaded dispatch is plenty for scraping
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  /** The actually-bound port (differs from the constructor arg when
    * started with port 0); -1 before start.
    */
  def boundPort: Int = synchronized {
    server.map(_.getAddress.getPort).getOrElse(-1)
  }

  /** Graceful stop, like the reference's 10s-bounded Shutdown
    * (metrics.go:36-46) — delay 0 here since handlers are instantaneous.
    */
  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
  }

  /** Prometheus text exposition (format 0.0.4): TYPE header + value line
    * per metric, `graft_` namespace (the reference uses `clickhouse_`,
    * main.go:53). batch_size and flush_time_seconds are SUMMARIES with the
    * reference's quantile objectives (p50/p90/p95/p99, main.go:56-73) plus
    * `_sum`/`_count`.
    */
  private[streaming] def exposition: String = {
    // build metadata as the canonical Prometheus info-style gauge — the
    // scrape-side equivalent of the reference logging version.Info at init
    // (main.go:125-126, pkg/version/version.go:51-57)
    val buildInfo =
      "# TYPE graft_build_info gauge\n" +
        s"""graft_build_info{version="${graft.BuildInfo.version}",""" +
        s"""revision="${graft.BuildInfo.revision}",""" +
        s"""branch="${graft.BuildInfo.branch}",""" +
        s"""spark="${graft.BuildInfo.sparkVersion}"} 1"""
    val simple = metrics.snapshot.toSeq.sortBy(_._1)
      .filterNot { case (name, _) =>
        name == "batch_size" || name == "flush_time_seconds" }
      .map { case (name, v) =>
        val full = s"graft_$name"
        val typ = if (name.endsWith("_total")) "counter" else "gauge"
        s"# TYPE $full $typ\n$full $v"
      }
    val summaries = Seq(
      "batch_size" -> metrics.batchSizeWindow,
      "flush_time_seconds" -> metrics.flushSecondsWindow,
    ).map { case (name, w) =>
      val full = s"graft_$name"
      // one snapshot per window per scrape: quantile lines are mutually
      // consistent and the O(n log n) sort happens once, not per quantile
      val (count, sum, sorted) = w.summarySnapshot
      val qLines = StreamMetrics.SummaryQuantiles.map(q =>
        s"""$full{quantile="$q"} ${w.quantileOf(sorted, q)}""")
      (s"# TYPE $full summary" +: qLines :+
        s"${full}_sum $sum" :+ s"${full}_count $count")
        .mkString("\n")
    }
    // one gauge family, labeled by phase; a phase appears once a batch
    // has reported it
    val phases = StreamMetrics.Phases.flatMap(ph =>
      Option(metrics.phaseSeconds.get(ph)).map(v =>
        s"""graft_batch_phase_seconds{phase="$ph"} $v"""))
    val phaseFamily =
      if (phases.isEmpty) Nil
      else Seq(("# TYPE graft_batch_phase_seconds gauge" +: phases).mkString("\n"))
    (buildInfo +: (simple ++ summaries ++ phaseFamily)).mkString("", "\n", "\n")
  }

  private def handler(body: HttpExchange => String): HttpHandler =
    (exchange: HttpExchange) => {
      val bytes = body(exchange).getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set("Content-Type", "text/plain; charset=utf-8")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    }
}
