package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints human-readable lines, then, as its last stdout line, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {
  val Workloads = Seq("logs", "llm_corpus")
  /** The parts a workload runs one after the other, each with a tracer of
    * its own. `logs` runs its reads half first: that half's fixture load
    * calls the decode, write, index and rollup functions the streaming sink
    * calls, so the writes half's batches start further from a cold JVM.
    */
  def parts(workload: String): Seq[String] =
    if (workload == "logs") Seq("log_reads", "ingest") else Seq(workload)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workload == "all" || Workloads.contains(workload),
      s"unknown workload $workload; one of ${Workloads.mkString(", ")} or all")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceRun = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors().min(4)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // below one chunk's rows, so each chunk file of a micro-batch becomes
      // one data file: the table has files for the sidecars to skip, and
      // the same number for every seed
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      // one decode task per chunk file, as with production-sized chunks
      .config("spark.sql.files.maxPartitionBytes", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // `all` runs every workload in this one JVM, one after the other
    for (w <- if (workload == "all") Workloads else Seq(workload)) {
      val done = parts(w).map { part =>
        val tracer = new Tracer(spark)
        val ctx = new Ctx(spark, tracer, traceRun, seed, seconds, work, cpus)
        ctx.log(f"$part: session up in $sessionS%.2fs")
        val result = try {
          part match {
            case "ingest" => IngestWorkload.run(ctx)
            case "log_reads" => LogWorkloads.reads(ctx)
            case "llm_corpus" => CorpusWorkload.run(ctx)
          }
        } finally {
          tracer.drain()
          tracer.write(new java.io.File(work.getParentFile, s"trace-$part-seed$seed.json"))
          // the next part's untraced window runs without it
          tracer.stop()
        }
        ctx.log("measured and checked")
        (part, ctx, result)
      }
      report(done, sessionS, traceRun)
    }
    spark.stop()
  }

  /** One workload's result from its parts' results. `logs` takes its
    * rate, stored bytes and ingest layers from the writes half, its latency
    * and query layers from the reads half; the writes half's Spark counts
    * and tracing overhead go under `ingest.`.
    */
  private def combine(results: Map[String, Result]): Result =
    if (results.size == 1) results.values.head
    else {
      val (writes, reads) = (results("ingest"), results("log_reads"))
      val w = writes.layers.map { case (k, v, _) => k -> v }.toMap
      val layers = reads.layers.map {
        case (k, _, u) if Layers.IngestOwned(k) => (k, w(k), u)
        case (k, _, u) if k.startsWith("ingest.") => (k, w(k.stripPrefix("ingest.")), u)
        case other => other
      }
      Result(writes.setupS + reads.setupS, writes.itemsPerS, reads.opP50Ms, writes.storedRatio,
        writes.ops + reads.ops, writes.lines ++ reads.lines, layers)
    }

  /** Human-readable lines, then the result JSON line. */
  private def report(done: Seq[(String, Ctx, Result)], sessionS: Double, trace: Boolean): Unit = {
    val result = combine(done.map { case (part, _, r) => part -> r }.toMap)
    val attempted = done.map(_._2.attempted.get).sum
    val failed = done.map(_._2.failed.get).sum
    val e2e = Seq(
      ("setup_s", sessionS + result.setupS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("items_per_s", result.itemsPerS, "1/s"),
      ("op_p50_ms", result.opP50Ms, "ms"),
      ("stored_bytes_per_input_byte", result.storedRatio, "ratio"))
    result.lines.foreach(println)
    println(f"ops measured: ${result.ops}  checked: $attempted  failed or wrong: $failed  " +
      f"error_rate: ${failed.toDouble / attempted.max(1)}%.4f")
    done.flatMap(_._2.problems.iterator.asScala).take(20).foreach(p => println(s"check failed: $p"))
    // a traced run also prints its untraced window's end-to-end figures,
    // on lines of their own
    (e2e ++ (if (trace) result.layers else Nil)).foreach { case (k, v, u) => println(f"$k%-34s $v%14.4f $u") }
    val metrics = if (trace) result.layers else e2e
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${attempted.max(1)}, """ +
      s""""failed": $failed, "metrics": {${json.mkString(", ")}}}""")
    System.out.flush()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}

/** Shared run state: session, tracer, whether the run is traced (then each
  * workload measures an untraced window, starts the tracer and measures a
  * traced one), seed, the window length and the tally of checked
  * operations behind `attempted` and `failed`.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val traceRun: Boolean, val seed: Long,
    val seconds: Double, val work: java.io.File, val cpus: Int) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val nextDir = new AtomicLong

  def dir(name: String): String =
    new java.io.File(work, s"$name-${nextDir.incrementAndGet()}").getAbsolutePath

  /** Count one operation and report whether its check passed. */
  def check(what: => String)(ok: Boolean): Boolean = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); problems.add(what) }
    ok
  }

  /** Count a failed operation (it threw). */
  def fail(what: String, e: Throwable): Unit = {
    attempted.incrementAndGet(); failed.incrementAndGet()
    problems.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
  }

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong

  private val born = System.nanoTime()
  /** Progress on stderr; stdout is kept for the result. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")
}

/** What a workload measured; `layers` are the per-layer metrics of a traced
  * run (every name in [[Layers.names]], zero where the workload does not
  * use the layer).
  */
final case class Result(
    setupS: Double, itemsPerS: Double, opP50Ms: Double,
    storedRatio: Double, ops: Int, lines: Seq[String], layers: Seq[(String, Double, String)])

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  /** The middle value, or the mean of the two middle values: a window
    * holds as few as three increments or four batches, where a
    * nearest-rank median jumps between samples.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def ms(ns: Long): Double = ns / 1e6

  /** Bytes of every file under `path`, checksum files aside. */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(walk).sum
      else if (f.getName.endsWith(".crc")) 0L
      else f.length
    walk(new java.io.File(path))
  }

  def dataFiles(table: String): Seq[java.io.File] =
    Option(new java.io.File(table).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(d => d.isDirectory && d.getName.startsWith("date="))
      .flatMap(d => d.listFiles.toSeq.filter(f => f.getName.endsWith(".parquet")))

  def timed[T](f: => T): (T, Long) = {
    val t = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t)
  }
}

/** Per-layer metric names, units and the accumulation shared by workloads. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "IngestStream.decode_ingest_s" -> "s",
    "LogSchema.write_s" -> "s",
    "LogSchema.files_written" -> "count",
    "NgramIndex.build_s" -> "s",
    "ZoneMapIndex.build_s" -> "s",
    "Rollup.refresh_s" -> "s",
    "LogSchema.table_bytes" -> "bytes",
    "SidecarIndex.sidecar_bytes" -> "bytes",
    "Rollup.rollup_bytes" -> "bytes",
    "LogQuery.compile_ms" -> "ms",
    "LogQuery.plan_ms" -> "ms",
    "LogQuery.exec_ms" -> "ms",
    "spark.jobs_per_query" -> "count",
    "spark.driver_share" -> "ratio",
    "Rollup.route_ratio" -> "ratio",
    "NgramIndex.probe_ms" -> "ms",
    "ZoneMapIndex.probe_ms" -> "ms",
    "SidecarIndex.cold_probe_ratio" -> "ratio",
    "SidecarIndex.files_read_ratio" -> "ratio",
    "scan.bytes_per_query" -> "bytes",
    "Dedup.minhash_pairs_s" -> "s",
    "TrainPipeline.cc_s" -> "s",
    "TrainPipeline.cc_jobs" -> "count",
    "TrainPipeline.survivors_s" -> "s",
    "DedupIndex.build_s" -> "s",
    "Similarity.ivf_build_s" -> "s",
    "Similarity.ivf_query_s" -> "s",
    "DedupIndex.incremental_pairs_s" -> "s",
    "DedupIndex.append_s" -> "s",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.codegen_compiles" -> "count",
    "trace.overhead_pct" -> "%",
    "ingest.spark.tasks" -> "count",
    "ingest.spark.task_s" -> "s",
    "ingest.spark.shuffle_bytes" -> "bytes",
    "ingest.spark.spill_bytes" -> "bytes",
    "ingest.spark.codegen_compiles" -> "count",
    "ingest.trace.overhead_pct" -> "%")

  /** Layers of the log table's writes: `logs` reports them from its writes
    * half, whose table its stored-bytes figure describes too.
    */
  val IngestOwned: Set[String] = Set("IngestStream.decode_ingest_s", "LogSchema.write_s",
    "LogSchema.files_written", "NgramIndex.build_s", "ZoneMapIndex.build_s", "Rollup.refresh_s",
    "LogSchema.table_bytes", "SidecarIndex.sidecar_bytes", "Rollup.rollup_bytes")

  /** Fill every name: the workload's values, zero for layers it does not use. */
  def complete(values: collection.Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unknown per-layer metrics: $unknown")
    names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** Spark counts of the jobs under root spans `opSpan` — tasks, task
    * seconds, shuffle and spill bytes, codegen compiles, the counts recorded
    * on every span — per `ops` operations, by default per root span.
    */
  def sparkCounts(t: Tracer, opSpan: String, ops: Double = 0): mutable.Map[String, Double] = {
    val roots = t.roots(opSpan)
    val n = if (ops > 0) ops else roots.size.max(1).toDouble
    val byRoot = t.jobsByRoot
    val js = roots.flatMap(r => byRoot.getOrElse(r.id, Nil))
    mutable.Map(
      "spark.tasks" -> js.map(_.tasks).sum / n,
      "spark.task_s" -> js.map(_.taskMs).sum / 1e3 / n,
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes" -> js.map(_.spillBytes).sum / n,
      "spark.codegen_compiles" -> roots.map(_.compiles).sum / n)
  }

  /** Seconds in spans named `name` under root spans `opSpan`, per `ops`
    * operations, by default per root span.
    */
  def spanS(t: Tracer, name: String, opSpan: String, ops: Double = 0): Double = {
    val roots = t.roots(opSpan).map(_.id).toSet
    val n = if (ops > 0) ops else roots.size.max(1).toDouble
    t.allSpans.filter(s => s.name == name && roots(s.root)).map(_.ns).sum / 1e9 / n
  }

  /** Overhead of tracing: median op time of the traced window over that of
    * the untraced window, minus one, in percent. The untraced window runs
    * first, so any warm-up it still pays counts against tracing.
    */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else (Stats.median(traced) / Stats.median(untraced) - 1.0) * 100.0
}
