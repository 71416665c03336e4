package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced-run recorder. Spans are opened by the benchmark around each
  * call into a layer; the span id travels to Spark as a thread-local job
  * property, so a benchmark-owned [[SparkListener]] can charge every job,
  * stage and task to the span that caused it. Spans and job records are
  * kept in memory and written out once, at the end of the run.
  *
  * Where the benchmark cannot wrap a call because the program makes it
  * (the index builds and the partitioned write inside the streaming sink),
  * the job's call site names the layer: Spark records the stack of the
  * thread that submitted each job, and a job submitted from inside
  * `NgramIndex.build` carries that frame.
  *
  * Nothing is recorded, and no listener is registered, until [[start]]: a
  * traced run measures its untraced window first, with the Spark listener
  * bus exactly as in an untraced run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, Int]
  private val spanName = TrieMap.empty[Long, String]
  private val execLayer = TrieMap.empty[Long, String]

  @volatile private var on = false
  /** Whether [[start]] has been called. */
  def enabled: Boolean = on

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanProp)))
      p.filter(_ != SentinelSpan).foreach { sid =>
        val details = e.stageInfos.map(_.details).mkString("\n")
        val site = layerOf(details)
        // the streaming sink's jobs all carry the query's start() call site,
        // so inside a streaming query the SQL plan names the layer instead
        val layer =
          if (site.nonEmpty || !spanName.get(sid.toLong).contains(StreamQuerySpan)) site
          else Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(x => execLayer.get(x.toLong)).getOrElse("")
        jobs(e.jobId) = new JobRec(e.jobId, sid.toLong, layer, e.time,
          details.linesIterator.slice(1, 3).mkString(" < "))
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execLayer(x.executionId) = planLayer(x.physicalPlanDescription)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (j <- stageJob.get(i.stageId); job <- jobs.get(j); t0 <- i.submissionTime; t1 <- i.completionTime)
        if (i.rddInfos.exists(_.name == "FileScanRDD") && !i.rddInfos.exists(_.name == "ShuffledRowRDD"))
          job.scanStageMs += t1 - t0
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j); m <- Option(e.taskMetrics)) job.synchronized {
        job.tasks += 1
        job.taskMs += m.executorRunTime
        job.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  /** Register the listener and record spans from now on. */
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  /** Unregister the listener; what was recorded stays. */
  def stop(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    on = false
  }

  /** Run `f` as span `name` of request `req`. Before [[start]] this costs
    * one volatile read.
    */
  def span[T](name: String, req: Long)(f: => T): T = {
    if (!on) return f
    val parents = stack.get
    val s = new Span(nextId.getAndIncrement(), parents.headOption.map(_.id).getOrElse(0L),
      parents.lastOption.map(_.id).getOrElse(0L), name, req, System.nanoTime(), codegenCount())
    if (s.root == 0L) s.root = s.id
    spanName(s.id) = name
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    stack.set(s :: parents)
    try f
    finally {
      s.end = System.nanoTime()
      s.compiles = codegenCount() - s.compiles
      stack.set(parents)
      sc.setLocalProperty(SpanProp, prev)
      spans.add(s)
    }
  }

  /** Block until the listener has seen every event posted so far: a job run
    * under a sentinel property is the last event on the bus when its end
    * arrives.
    */
  def drain(): Unit = if (enabled) {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) seen.countDown()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SpanProp) == SentinelSpan))
          sentinelJobs.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(l)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, SentinelSpan)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProp, prev)
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(l)
  }
  private val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def allJobs: Seq[JobRec] = jobs.values.toSeq.sortBy(_.jobId)
  /** Root (operation) spans named `name`. */
  def roots(name: String): Seq[Span] = allSpans.filter(s => s.parent == 0L && s.name == name)

  /** Jobs charged to each root (op) span. */
  def jobsByRoot: Map[Long, Seq[JobRec]] = {
    val rootOf = spans.asScala.map(s => s.id -> s.root).toMap
    allJobs.groupBy(j => rootOf.getOrElse(j.spanId, -1L))
  }

  /** Write spans (with self time) and job records as one JSON document. */
  def write(file: java.io.File): Unit = if (enabled) {
    val ss = allSpans
    val self = selfTimes(ss)
    val sb = new StringBuilder("{\"spans\":[\n")
    sb ++= ss.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"root":${s.root},"name":"${s.name}","req":${s.req},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ms":${self(s.id) / 1e6}%.3f,"codegen_compiles":${s.compiles}}"""
    }.mkString(",\n")
    sb ++= "\n],\"jobs\":[\n"
    sb ++= allJobs.map { j =>
      val site = j.site.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"job":${j.jobId},"span":${j.spanId},"layer":"${j.layer}","site":"$site","start_ms":${j.start},"end_ms":${j.end},""" +
        s""""tasks":${j.tasks},"task_ms":${j.taskMs},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val SentinelSpan = "sentinel"

  final class Span(val id: Long, val parent: Long, var root: Long, val name: String,
      val req: Long, val start: Long, var compiles: Long) {
    @volatile var end: Long = start
    def ns: Long = end - start
  }

  final class JobRec(val jobId: Int, val spanId: Long, val layer: String, val start: Long, val site: String) {
    @volatile var end: Long = start
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    /** Time of the job's stages that read files rather than a shuffle. */
    @volatile var scanStageMs = 0L
    def ms: Long = end - start
  }

  /** Program functions whose frames name a job's layer, most specific
    * first: a probe inside `searchLogsQuery` is charged to the probe.
    */
  private val layerFrames = Seq(
    "graft.model.NgramIndex$.pruneAll" -> "NgramIndex.probe",
    "graft.model.ZoneMapIndex$.pruneAllAligned" -> "ZoneMapIndex.probe",
    "graft.model.NgramIndex$.build" -> "NgramIndex.build",
    "graft.model.ZoneMapIndex$.build" -> "ZoneMapIndex.build",
    "graft.model.LogSchema$.writePartitioned" -> "LogSchema.write",
    "graft.model.Rollup$.refresh" -> "Rollup.refresh",
    "graft.operators.TrainPipeline$.connectedComponents" -> "TrainPipeline.cc")

  /** The span the benchmark opens around a streaming query's life. The
    * query's thread inherits the span id when it starts, so every
    * micro-batch job is charged to this span.
    */
  val StreamQuerySpan = "IngestStream.query"

  /** Layer of a micro-batch job by what its SQL plan reads or writes: the
    * two sidecars, else the table write.
    */
  def planLayer(plan: String): String =
    if (plan.contains(graft.model.NgramIndex.IndexDirName)) "NgramIndex.build"
    else if (plan.contains(graft.model.ZoneMapIndex.IndexDirName)) "ZoneMapIndex.build"
    else if (plan.contains("InsertIntoHadoopFsRelationCommand")) "LogSchema.write"
    else ""

  def layerOf(callSites: String): String =
    layerFrames.collectFirst { case (frame, layer) if callSites.contains(frame) => layer }
      .getOrElse("")

  def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Span duration minus the part of it covered by its child spans. */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map(s => s.id -> (s.ns - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))).toMap
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) tot += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) tot += curE - curS
    tot
  }
}
