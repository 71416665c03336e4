package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Developer tools over the query registry, one subcommand each, all on
  * one [[GraftSession]] (`SPARK_GRAFT_CPUS` cores):
  *
  * {{{
  * tools/run.sh graft.Tools plan-shape   <sfDir>
  * tools/run.sh graft.Tools dump-plans   <sfDir> <outDir> <suffix> <query...>
  * tools/run.sh graft.Tools host-band    <sfDir> <reps> <query...>
  * tools/run.sh graft.Tools profile      <sfDir> [query...]
  * tools/run.sh graft.Tools sidecar-cold [N...]
  * }}}
  */
object Tools {
  private val usage =
    "usage: graft.Tools plan-shape <sfDir> | dump-plans <sfDir> <outDir> <suffix> <query...> | " +
      "host-band <sfDir> <reps> <query...> | profile <sfDir> [query...] | " +
      "sidecar-cold [N...]"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = GraftSession.create()
    try args.toSeq match {
      case Seq("plan-shape", sfDir) => planShape(spark, sfDir)
      case Seq("dump-plans", sfDir, outDir, suffix, names @ _*) =>
        dumpPlans(spark, sfDir, outDir, suffix, names)
      case Seq("host-band", sfDir, reps, names @ _*) =>
        hostBand(spark, sfDir, reps.toInt, names)
      case Seq("profile", sfDir, names @ _*) => profile(spark, sfDir, names)
      case Seq("sidecar-cold", rest @ _*) => sidecarCold(spark, rest)
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }

  /** SHUFFLE exchanges in a physical plan string. Broadcast exchanges are
    * not data-movement regressions, so they do not count. Exchange reuse is
    * not discounted: under AQE, [[planShape]] reads the plan before it
    * runs, where no exchange has been reused yet, so a shuffle that feeds
    * two subtrees prints, and counts, once per subtree (`dedup_incremental`
    * counts its one-row-per-id shuffle twice, though AQE runs it once).
    * An adaptive plan that has run (a materialized cached frame inside the
    * plan) prints its initial plan under its final one; that subtree is
    * skipped, so each exchange counts once whether or not the cache has
    * been materialized.
    */
  def countExchanges(plan: String): Int = {
    var initialPlan: Option[String] = None // tree prefix of the skipped subtree
    val counted = plan.linesIterator.filter { line =>
      if (initialPlan.exists(line.startsWith)) false
      else {
        val i = line.indexOf("+- == Initial Plan ==")
        initialPlan = if (i >= 0) Some(line.take(i) + "   ") else None
        i < 0
      }
    }
    ("Exchange (hash|range)partitioning|Exchange SinglePartition|" +
      "Exchange RoundRobinPartitioning").r.findAllIn(counted.mkString("\n")).size
  }

  /** The shuffle-exchange count of every registry query's physical plan as
    * TSV: the generator for `src/test/resources/exchange_counts.tsv`, which
    * PlanAuditSpec pins. Regenerate after an INTENTIONAL plan change:
    * `tools/run.sh graft.Tools plan-shape /root/testdata/sf0.01 >
    * src/test/resources/exchange_counts.tsv`.
    */
  def planShape(spark: SparkSession, sfDir: String): Unit =
    Queries.registry.toSeq.sortBy(_._1).foreach { case (name, q) =>
      val n = countExchanges(q.build(spark, sfDir).queryExecution.executedPlan.toString)
      println(s"$name\t$n")
    }

  /** `.explain("formatted")` of each named query into
    * `<outDir>/<query>_<suffix>.txt`, fixtures warmed first: the
    * before/after evidence under `plans/`.
    */
  def dumpPlans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Fixtures.warm(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val plan = Queries.registry(n).build(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${n}_$suffix.txt")
    }
  }

  /** Bench-drift adjudication: run the named queries `reps` times each and
    * print min/p50/max — `min` is the statistic `graft.Bench` records. If
    * a query whose source is unchanged since an earlier recording is far
    * off its recorded band, the host window, not the code, owns the drift.
    * `tools/band_adjudicate.py` parses the `[host-band]` lines.
    */
  def hostBand(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    // one untimed pass pays JIT/codegen/fixtures, as Bench's warmup does
    names.foreach(n => Queries.registry(n).build(spark, sfDir).count())
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Queries.registry(n).build(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // standard median: mean of the two middle order statistics for even
      // reps (sorted(reps/2) alone is the UPPER median)
      val sorted = times.sorted
      val p50 =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(f"[host-band] $n%-30s min=${times.min}%6.3fs " +
        f"p50=$p50%6.3fs max=${times.max}%6.3fs")
    }
  }

  /** One steady-state execution per query (default: the whole registry),
    * after a warm run: wall time split into build (DataFrame construction
    * and analysis), plan (optimization and physical planning) and exec
    * (the count action), plus the Spark jobs, stages, tasks and summed task
    * time it ran. Job count tells iterative queries from single-plan ones;
    * wall − task time/cores is driver-side overhead.
    */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs += t.taskInfo.duration
    })
    Fixtures.warm(spark, sfDir)
    val queries = if (names.nonEmpty) names else Queries.registry.keys.toSeq.sorted
    queries.foreach { n =>
      val fn = Queries.registry(n).build
      val warm =
        try { fn(spark, sfDir).count(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[profile] $n warm-up failed: $e"); false }
      if (warm) {
        // settle the listener bus (its flush is private API) before and
        // after the measured run
        Thread.sleep(300)
        jobs = 0; stages = 0; tasks = 0; taskMs = 0L
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.analyzed
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.count()
        val t3 = System.nanoTime()
        Thread.sleep(300)
        println(f"[profile] $n%-28s wall=${(t3 - t0) / 1e9}%7.3fs " +
          f"build=${(t1 - t0) / 1e6}%7.1fms plan=${(t2 - t1) / 1e6}%7.1fms " +
          f"exec=${(t3 - t2) / 1e6}%8.1fms jobs=$jobs%3d stages=$stages%3d " +
          f"tasks=$tasks%5d taskTime=${taskMs / 1e3}%8.2fs rows=$rows")
      }
    }
  }

  /** Cold zone-map probe scaling over file count. For each N (default 1000
    * and 10000) it writes a synthetic range-clustered table of N files,
    * indexes it, and times the COLD probe for a selective range, with the
    * rows collected to the driver. With candidate-bounded collection the
    * driver transfer stays flat as N grows 10×. Every table is written
    * under the session's temp root ([[Fixtures.tempDir]]), which is
    * deleted when the run's session stops.
    */
  def sidecarCold(spark: SparkSession, args: Seq[String]): Unit = {
    import graft.model.{SidecarIndex, ZoneMapIndex}
    val sizes = if (args.nonEmpty) args.map(_.toInt) else Seq(1000, 10000)
    for (n <- sizes) {
      val dir = Fixtures.tempDir(spark, s"sidecar-cold-$n")
      // n files, file i spanning x in [100i, 100(i+1)) — tight spans, the
      // layout zone maps exist for; ~20 rows per file keeps the build fast
      spark.range(n.toLong * 20)
        .select(col("id"), (col("id") * 5).as("x"))
        .repartitionByRange(n, col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite").parquet(dir)
      val t0 = System.nanoTime()
      ZoneMapIndex.build(spark, dir, Seq("x"))
      val buildS = (System.nanoTime() - t0) / 1e9
      val live = spark.read.parquet(dir).inputFiles.toSeq
      // the per-generation coverage manifest fetch is the ONE surviving
      // O(files) driver transfer (SidecarIndex.coverage — (col, file)
      // string pairs, cached per generation); time it separately so its
      // linear growth is named instead of folded into the probe
      val tc = System.nanoTime()
      val cov = SidecarIndex.coverage(
        spark, dir, ZoneMapIndex.IndexDirName, "col")
      val covS = (System.nanoTime() - tc) / 1e9
      val covRows = cov.valuesIterator.map(_.size.toLong).sum
      // a ~2-file range in the middle of the domain; the probe below
      // reuses the manifest fetched above (the steady-state shape — one
      // manifest per generation amortized over every probe)
      val mid = n.toLong * 100 / 2
      val range = Seq(("x", mid.toDouble, (mid + 150).toDouble))
      SidecarIndex.lastProbeCollected.set(-1L)
      val t1 = System.nanoTime()
      val p = ZoneMapIndex.pruneAll(spark, dir, range, live).head
      val coldS = (System.nanoTime() - t1) / 1e9
      val collected = SidecarIndex.lastProbeCollected.get
      val t2 = System.nanoTime()
      val p2 = ZoneMapIndex.pruneAll(spark, dir, range, live).head
      val warmS = (System.nanoTime() - t2) / 1e9
      require(p2.candidates.toSet == p.candidates.toSet)
      println(f"[sidecar-cold] files=$n%6d build=$buildS%6.1fs " +
        f"manifest=$covS%6.3fs/$covRows%6d rows " +
        f"cold=$coldS%6.3fs warm=$warmS%6.3fs collected=$collected%4d " +
        f"candidates=${p.candidates.size}%4d pruned=${p.pruned}%6d")
    }
  }
}
