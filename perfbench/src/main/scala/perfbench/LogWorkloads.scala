package perfbench

import java.time.Instant
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.model.{LogSchema, NgramIndex, Rollup, ZoneMapIndex}
import graft.query.LogQuery

/** The reads half: saved dashboards re-issued by three clients, whose
  * sidecar probe keys all fit the 64-entry match cache, and one ad-hoc
  * client whose requests never repeat, so its probes are cold and its
  * answers pruned raw scans. Both read one fixture table that set-up loads
  * through the program's ingest layers.
  */
object LogWorkloads {
  import LogTable.{LatencyCol, SeqCol}

  val ChunksPerDay = 4
  val RecsPerChunk = 500
  val DashboardNamespaces = 6
  val DashboardClients = 3
  val PageSize = 50
  /** Twice KLL's documented 99%-confidence normalized rank error (~1.65%
    * at default k), so a correct sketch fails the check with negligible
    * probability.
    */
  val KllRankTolerance = 0.033
  /** Lower latency bound of the first dashboard's slow-request panel; each
    * further dashboard's is 50 ms higher, so each has a probe key of its own.
    */
  val SlowMs = 400
  /** Draws a fresh ad-hoc request may take before the request fails: the
    * pools are far larger than a run uses, so this only stops a spin.
    */
  val MaxDraws = 1000

  /** A fixture-table row as the checks see it, read back with plain Spark. */
  final case class TRow(micros: Long, ns: String, app: String, date: String,
      fs: Map[String, String], fn: Map[String, Double], log: String, seq: Long) {
    def hourMs: Long = micros / 3600000000L * 3600000L
    def latency: Double = fn("content_latency_ms")
  }

  /** One request: how the program answers it and how the check answers it
    * from the raw rows. `rollupShaped` requests go through a `*FromRollup`
    * or routed call; `sidecar` requests consult the skip indexes.
    */
  final case class Req(key: String, build: () => DataFrame, norm: Row => Seq[Any],
      truth: Seq[TRow] => Seq[Seq[Any]], same: (Seq[Seq[Any]], Seq[Seq[Any]]) => Boolean = _ == _,
      rollupShaped: Boolean = false, sidecar: Boolean = false)

  final class Fixture(ctx: Ctx) {
    val logs: Gen.Logs = Gen.logs(ctx.seed, ChunksPerDay, RecsPerChunk)
    val lt = new LogTable(ctx, "fixture")
    lt.stage(logs.chunks)

    /** Set-up: all 28 chunk files in one batch load (one decode task per
      * file), both sidecars, and the rollup for all seven days.
      */
    def build(): Unit = lt.load()

    lazy val raw: DataFrame = LogSchema.readLogs(ctx.spark, lt.table)
    lazy val rollup: DataFrame = Rollup.readRollup(ctx.spark, lt.rollup)
    lazy val liveFiles: Int = Stats.dataFiles(lt.table).size

    /** The raw table, read once with plain Spark (the checks' source). */
    lazy val rows: Vector[TRow] = ctx.spark.read.parquet(lt.table)
      .select(col("timestamp"), col("namespace"), col("app"), col("date").cast("string"),
        col("fields_string"), col("fields_number"), col("log"), col(SeqCol))
      .collect().toVector.map { r =>
        val ts = r.getTimestamp(0).toInstant
        TRow(ts.getEpochSecond * 1000000L + ts.getNano / 1000, r.getString(1), r.getString(2),
          r.getString(3), r.getMap[String, String](4).toMap, r.getMap[String, Double](5).toMap,
          r.getString(6), r.getDouble(7).toLong)
      }
  }

  // ------------------------------------------------------------ requests

  private def day(d: Int): Instant = Instant.ofEpochMilli(Gen.StartMicros / 1000).plusSeconds(86400L * d)
  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000
  private def inRange(r: TRow, s: Instant, e: Instant) = r.micros >= micros(s) && r.micros <= micros(e)
  private val newestFirst: Ordering[TRow] = Ordering.by((r: TRow) => (-r.micros, r.seq))

  private def counted(df: DataFrame): DataFrame = df.select(count(lit(1)))
  private val one: Row => Seq[Any] = r => Seq(r.getLong(0))
  private val seqOf: Row => Seq[Any] = r => Seq(r.getAs[Double](SeqCol).toLong)
  private def page(rs: Seq[TRow]): Seq[Seq[Any]] = rs.sorted(newestFirst).take(PageSize).map(r => Seq(r.seq))
  private def countBy[K](rs: Seq[TRow])(k: TRow => K)(implicit o: Ordering[K]): Seq[(K, Long)] =
    rs.groupBy(k).map { case (kk, v) => kk -> v.size.toLong }.toSeq.sortBy(_._1)

  private def approx(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
        case (p, q) => p == q
      }
    }

  /** Percentiles within [[KllRankTolerance]] of the exact rank in each group. */
  private def withinRank(q: Double)(rs: Seq[TRow], group: TRow => String)(got: Seq[Seq[Any]]): Boolean = {
    val byGroup = rs.groupBy(group).map { case (g, v) => g -> v.map(_.latency).sorted }
    got.size == byGroup.size && got.forall {
      case Seq(g: String, v: Double) =>
        byGroup.get(g).exists { xs =>
          val lo = xs.count(_ < v); val hi = xs.count(_ <= v)
          val target = q * xs.size; val slack = KllRankTolerance * xs.size + 1
          target >= lo - slack && target <= hi + slack
        }
      case _ => false
    }
  }

  /** The saved dashboards: one per namespace, eight panels each. Probe keys
    * in total: one needle and one latency range per dashboard (12), far
    * below the sidecars' 64-entry match cache.
    */
  def dashboards(ctx: Ctx, fx: Fixture): IndexedSeq[Req] = {
    val spark = ctx.spark
    Gen.Namespaces.take(DashboardNamespaces).zipWithIndex.flatMap { case (ns, i) =>
      val q = s"namespace = '$ns'"
      val app = Gen.apps(ns)(0)
      val (s, e) = (day(i % Gen.Days).plusSeconds(6 * 3600), day(i % Gen.Days).plusSeconds(18 * 3600))
      val date = day(i % Gen.Days).toString.take(10)
      val needle = Gen.CommonWords(i)
      val slowMs = SlowMs + 50 * i
      val inNs = (rs: Seq[TRow]) => rs.filter(_.ns == ns)
      Seq(
        Req(s"volume/$ns", () => LogQuery.volumeRouted(fx.raw, fx.rollup, q),
          r => Seq(r.getLong(0), r.getLong(1)),
          rs => countBy(inNs(rs))(_.hourMs).map { case (h, c) => Seq(h, c) }, rollupShaped = true),
        Req(s"count_by_app/$ns",
          () => LogQuery.aggregateFromRollup(fx.rollup, q, "app", "count")
            .getOrElse(LogQuery.aggregate(fx.raw, q, "app", "count")),
          r => Seq(r.getString(0), r.getLong(1)),
          rs => countBy(inNs(rs))(_.app).map { case (a, c) => Seq(a, c) }, rollupShaped = true),
        Req(s"p95_latency_by_app/$ns",
          () => LogQuery.aggregateFromRollup(fx.rollup, q, "app", "p95", Some("content_latency_ms"))
            .getOrElse(LogQuery.aggregate(fx.raw, q, "app", "p95", Some("content_latency_ms"))),
          r => Seq(r.getString(0), r.getDouble(1)),
          _ => Nil, same = (got, _) => withinRank(0.95)(inNs(fx.rows), _.app)(got), rollupShaped = true),
        Req(s"series_by_app/$ns",
          () => LogQuery.seriesFromRollup(fx.rollup, q, "app")
            .getOrElse(LogQuery.series(fx.raw, q, "app")),
          r => Seq(r.getLong(0), r.getString(1), r.getLong(2)),
          rs => countBy(inNs(rs))(r => (r.hourMs, r.app)).map { case ((h, a), c) => Seq(h, a, c) },
          rollupShaped = true),
        Req(s"logs/$ns", () => LogQuery.logs(fx.raw, s"$q _and_ app = '$app'", s, e, PageSize,
          tieBreak = Seq(SeqCol)), seqOf,
          rs => page(inNs(rs).filter(r => r.app == app && inRange(r, s, e)))),
        Req(s"needle/$ns", () => counted(NgramIndex.searchLogsQuery(spark, fx.lt.table,
          s"log ~ '$needle' _and_ $q")), one,
          rs => Seq(Seq(inNs(rs).count(_.log.contains(needle)).toLong)), sidecar = true),
        Req(s"fields/$ns", () => LogQuery.fields(fx.raw.where(col("date") === date), q),
          r => Seq(r.getString(0), r.getString(1)),
          rs => inNs(rs).filter(_.date == date).flatMap(r =>
            r.fs.keys.map(k => (k, "string")) ++ r.fn.keys.map(k => (k, "number")))
            .distinct.sorted.map { case (k, t) => Seq(k, t) }),
        Req(s"slow/$ns", () => counted(NgramIndex.searchLogsQuery(spark, fx.lt.table,
          s"$q _and_ $LatencyCol >= $slowMs _and_ $LatencyCol <= 1000000")), one,
          rs => Seq(Seq(inNs(rs).count(r => r.latency >= slowMs && r.latency <= 1e6).toLong)),
          sidecar = true))
    }.toIndexedSeq
  }

  /** Seed-drawn ad-hoc requests that never repeat, cycling through map and
    * numeric filters, keyset page walks (pages 1-5), needle searches (needles
    * planted in one chunk, present in many files, or absent), zone-map
    * range scans, and raw volume / series charts.
    */
  final class Adhoc(ctx: Ctx, fx: Fixture, seed: Long) {
    private val r = new java.util.Random(seed)
    private val seen = mutable.Set.empty[String]
    private val cycle = Seq("map_filter", "needle", "page", "page", "page", "page", "page",
      "range", "volume", "needle", "series", "range")
    def cycleSize: Int = cycle.size
    private var i = 0
    // sub-kinds rotate rather than being drawn, so every run issues the
    // same mix of request shapes
    private var needles = 0
    private var ranges = 0

    /** A keyset page walk: its query, window, the page last issued and the
      * last row the program returned for it.
      */
    private final case class Walk(q: String, s: Instant, e: Instant, page: Int,
        cursor: Option[(Instant, Long)])
    private var walk: Option[Walk] = None

    private def fresh(draw: => Req): Req = {
      var q = draw
      var draws = 1
      while (seen(q.key)) {
        if (draws >= MaxDraws) throw new IllegalStateException(s"no fresh request after $draws draws")
        q = draw
        draws += 1
      }
      seen += q.key
      q
    }
    private def window(maxDays: Int): (Instant, Instant) = {
      val s = day(0).plusSeconds(r.nextInt((Gen.Days - maxDays) * 86400 + 1).toLong)
      (s, s.plusSeconds(3600L + r.nextInt(maxDays * 86400 - 3600)))
    }

    def next(): Req = {
      i += 1
      nextOf(cycle((i - 1) % cycle.size))
    }

    /** A fresh request of one kind; `page` continues the walk in progress. */
    def nextOf(kind: String): Req = {
      val spark = ctx.spark
      kind match {
        case "map_filter" => fresh {
          val (u, st) = (s"u${r.nextInt(Gen.Users)}", 200 + 100 * r.nextInt(4))
          val (s, e) = window(3)
          val q = s"content_user = '$u' _and_ content_status >= $st"
          Req(s"logs $q [$s, $e]", () => LogQuery.logs(fx.raw, q, s, e, PageSize,
            tieBreak = Seq(SeqCol)), seqOf,
            rs => page(rs.filter(x => x.fs.get("content_user").contains(u) &&
              x.fn.get("content_status").exists(_ >= st) && inRange(x, s, e))))
        }
        case "page" => walk match {
          case Some(w @ Walk(q, s, e, n, Some((cts, cid)))) if n < 5 =>
            walk = Some(w.copy(page = n + 1))
            val pred = walkPredicate(q)
            Req(s"logsAfter page ${n + 1} $q [$s, $e] after ($cts, $cid)", () =>
              LogQuery.logsAfter(fx.raw, q, s, e, cts, cid, PageSize, idCol = SeqCol), seqOf,
              rs => page(rs.filter(x => pred(x) && inRange(x, s, e) &&
                (x.micros < micros(cts) || (x.micros == micros(cts) && x.seq > cid)))))
          case _ =>
            val q0 = fresh {
              // the three largest namespaces' GET lines over three days fill
              // all five pages, so every walk has the same shape
              val (ns, m) = (Gen.Namespaces(r.nextInt(3)), "GET")
              val s = day(0).plusSeconds(r.nextInt((Gen.Days - 3) * 86400 + 1).toLong)
              val e = s.plusSeconds(3 * 86400L)
              val q = s"namespace = '$ns' _and_ content_method = '$m'"
              walk = Some(Walk(q, s, e, 1, None))
              val pred = walkPredicate(q)
              Req(s"logs page 1 $q [$s, $e]", () => LogQuery.logs(fx.raw, q, s, e, PageSize,
                tieBreak = Seq(SeqCol)), seqOf, rs => page(rs.filter(x => pred(x) && inRange(x, s, e))))
            }
            q0
        }
        case "needle" =>
          needles += 1
          val sub = needles % 3
          fresh {
            val needle = sub match {
              case 0 => fx.logs.rareTokens(r.nextInt(fx.logs.rareTokens.size))
              case 1 => s"user=u${r.nextInt(Gen.Users)} "
              case _ => f"req=zz${r.nextInt(1 << 24)}%06x"
            }
            Req(s"needle '$needle'", () => counted(NgramIndex.searchLogsQuery(spark, fx.lt.table,
              s"log ~ '$needle'")), one, rs => Seq(Seq(rs.count(_.log.contains(needle)).toLong)), sidecar = true)
          }
        case "range" =>
          ranges += 1
          val bySeq = ranges % 2 == 0
          fresh {
            val (c, lo, hi) =
              if (bySeq) {
                val lo = r.nextInt(fx.rows.size).toDouble
                (SeqCol, lo, lo + 50 + r.nextInt(2000))
              } else {
                val lo = math.rint(r.nextDouble() * 300 * 100) / 100
                (LatencyCol, lo, lo + 1 + r.nextInt(50))
              }
            val get: TRow => Double = if (c == SeqCol) _.seq.toDouble else _.latency
            Req(s"rangeScan $c [$lo, $hi]", () =>
              counted(ZoneMapIndex.rangeScans(spark, fx.lt.table, Seq((c, lo, hi))).head), one,
              rs => Seq(Seq(rs.count(x => get(x) >= lo && get(x) <= hi).toLong)), sidecar = true)
          }
        case "volume" => fresh {
          val (u, st) = (s"u${r.nextInt(Gen.Users)}", 200 + 100 * r.nextInt(4))
          val q = s"content_user = '$u' _and_ content_status >= $st"
          Req(s"volume $q", () => LogQuery.volume(fx.raw, q), row => Seq(row.getLong(0), row.getLong(1)),
            rs => countBy(rs.filter(x => x.fs.get("content_user").contains(u) &&
              x.fn.get("content_status").exists(_ >= st)))(_.hourMs).map { case (h, c) => Seq(h, c) })
        }
        case "series" => fresh {
          val (p, st) = (Gen.Paths(r.nextInt(Gen.Paths.size)), 300 + 100 * r.nextInt(3))
          val u = s"u${r.nextInt(Gen.Users)}"
          val q = s"content_path = '$p' _and_ content_status < $st _and_ content_user = '$u'"
          Req(s"series $q", () => LogQuery.series(fx.raw, q, "namespace", "hour", "avg",
            Some("content_latency_ms")), row => Seq(row.getLong(0), row.getString(1), row.getDouble(2)),
            rs => rs.filter(x => x.fs.get("content_path").contains(p) && x.fn.get("content_status").exists(_ < st) &&
                x.fs.get("content_user").contains(u))
              .groupBy(x => (x.hourMs, x.ns)).toSeq.sortBy(_._1)
              .map { case ((h, n), v) => Seq(h, n, v.map(_.latency).sum / v.size) },
            same = approx)
        }
      }
    }

    /** Continue the page walk from the last row of the page just answered;
      * an empty or short page ends the walk.
      */
    def answered(q: Req, rows: Array[Row]): Unit =
      if (q.key.startsWith("logs page") || q.key.startsWith("logsAfter"))
        walk = walk.flatMap { w =>
          if (rows.length < PageSize) None
          else rows.lastOption.map(last => w.copy(cursor = Some(
            (last.getTimestamp(last.fieldIndex("timestamp")).toInstant, last.getAs[Double](SeqCol).toLong))))
        }

    private def walkPredicate(q: String): TRow => Boolean = {
      val ns = "namespace = '([^']*)'".r.findFirstMatchIn(q).map(_.group(1))
      val m = "content_method = '([^']*)'".r.findFirstMatchIn(q).map(_.group(1))
      x => ns.forall(_ == x.ns) && m.forall(mm => x.fs.get("content_method").contains(mm))
    }
  }

  // ------------------------------------------------------------ running

  /** One answered request: its latency split and what the scan read. */
  final case class Done(req: Req, id: Long, ns: Long, compileNs: Long, planNs: Long, execNs: Long,
      rows: Array[Row], scanFiles: Long, scanBytes: Long, routed: Boolean)

  def execute(ctx: Ctx, fx: Fixture, q: Req, id: Long): Done = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val (df, c, p, e, rows) = t.span("request", id) {
      val (df, c) = Stats.timed(t.span("LogQuery.compile", id)(q.build()))
      val (_, p) = Stats.timed(t.span("LogQuery.plan", id)(df.queryExecution.executedPlan))
      val (rows, e) = Stats.timed(t.span("LogQuery.exec", id)(df.collect()))
      (df, c, p, e, rows)
    }
    val ns = System.nanoTime() - t0
    val (files, bytes, routed) =
      if (t.enabled) scanOf(df.queryExecution.executedPlan, fx.lt.rollup) else (0L, 0L, false)
    Done(q, id, ns, c, p, e, rows, files, bytes, routed)
  }

  /** Files and bytes the executed plan's file scans read, and whether any
    * scan read the rollup.
    */
  private def scanOf(plan: SparkPlan, rollupPath: String): (Long, Long, Boolean) = {
    val scans = mutable.Buffer.empty[FileSourceScanExec]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => scans += f
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    walk(plan)
    val root = LogTable.norm(rollupPath)
    val rollupScans = scans.filter(_.relation.location.rootPaths.exists(p => LogTable.norm(p.toString).startsWith(root)))
    def metric(f: FileSourceScanExec, k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
    val raw = scans.filterNot(rollupScans.contains)
    (raw.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum, rollupScans.nonEmpty)
  }

  /** A closed-loop client: the next request to issue, what to do with an
    * answer, and how many requests make one full cycle of its mix.
    */
  trait Client {
    def next(): Req
    def answered(q: Req, rows: Array[Row]): Unit = ()
    def cycle: Int
  }

  /** A dashboard viewer re-issuing a slice of the saved requests in order. */
  final class Viewer(reqs: IndexedSeq[Req]) extends Client {
    private var i = -1
    def next(): Req = { i += 1; reqs(i % reqs.size) }
    def cycle: Int = reqs.size
  }

  /** An analyst issuing the ad-hoc stream. */
  final class Analyst(gen: Adhoc) extends Client {
    def next(): Req = gen.next()
    override def answered(q: Req, rows: Array[Row]): Unit = gen.answered(q, rows)
    def cycle: Int = gen.cycleSize
  }

  /** `log_reads`: three dashboard viewers and one ad-hoc analyst against
    * the fixture table, all closed loop. Each client keeps going until the
    * window has closed and it has issued one full cycle of its mix, so every
    * run measures the same request shapes.
    */
  def reads(ctx: Ctx): Result = {
    val fx = new Fixture(ctx)
    val (reqs, setupNs) = Stats.timed {
      fx.build()
      ctx.log("fixture table loaded")
      val reqs = dashboards(ctx, fx)
      // warm-up: every saved probe (which fills the sidecars' match cache)
      // on the viewers, every ad-hoc kind once on an analyst with a stream
      // of its own
      val warm = reqs.filter(_.sidecar)
      val kinds = Seq("map_filter", "needle", "page", "page", "range", "volume", "series")
      val warmGen = new Adhoc(ctx, fx, ctx.seed * 31 + 7)
      val analyst = new Client {
        private val it = kinds.iterator
        def next(): Req = warmGen.nextOf(it.next())
        override def answered(q: Req, rows: Array[Row]): Unit = warmGen.answered(q, rows)
        def cycle: Int = kinds.size
      }
      runClients(ctx, fx, slices(warm).map(new Viewer(_)) :+ analyst, System.nanoTime())
      reqs
    }
    ctx.log("warm-up done")
    checkFixture(ctx, fx)
    ctx.log("fixture checked")
    val clients = slices(reqs).map(new Viewer(_)) :+ new Analyst(new Adhoc(ctx, fx, ctx.seed))
    def window(): (Seq[Done], Long) = Stats.timed(runClients(ctx, fx, clients, ctx.deadline))
    val (done, wall) = window()
    ctx.log(s"${done.size} requests measured")
    // the traced window's clients go on where the untraced window's stopped:
    // the viewers re-issue the same dashboards, the analyst's requests stay fresh
    val traced = if (!ctx.traceRun) Nil else {
      ctx.tracer.start()
      val (tr, _) = window()
      ctx.log(s"${tr.size} requests traced")
      tr
    }
    val truth = mutable.Map.empty[String, Seq[Seq[Any]]]
    (done ++ traced).foreach { d =>
      val want = truth.getOrElseUpdate(d.req.key, d.req.truth(fx.rows))
      val got = d.rows.toSeq.map(d.req.norm)
      ctx.check(s"${d.req.key}: got ${got.take(3)}... want ${want.take(3)}...")(d.req.same(got, want))
    }
    summarize(ctx, fx, done, traced, wall, setupNs,
      s"log_reads: $DashboardClients dashboard clients over ${reqs.size} saved requests, 1 ad-hoc client")
  }

  /** `reqs` split into one contiguous slice per dashboard client. */
  private def slices(reqs: IndexedSeq[Req]): Seq[IndexedSeq[Req]] =
    (0 until DashboardClients).map(c =>
      reqs.slice(c * reqs.size / DashboardClients, (c + 1) * reqs.size / DashboardClients))

  /** The fixture table passes the ingest checks (one operation). */
  private def checkFixture(ctx: Ctx, fx: Fixture): Unit = {
    val problems = fx.lt.check(fx.logs.recs, fx.rows.groupBy(r => (r.date, r.ns, r.app)).map { case (k, rs) =>
      k -> (rs.size.toLong, rs.map(_.fn("content_bytes")).sum)
    })
    ctx.check(problems.mkString("; "))(problems.isEmpty)
  }

  /** Run each client on its own thread until `deadline` has passed and it
    * has issued one full cycle.
    */
  private def runClients(ctx: Ctx, fx: Fixture, clients: Seq[Client], deadline: Long): Seq[Done] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    val ids = new java.util.concurrent.atomic.AtomicLong
    val threads = clients.zipWithIndex.map { case (client, c) =>
      new Thread(() => {
        var n = 0
        while (n < client.cycle || System.nanoTime() < deadline) {
          val id = ids.incrementAndGet()
          var q: Req = null
          try {
            q = client.next()
            val d = execute(ctx, fx, q, id)
            client.answered(q, d.rows)
            out.add(d)
          } catch {
            case e: Exception =>
              ctx.fail(Option(q).fold("drawing the next request")(_.key), e)
              if (q != null) client.answered(q, Array.empty)
          }
          n += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** Sizes of the fixture table the set-up loaded. Its load runs before
    * the tracer starts, so its times are measured on `ingest` alone.
    */
  private def fixtureLayers(fx: Fixture): Map[String, Double] = Map(
    "LogSchema.files_written" -> fx.liveFiles.toDouble,
    "LogSchema.table_bytes" -> fx.lt.tableBytes.toDouble,
    "SidecarIndex.sidecar_bytes" -> fx.lt.sidecarBytes.toDouble,
    "Rollup.rollup_bytes" -> fx.lt.rollupBytes.toDouble)

  /** End-to-end figures of the untraced window `done`, per-layer figures
    * of the traced window `tr`.
    */
  private def summarize(ctx: Ctx, fx: Fixture, done: Seq[Done], tr: Seq[Done], wallNs: Long, setupNs: Long,
      what: String): Result = {
    val ms = done.map(d => Stats.ms(d.ns))
    val layers = mutable.Map.empty[String, Double]
    if (ctx.traceRun) {
      val t = ctx.tracer
      val n = tr.size.max(1).toDouble
      val roots = t.allSpans.filter(s => s.parent == 0L && s.name == "request").map(s => s.req -> s.id).toMap
      val byRoot = t.jobsByRoot
      val jobsOf = tr.map(d => d -> roots.get(d.id).flatMap(byRoot.get).getOrElse(Nil)).toMap
      val sidecar = tr.filter(_.req.sidecar)
      val rollupShaped = tr.filter(_.req.rollupShaped)
      def probeMs(layer: String) =
        sidecar.map(d => jobsOf(d).filter(_.layer == layer).map(_.ms).sum).sum.toDouble / sidecar.size.max(1)
      layers ++= fixtureLayers(fx)
      layers ++= Map(
        "LogQuery.compile_ms" -> tr.map(d => Stats.ms(d.compileNs)).sum / n,
        "LogQuery.plan_ms" -> tr.map(d => Stats.ms(d.planNs)).sum / n,
        "LogQuery.exec_ms" -> tr.map(d => Stats.ms(d.execNs)).sum / n,
        "spark.jobs_per_query" -> tr.map(d => jobsOf(d).size).sum / n,
        "spark.driver_share" -> tr.map { d =>
          val taskMs = jobsOf(d).map(_.taskMs).sum.toDouble
          val wall = Stats.ms(d.ns)
          ((wall - taskMs / ctx.cpus) / wall).max(0.0)
        }.sum / n,
        "Rollup.route_ratio" -> (if (rollupShaped.isEmpty) 0.0
          else rollupShaped.count(_.routed).toDouble / rollupShaped.size),
        "NgramIndex.probe_ms" -> probeMs("NgramIndex.probe"),
        "ZoneMapIndex.probe_ms" -> probeMs("ZoneMapIndex.probe"),
        "SidecarIndex.cold_probe_ratio" -> sidecar.count(d => jobsOf(d).exists(j =>
          j.layer == "NgramIndex.probe" || j.layer == "ZoneMapIndex.probe")).toDouble / sidecar.size.max(1),
        "SidecarIndex.files_read_ratio" -> sidecar.map(_.scanFiles.toDouble / fx.liveFiles).sum / sidecar.size.max(1),
        "scan.bytes_per_query" -> tr.map(_.scanBytes.toDouble).sum / n,
        "trace.overhead_pct" -> Layers.overheadPct(tr.map(d => Stats.ms(d.ns)), ms))
      layers ++= Layers.sparkCounts(t, "request")
    }
    val qps = done.size / (wallNs / 1e9)
    Result(
      setupS = setupNs / 1e9,
      itemsPerS = qps,
      opP50Ms = Stats.median(ms),
      storedRatio = fx.lt.storedBytes.toDouble / fx.lt.inputBytes,
      ops = done.size,
      lines = Seq(what,
        f"queries_per_s                ${qps}%12.2f 1/s",
        f"query_p50_ms                 ${Stats.median(ms)}%12.1f ms",
        f"query_p90_ms                 ${Stats.pct(ms, 0.9)}%12.1f ms (${done.size} requests)"),
      layers = Layers.complete(layers))
  }
}
