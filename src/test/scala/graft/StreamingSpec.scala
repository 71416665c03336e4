package graft

import java.nio.file.{Files, Paths}
import graft.model.LogSchema
import graft.operators.IngestConfig
import graft.streaming.{IngestStream, StreamMetrics, StreamOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end Structured Streaming ingest: JSON-lines fixtures → ingest →
  * date-partitioned parquet; windowed aggregations; stateful dedup;
  * drain-on-stop (mirrors /root/reference/main.go:386-396).
  */
class StreamingSpec extends SparkTestBase {

  private def writeFixture(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, name),
      String.join("\n", lines: _*).getBytes("UTF-8"))

  private def fixtureLines(n: Int, day: Int => Int = _ => 10): Seq[String] =
    (0 until n).map { i =>
      s"""{"ts":"2026-01-${f"${day(i)}%02d"}T08:00:${f"${i % 60}%02d"}Z","cluster":"c1","kubernetes":{"namespace_name":"ns${i % 2}","pod_name":"pod-$i","container_name":"main","host":"h1","labels":{"app":"app${i % 3}"}},"log":"line $i","content":{"level":"info","n":$i}}"""
    }

  test("ingest stream: fixtures → date-partitioned parquet with exactly the log schema") {
    val in = tmp("graft-in"); val out = tmp("graft-out"); val ckpt = tmp("graft-ckpt")
    writeFixture(in, "batch1.json", fixtureLines(40, i => if (i < 30) 10 else 11))
    val metrics = StreamMetrics.attach(spark)
    try {
    val q = IngestStream.start(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0))
    q.processAllAvailable()
    // drain semantics: a second file arriving before stop is flushed
    writeFixture(in, "batch2.json", fixtureLines(10, _ => 12))
    q.processAllAvailable()
    q.stop()

    val logs = LogSchema.readLogs(spark, out)
    assert(logs.count() == 50)
    assert(logs.schema.fieldNames.toSet ==
      (LogSchema.schema.fieldNames.toSet + "date"))
    // physical layout: one dir per event-time day
    val dates = logs.select("date").distinct().collect().map(_.get(0).toString).sorted
    assert(dates.toSeq == Seq("2026-01-10", "2026-01-11", "2026-01-12"))
    assert(logs.where(col("namespace") === "ns0").count() > 0)
    val fn = logs.where(col("pod_name") === "pod-7")
      .select(try_element_at(col("fields_number"), lit("content_n")))
      .collect()(0).getDouble(0)
    assert(fn == 7.0)
    // metrics listener saw the rows (main.go:52-74 mirror); the listener
    // bus delivers asynchronously, so poll instead of asserting instantly
    eventually()(metrics.inputRecordsTotal.get >= 50)
    } finally spark.streams.removeListener(metrics)
  }

  test("same-generation replay is idempotent; a rebuilt checkpoint re-appends (at-least-once floor)") {
    val in = tmp("graft-rin"); val out = tmp("graft-rout"); val ckpt = tmp("graft-rckpt")
    writeFixture(in, "batch1.json", fixtureLines(20))
    val q1 = IngestStream.start(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0))
    q1.processAllAvailable(); q1.stop()
    assert(LogSchema.readLogs(spark, out).count() == 20)
    // crash AFTER the sink committed but BEFORE the checkpoint recorded
    // batch 0: same generation id, so on restart the source replays batch
    // 0 and the commit marker must swallow the re-append
    // (clickhouse.go:78-106 retry semantics, deduplicated)
    assert(new java.io.File(ckpt, "commits/0").delete())
    // the local checkpoint FS is checksummed: the .crc sidecar must go too
    // or the replayed commit's rename trips the concurrent-query guard
    new java.io.File(ckpt, "commits/.0.crc").delete()
    val q2 = IngestStream.start(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0))
    q2.processAllAvailable(); q2.stop()
    assert(LogSchema.readLogs(spark, out).count() == 20,
      "same-generation replay of batch 0 must not re-append")
    // new data under the intact checkpoint still lands
    writeFixture(in, "batch2.json", fixtureLines(5, _ => 11))
    val q3 = IngestStream.start(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0))
    q3.processAllAvailable(); q3.stop()
    assert(LogSchema.readLogs(spark, out).count() == 25)
    // a WIPED checkpoint is a new generation: batch ids restart and the
    // re-listed input legitimately re-appends — duplicates (at-least-once),
    // never silent data loss against stale markers
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(ckpt))
    val q4 = IngestStream.start(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0))
    q4.processAllAvailable(); q4.stop()
    assert(LogSchema.readLogs(spark, out).count() == 50,
      "new generation must re-append rather than match stale markers")
  }

  test("generation id: reads the checkpoint query id; unreadable metadata fails fast") {
    val conf = spark.sparkContext.hadoopConfiguration
    val ckpt = tmp("graft-genid")
    Files.write(Paths.get(ckpt, "metadata"),
      """{"id":"abc-123"}""".getBytes("UTF-8"))
    assert(IngestStream.checkpointGenerationId(ckpt, conf) == "abc-123")
    // a started query always has a metadata file; an unreadable one must
    // throw — degrading to a shared "default" namespace is the silent
    // batch-skip path the generation id exists to close
    val missing = tmp("graft-genid-missing")
    val ex = intercept[IllegalStateException] {
      IngestStream.checkpointGenerationId(missing, conf, attempts = 1)
    }
    assert(ex.getMessage.contains("marker namespace"))
  }

  test("startWithMetrics serves live pipeline counters over HTTP while streaming") {
    val in = tmp("graft-min"); val out = tmp("graft-mout"); val ckpt = tmp("graft-mckpt")
    writeFixture(in, "batch1.json", fixtureLines(25))
    val (q, srv, m) = IngestStream.startWithMetrics(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0), metricsPort = 0)
    try {
      q.processAllAvailable()
      // scrape via HTTP: counters must reflect the processed batch
      val bound = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}/metrics")
      def scrape(): String = {
        val is = bound.openStream()
        try scala.io.Source.fromInputStream(is, "UTF-8").mkString finally is.close()
      }
      def counted(body: String): Double = body.linesIterator
        .find(_.startsWith("graft_input_records_total"))
        .map(_.split(" ")(1).toDouble).getOrElse(0.0)
      // progress events arrive on the async listener bus — poll the scrape
      eventually()(counted(scrape()) >= 25.0)
      val body = scrape()
      assert(body.contains("graft_input_records_total"))
      // errors_total exists (reference main.go:52-74) and is wireable
      assert(body.linesIterator.exists(_.startsWith("graft_errors_total 0")))
      m.recordError(new RuntimeException("planted"))
      assert(m.errorsTotal.get == 1)
    } finally {
      q.stop(); srv.stop(); spark.streams.removeListener(m)
    }
  }

  test("/metrics serves the last batch's per-phase durations after one batch") {
    val in = tmp("graft-phin"); val out = tmp("graft-phout"); val ckpt = tmp("graft-phckpt")
    writeFixture(in, "batch1.json", fixtureLines(10))
    val (q, srv, m) = IngestStream.startWithMetrics(spark, in, out, ckpt,
      trigger = Trigger.ProcessingTime(0), metricsPort = 0)
    try {
      q.processAllAvailable()
      val bound = new java.net.URL(s"http://127.0.0.1:${srv.boundPort}/metrics")
      def scrape(): String = {
        val is = bound.openStream()
        try scala.io.Source.fromInputStream(is, "UTF-8").mkString finally is.close()
      }
      def phases(body: String): Map[String, Double] = body.linesIterator
        .collect { case l if l.startsWith("graft_batch_phase_seconds{") =>
          l.stripPrefix("graft_batch_phase_seconds{phase=\"").takeWhile(_ != '"') ->
            l.split(" ").last.toDouble }.toMap
      eventually()(phases(scrape()).size == StreamMetrics.Phases.size)
      val body = scrape()
      assert(body.contains("# TYPE graft_batch_phase_seconds gauge"))
      val got = phases(body)
      assert(got.keySet == StreamMetrics.Phases.toSet)
      assert(got.values.forall(v => v >= 0.0 && !v.isNaN))
      // the sink's phase holds the write, so it took time
      assert(got("addBatch") > 0.0, body)
    } finally {
      q.stop(); srv.stop(); spark.streams.removeListener(m)
    }
  }

  test("tumbling window counts over the stream (update-incremental)") {
    val in = tmp("graft-in2")
    writeFixture(in, "b.json", fixtureLines(30))
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = StreamOps.tumblingCounts(stream, "1 minute", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT namespace, sum(cnt) n FROM tumbling_out GROUP BY namespace ORDER BY namespace")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("ns0", 15L), ("ns1", 15L)))
  }

  test("query-language filter runs incrementally on the ingest stream (live tail)") {
    // the front-end's live mode: the same compiled predicate applied to the
    // micro-batch stream — pure narrow filter, no state
    val in = tmp("graft-in-ql")
    writeFixture(in, "b.json", fixtureLines(30))
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = graft.query.LogQuery.filter(stream,
        "app='app1' _and_ content_n>=25 _and_ _not_ namespace='nsX'")
      .select("pod_name")
      .writeStream.outputMode("append")
      .format("memory").queryName("ql_tail_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val pods = spark.sql("SELECT pod_name FROM ql_tail_out ORDER BY pod_name")
      .collect().map(_.getString(0)).toSeq
    assert(pods === Seq("pod-25", "pod-28"))
  }

  test("stateful dedup within watermark drops repeated keys") {
    val in = tmp("graft-in3")
    // 20 records but only 4 distinct (pod_name, log) pairs
    val lines = (0 until 20).map { i =>
      s"""{"ts":"2026-01-10T08:00:00Z","kubernetes":{"pod_name":"pod-${i % 4}"},"log":"dup"}"""
    }
    writeFixture(in, "b.json", lines)
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = StreamOps.dedupWithinWatermark(stream, Seq("pod_name", "log"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    assert(spark.sql("SELECT count(*) FROM dedup_out").collect()(0).getLong(0) == 4)
  }

  test("dedup at ingest: batches probe the persisted index, survivors extend it for later batches") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def doc(seed: Int) =
      (0 until 30).map(j => s"s${seed * 100 + j}").mkString(" ")
    val idxDir = tmp("graft-sdedup-idx")
    val in = tmp("graft-sdedup-in")
    val out = tmp("graft-sdedup-out")
    val ckpt = tmp("graft-sdedup-ckpt")
    // corpus: docs 0..9 indexed up front
    graft.model.DedupIndex.build(
      (0 until 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "doc_id", "text", idxDir,
      graft.model.DedupIndex.Params(shingleN = 2, bands = 16, rowsPerBand = 2))
    def jline(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text"}"""
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = StreamOps.dedupAtIngest(stream, "doc_id", "text",
      idxDir, out, ckpt, jaccardThreshold = 0.5).start()
    // batch 1: fresh 200; 201 duplicates corpus doc 5; 202/203 identical
    // (keep-first inside the batch)
    writeFixture(in, "b1.json", Seq(
      jline(200, doc(40)), jline(201, doc(5)),
      jline(202, doc(41)), jline(203, doc(41))))
    q.processAllAvailable()
    // batch 2: 300 duplicates batch-1 SURVIVOR 202 (must be seen via the
    // appended index); 301 fresh
    writeFixture(in, "b2.json", Seq(
      jline(300, doc(41)), jline(301, doc(42))))
    q.processAllAvailable(); q.stop()
    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(200L, 202L, 301L))
    // the index grew by exactly the survivors: re-appending them is a no-op
    assert(graft.model.DedupIndex.append(
      Seq((202L, doc(41))).toDF("doc_id", "text"), "doc_id", "text", idxDir) == 0)
  }

  test("dedup at ingest: restart from checkpoint resumes against the grown index, no loss or dup") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def doc(seed: Int) =
      (0 until 30).map(j => s"r${seed * 100 + j}").mkString(" ")
    val idxDir = tmp("graft-sdedup2-idx")
    val in = tmp("graft-sdedup2-in")
    val out = tmp("graft-sdedup2-out")
    val ckpt = tmp("graft-sdedup2-ckpt")
    graft.model.DedupIndex.build(
      (0 until 5).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "doc_id", "text", idxDir,
      graft.model.DedupIndex.Params(shingleN = 2, bands = 16, rowsPerBand = 2))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def start() = StreamOps.dedupAtIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
      "doc_id", "text", idxDir, out, ckpt, jaccardThreshold = 0.5).start()
    // batch 1 under the first query instance
    writeFixture(in, "b1.json", Seq(
      s"""{"doc_id":100,"text":"${doc(50)}"}""",
      s"""{"doc_id":101,"text":"${doc(2)}"}"""))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // restart on the SAME checkpoint: batch 2 dups a batch-1 survivor —
    // only the persisted index can know that
    writeFixture(in, "b2.json", Seq(
      s"""{"doc_id":200,"text":"${doc(50)}"}""",
      s"""{"doc_id":201,"text":"${doc(51)}"}"""))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(100L, 201L), kept.toString)
  }

  test("perceptual media dedup at ingest: cross-batch via the fingerprint index, surviving a restart") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.sources.MediaTable
    val in = tmp("graft-mdedup-in")
    val out = tmp("graft-mdedup-out")
    val idx = tmp("graft-mdedup-idx") + "/fpidx" // must not pre-exist as empty
    val ckpt = tmp("graft-mdedup-ckpt")
    // payloads ride the MediaTable closed forms: img_phash pattern =
    // id%7 at grade (id/7)%3 (grades share a dHash), wav_fp pattern =
    // id%6 at volume (id/6)%3 (volumes share a fingerprint)
    def rec(id: Long, kind: String): Multimodal.MediaRecord = {
      val row = MediaTable.rowsFor(id).find(_.kind == kind).get
      Multimodal.MediaRecord(id, row.modality, row.payload, 0, 0, 0)
    }
    // stage the parquet write in a scratch dir, then MOVE the finished
    // part file into the stream dir under a stable name — the file stream
    // source must never list a half-written file
    def writeBatch(name: String, recs: Seq[Multimodal.MediaRecord]): Unit = {
      val stage = tmp(s"graft-mdedup-stage-$name")
      recs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, s"$name.parquet"))
    }
    def start() = StreamOps.dedupMediaAtIngest(
      spark.readStream.schema(Multimodal.mediaSchema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, out, ckpt).start()
    // batch 1: image pattern 1 at two grades (ids 1, 8 — keep-first drops
    // 8 inside the batch) + one audio (id 2)
    writeBatch("b1", Seq(rec(1, "img_phash"), rec(8, "img_phash"),
      rec(2, "wav_fp")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).select("id").as[Long].collect().toSet
      == Set(1L, 2L))
    // batch 2 under a RESTARTED query on the same checkpoint: id 15 is
    // grade 2 of corpus pattern 1 (only the persisted index knows), id 14
    // is volume grade 2 of corpus audio 2; ids 3 and 9 are fresh
    writeBatch("b2", Seq(rec(15, "img_phash"), rec(3, "img_phash"),
      rec(14, "wav_fp"), rec(9, "wav_fp")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val kept = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 9L), kept.toString)
    // the index holds exactly the survivors' fingerprints, both modalities
    val idxRows = spark.read.parquet(idx)
      .select("id", "mod").as[(Long, String)].collect().toSet
    assert(idxRows == Set((1L, "image"), (2L, "audio"),
      (3L, "image"), (9L, "audio")), idxRows.toString)
    // replay-duplicate hygiene: simulate a marker-window replay by
    // re-appending the index's own rows, then compact — the duplicates
    // go, the distinct content is unchanged, and a second compact no-ops
    val before = spark.read.parquet(idx).collect().length
    spark.read.parquet(idx).write.mode("append").parquet(idx)
    assert(StreamOps.compactMediaFpIndex(spark, idx) == before.toLong)
    assert(spark.read.parquet(idx).select("id", "mod")
      .as[(Long, String)].collect().toSet == idxRows)
    assert(StreamOps.compactMediaFpIndex(spark, idx) == 0L)
  }

  test("media dedup maintenance cadence: a replayed marker window triggers compaction; the next probe reads the compacted generation") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.sources.MediaTable
    val in = tmp("graft-mcompact-in")
    val out = tmp("graft-mcompact-out")
    val idx = tmp("graft-mcompact-idx") + "/fpidx"
    val ckpt = tmp("graft-mcompact-ckpt")
    def rec(id: Long, kind: String): Multimodal.MediaRecord = {
      val row = MediaTable.rowsFor(id).find(_.kind == kind).get
      Multimodal.MediaRecord(id, row.modality, row.payload, 0, 0, 0)
    }
    def writeBatch(name: String, recs: Seq[Multimodal.MediaRecord]): Unit = {
      val stage = tmp(s"graft-mcompact-stage-$name")
      recs.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(in, s"$name.parquet"))
    }
    // cadence live on every committed batch; the 0.25 bloat gate means a
    // clean commit's check no-ops while a replayed window (100% bloat)
    // rewrites
    def start() = StreamOps.dedupMediaAtIngest(
      spark.readStream.schema(Multimodal.mediaSchema)
        .option("maxFilesPerTrigger", 1).parquet(in),
      idx, out, ckpt, compactEvery = 1, compactBloatRatio = 0.25).start()
    writeBatch("b1", Seq(rec(1, "img_phash"), rec(2, "wav_fp")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(idx).count() == 2L)
    // simulate the crash window AFTER the index append but BEFORE the
    // marker: remove both Spark's commit record and our marker for batch
    // 0 — the restarted query fully re-executes the batch, re-appending
    // output AND index rows (the documented at-least-once floor)
    val conf = spark.sparkContext.hadoopConfiguration
    val gen = graft.streaming.IngestStream.checkpointGenerationId(ckpt, conf)
    val markerFs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(conf)
    assert(markerFs.delete(new org.apache.hadoop.fs.Path(
      s"$out/_graft_batches/$gen/0"), false))
    assert(markerFs.delete(new org.apache.hadoop.fs.Path(
      s"$ckpt/commits/0"), false))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // the replay duplicated the OUTPUT rows (at-least-once floor: same
    // ids, twice) but the commit hook's cadence compacted the index back
    // to distinct rows in the same run
    val outIds = spark.read.parquet(out).select("id").as[Long].collect()
    assert(outIds.length == 4 && outIds.toSet == Set(1L, 2L), outIds.toSeq)
    val idxRows = spark.read.parquet(idx)
      .select("id", "mod").as[(Long, String)].collect()
    assert(idxRows.length == 2 &&
      idxRows.toSet == Set((1L, "image"), (2L, "audio")), idxRows.toSeq)
    // the NEXT batch probes the compacted generation: id 15 is a grade
    // variant of corpus pattern 1 (dropped via the index), id 3 is fresh
    writeBatch("b2", Seq(rec(15, "img_phash"), rec(3, "img_phash")))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val kept = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), kept.toString)
    assert(spark.read.parquet(idx).count() == 3L)
  }

  test("fingerprint index compaction crash windows: an undone promote is completed, a torn staged dir is cleared") {
    import spark.implicits._
    val parent = tmp("graft-fpcrash")
    val idx = parent + "/fpidx"
    val rows = Seq((1L, "image", 11L, 12L), (2L, "audio", 21L, 22L))
      .toDF("id", "mod", "h1", "h2")
    rows.write.parquet(idx)
    rows.write.mode("append").parquet(idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(idx)
    val staged = new org.apache.hadoop.fs.Path(parent, ".fpidx.staged")
    def hidden() = new java.io.File(parent).listFiles().map(_.getName)
      .filter(n => n.startsWith(".") && !n.endsWith(".crc")).toSeq
    // a compaction that died between its renames: the distinct rows staged
    // and complete, the bloated index moved aside
    rows.write.parquet(staged.toString)
    require(fs.rename(live, new org.apache.hadoop.fs.Path(parent, ".fpidx.old")))
    assert(StreamOps.compactMediaFpIndex(spark, idx) == 0L,
      "the promoted index is the compacted one")
    assert(spark.read.parquet(idx).count() == 2L)
    // one that died before its first rename, mid-write, next to a bloated index
    rows.write.mode("append").parquet(idx)
    fs.mkdirs(staged)
    val torn = fs.create(new org.apache.hadoop.fs.Path(staged, "part-00000.parquet"))
    try torn.write("torn".getBytes("UTF-8")) finally torn.close()
    assert(StreamOps.compactMediaFpIndex(spark, idx) == 2L)
    assert(spark.read.parquet(idx).as[(Long, String, Long, Long)].collect().toSet ==
      rows.as[(Long, String, Long, Long)].collect().toSet)
    assert(spark.read.parquet(idx).count() == 2L)
    assert(hidden().isEmpty, hidden().toString)
  }

  test("anomalyAlerts: stateful streaming scores ≡ batch volumeAnomalies on the same events") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val in = tmp("graft-alert-in")
    val ckpt = tmp("graft-alert-ckpt")
    val hour = 3600000L
    // two dims over 13 hourly buckets: "spiky" carries 50 events in hour
    // 10, everything else 5/hour with a small deterministic wobble; hour
    // 13 is a sentinel so the last interesting bucket closes
    def eventsFor(h: Int): Seq[(String, Long)] = {
      val wobble = h % 3
      val spikes = if (h == 10) 50 else 5 + wobble
      (0 until spikes).map(i => ("spiky", h * hour + i * 1000L)) ++
        (0 until (5 + wobble)).map(i => ("steady", h * hour + i * 1000L))
    }
    def jlines(hs: Range) = hs.flatMap(eventsFor).map { case (d, ms) =>
      s"""{"dim":"$d","ms":$ms}"""
    }
    val schema = StructType(Seq(StructField("dim", StringType),
      StructField("ms", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .select(col("dim"), timestamp_millis(col("ms")).as("ts"))
    val q = StreamOps.anomalyAlerts(stream, "dim", "ts",
        bucket = "hour", lookback = 4, minSigma = 3.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("alerts_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    // batch boundary mid-series exercises cross-batch ring/open state
    writeFixture(in, "b1.json", jlines(0 until 7))
    q.processAllAvailable()
    writeFixture(in, "b2.json", jlines(7 until 14))
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("dim", "bucket_ms", "cnt", "mu", "sd", "z", "is_anomaly")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toSet
    val streamed = rows(spark.table("alerts_out"))
    val batchDf = (0 until 14).flatMap(eventsFor)
      .toDF("dim", "ms")
      .select(col("dim"), timestamp_millis(col("ms")).as("ts"))
    val maxBucket = 13 * hour // still open in the stream — batch-only row
    val batch = rows(graft.operators.Anomaly.volumeAnomalies(
        batchDf, col("ts"), Seq("dim"), "hour", lookback = 4, minSigma = 3.0))
      .filter(_._2 < maxBucket)
    assert(streamed == batch, s"stream/batch divergence:\n" +
      s"stream-only: ${streamed -- batch}\nbatch-only: ${batch -- streamed}")
    // the planted spike is flagged, and only it
    assert(streamed.filter(_._7).map(t => (t._1, t._2)) ==
      Set(("spiky", 10 * hour)))
  }

  test("stream-static enrich join") {
    import spark.implicits._
    val in = tmp("graft-in4")
    writeFixture(in, "b.json", fixtureLines(10))
    val dim = Seq(("ns0", "team-a"), ("ns1", "team-b")).toDF("ns", "team")
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = StreamOps.enrichWithStatic(stream, dim, "namespace", "ns")
      .groupBy("team").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val teams = spark.sql("SELECT team, count FROM enrich_out ORDER BY team").collect()
    assert(teams.map(_.getString(0)).toSeq == Seq("team-a", "team-b"))
  }

  test("a batch-trained quality model scores a live stream (narrow ML transform, in-flight filter)") {
    import spark.implicits._
    // train offline on separable planted vocab (QualityClassifierSpec's
    // fixture shape), then apply to the ingest stream's log lines — the
    // score-at-ingest pattern: ML transforms are per-row projections, so
    // the same model serves batch corpora and Structured Streaming
    val train = (0 until 200).map { i =>
      val w = if (i % 2 == 0) "meadow glacier" else "sludge gravel"
      (i.toLong, s"common filler $w", if (i % 2 == 0) 1.0 else 0.0)
    }.toDF("id", "text", "label")
    val model = graft.operators.QualityClassifier.train(train, "text", "label")
    val in = tmp("graft-in-qs")
    val lines = (0 until 8).map { i =>
      val w = if (i < 4) "meadow glacier" else "sludge gravel"
      s"""{"log":"common filler $w $i","kubernetes":{"namespace_name":"ns0","pod_name":"p","container_name":"c","host":"h","labels":{}},"time":"2024-01-10T12:00:0$i.000Z"}"""
    }
    writeFixture(in, "q.json", lines)
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = graft.operators.QualityClassifier.score(model,
        stream.withColumn("text", col("log")))
      .select("log", "quality_pred")
      .writeStream.outputMode("append")
      .format("memory").queryName("quality_stream_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT log, quality_pred FROM quality_stream_out")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.size == 8)
    rows.foreach { case (log, pred) =>
      val expected = if (log.contains("meadow")) 1.0 else 0.0
      assert(pred == expected, s"'$log' scored $pred")
    }
  }

  test("stream-stream interval join correlates errors with the deploy that preceded them") {
    val inL = tmp("graft-ssj-l"); val inR = tmp("graft-ssj-r")
    // errors: p1 at 08:05 (5 min after its deploy), p1 at 09:00 (55 min
    // after — outside the band), p2 at 08:05 (no deploy at all)
    writeFixture(inL, "b.json", Seq(
      """{"ts":"2026-01-10T08:05:00Z","kubernetes":{"pod_name":"p1"},"log":"error x"}""",
      """{"ts":"2026-01-10T09:00:00Z","kubernetes":{"pod_name":"p1"},"log":"error y"}""",
      """{"ts":"2026-01-10T08:05:00Z","kubernetes":{"pod_name":"p2"},"log":"error z"}"""))
    writeFixture(inR, "b.json", Seq(
      """{"ts":"2026-01-10T08:00:00Z","kubernetes":{"pod_name":"p1"},"log":"deploy v2"}"""))
    val l = IngestStream.ingested(IngestStream.readJsonLines(spark, inL), IngestConfig())
    val r = IngestStream.ingested(IngestStream.readJsonLines(spark, inR), IngestConfig())
      .select(col("timestamp").as("deploy_ts"), col("pod_name").as("deploy_pod"),
        col("log").as("deploy_log"))
    val joined = StreamOps.intervalJoin(l, r, "pod_name", "deploy_pod",
      rightTime = "deploy_ts", lookBack = "10 minutes")
    val q = joined.select("pod_name", "log", "deploy_log")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT pod_name, log, deploy_log FROM ssj_out").collect()
    assert(rows.length == 1, "only the in-band (pod, time) pair may join")
    assert(rows(0).getString(0) == "p1" && rows(0).getString(1) == "error x" &&
      rows(0).getString(2) == "deploy v2")
  }

  test("session windows close after gap") {
    val in = tmp("graft-in5")
    // two bursts 2h apart for the same pod → two sessions
    val lines = Seq(
      """{"ts":"2026-01-10T08:00:00Z","kubernetes":{"pod_name":"p"},"log":"a"}""",
      """{"ts":"2026-01-10T08:05:00Z","kubernetes":{"pod_name":"p"},"log":"b"}""",
      """{"ts":"2026-01-10T10:30:00Z","kubernetes":{"pod_name":"p"},"log":"c"}""",
    )
    writeFixture(in, "b.json", lines)
    val stream = IngestStream.ingested(
      IngestStream.readJsonLines(spark, in), IngestConfig())
    val q = StreamOps.sessionCounts(stream, gap = "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.sql("SELECT cnt FROM session_out ORDER BY cnt").collect()
    assert(sessions.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("multimodal ops compose with Structured Streaming: per-batch shot detection over a media file stream") {
    // the multimodal layer is stateless narrow transforms over
    // Dataset[MediaRecord], so the SAME operator code must run under
    // readStream unchanged — per micro-batch, no state, no shuffle
    import graft.operators.Multimodal
    import spark.implicits._
    val in = tmp("graft-media-in")
    def gif(id: Long, cut: Int, nf: Int): Multimodal.MediaRecord =
      Multimodal.MediaRecord(id, "video",
        Multimodal.GifBytes.encodeGray(12, 9, nf, (f, x, y) => {
          val xx = if (f < cut) x else 11 - x
          ((xx * 9 + y * 7) % 180) + f * 3
        }), 0, 0, 0)
    // two files → two micro-batches (maxFilesPerTrigger = 1)
    Seq(gif(1L, 2, 5)).toDS().write.parquet(s"$in/b1")
    Seq(gif(2L, 3, 8)).toDS().write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(Multimodal.mediaSchema)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true").parquet(in)
      .as[Multimodal.MediaRecord]
    val q = Multimodal.detectShots(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("shots_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT * FROM shots_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set(
      (1L, 0, 0, 2), (1L, 1, 2, 3),
      (2L, 0, 0, 3), (2L, 1, 3, 5)))
  }
}
