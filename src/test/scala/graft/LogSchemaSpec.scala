package graft

import java.nio.file.Files
import graft.model.LogSchema
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Physical layout (partitioning/sort/TTL) and the multimodal plumbing. */
class LogSchemaSpec extends SparkTestBase {

  test("writePartitioned: daily dirs, sort key within partitions, schema round-trip") {
    val out = tmp("graft-logs")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
      .drop("id")
    LogSchema.writePartitioned(logs, out)
    val back = LogSchema.readLogs(spark, out)
    assert(back.count() == logs.count())
    val fs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(fs.length >= 28) // ~a month of daily partitions in events
    // partition pruning: a one-day predicate must actually prune to the
    // single date directory (not merely return rows from a full scan)
    val oneDay = back.where(col("date") === "2024-01-05")
    val scanned = oneDay.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scanned.contains("PartitionFilters") && scanned.contains("2024-01-05"),
      s"date predicate must be a partition filter:\n$scanned")
    assert(oneDay.count() > 0)
  }

  test("writePartitioned: bloom filters land on high-cardinality pod_name/host chunks (point-predicate skipping)") {
    import scala.jdk.CollectionConverters._
    val out = tmp("graft-bloom")
    // Parquet only materializes a bloom when a chunk is NOT fully
    // dictionary-encoded (a full dictionary already answers point
    // lookups) — the production condition is high cardinality, so the
    // fixture forces it: one date, one spine group, 10k ~128-byte
    // distinct pod_name/host values blow past the 1 MB dictionary page.
    val logs = LogSchema.logsFromEvents(
        graft.sources.Tables.events(spark, sf("sf0.01")))
      .withColumn("timestamp", lit(java.sql.Timestamp.valueOf("2024-01-05 10:00:00")))
      .withColumn("cluster", lit("c")).withColumn("namespace", lit("n"))
      .withColumn("app", lit("a"))
      .withColumn("pod_name", concat(sha2(col("id").cast("string"), 256),
        sha2(concat(col("id").cast("string"), lit("x")), 256)))
      .withColumn("host", concat(sha2(concat(col("id").cast("string"), lit("y")), 256),
        sha2(concat(col("id").cast("string"), lit("z")), 256)))
      .drop("id")
    LogSchema.writePartitioned(logs, out)
    val file = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      def offset(name: String) =
        cols.find(_.getPath.toDotString == name).get.getBloomFilterOffset
      // the sort prefix columns rely on min/max stats; the wide-range
      // point-predicate columns carry blooms once cardinality defeats
      // the dictionary
      assert(offset("pod_name") >= 0, "pod_name must carry a bloom filter")
      assert(offset("host") >= 0, "host must carry a bloom filter")
      assert(offset("cluster") == -1, "prefix columns skip via min/max, no bloom")
    } finally reader.close()
  }

  test("expiredPartitions: retention cutoff selects old daily dirs (TTL, schema.sql:19)") {
    val out = tmp("graft-ttl")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
      .drop("id")
    LogSchema.writePartitioned(logs, out)
    // all 2024 partitions are older than a 30-day TTL from today
    val expired = LogSchema.expiredPartitions(spark, out, days = 30)
    assert(expired.nonEmpty && expired.forall(_.contains("date=2024-")))
    val kept = LogSchema.expiredPartitions(spark, out, days = 100000)
    assert(kept.isEmpty)
  }

  test("dropExpiredPartitions deletes old daily dirs and keeps the rest readable") {
    val out = tmp("graft-ttl2")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    LogSchema.writePartitioned(logs, out)
    val before = LogSchema.readLogs(spark, out).count()
    val dropped = LogSchema.dropExpiredPartitions(spark, out, days = 30)
    assert(dropped.nonEmpty)
    // all testdata partitions are 2024 → everything expired
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(dirs.isEmpty && before > 0)
  }

  test("dropPartitionsBefore: explicit cutoff keeps newer days byte-identical, survivors intact") {
    val out = tmp("graft-ttl3")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    LogSchema.writePartitioned(logs, out)
    val cutoff = java.time.LocalDate.parse("2024-01-25")
    val expectKeep = LogSchema.readLogs(spark, out)
      .where(col("date") >= lit(java.sql.Date.valueOf(cutoff))).count()
    assert(expectKeep > 0, "fixture must span the cutoff")
    // dry-run selection and the actual drop must agree
    val planned = LogSchema.partitionsBefore(spark, out, cutoff).toSet
    val dropped = LogSchema.dropPartitionsBefore(spark, out, cutoff).toSet
    assert(planned == dropped && dropped.nonEmpty)
    assert(dropped.forall { p =>
      java.time.LocalDate.parse(
        p.split("date=").last).isBefore(cutoff)
    })
    val surviving = LogSchema.readLogs(spark, out)
    assert(surviving.count() == expectKeep)
    assert(surviving.agg(min(col("date"))).head.getDate(0).toLocalDate == cutoff)
  }

  test("compactPartitions: fragmented days merge to the planned count; content, pruning and clustering survive") {
    val out = tmp("graft-compact")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    // fragment the table the way a streaming sink does: several small
    // files per daily dir (bypass writePartitioned's clustering on purpose)
    logs.withColumn("date", to_date(col("timestamp")))
      .repartition(6)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val beforeRows = LogSchema.readLogs(spark, out).count()
    val beforeContent = LogSchema.readLogs(spark, out)
      .select(col("timestamp"), col("pod_name"), col("log")).collect()
      .map(_.toString).sorted
    def dataFiles(dir: String) =
      new java.io.File(dir.stripPrefix("file:")).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val plan = LogSchema.compactionPlan(spark, out,
      targetBytes = 1L << 40, minFiles = 2)
    assert(plan.nonEmpty && plan.forall(st => st.files >= 2 && st.targetFiles == 1),
      s"fixture must be fragmented: $plan")
    // concurrent rewrite jobs (the scale path) — results must match the
    // sequential plan exactly
    val stats = LogSchema.compactPartitions(spark, out,
      targetBytes = 1L << 40, minFiles = 2, jobParallelism = 3)
    assert(stats.sortBy(_.dir) == plan)
    stats.foreach { st =>
      assert(dataFiles(st.dir).length == 1,
        s"${st.dir} must compact to one file, had ${st.files}")
    }
    // content parity and pruning after the swap
    val after = LogSchema.readLogs(spark, out)
    assert(after.count() == beforeRows)
    val afterContent = after.select(col("timestamp"), col("pod_name"), col("log"))
      .collect().map(_.toString).sorted
    assert(afterContent.sameElements(beforeContent))
    val pruned = after.where(col("date") === "2024-01-05")
    assert(pruned.queryExecution.executedPlan.collectLeaves().head.toString
      .contains("2024-01-05"))
    // clustering: each compacted file is sorted by the reference sort key
    val oneFile = spark.read.parquet(
      dataFiles(stats.head.dir).head.getAbsolutePath)
    val keys = oneFile.select(LogSchema.sortKey.map(col): _*).collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getTimestamp(6).getTime)
    }
    assert(keys.zip(keys.drop(1)).forall { case (a, b) =>
      Ordering[(String, String, String, String, String, String, Long)].lteq(a, b)
    }, "compacted file must stay clustered on the sort key")
    // idempotence: a compacted table yields an empty plan
    assert(LogSchema.compactPartitions(spark, out,
      targetBytes = 1L << 40, minFiles = 2).isEmpty)
  }

  test("compaction swap recovery: trash-without-live restores the partition; debris next to a live dir is dropped") {
    val out = tmp("graft-compact2")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    logs.withColumn("date", to_date(col("timestamp")))
      .repartition(3)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val beforeRows = LogSchema.readLogs(spark, out).count()
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date=")).sortBy(_.getName)
    // crash between the two renames: live dir moved aside, nothing published
    val victim = dirs.head
    val trash = new java.io.File(out, "." + victim.getName + ".old")
    assert(victim.renameTo(trash))
    // debris case: a stale trash dir NEXT TO a live partition
    val debris = new java.io.File(out, "." + dirs.last.getName + ".old")
    assert(debris.mkdir())
    val stats = LogSchema.compactPartitions(spark, out,
      targetBytes = 1L << 40, minFiles = 2)
    assert(stats.nonEmpty)
    assert(new java.io.File(out, victim.getName).exists(), "victim restored")
    assert(!trash.exists() && !debris.exists(), "recovery leaves no hidden dirs")
    assert(LogSchema.readLogs(spark, out).count() == beforeRows)
  }

  test("a materialize that crashed between its renames is healed by the next compaction, row count unchanged") {
    val out = tmp("graft-materialize-crash")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    logs.withColumn("date", to_date(col("timestamp")))
      .repartition(3)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val beforeRows = LogSchema.readLogs(spark, out).count()
    val victim = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date=")).minBy(_.getName)
    // the state materializePromotedColumns leaves when it dies between its
    // two renames: the complete rewrite staged, the live day moved aside
    LogSchema.withPromotedColumns(spark.read.parquet(victim.getPath),
        stringKeys = Seq("event.type"))
      .write.parquet(new java.io.File(out, "." + victim.getName + ".staged").getPath)
    assert(victim.renameTo(new java.io.File(out, "." + victim.getName + ".old")))
    assert(LogSchema.readLogs(spark, out).count() < beforeRows, "the day is hidden")
    LogSchema.compactPartitions(spark, out, targetBytes = 1L << 40, minFiles = 2)
    assert(victim.isDirectory, "compaction brings the day back")
    assert(new java.io.File(out).listFiles().forall(f => !f.isDirectory || !f.getName.startsWith(".")),
      "no hidden dir is left")
    assert(LogSchema.readLogs(spark, out).count() == beforeRows)
    assert(spark.read.parquet(victim.getPath).columns
      .contains(graft.plans.PromoteMapKeys.promotedName("event.type")),
      "the complete staged rewrite is the one published")
  }

  test("partitionStats: footer-only day stats agree with the filesystem and " +
      "the data, and track compaction") {
    val out = tmp("graft-parts")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    logs.withColumn("date", to_date(col("timestamp")))
      .repartition(4)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    def listed(day: String): (Int, Long) = {
      val files = new java.io.File(out, s"date=$day").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
      (files.length, files.map(_.length).sum)
    }
    val stats = LogSchema.partitionStats(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val perDay = logs.groupBy(to_date(col("timestamp")).cast("string").as("d"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.keySet == perDay.keySet)
    stats.foreach { case (day, (files, bytes, rows)) =>
      val (lf, lb) = listed(day)
      assert(files == lf && bytes == lb, s"$day: fs listing must agree")
      assert(rows == perDay(day), s"$day: footer rows must equal data rows")
    }
    // after compaction: fewer files, identical rows
    val merged = LogSchema.compactPartitions(spark, out,
      targetBytes = 1L << 40, minFiles = 2)
    assert(merged.nonEmpty)
    val after = LogSchema.partitionStats(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    merged.foreach { st =>
      val day = st.dir.split("date=").last
      assert(after(day)._1 < stats(day)._1, s"$day must have fewer files")
    }
    after.foreach { case (day, (_, rows)) => assert(rows == perDay(day)) }
  }

  test("one hidden-name rule: compaction, stats, rollup refresh and a scoped sidecar build " +
      "see exactly the files a parquet read lists") {
    val out = tmp("graft-hidden"); val rollup = tmp("graft-hidden-rollup")
    // two days of two data files each
    spark.range(0, 400).select(
        timestamp_seconds(lit(1706745600L) + (col("id") % 2) * 86400L + col("id")).as("timestamp"),
        lit("c0").as("cluster"), lit("ns").as("namespace"), lit("app").as("app"),
        concat(lit("pod-"), col("id") % 7).as("pod_name"), lit("main").as("container_name"),
        lit("host-0").as("host"), map().cast("map<string,string>").as("fields_string"),
        map(lit("event.value"), col("id").cast("double")).as("fields_number"),
        concat(lit("line "), col("id")).as("log"))
      .withColumn("date", to_date(col("timestamp")))
      .repartition(2)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    assert(graft.model.Rollup.refresh(spark, out, rollup).map(_.action) == Seq("new", "new"))
    // an upload in flight and two hidden names, none of them parquet
    val day = new java.io.File(out).listFiles().filter(_.getName.startsWith("date=")).minBy(_.getName)
    Seq("part-99999.parquet._COPYING_", ".x", "_x").foreach(n =>
      Files.write(new java.io.File(day, n).toPath, "not parquet".getBytes("UTF-8")))

    val read = spark.read.parquet(out).inputFiles.map(graft.model.SidecarIndex.norm).toSet
    def inDay(d: String) = read.filter(_.contains(s"/$d/"))
    val days = read.map(f => f.split("/").find(_.startsWith("date=")).get)
    assert(days.size == 2 && days.forall(inDay(_).size == 2))
    def bytes(fs: Set[String]) = fs.toSeq.map(f => new java.io.File(f).length).sum

    val plan = LogSchema.compactionPlan(spark, out, targetBytes = 1L << 40, minFiles = 2)
    assert(plan.map(st => (st.dir.split("/").last, st.files, st.bytes)).toSet ==
      days.map(d => (d, 2, bytes(inDay(d)))))
    val stats = LogSchema.partitionStats(spark, out).collect()
      .map(r => (s"date=${r.getString(0)}", r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stats == days.map(d => (d, 2L, bytes(inDay(d)), 200L)))
    assert(graft.model.Rollup.refresh(spark, out, rollup).isEmpty,
      "files a parquet read skips do not change a day")
    val built = graft.model.SidecarIndex.build(spark, out, None, Seq("timestamp"),
      partitions = Seq(day.getPath))
    assert(built.zone.map(graft.model.SidecarIndex.norm).toSet == inDay(day.getName))
  }

  test("approximate sketches land within tolerance of exact answers") {
    val ev = graft.sources.Tables.events(spark, sf())
    val row = ev.agg(
      approx_count_distinct(col("user_id")).as("a"),
      countDistinct(col("user_id")).as("e"),
      expr("percentile_approx(value, 0.5, 1000)").as("pa"),
      expr("percentile(value, 0.5)").as("pe")).collect()(0)
    val (a, e) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.1, s"HLL $a vs exact $e")
    assert(math.abs(row.getDouble(2) - row.getDouble(3)) < 10.0)
  }

  test("multimodal: binary payload + batched stub decode, deterministic features") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.decode(media, new Multimodal.StubDecoder(8), batchSize = 16)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.features.length == 8))
    // deterministic: same input → same checksum
    val again = Multimodal.decode(media, new Multimodal.StubDecoder(8)).collect()
    assert(rows.map(r => r.id -> r.checksum).toMap == again.map(r => r.id -> r.checksum).toMap)
    // checksum is content-sensitive
    assert(rows.map(_.checksum).distinct.length > rows.length / 2)
  }

  test("multimodal: a real planted JPEG decodes live — true dimensions and raster features, stub fallback for the rest") {
    // encode a REAL 40x25 JPEG with the JDK encoder: left half black, right
    // half white, so the decoded luminance histogram must be bimodal
    val img = new java.awt.image.BufferedImage(
      40, 25, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 25; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos))
    val jpegBytes = baos.toByteArray
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", jpegBytes, 0, 0, 0),
      Multimodal.MediaRecord(2L, "text", "not an image".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()

    // header-only dimension probe stamps the true pixel dims, no raster decode
    val probed = Multimodal.transform(media, new Multimodal.ImageDimensionProbe())
      .collect().map(r => r.id -> r).toMap
    assert(probed(1L).width == 40 && probed(1L).height == 25,
      s"planted JPEG dims: ${probed(1L).width}x${probed(1L).height}")
    assert(probed(2L).width == 0 && probed(2L).height == 0, "non-image untouched")

    // live decode: the histogram reflects the actual raster (mass at the
    // dark and bright ends, nothing mid-gray beyond JPEG edge ringing)
    val feats = Multimodal.decode(media, new Multimodal.ImageIoDecoder(8))
      .collect().map(f => f.id -> f).toMap
    val hist = feats(1L).features
    assert(math.abs(hist.sum - 1f) < 1e-3, s"normalized: ${hist.mkString(",")}")
    assert(hist(0) > 0.3f && hist(7) > 0.3f,
      s"bimodal black/white raster expected: ${hist.mkString(",")}")
    // the non-image record took the stub path: bit-identical to StubDecoder
    val stub = new Multimodal.StubDecoder(8)
      .decodeBatch(Seq(Multimodal.MediaRecord(
        2L, "text", "not an image".getBytes("UTF-8"), 0, 0, 0))).head
    assert(feats(2L).checksum == stub.checksum)
    assert(feats(2L).features.toSeq == stub.features.toSeq)
  }

  test("multimodal: spec-assembled BMP bytes round-trip through the JDK reader — dims, format, and every pixel") {
    val (w, h) = (21, 9) // odd width: exercises row padding
    def px(x: Int, y: Int): Int = ((x * 31 + y * 7) & 0xFF) * 0x010101
    val bytes = Multimodal.BmpBytes.encode24(w, h, px)
    assert(bytes.length == Multimodal.BmpBytes.encodedLength(w, h))
    assert(Multimodal.ImageIoDecoder.dimensions(bytes) === Some((w, h)))
    assert(Multimodal.ImageIoDecoder.formatName(bytes) === Some("bmp"))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xFFFFFF) == px(x, y),
        s"pixel ($x,$y): got ${img.getRGB(x, y) & 0xFFFFFF}, want ${px(x, y)}")
    assert(Multimodal.ImageIoDecoder.formatName("not an image".getBytes) === None)
  }

  test("multimodal: spec-assembled WAV bytes round-trip through the JDK reader — container, rate, channels, frames, every sample") {
    val (rate, ch, frames) = (11000, 2, 523) // odd frame count, stereo
    def sample(f: Int, c: Int): Short = ((f * 31 + c * 7) % 8191 - 4095).toShort
    val bytes = Multimodal.WavBytes.encodePcm16(rate, ch, frames, sample)
    assert(bytes.length == Multimodal.WavBytes.encodedLength(frames, ch))
    assert(Multimodal.AudioSystemDecoder.metadata(bytes) ===
      Some((rate.toFloat, ch, frames.toLong)))
    assert(Multimodal.AudioSystemDecoder.fileType(bytes) === Some("wave"))
    // full stream decode through the JDK reader: every sample must come
    // back bit-exact (checks assembly against the reader end-to-end)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    assert(in.getFormat.getSampleSizeInBits == 16 && !in.getFormat.isBigEndian)
    val pcm = in.readAllBytes()
    assert(pcm.length == frames * ch * 2)
    for (f <- 0 until frames; c <- 0 until ch) {
      val i = (f * ch + c) * 2
      val got = (((pcm(i + 1) << 8) | (pcm(i) & 0xFF))).toShort
      assert(got == sample(f, c), s"sample ($f,$c): got $got, want ${sample(f, c)}")
    }
    assert(Multimodal.AudioSystemDecoder.fileType("not audio".getBytes) === None)
  }

  test("multimodal: ImageResizer resamples a real raster nearest-neighbor and re-encodes a decodable BMP; non-images pass through") {
    val (sw, sh, tw, th) = (10, 6, 4, 3)
    def px(x: Int, y: Int): Int = ((x * 11 + y * 29) % 256) * 0x010101
    val src = Multimodal.BmpBytes.encode24(sw, sh, px)
    val out = new Multimodal.ImageResizer(tw, th).transformBatch(Seq(
      Multimodal.MediaRecord(1L, "image", src, 0, 0, 0),
      Multimodal.MediaRecord(2L, "text", "not an image".getBytes, 0, 0, 0)))
    assert(out(0).width == tw && out(0).height == th)
    assert(out(0).media.length == Multimodal.BmpBytes.encodedLength(tw, th))
    // the resized payload must re-decode, and every output pixel must be
    // the nearest-neighbor source pixel under the integer mapping
    val img = Multimodal.ImageIoDecoder.readImage(out(0).media).get
    assert(img.getWidth == tw && img.getHeight == th)
    for (y <- 0 until th; x <- 0 until tw) {
      val want = px(x * sw / tw, y * sh / th)
      assert((img.getRGB(x, y) & 0xFFFFFF) == want,
        s"pixel ($x,$y): got ${img.getRGB(x, y) & 0xFFFFFF}, want $want")
    }
    // non-image rows pass through untouched (mixed-corpus contract)
    assert(out(1).media sameElements "not an image".getBytes)
    assert(out(1).width == 0 && out(1).height == 0)
  }

  test("multimodal: segmentAudio slices on frame boundaries into valid standalone WAVs, samples bit-exact; non-audio yields no segments") {
    import spark.implicits._
    val (rate, ch, frames, seg) = (16000, 2, 10, 4)
    def sample(f: Int, c: Int): Short = (f * 100 + c).toShort
    val wav = Multimodal.WavBytes.encodePcm16(rate, ch, frames, sample)
    val media = Seq(
      Multimodal.MediaRecord(7L, "audio", wav, 0, 0, 0),
      Multimodal.MediaRecord(8L, "text", "not audio".getBytes, 0, 0, 0)).toDS()
    val frames10 = Multimodal.segmentAudio(media, seg).collect()
      .sortBy(f => (f.mediaId, f.frameIdx))
    assert(frames10.forall(_.mediaId == 7L), "non-audio must yield no segments")
    assert(frames10.map(_.frameIdx).toSeq == Seq(0, 1, 2)) // 4+4+2 frames
    frames10.foreach { fr =>
      val segFrames = if (fr.frameIdx < 2) 4 else 2
      assert(fr.payload.length ==
        Multimodal.WavBytes.encodedLength(segFrames, ch))
      // each segment is a VALID WAV the JDK reader re-parses with the
      // source's format, and its samples are the source's, bit-exact
      assert(Multimodal.AudioSystemDecoder.metadata(fr.payload) ===
        Some((rate.toFloat, ch, segFrames.toLong)))
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(fr.payload))
      val pcm = in.readAllBytes()
      for (f <- 0 until segFrames; c <- 0 until ch) {
        val i = (f * ch + c) * 2
        val got = (((pcm(i + 1) << 8) | (pcm(i) & 0xFF))).toShort
        assert(got == sample(fr.frameIdx * seg + f, c),
          s"seg ${fr.frameIdx} sample ($f,$c): got $got")
      }
    }
  }

  test("multimodal: extractFrames decodes an animated GIF frame-by-frame, keeps every stride-th, re-encodes pixel-exact BMPs; non-media yields none") {
    import spark.implicits._
    val (w, h, nf) = (5, 4, 7)
    def gray(f: Int, x: Int, y: Int): Int = (f * 40 + x * 3 + y * 11) % 256
    val gif = Multimodal.GifBytes.encodeGray(w, h, nf, gray)
    // the gray-palette GIF round-trip must be bit-exact frame-by-frame
    val all = Multimodal.ImageIoDecoder.readFrames(gif)
    assert(all.size == nf)
    val media = Seq(
      Multimodal.MediaRecord(3L, "video", gif, 0, 0, 0),
      Multimodal.MediaRecord(4L, "text", "not media".getBytes, 0, 0, 0)).toDS()
    val frames = Multimodal.extractFrames(media, stride = 3).collect()
      .sortBy(_.frameIdx)
    assert(frames.forall(_.mediaId == 3L), "non-media must yield no frames")
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 3, 6))
    frames.foreach { fr =>
      val img = Multimodal.ImageIoDecoder.readImage(fr.payload).get
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xFF) == gray(fr.frameIdx, x, y),
          s"frame ${fr.frameIdx} pixel ($x,$y)")
    }
  }

  test("multimodal: imageDHash is brightness-invariant and structure-sensitive; phash clustering buckets photometric near-dups") {
    import spark.implicits._
    def bmp(w: Int, h: Int, b: Int, seed: Int): Array[Byte] =
      Multimodal.BmpBytes.encode24(w, h, (x, y) => {
        val g = ((x * 7 + y * 13 + seed * 29) % 200) + b
        g * 0x010101
      })
    val base = Multimodal.imageDHash(bmp(12, 9, 0, 1)).get
    // +40 on every pixel: every gradient comparison — and the hash — holds
    assert(Multimodal.imageDHash(bmp(12, 9, 40, 1)).get === base)
    // a different pattern diverges
    assert(Multimodal.imageDHash(bmp(12, 9, 0, 2)).get !== base)
    assert(Multimodal.imageDHash("not an image".getBytes) === None)

    val media = Seq(
      Multimodal.MediaRecord(10L, "image", bmp(12, 9, 0, 1), 0, 0, 0),
      Multimodal.MediaRecord(11L, "image", bmp(12, 9, 25, 1), 0, 0, 0),
      Multimodal.MediaRecord(12L, "image", bmp(12, 9, 0, 2), 0, 0, 0),
      Multimodal.MediaRecord(13L, "text", "not an image".getBytes, 0, 0, 0)).toDS()
    val rows = Multimodal.imagePHashClusters(media).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows === Map(10L -> 10L, 11L -> 10L, 12L -> 12L),
      "photometric grades bucket together; other patterns and non-images don't")
  }

  test("multimodal: imageHistogramFeatures emits exact integer luminance counts; undecodable payloads yield no row") {
    import spark.implicits._
    val (w, h) = (8, 4)
    // gray ramp x*32: bins 0..7 each get exactly one column = h pixels
    val bmp = Multimodal.BmpBytes.encode24(w, h, (x, _) => (x * 32) * 0x010101)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", bmp, 0, 0, 0),
      Multimodal.MediaRecord(2L, "text", "nope".getBytes, 0, 0, 0)).toDS()
    val rows = Multimodal.imageHistogramFeatures(media, bins = 8).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L)
    assert(rows(0).getSeq[Long](1) == Seq.fill(8)(h.toLong))
  }

  test("multimodal: audioEnergyFingerprint is volume-invariant and material-sensitive; clustering buckets volume grades") {
    import spark.implicits._
    def wav(seed: Int, vol: Int): Array[Byte] =
      Multimodal.WavBytes.encodePcm16(8000, 2, 320,
        (f, c) => (((f * (13 + seed * 10) + c * 3) % 4096 - 2048) * vol).toShort)
    val base = Multimodal.audioEnergyFingerprint(wav(1, 1)).get
    assert(Multimodal.audioEnergyFingerprint(wav(1, 4)).get === base,
      "uniform gain must not change the fingerprint")
    assert(Multimodal.audioEnergyFingerprint(wav(2, 1)).get !== base,
      "different material must diverge")
    assert(Multimodal.audioEnergyFingerprint("not audio".getBytes) === None)
    // shorter than the window count: no fingerprint
    assert(Multimodal.audioEnergyFingerprint(
      Multimodal.WavBytes.encodePcm16(8000, 1, 10, (f, _) => f.toShort)) === None)

    val media = Seq(
      Multimodal.MediaRecord(20L, "audio", wav(1, 1), 0, 0, 0),
      Multimodal.MediaRecord(21L, "audio", wav(1, 2), 0, 0, 0),
      Multimodal.MediaRecord(22L, "audio", wav(2, 1), 0, 0, 0),
      Multimodal.MediaRecord(23L, "text", "not audio".getBytes, 0, 0, 0)).toDS()
    val rows = Multimodal.audioFPClusters(media).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows === Map(20L -> 20L, 21L -> 20L, 22L -> 22L))
  }

  test("multimodal: detectShots cuts where the perceptual hash changes, ignores in-shot brightness drift") {
    import spark.implicits._
    // three shots (gradient direction flips at each cut: →, ←, →), cuts
    // at 3 and 7, brightness drifts within every shot — dHash must hold
    // within and break across
    def shot(f: Int): Int = if (f < 3) 0 else if (f < 7) 1 else 2
    val gif = Multimodal.GifBytes.encodeGray(12, 9, 10,
      (f, x, y) => {
        val xx = if (shot(f) % 2 == 0) x else 11 - x
        ((xx * 9 + y * 7) % 180) + f * 3
      })
    val oneShot = Multimodal.GifBytes.encodeGray(12, 9, 4,
      (f, x, y) => ((x * 9 + y * 7) % 180) + f * 2)
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", gif, 0, 0, 0),
      Multimodal.MediaRecord(2L, "video", oneShot, 0, 0, 0),
      Multimodal.MediaRecord(3L, "text", "not media".getBytes, 0, 0, 0)).toDS()
    val rows = Multimodal.detectShots(media).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(rows === Set(
      (1L, 0, 0, 3), (1L, 1, 3, 4), (1L, 2, 7, 3),
      (2L, 0, 0, 4)))
  }

  test("multimodal: a real planted WAV decodes live — metadata probe and amplitude features, stub fallback for the rest") {
    // encode a REAL 16-bit mono WAV with the JDK encoder: a full-scale
    // square wave, so the amplitude histogram must mass in the top bin
    val rate = 8000f
    val frames = 800
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val s: Short = if ((i / 8) % 2 == 0) 32000 else -32000
      pcm(2 * i) = (s & 0xFF).toByte // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wavBytes = baos.toByteArray

    // header-only probe: true rate/channels/frames without sample decode
    assert(Multimodal.AudioSystemDecoder.metadata(wavBytes) ===
      Some((rate, 1, frames.toLong)))
    assert(Multimodal.AudioSystemDecoder.metadata("nope".getBytes) === None)
    // the metadata-backfill transform stamps the real rate, non-audio
    // untouched
    locally {
      import spark.implicits._
      val stamped = Multimodal.transform(
        Seq(
          Multimodal.MediaRecord(1L, "audio", wavBytes, 0, 0, 0),
          Multimodal.MediaRecord(2L, "text", "nah".getBytes, 0, 0, 0),
        ).toDS(), new Multimodal.AudioMetadataProbe())
        .collect().map(r => r.id -> r.sampleRateHz).toMap
      assert(stamped === Map(1L -> 8000, 2L -> 0))
    }

    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wavBytes, 0, 0, 0),
      Multimodal.MediaRecord(2L, "text", "not audio".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val feats = Multimodal.decode(media, new Multimodal.AudioSystemDecoder(8))
      .collect().map(f => f.id -> f).toMap
    val hist = feats(1L).features
    assert(math.abs(hist.sum - 1f) < 1e-3, s"normalized: ${hist.mkString(",")}")
    assert(hist(7) > 0.95f,
      s"full-scale square wave must mass in the top bin: ${hist.mkString(",")}")
    // the non-audio record took the stub path: bit-identical to StubDecoder
    val stub = new Multimodal.StubDecoder(8)
      .decodeBatch(Seq(Multimodal.MediaRecord(
        2L, "text", "not audio".getBytes("UTF-8"), 0, 0, 0))).head
    assert(feats(2L).checksum == stub.checksum)
    assert(feats(2L).features.toSeq == stub.features.toSeq)

    // an 8-bit WAV is TRANSCODED to 16-bit PCM, not stubbed — the decoder
    // must agree with the metadata probe on what counts as audio
    val pcm8 = Array.fill[Byte](400)(0xFF.toByte) // u8 max ≈ full scale
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm8),
      new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false), 400L)
    val baos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos8)
    val feats8 = new Multimodal.AudioSystemDecoder(8)
      .decodeBatch(Seq(Multimodal.MediaRecord(
        9L, "audio", baos8.toByteArray, 0, 0, 0))).head
    assert(feats8.features(7) > 0.9f,
      "8-bit WAV must transcode to a full-scale amplitude histogram, " +
        s"not fall back to the stub: ${feats8.features.mkString(",")}")
  }

  test("multimodal: JdkMediaDecoder serves a mixed image+audio corpus live in one pass") {
    import spark.implicits._
    // tiny all-white JPEG + the square-wave WAV + garbage, one decode call
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0xFFFFFF)
    val jb = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jb))
    val pcm = new Array[Byte](400 * 2)
    for (i <- 0 until 400) {
      val s: Short = if ((i / 8) % 2 == 0) 32000 else -32000
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm),
      new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false), 400L)
    val wb = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wb)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", jb.toByteArray, 0, 0, 0),
      Multimodal.MediaRecord(2L, "audio", wb.toByteArray, 0, 0, 0),
      Multimodal.MediaRecord(3L, "text", "neither".getBytes("UTF-8"), 0, 0, 0),
    ).toDS()
    val feats = Multimodal.decode(media, new Multimodal.JdkMediaDecoder(8))
      .collect().map(f => f.id -> f).toMap
    assert(feats(1L).features(7) > 0.9f, "white image: luminance in top bin")
    assert(feats(2L).features(7) > 0.9f, "square wave: amplitude in top bin")
    val stub = new Multimodal.StubDecoder(8)
      .decodeBatch(Seq(Multimodal.MediaRecord(
        3L, "text", "neither".getBytes("UTF-8"), 0, 0, 0))).head
    assert(feats(3L).features.toSeq == stub.features.toSeq)
  }

  test("multimodal: resize transform keeps stride-th bytes and stamps target dims") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val resized = Multimodal.transform(
      media, new Multimodal.StubResizer(64, 64, stride = 4), batchSize = 16)
    val byId = resized.collect().map(r => r.id -> r).toMap
    media.collect().foreach { orig =>
      val r = byId(orig.id)
      assert(r.width == 64 && r.height == 64)
      assert(r.media.length == (orig.media.length + 3) / 4)
      // deterministic downsample: element i is source element i*stride
      assert(r.media.zipWithIndex.forall { case (b, i) => b == orig.media(i * 4) })
    }
  }

  test("multimodal: frame sampling slices payloads and keeps every stride-th frame") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
      .collect().groupBy(_.mediaId)
    media.collect().foreach { orig =>
      val n = orig.media.length
      val expectedIdx = (0 until (n + 63) / 64).filter(_ % 2 == 0)
      val got = frames.getOrElse(orig.id, Array.empty)
      assert(got.map(_.frameIdx).sorted.toSeq == expectedIdx,
        s"doc ${orig.id}: wrong frame indices")
      got.foreach { f =>
        val expected = orig.media.slice(f.frameIdx * 64, math.min(n, (f.frameIdx + 1) * 64))
        assert(java.util.Arrays.equals(f.payload, expected))
      }
    }
  }

  test("promoted column: map predicate vs promoted predicate agree (README.md:68-84 path)") {
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
    val promoted = logs.withColumn("event_value",
      try_element_at(col("fields_number"), lit("event.value")))
    val a = logs.where(try_element_at(col("fields_number"), lit("event.value")) >= 150).count()
    val b = promoted.where(col("event_value") >= 150).count()
    assert(a == b && a > 0)
  }
}
