package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.NgramBloomAgg

/** The shared skeleton of a file-level skip index stored as a parquet
  * sidecar inside the table directory (underscore-prefixed, so Spark's
  * listing never surfaces it to table reads): path/identity conventions,
  * the sidecars' schemas, the fused probe with its per-generation cache,
  * the one incremental build of both sidecars, and the vacuum.
  * [[NgramIndex]] (ngrambf-style bloom) and [[ZoneMapIndex]] (minmax) are
  * the two instances; a fix to the normalization logic lands in both by
  * construction.
  */
private[graft] object SidecarIndex {

  /** Which live data files a probe must read, and why: `candidates` =
    * verdict-passing indexed files + unindexed files; `pruned` = live
    * files the index proved cannot match.
    */
  case class Pruning(candidates: Seq[String], pruned: Long, unindexed: Long)

  def indexPath(tablePath: String, dirName: String) =
    new org.apache.hadoop.fs.Path(tablePath, dirName)

  /** Scheme-insensitive file identity: `input_file_name()`, `inputFiles`
    * and Hadoop listings render the same local file as `file:///p`,
    * `file:/p` or `/p` depending on the producer.
    */
  def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The index dir's parquet files after [[DirSwap.recover]] completes an
    * interrupted [[vacuum]] (every read path funnels through here); empty
    * when the index does not exist.
    */
  private def indexFiles(spark: SparkSession, tablePath: String, dirName: String)
    : Seq[org.apache.hadoop.fs.FileStatus] = {
    val ip = indexPath(tablePath, dirName)
    val fs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!DirSwap.recover(fs, ip)) Nil
    else fs.listStatus(ip).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** One index dir's GENERATION as one session sees it: the persisted
    * index frame, the coverage manifest per dim column and the match sets
    * of recent probes. A generation is keyed by the (name, length, mtime)
    * signature of the dir's files, one cheap listing per probe: parquet
    * writes always create fresh file names, so any build/vacuum changes
    * the signature and the next probe transparently starts a new
    * generation.
    *
    * The frame is `persist`ed MEMORY_AND_DISK: bloom byte arrays stay on
    * executors, repeated probes of a hot table skip the parquet decode
    * that dominated the indexed-probe constant. The CacheManager is shared
    * by every session of a context and keys by plan, so sessions probing
    * the same generation share one persisted copy.
    */
  private final class Generation(val frame: DataFrame) {
    private val manifests = scala.collection.mutable.Map.empty[String, Map[String, Set[String]]]
    private val matches = scala.collection.mutable.Map.empty[String, Set[String]]

    /** The COVERAGE MANIFEST for `dimCol` (the gram width for
      * [[NgramIndex]], the column name for [[ZoneMapIndex]]): per dim
      * value, the set of normalized file paths the index covers. One
      * collect of (dim, file) STRING pairs per generation — the
      * blooms/bounds never ship — the same order of driver state as the
      * live file listing every caller already holds (Spark's own listing),
      * amortized across every probe of the generation. This is what lets
      * a probe's own collect stay candidate-bounded: [[decide]] derives
      * the unindexed set from the manifest instead of from per-file
      * verdict rows.
      */
    def coverage(dimCol: String): Map[String, Set[String]] =
      manifests.synchronized(manifests.getOrElseUpdate(dimCol,
        frame.select(col(dimCol).cast("string"), col("file")).distinct().collect()
          .groupBy(_.getString(0))
          .map { case (dim, rs) => dim -> rs.map(r => norm(r.getString(1))).toSet }))

    /** Per-probe MATCH SETS memoized for the generation: a repeated probe
      * (dashboards re-issuing the same needles / ranges — the reference
      * UI's refresh loop is exactly this) pays the distributed index scan
      * once per index GENERATION, not once per query. Sound because a
      * match set is a pure function of the index contents — the live file
      * list, which DOES drift with ingest, stays outside the cache and is
      * re-combined by [[decide]] on every probe. Past [[MatchCacheCap]]
      * entries only the current probe's keys are kept, so a long-lived
      * session issuing unbounded distinct probes cannot hoard driver state.
      *
      * `scan` receives only the keys absent from cache and returns their
      * match sets in ONE fused index scan.
      */
    def matchSets(keys: Seq[String])(
        scan: Seq[String] => Map[String, Set[String]]): Map[String, Set[String]] = {
      val hit = matches.synchronized(keys.flatMap(k => matches.get(k).map(k -> _)).toMap)
      val missing = keys.distinct.filterNot(hit.contains)
      if (missing.isEmpty) return hit
      val computed = scan(missing)
      matches.synchronized {
        matches ++= computed
        if (matches.size > MatchCacheCap) matches.filterInPlace((k, _) => keys.contains(k))
      }
      hit ++ computed
    }
  }

  private val MatchCacheCap = 64

  // keyed by (index dir, signature): a new signature is a new generation
  private val generations =
    new graft.SessionCache[(String, Seq[(String, Long, Long)]), Generation]()

  /** The dir's current generation in this session, or None when the index
    * does not exist; lists the dir once.
    *
    * Starting a generation unpersists every older generation of the dir
    * (in every session) eagerly, non-blocking, BEFORE the new frame
    * persists, so the dir's cached blocks are its current generation's
    * only. persist() registers the frame's analyzed plan with the
    * CacheManager, which substitutes the cached relation into any later
    * read of the same files; a generation's frame names its own part files
    * ([[readSidecar]]) and every build or vacuum writes fresh names, so no
    * read of a newer generation is served an older one's rows. A probe
    * still executing against the old frame recomputes from the file list
    * its plan captured, completing on the old files or failing loudly if
    * maintenance removed them — never
    * silently mixing generations (index builds/vacuums are maintenance
    * operations; run one writer per table at a time). Two-session and
    * cross-generation concurrency is exercised by ZoneMapSpec's hammer
    * test. Releasing a session drops its generations without unpersisting:
    * another session may be reading the same registered frame.
    */
  private def generation(
      spark: SparkSession, tablePath: String, dirName: String): Option[Generation] = {
    val files = indexFiles(spark, tablePath, dirName)
    if (files.isEmpty) return None
    val dir = indexPath(tablePath, dirName).toString
    val sig = files.map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
    Some(generations(spark, (dir, sig)) {
      release(dir, keep = Some(sig))
      new Generation(readSidecar(spark, dirName, files)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })
  }

  /** Drop the cached generations of `dir` (in every session) other than
    * `keep`, unpersisting their frames: a new generation, or a rewrite
    * that deletes their files, retires them. A retired frame left
    * registered would be re-listed by Spark's write-path recache of the
    * dir after its files are gone.
    */
  private def release(dir: String, keep: Option[Seq[(String, Long, Long)]] = None): Unit =
    generations.invalidate({ case (d, s) => d == dir && !keep.contains(s) },
      _.frame.unpersist(blocking = false))

  /** [[Generation.coverage]] of the current generation; empty when the
    * index does not exist.
    */
  def coverage(
      spark: SparkSession,
      tablePath: String,
      dirName: String,
      dimCol: String): Map[String, Set[String]] =
    generation(spark, tablePath, dirName).fold(Map.empty[String, Set[String]])(_.coverage(dimCol))

  /** One FUSED probe of an index: element i answers `probes(i)`, a
    * `(key, dim, verdict)` triple, or is None where the index cannot help
    * (it is missing, or covers no file for that dim). `key` identifies the
    * probe in the generation's match cache (duplicates collapse); `verdict`
    * is true on an index row whose file the probe cannot rule out.
    *
    * Every uncached probe becomes one `ok$i` column of a single scan of the
    * rows of the probed dims, so k probes cost one Spark job, and the scan
    * keeps only rows some probe could not rule out: per-probe driver
    * transfer is bounded by the CANDIDATE count, not the file count (the
    * selective case is exactly the one that matters at 10⁵–10⁶ files; an
    * unselective probe degrades to the file count, which is what it would
    * have to read anyway). Files the index does not cover are reconciled
    * by [[decide]] against the manifest. `live` is by-name: no table
    * listing is paid when the index is missing or cannot answer.
    */
  def probe(
      spark: SparkSession,
      tablePath: String,
      dirName: String,
      dimCol: String,
      probes: Seq[(String, Any, Column)],
      live: => Seq[String]): Seq[Option[Pruning]] = {
    val gen = if (probes.isEmpty) None else generation(spark, tablePath, dirName)
    val covered = gen.fold(Map.empty[String, Set[String]])(_.coverage(dimCol))
    val answerable = probes.filter { case (_, dim, _) => covered.contains(dim.toString) }
    if (answerable.isEmpty) return probes.map(_ => None)
    val g = gen.get
    val matches = g.matchSets(answerable.map(_._1)) { missing =>
      val scanned = missing.map(answerable.map(p => p._1 -> p).toMap)
      val oks = scanned.zipWithIndex.map { case ((_, dim, verdict), i) =>
        (col(dimCol) === lit(dim) && verdict).as(s"ok$i")
      }
      val rows = g.frame
        .where(col(dimCol).isin(scanned.map(_._2).distinct: _*))
        .select(col("file") +: oks: _*)
        .where(scanned.indices.map(i => col(s"ok$i")).reduce(_ or _))
        .collect()
      lastProbeCollected.set(rows.length.toLong)
      scanned.zipWithIndex.map { case ((k, _, _), i) =>
        k -> rows.collect { case r if r.getBoolean(i + 1) => norm(r.getString(0)) }.toSet
      }.toMap
    }
    lazy val liveList = live
    probes.map { case (k, dim, _) =>
      matches.get(k).map(decide(_, covered(dim.toString), liveList))
    }
  }

  /** Driver rows collected by the most recent COLD index probe in this
    * process (test/bench telemetry only — racy across concurrent probes
    * by design): lets specs assert the candidate-bounded contract without
    * instrumenting Spark itself.
    */
  private[graft] val lastProbeCollected = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** [[norm]] as a plan-side expression (a pure lambda — no object
    * capture), for joins that must key on file identity executor-side.
    */
  def normFile: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (p: String) => new org.apache.hadoop.fs.Path(p).toUri.getPath)

  /** The n-gram sidecar's rows: one bloom per (data file, gram width). */
  val NgramSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("bloom", BinaryType),
    StructField("n", IntegerType)))

  /** The zone map's rows: the NaN-stripped bounds per (data file, column). */
  val ZoneMapSchema: StructType = StructType(Seq(
    StructField("file", StringType), StructField("col", StringType),
    StructField("lo", DoubleType), StructField("hi", DoubleType)))

  /** Every sidecar read states its schema: an inferred parquet read costs
    * a one-task Spark job per new generation, vacuum and build.
    */
  private def schemaOf(dirName: String): StructType =
    if (dirName == NgramIndex.IndexDirName) NgramSchema
    else if (dirName == ZoneMapIndex.IndexDirName) ZoneMapSchema
    else throw new IllegalArgumentException(s"unknown sidecar $dirName")

  /** The sidecar's `columns` (all when none are named) read with its
    * schema from `files`, the part files [[indexFiles]] listed (non-empty).
    * Naming the files, not the `_`-prefixed dir, is what a read of an
    * underscore dir needs: Spark treats such a root as hidden and warns
    * that it ignored it.
    */
  private def readSidecar(
      spark: SparkSession, dirName: String, files: Seq[org.apache.hadoop.fs.FileStatus],
      columns: String*): DataFrame = {
    val all = schemaOf(dirName)
    spark.read
      .schema(if (columns.isEmpty) all else StructType(all.filter(f => columns.contains(f.name))))
      .parquet(files.map(_.getPath.toString): _*)
  }

  /** What one [[build]] indexed: the live files given an n-gram row, and
    * the live files given a zone-map row for at least one column.
    */
  case class Built(ngram: Seq[String], zone: Seq[String])

  /** Index-at-ingest for both sidecars in one read-back: the n-gram bloom
    * (when `ngram` is set) and the zone-map bounds of `zoneCols` for every
    * live data file the sidecars do not cover yet. [[NgramIndex.build]],
    * [[ZoneMapIndex.build]] and the streaming sink all build through here.
    *
    *   - Coverage is one column-pruned scan of both sidecars' (file, dim)
    *     pairs, restricted to `partitions` (full `date=` dir paths; empty =
    *     the whole table) and to the requested width and columns. Only
    *     file and dim strings reach the driver (the order of the live
    *     listing the caller holds anyway); no bloom is read and no index
    *     generation is persisted.
    *   - The files missing any coverage are read back once, with
    *     `dataSchema` (the writer's schema, e.g. the micro-batch's) when
    *     given, so no schema-inference job runs. One partial-combined
    *     `groupBy(input_file_name())` computes every file's bloom and every
    *     column's bounds; the shuffle carries one bloom and two doubles per
    *     column per file, never row data.
    *   - Both sidecars are written from that one aggregate, computed once.
    *     A file covered by one sidecar but not the other is aggregated once
    *     and written only where it is missing, so no (file, dim) row is
    *     ever stored twice.
    *
    * NaN is excluded from the stored bounds: Spark's min/max sort NaN
    * greatest, so one NaN row would poison a file's `hi` to NaN and every
    * range verdict would reject it. NaN satisfies no between(lo, hi)
    * predicate (in Spark and DuckDB alike), so bounds over the non-NaN
    * values are exact for range pruning; a file holding only NaN/null
    * values gets null bounds and is pruned. Cast-then-min equals
    * min-then-cast: the numeric→double casts are monotone.
    *
    * `rebuild = true` ignores coverage and overwrites the built sidecars
    * (the way to change sizing or the column set; it drops dead rows too).
    */
  def build(
      spark: SparkSession,
      tablePath: String,
      ngram: Option[NgramIndex.Config],
      zoneCols: Seq[String],
      rebuild: Boolean = false,
      partitions: Seq[String] = Nil,
      dataSchema: Option[StructType] = None): Built = {
    require(ngram.isDefined || zoneCols.nonEmpty, "nothing to build")
    require(!rebuild || partitions.isEmpty,
      "rebuild with a partition scope would overwrite the whole sidecar " +
        "with only the scoped rows, wiping index coverage everywhere else; " +
        "rebuild the full table, or use vacuum + incremental build")
    // a caller that knows what it just wrote (the streaming sink, per
    // micro-batch) lists O(hot partitions), not O(table)
    val (live, schema) =
      if (partitions.nonEmpty) {
        val conf = spark.sparkContext.hadoopConfiguration
        (partitions.flatMap { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          LogSchema.dataFiles(p.getFileSystem(conf), p).map(_.getPath.toString)
        }, dataSchema)
      } else {
        val table = LogSchema.readLogs(spark, tablePath)
        (table.inputFiles.toSeq, dataSchema.orElse(Some(table.schema)))
      }
    val ngramDir = NgramIndex.IndexDirName
    val zoneDir = ZoneMapIndex.IndexDirName
    val inScope =
      if (partitions.isEmpty) lit(true)
      else partitions
        .map(d => col("file").contains("/" + new org.apache.hadoop.fs.Path(d).getName + "/"))
        .reduce(_ || _)
    def pairs(dirName: String, dimCol: String, wanted: Column): Option[DataFrame] = {
      val files = if (rebuild) Nil else indexFiles(spark, tablePath, dirName)
      if (files.isEmpty) None
      else Some(readSidecar(spark, dirName, files, "file", dimCol)
        .where(inScope && wanted)
        .select(lit(dirName).as("idx"), col("file"), col(dimCol).cast("string").as("dim")))
    }
    // (sidecar, normalized file) -> dims covered
    val have: Map[(String, String), Set[String]] =
      (ngram.flatMap(c => pairs(ngramDir, "n", col("n") === c.n)) ++
        (if (zoneCols.isEmpty) None
         else pairs(zoneDir, "col", col("col").isin(zoneCols: _*))))
        .reduceOption(_ unionAll _)
        .fold(Map.empty[(String, String), Set[String]])(_.collect()
          .groupBy(r => (r.getString(0), norm(r.getString(1))))
          .map { case (k, rs) => k -> rs.map(_.getString(2)).toSet })
    val needNgram =
      if (ngram.isEmpty) Nil else live.filterNot(f => have.contains((ngramDir, norm(f))))
    val needZone: Seq[(String, Seq[String])] = live.flatMap { f =>
      val covered = have.getOrElse((zoneDir, norm(f)), Set.empty[String])
      Some(f -> zoneCols.filterNot(covered)).filter(_._2.nonEmpty)
    }
    val todo = (needNgram ++ needZone.map(_._1)).distinct
    if (todo.isEmpty) return Built(Nil, Nil)

    val cfg = ngram.filter(_ => needNgram.nonEmpty)
    val zCols = if (needZone.isEmpty) Nil else zoneCols
    val readCols = cfg.map(_ => "log").toSeq ++ zCols
    val reader = spark.read.option("basePath", tablePath)
    val fields = schema.toSeq.flatMap(s => readCols.flatMap(c => s.find(_.name == c)))
    val data = (if (fields.size == readCols.size) reader.schema(StructType(fields)) else reader)
      .parquet(todo: _*)
    val aggs = cfg.map(c =>
        NgramBloomAgg.ngramBloom(col("log"), c.n, c.expectedNdv, c.fpp).as("bloom")).toSeq ++
      zCols.zipWithIndex.flatMap { case (c, i) =>
        val d = col(c).cast("double")
        val finite = when(!isnan(d), d)
        Seq(min(finite).as(s"lo_$i"), max(finite).as(s"hi_$i"))
      }
    val agg = data.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
    // Two writes share one computation through the persisted RDD of the
    // executed aggregate, which keeps the partitions AQE coalesced it into:
    // a persisted DataFrame would cache the uncoalesced shuffle partitions
    // and write that many files per sidecar.
    val shared =
      if (cfg.isDefined && zCols.nonEmpty)
        Some(agg.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    val perFile = shared.fold(agg)(spark.createDataFrame(_, agg.schema))
    val mode = if (rebuild) "overwrite" else "append"
    // an overwrite deletes the cached generations' files
    if (rebuild)
      (cfg.map(_ => ngramDir) ++ Some(zoneDir).filter(_ => zCols.nonEmpty))
        .foreach(d => release(indexPath(tablePath, d).toString))
    try {
      cfg.foreach { c =>
        val rows = perFile.select(col("file"), col("bloom"), lit(c.n).as("n"))
        (if (needNgram.size == todo.size) rows
         else rows.where(normFile(col("file")).isin(needNgram.map(norm): _*)))
          .write.mode(mode).parquet(indexPath(tablePath, ngramDir).toString)
      }
      if (zCols.nonEmpty) {
        // unpivot to the narrow (file, col, lo, hi) shape in the same
        // projection: one sidecar serves any column set
        val rows = perFile
          .select(col("file"), explode(array(zCols.zipWithIndex.map { case (c, i) =>
            struct(lit(c).as("col"), col(s"lo_$i").as("lo"), col(s"hi_$i").as("hi"))
          }: _*)).as("z"))
          .select(col("file"), col("z.*"))
        val complete = needZone.size == todo.size && needZone.forall(_._2.size == zCols.size)
        (if (complete) rows
         else rows.where(concat_ws("\u0000", normFile(col("file")), col("col")).isin(
           needZone.flatMap { case (f, cs) => cs.map(c => norm(f) + "\u0000" + c) }: _*)))
          .write.mode(mode).parquet(indexPath(tablePath, zoneDir).toString)
      }
    } finally shared.foreach(_.unpersist(blocking = false))
    Built(needNgram, needZone.map(_._1))
  }

  /** Combine a probe's match set and the index's coverage manifest with
    * the live file list into the pruning decision — the staleness contract
    * both indexes share: a live file the index has never seen (absent from
    * `covered`) is always a candidate; an index row whose file is gone is
    * simply ignored (`matches`/`covered` entries not in `live` don't
    * surface). Both sets hold NORMALIZED paths ([[norm]]); `live` keeps
    * the caller's original paths, ready for a parquet read.
    */
  private def decide(
      matches: Set[String], covered: Set[String], live: Seq[String]): Pruning = {
    val (known, unindexed) = live.partition(f => covered(norm(f)))
    val candidates = known.filter(f => matches(norm(f))) ++ unindexed
    Pruning(candidates, pruned = (live.size - candidates.size).toLong,
      unindexed = unindexed.size.toLong)
  }

  /** Drop index rows whose data file no longer exists (post-compaction /
    * post-TTL hygiene; correctness never needs it — dead rows are ignored
    * by the pruning decision — but they cost probe I/O forever). `file`
    * must be the index schema's file-path column.
    *
    * Scale shape: the rewrite is a DISTRIBUTED anti/semi join of the
    * index against the (broadcast) live-path list — index rows, which for
    * the ngram index carry per-file bloom byte arrays, never visit the
    * driver; only the live path strings do, and those are driver-side in
    * the caller already (the same order of driver state as Spark's own
    * file listing). Output is re-sized to `targetBytes` files, not
    * `coalesce(1)`.
    *
    * Published with [[DirSwap]]; the next probe recovers an interrupted
    * swap.
    */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      dirName: String,
      liveFiles: => Seq[String],
      targetBytes: Long = 128L << 20): Long = {
    val files = indexFiles(spark, tablePath, dirName)
    if (files.isEmpty) return 0L
    val ip = indexPath(tablePath, dirName)
    val fs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sp = spark
    import sp.implicits._
    val live = broadcast(
      liveFiles.map(norm).toDF("_live_file"))
    val idx = readSidecar(spark, dirName, files)
    val keyed = idx.withColumn("_nf", normFile(col("file")))
    val dead = keyed
      .join(live, keyed("_nf") === live("_live_file"), "left_anti").count()
    if (dead > 0) {
      val parts = math.max(1L, fs.getContentSummary(ip).getLength / targetBytes).toInt
      DirSwap.publish(fs, ip) { staged =>
        keyed.join(live, keyed("_nf") === live("_live_file"), "left_semi")
          .drop("_nf")
          .coalesce(parts).write.mode("overwrite").parquet(staged.toString)
      }
      release(ip.toString)
    }
    dead
  }
}
