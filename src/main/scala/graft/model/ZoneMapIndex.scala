package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A file-skipping min/max (zone-map) sidecar index for numeric columns —
  * the Spark-lake analogue of ClickHouse's `minmax` MergeTree skip index,
  * the second index type (next to `ngrambf_v1`, [[NgramIndex]]) that
  * klogs deployments bolt onto the reference's table
  * (/root/reference/schema.sql:15-19) when range predicates at scale read
  * every granule.
  *
  * Parquet footers already carry row-group min/max, but using them still
  * means OPENING every footer: at 100 TB ≈ 10⁵–10⁶ files, the listing +
  * footer storm is itself the bottleneck. The zone map is one tiny
  * sidecar table — `(file, col, lo, hi)`, parquet under
  * `_graft_zonemap_index/` inside the table directory (underscore dir,
  * invisible to table reads) — so a range query prunes the FILE LIST with
  * one scan of O(files) index rows before any data file is touched. It
  * pays off precisely on layouts where file spans are tight: the
  * sort-keyed daily partitions ([[LogSchema.writePartitioned]]) and the
  * z-ordered rewrite ([[graft.operators.ZOrder]]) both exist to make this
  * index selective.
  *
  * Scale contract (mirrors [[NgramIndex]]):
  *   - the build is one partial-combined `groupBy(input_file_name())`
  *     min/max aggregate — tasks scan only the indexed COLUMNS of their
  *     own files (parquet column pruning applies) and the shuffle carries
  *     two doubles per (file, column). Incremental: only unindexed files
  *     are read.
  *   - staleness is safe, not corrupting: a live file missing from the
  *     index (fresh ingest, compaction rewrite) is always scanned; an
  *     index row whose file is gone is ignored. Re-running [[build]]
  *     converges; [[vacuum]] drops dead rows.
  *   - bounds are stored as DOUBLE; a long that doesn't fit 2⁵³ can round
  *     by ≤ 0.5 ulp in either direction, so [[prune]] widens the QUERY
  *     bounds by one ulp before comparing — pruning stays conservative
  *     for every numeric input type. Note the domain limit this implies:
  *     [[rangeScan]]'s EXACT re-filter also evaluates in double space
  *     (its `lo`/`hi` API is double), so for integer keys at or beyond
  *     2⁵³ — where distinct longs collapse to one double — boundary rows
  *     can differ from an integer-space comparison. Keys of that
  *     magnitude need the caller's own exact predicate over [[prune]]'s
  *     candidate list.
  */
object ZoneMapIndex {
  val IndexDirName = "_graft_zonemap_index"

  /** Which live data files a range predicate must read, and why —
    * the shared sidecar-index decision shape.
    */
  type Pruning = SidecarIndex.Pruning
  val Pruning = SidecarIndex.Pruning

  private def tableFiles(spark: SparkSession, tablePath: String): Seq[String] =
    spark.read.parquet(tablePath).inputFiles.toSeq

  /** Index every live data file not yet indexed for `cols`; returns the
    * newly indexed files. Coverage is per (file, column): a later build
    * with a widened column set re-reads the files that miss the new
    * columns and adds only their rows. `rebuild = true` starts from scratch
    * (also the way to change the column set; implicitly vacuums dead rows).
    * `partitions` scopes both the discovery listing and the
    * already-indexed probe to those partition DIRS (full paths), so a
    * caller that knows what it just wrote pays O(hot partitions), not
    * O(table), per invocation. The build, with its NaN-stripped bounds, is
    * [[SidecarIndex.build]] with the zone map only.
    */
  def build(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String],
      rebuild: Boolean = false,
      partitions: Seq[String] = Nil): Seq[String] = {
    require(cols.nonEmpty, "zone map needs at least one column")
    SidecarIndex.build(spark, tablePath, None, cols, rebuild, partitions).zone
  }

  /** Drop index rows whose data file no longer exists (post-compaction /
    * post-TTL hygiene; correctness never needs it — dead rows are ignored
    * by [[prune]]). Shared stage-then-swap ([[SidecarIndex.vacuum]]).
    */
  def vacuum(spark: SparkSession, tablePath: String): Long =
    SidecarIndex.vacuum(spark, tablePath, IndexDirName,
      tableFiles(spark, tablePath))

  /** The pruning decision for `lo ≤ colName ≤ hi`, or None when the index
    * cannot help (missing, or the column was never indexed).
    *
    * A file whose indexed bounds are NULL holds no non-null, non-NaN
    * values of the column — a range predicate cannot select any of its
    * rows (NaN satisfies no between predicate), so it is pruned. Query
    * bounds are ulp-widened against the stored-double rounding (scaladoc
    * above).
    */
  def prune(
      spark: SparkSession,
      tablePath: String,
      colName: String,
      lo: Double,
      hi: Double): Option[Pruning] =
    pruneAll(spark, tablePath, Seq((colName, lo, hi)),
      tableFiles(spark, tablePath)).headOption

  /** [[prune]] for SEVERAL `(column, lo, hi)` ranges in ONE index pass
    * against a live file list the caller already holds: the sidecar is
    * scanned once for the union of named columns and every range's
    * verdict is decided from that single collect — k range predicates
    * cost one Spark job, not k (the fused-probe contract shared with
    * [[NgramIndex.pruneAll]]). Ranges over unindexed columns are skipped
    * (each returned entry is an independently sound prune; callers
    * intersect whatever comes back — the coverage manifest answers
    * "is this column indexed at all?" without any scan).
    *
    * The verdicts are evaluated DISTRIBUTED: the fused scan filters to
    * rows some range could not rule out, so the collect is bounded by the
    * CANDIDATE count, not the file count; unindexed files are reconciled
    * from the per-generation coverage manifest ([[SidecarIndex.probe]]).
    * `live` is by-name: no table listing is paid when the index is missing.
    */
  def pruneAll(
      spark: SparkSession,
      tablePath: String,
      ranges: Seq[(String, Double, Double)],
      live: => Seq[String]): Seq[Pruning] =
    pruneAllAligned(spark, tablePath, ranges, live).flatten

  /** [[pruneAll]] with POSITIONAL results: element i answers ranges(i),
    * None where the index cannot help — the alignment [[rangeScans]]
    * needs to pair each pruning with its scan.
    */
  def pruneAllAligned(
      spark: SparkSession,
      tablePath: String,
      ranges: Seq[(String, Double, Double)],
      live: => Seq[String]): Seq[Option[Pruning]] = {
    ranges.foreach { case (_, lo, hi) =>
      require(!lo.isNaN && !hi.isNaN,
        "a NaN query bound matches nothing under range semantics (NaN " +
          "satisfies no between predicate) — filter NaN explicitly instead")
    }
    // probe identity = column + the exact ulp-widened bounds the verdicts
    // are computed against (raw bits, so -0.0/0.0 and every double are
    // distinct). A row SURVIVES for a range when the index cannot rule its
    // file out: null bounds = no non-null non-NaN values = prunable (drop);
    // NaN bounds can only come from an index built before [[build]]
    // stripped NaN — they carry no range information, so the file must be
    // scanned, never pruned (belt-and-braces with the build-side
    // exclusion; a rebuild restores tight bounds)
    val probes = ranges.map { case (c, lo, hi) =>
      val (qlo, qhi) = (Math.nextDown(lo), Math.nextUp(hi))
      (s"$c:${java.lang.Double.doubleToRawLongBits(lo)}:" +
        s"${java.lang.Double.doubleToRawLongBits(hi)}", c,
        col("lo").isNotNull && col("hi").isNotNull &&
          (isnan(col("lo")) || isnan(col("hi")) ||
            (col("hi") >= lit(qlo) && col("lo") <= lit(qhi))))
    }
    SidecarIndex.probe(spark, tablePath, IndexDirName, "col", probes, live)
  }

  /** Range scan through the index: exactly equivalent to
    * `spark.read.parquet(table).where(col between (lo, hi))` for every
    * index state — the zone map only ever shrinks the file list, and the
    * exact predicate is re-applied on what remains.
    */
  def rangeScan(
      spark: SparkSession,
      tablePath: String,
      colName: String,
      lo: Double,
      hi: Double): DataFrame =
    rangeScans(spark, tablePath, Seq((colName, lo, hi))).head

  /** SEVERAL range scans over one table sharing ONE listing + schema
    * resolution and ONE fused index probe — the multi-predicate form of
    * [[rangeScan]] (a query touching k ranges pays one parquet listing
    * and one index scan, not k of each; the probe constant was the
    * dominant cost of the indexed range query at small SF). Element i is
    * exactly [[rangeScan]] of ranges(i).
    */
  def rangeScans(
      spark: SparkSession,
      tablePath: String,
      ranges: Seq[(String, Double, Double)]): Seq[DataFrame] = {
    // the exact predicate evaluates in the same double space the index
    // stores — explicit for types (timestamp) that won't implicitly
    // coerce against a double literal, identical coercion for the rest
    def exact(df: DataFrame, r: (String, Double, Double)) =
      df.where(col(r._1).cast("double").between(r._2, r._3))
    // the table resolved once per listing generation: no schema-inference
    // job on a warm table
    val fullTable = LogSchema.readLogs(spark, tablePath)
    val aligned = pruneAllAligned(spark, tablePath, ranges,
      fullTable.inputFiles.toSeq)
    // Candidate relations reuse the already-resolved table schema (skips
    // one schema-inference job per relation) and are BUILT ONCE PER
    // DISTINCT candidate SET — correlated ranges (e.g. two columns that
    // cluster together) frequently survive to the same files, and relation
    // resolution (listing + partition discovery) was the dominant warm
    // cost of the probe path (r15; measured 0.45 s build vs 0.21 s exec
    // for the two-range zonemap query).
    val relCache = scala.collection.mutable.Map.empty[Seq[String], DataFrame]
    def candidateRel(files: Seq[String]): DataFrame =
      relCache.getOrElseUpdate(files.sorted,
        spark.read
          .schema(fullTable.schema)
          .option("basePath", tablePath) // keep partition columns
          .parquet(files: _*))
    ranges.zip(aligned).map {
      case (r, Some(p)) if p.pruned > 0 =>
        if (p.candidates.isEmpty) exact(fullTable, r).limit(0)
        else exact(candidateRel(p.candidates), r)
      case (r, _) => exact(fullTable, r)
    }
  }
}
