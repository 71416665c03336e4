package graft.model

import graft.expressions.SketchExprs
import graft.functions.{TextFunctions => TF}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted MinHash-LSH dedup index: the production loop behind
  * [[graft.operators.Dedup.minhashPairs]] at corpus scale.
  *
  * A 100 TB deduped corpus is not re-shingled every time a day of new data
  * arrives. The pipeline sketches the corpus ONCE (`build`), keeps only the
  * compact derived tables, and each increment then (1) sketches just the new
  * docs, (2) probes the persisted band table for collisions, (3) verifies
  * exact Jaccard against the persisted shingle-hash sets, and (4) appends
  * its own sketch rows so the next increment sees it (`append`). The raw
  * corpus text is never touched again.
  *
  * Index layout (all parquet):
  * {{{
  *   <dir>/params      one row: shingle_n, bands, rows_per_band
  *   <dir>/bands       (band INT, bandhash LONG, id LONG)   ~20 B/row
  *   <dir>/sketches    (id LONG, shash ARRAY<LONG>)          hashed shingles
  * }}}
  * `bands` is what candidate probes join against; `sketches` is the exact-
  * verification side. Both are ids+longs only — at 100 TB of text the pair
  * is orders of magnitude smaller than the corpus (a ~1 KB doc contributes
  * ~64 band bytes + 8 bytes per distinct shingle). `build` writes each
  * table at Spark's default partitioning; every `append` adds exactly one
  * part file to each (an increment is bounded by its own size); `vacuum`
  * compacts them back.
  *
  * Read path: the two tables' schemas are fixed ([[BandsSchema]],
  * [[SketchesSchema]]) — the writers select exactly those columns and
  * every read states them, so no read runs a schema-inference job. The
  * `params` row is read once per index generation and session
  * ([[readParams]]): a probe or append of an unchanged index runs no job
  * for it.
  *
  * One row per id: of an increment's copies of a repeated id, only the
  * least text is appended, and a probe verifies against only that copy
  * (any copy's bands may propose candidates), so neither depends on row
  * order and no pair is reported twice. A probe verifies an id that is
  * both indexed and in the increment (a replayed batch) against the
  * increment's copy only; `append` keeps the indexed copy.
  *
  * Equivalence contract: build∘append and incremental probing commute with
  * from-scratch indexing — `incrementalPairs(new, idx(corpus))` equals
  * `allPairs(idx(corpus ∪ new))` restricted to pairs touching a new id,
  * exactly (same hash families, same verification arithmetic). The
  * `dedup_incremental` oracle certifies this set equality per run. Both
  * paths, and the live operator, band and verify through the same code
  * ([[Dedup.minhashBands]], [[Dedup.verifyPairs]]).
  *
  * Verification uses xxhash64'd shingles rather than shingle strings:
  * Jaccard over distinct 64-bit hashes equals Jaccard over distinct
  * shingles up to hash collisions, and both sides of every comparison this
  * index performs use the same hashed representation, so results are
  * deterministic regardless.
  */
object DedupIndex {

  /** Sketching parameters, fixed at build time and persisted: probing with
    * different parameters than the corpus was sketched with would be
    * silently wrong, so every read path recovers them from the index.
    */
  final case class Params(shingleN: Int, bands: Int, rowsPerBand: Int)

  /** The `bands` and `sketches` tables' columns, as written and as read. */
  val BandsSchema: StructType = new StructType()
    .add("band", IntegerType).add("bandhash", LongType).add("id", LongType)
  val SketchesSchema: StructType = new StructType()
    .add("id", LongType).add("shash", ArrayType(LongType))
  private val ParamsSchema = new StructType()
    .add("shingle_n", IntegerType).add("bands", IntegerType).add("rows_per_band", IntegerType)

  /** `df`'s columns of `schema`, in its order and cast to its types. */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.map(f => col(f.name).cast(f.dataType)): _*)

  /** One row per id (cast to LONG) with the least of its texts: the
    * deterministic choice among an increment's copies of a repeated id.
    * `array_min(collect_set(..))`, not `min(..)`: a string `min` plans a
    * sort-based aggregate, and its sort pages (32 MB per task, measured on
    * a 4-core local session) cost far more than a small increment; the set
    * aggregate stays hash-based up to 128 ids per task.
    */
  private def onePerId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(idCol).cast(LongType).as("id"))
      .agg(array_min(collect_set(col(textCol))).as("text"))

  /** Derives the band and sketch tables from one shingling pass. With
    * `persistShingles` the shared shingle stage is cached so a caller that
    * runs MULTIPLE actions over the pair (build's two writes, append's
    * count+writes) re-shingles the text once, not per action; the returned
    * thunk unpersists it and must be called after the last action.
    * Callers that fold both frames into a single lazy plan (e.g.
    * [[incrementalPairs]], whose result outlives the call) pass false.
    */
  private def sketch(
      docs: DataFrame, idCol: String, textCol: String, p: Params,
      persistShingles: Boolean = false)
    : (DataFrame, DataFrame, () => Unit) = {
    SketchExprs.register(docs.sparkSession)
    val withSh0 = docs.select(
      col(idCol).cast(LongType).as("id"),
      array_distinct(TF.shingles(col(textCol), p.shingleN)).as("sh"))
    val withSh = if (persistShingles) withSh0.persist() else withSh0
    val bandRows = Dedup.minhashBands(withSh, p.bands, p.rowsPerBand)
    val sketchRows = withSh.select(
      col("id"),
      array_distinct(transform(col("sh"), s => xxhash64(s))).as("shash"))
    (conform(bandRows, BandsSchema), conform(sketchRows, SketchesSchema),
      () => if (persistShingles) { withSh.unpersist(); () })
  }

  /** Sketch `docs` and write a fresh index at `dir` (overwrites). One pass
    * over the text; the shingle/signature stage is computed once and feeds
    * both derived tables.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      params: Params = Params(shingleN = 3, bands = 16, rowsPerBand = 4))
    : Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (bandRows, sketchRows, done) =
      sketch(docs, idCol, textCol, params, persistShingles = true)
    try {
      conform(Seq((params.shingleN, params.bands, params.rowsPerBand))
          .toDF("shingle_n", "bands", "rows_per_band"), ParamsSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
      bandRows.write.mode("overwrite").parquet(s"$dir/bands")
      sketchRows.write.mode("overwrite").parquet(s"$dir/sketches")
    } finally done()
  }

  /** The index's persisted [[Params]], read once per generation: the row
    * is kept per session under the file listing of `<dir>/params`, so
    * later calls of an unchanged index cost one driver listing and no
    * Spark job. A `build` overwrite writes fresh file names, so the next
    * call reads the new row; the entries of older generations of the dir
    * are dropped when a new one starts.
    */
  def readParams(spark: SparkSession, dir: String): Params = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/params")
    def read() = {
      val r = spark.read.schema(ParamsSchema).parquet(path.toString).head()
      Params(r.getInt(0), r.getInt(1), r.getInt(2))
    }
    LogSchema.listingSignature(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
      .fold(read()) { sig =>
        paramsCache(spark, (dir, sig)) {
          paramsCache.invalidate { case (d, s) => d == dir && s != sig }
          read()
        }
      }
  }

  // keyed by (index dir, listing signature of its params): a new signature is a new generation
  private val paramsCache =
    new graft.SessionCache[(String, Seq[(String, Long, Long)]), Params]()

  /** Reads a table dir with its fixed schema, first completing an
    * interrupted [[vacuum]] swap ([[DirSwap.recover]]).
    */
  private def tableOf(spark: SparkSession, dir: String, table: String, schema: StructType)
    : DataFrame = {
    val dst = new org.apache.hadoop.fs.Path(s"$dir/$table")
    DirSwap.recover(dst.getFileSystem(spark.sparkContext.hadoopConfiguration), dst)
    spark.read.schema(schema).parquet(dst.toString)
  }
  private def bandsOf(spark: SparkSession, dir: String): DataFrame =
    tableOf(spark, dir, "bands", BandsSchema)
  private def sketchesOf(spark: SparkSession, dir: String): DataFrame =
    tableOf(spark, dir, "sketches", SketchesSchema)

  /** Append `newDocs`' sketch rows to the index, using the PERSISTED
    * parameters. Ids already present are skipped (idempotent re-append of
    * a replayed batch): the overlap probe is a narrow scan of the compact
    * sketch-id column against the broadcast new-id set — its result is
    * bounded by the increment size, never the corpus. An id repeated in
    * `newDocs` is appended once ([[onePerId]]). Each table gets one new
    * part file. Returns the number of ids actually appended.
    */
  def append(
      newDocs: DataFrame, idCol: String, textCol: String, dir: String): Long = {
    val spark = newDocs.sparkSession
    val p = readParams(spark, dir)
    val one = onePerId(newDocs, idCol, textCol)
    // ids already indexed, bounded by the increment (left_semi against the
    // broadcast new-id set; a semi join needs no distinct build side, so
    // this does not wait on `one`'s shuffle). Dropped via a broadcast
    // left_anti — never collected to the driver: a largely-replayed
    // increment would inline an increment-sized isin literal into the plan
    // otherwise
    val already = sketchesOf(spark, dir).select("id")
      .join(broadcast(newDocs.select(col(idCol).cast(LongType).as("id"))), Seq("id"), "left_semi")
      .select(col("id").as("_graft_indexed_id"))
    val fresh = one.join(broadcast(already),
      col("id") === col("_graft_indexed_id"), "left_anti")
    val (bandRows, sketchRows, done) =
      sketch(fresh, "id", "text", p, persistShingles = true)
    try {
      // an RDD count is one job over the cached rows; Dataset.count's
      // global aggregate would add a shuffle stage (a job) of its own
      val n = sketchRows.rdd.count()
      if (n > 0) {
        bandRows.coalesce(1).write.mode("append").parquet(s"$dir/bands")
        sketchRows.coalesce(1).write.mode("append").parquet(s"$dir/sketches")
      }
      n
    } finally done()
  }

  /** All near-dup pairs among the indexed docs — `minhashPairs` semantics
    * replayed off the persisted tables (the from-scratch side of the
    * incremental equivalence, and the backfill path after a bulk `build`),
    * through the live operator's own band self-join and verification
    * ([[Dedup.minhashBandPairs]]).
    */
  def allPairs(
      spark: SparkSession, dir: String, jaccardThreshold: Double): DataFrame =
    Dedup.minhashBandPairs(bandsOf(spark, dir), sketchesOf(spark, dir), "shash",
      jaccardThreshold)

  /** Drop index rows for ids no longer in the corpus and compact the
    * append-accumulated small files — the post-retention hygiene step.
    * Until vacuum runs, probes can still report pairs against deleted
    * docs (the index is the only place they survive); run it after every
    * retention/compaction pass, like [[NgramIndex.vacuum]].
    *
    * Each table is rewritten sized back to `targetBytes` files and
    * published with [[DirSwap]]; reads recover an interrupted swap. A
    * crash between the two TABLE rewrites is also safe: a dead id missing
    * from EITHER table is inert (bands without a sketch row produce
    * candidates the verification join drops; sketches without band rows
    * are never probed), so partial vacuum only under-deletes. Returns the
    * number of ids dropped.
    */
  def vacuum(
      spark: SparkSession,
      dir: String,
      liveIds: DataFrame,
      idCol: String,
      targetBytes: Long = 128L << 20): Long = {
    val live = liveIds.select(col(idCol).cast(LongType).as("id")).distinct()
    val dead = sketchesOf(spark, dir).select("id")
      .join(live, Seq("id"), "left_anti").count()
    val conf = spark.sparkContext.hadoopConfiguration
    def rewrite(table: String, df: DataFrame): Unit = {
      val dst = new org.apache.hadoop.fs.Path(s"$dir/$table")
      val fs = dst.getFileSystem(conf)
      val parts = math.max(1L, fs.getContentSummary(dst).getLength / targetBytes).toInt
      DirSwap.publish(fs, dst) { staged =>
        df.join(live, Seq("id"), "left_semi")
          .coalesce(parts).write.mode("overwrite").parquet(staged.toString)
      }
    }
    rewrite("bands", bandsOf(spark, dir))
    rewrite("sketches", sketchesOf(spark, dir))
    dead
  }

  /** Near-dup pairs between `newDocs` and the indexed corpus, plus pairs
    * within `newDocs` itself — the per-increment dedup step. Does NOT
    * modify the index; call [[append]] with the surviving docs afterwards.
    *
    * Scale shape (a day's increment against years of corpus): the new
    * side's band rows are broadcast, so the corpus band table is scanned
    * narrowly (no corpus-side shuffle at all); verification joins the
    * broadcast candidate set against the sketch table the same way. Every
    * shuffled row is the increment's own (its one-row-per-id pass) or a
    * candidate pair.
    *
    * Each pair is reported once: an id repeated in `newDocs` is verified
    * against one copy ([[onePerId]]), and an id that is both indexed and
    * new against the new copy.
    */
  def incrementalPairs(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      jaccardThreshold: Double): DataFrame = {
    val spark = newDocs.sparkSession
    val p = readParams(spark, dir)
    // candidates come from every row's bands (the candidate distinct
    // absorbs a repeated id) and verification reads one row per id, so the
    // one-row-per-id shuffle runs beside the band probe, not before it
    val (newBands, _, _) = sketch(newDocs, idCol, textCol, p)
    val (_, newSketches, _) = sketch(onePerId(newDocs, idCol, textCol), "id", "text", p)
    // new × (corpus ∪ new) in one join: the corpus side stays in place, the
    // new side ships to it
    val candidates = bandsOf(spark, dir).unionByName(newBands)
      .join(broadcast(newBands).withColumnRenamed("id", "new_id"), Seq("band", "bandhash"))
      .where(col("id") =!= col("new_id"))
      .select(least(col("id"), col("new_id")).as("id_a"),
        greatest(col("id"), col("new_id")).as("id_b"))
      .distinct()
    // one sketch row per id: the increment's copy replaces an indexed one
    val newIds = newDocs.select(col(idCol).cast(LongType).as("id"))
    val sketches = sketchesOf(spark, dir)
      .join(broadcast(newIds), Seq("id"), "left_anti")
      .unionByName(newSketches)
    Dedup.verifyPairs(candidates, sketches, "shash", jaccardThreshold,
      broadcastCandidates = true)
  }
}
