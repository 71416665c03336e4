package graft.operators

import graft.expressions.VectorExprs
import graft.functions.{Rounding, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Six paths:
  *  - [[bruteTopK]]: exact cosine top-k, query set broadcast against the
  *    corpus scan — the correctness baseline. One scan, no corpus shuffle.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — queries only score
  *    corpus vectors whose sketch collides on at least one band, cutting the
  *    scored set by orders of magnitude at the cost of recall.
  *  - [[ivfQuery]] / [[ivfTopK]]: inverted-file (IVF) bucketing — k-means
  *    centroids partition the corpus; each query probes only its `nprobe`
  *    nearest cells. The classic recall/cost dial for billion-vector corpora.
  *  - [[knnJoin]]: the both-sides-large k-NN join through the same cells.
  *  - [[pqQuery]] (+ [[pqQueryRefined]]): product-quantized codes scanned
  *    by asymmetric distance, optionally re-ranked exactly.
  *  - [[ivfPqQuery]] (+ [[ivfPqQueryRefined]]): PQ codes inside IVF cells.
  *
  * They share one copy of each rule: [[topK]] ranks every path's scored
  * pairs (a partition-local partial top-k, then one per-query merge),
  * [[probeCells]] picks every IVF path's cells, [[Spread.maybe]] spreads an
  * under-split scan, and [[fitQuantizers]] fits every quantizer.
  */
object Similarity {

  /** Each query's `k` best rows of `scored(qid, nid, <score>, …)` as
    * `(qid, rank, nid, <score>)`: ordered by `score` (descending unless
    * `ascending`), ties to the lower `nid`, so the order is total and the
    * answer deterministic.
    *
    * Scale note: the `row_number() ≤ k` pattern triggers Catalyst's
    * rank-limit pushdown — the physical plan carries a PARTIAL
    * `WindowGroupLimit` before the qid exchange, so each scored partition
    * emits at most k rows per query and the per-qid reducer receives
    * ≤ k × partitions rows, never the full scored set (asserted in
    * ExpressionsSpec and PlanAuditSpec).
    */
  private def topK(scored: DataFrame, score: String, k: Int, ascending: Boolean): DataFrame = {
    val order = if (ascending) col(score) else col(score).desc
    val w = Window.partitionBy("qid").orderBy(order, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "rank", "nid", score)
  }

  /** The rounded `cosine` of query vector `qv` and corpus vector `nv` from
    * their [[VectorExprs.norm]]s `qn` and `nn`: one dot per pair,
    * bit-identical to the fused cosine per the cosineFromNorms contract.
    */
  private def cosine: Column =
    Rounding.r4(VectorExprs.cosineFromNorms(
      col("qv"), col("nv"), col("qn"), col("nn"))).as("cosine")

  /** Exact top-k cosine neighbors for each query vector. `queries` is
    * expected to be small (it is broadcast); ties break on neighbor id for
    * determinism. The corpus is never shuffled at scale: scoring runs where
    * the vectors sit, and only an under-split scan is spread first
    * ([[Spread.maybe]], hash on `nid`).
    */
  def bruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    VectorExprs.register(corpus.sparkSession)
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", VectorExprs.norm(col("qv"))))
    val sel = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    // norms once per vector (map-side, below the join), one dot per pair
    val scored = Spread.maybe(sel, col("nid"))
      .withColumn("nn", VectorExprs.norm(col("nv")))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine)
    topK(scored, "cosine", k, ascending = false)
  }

  /** LSH-bucketed approximate top-k: sketch both sides, join on band
    * chunks, score only colliding candidates. Recall grows with `bands`
    * (multi-probe); all joins are hash equi-joins on (band, chunk).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sketchBits: Int = 16,
      bands: Int = 4): DataFrame = {
    val bandKeys = Dedup.hyperplaneBands(col("sk"), sketchBits, bands)
    // norm computed once per vector BEFORE the band explode (the exploded
    // copies share the scalar), so collision scoring pays one dot, not the
    // three norm/dot passes of full cosine per colliding pair
    def banded(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
          VectorExprs.norm(col(vecCol)).as(n),
          VF.hyperplaneSketch(col(vecCol), sketchBits).as("sk"))
        .select(col(id), col(v), col(n), bandKeys)
    VectorExprs.register(corpus.sparkSession)
    val q = broadcast(banded(queries, "qid", "qv", "qn"))
    val c = banded(corpus, "nid", "nv", "nn")
    // Score at collision time, while both vectors are still partition-local
    // (queries broadcast, corpus never moved) — then dedupe band collisions
    // on SCALARS: the one shuffle carries (qid, nid, cosine) rows, never the
    // vectors. A pair colliding on b bands pays ≤ b cosine evaluations, but
    // map-side partial aggregation collapses them before the exchange —
    // at 100 TB recomputing a dot product beats shuffling two embeddings.
    val collided = q.join(c, Seq("band", "chunk"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine)
    val scored = collided.groupBy("qid", "nid").agg(max("cosine").as("cosine"))
    topK(scored, "cosine", k, ascending = false)
  }

  /** A prebuilt IVF index: the (tiny) centroid set plus the corpus bucketed
    * by its nearest cell. Building is the expensive, AMORTIZABLE step —
    * production deployments build once, persist via [[IvfIndex.save]], and
    * serve many query batches against [[IvfIndex.load]]; [[ivfQuery]]
    * touches only `nprobe` cells per query.
    */
  final case class IvfIndex(
      centroids: DataFrame, bucketed: DataFrame, numCells: Int)

  object IvfIndex {
    /** Persist the index: centroids as one small parquet, the bucketed
      * corpus PARTITIONED BY CELL — the physical layout the build-time
      * scaladoc promises. With per-cell directories, a loaded index's
      * probe join qualifies for dynamic partition pruning: each query
      * batch reads only its probed cells' files, which is the entire point
      * of IVF at 100 TB (nprobe/numCells of the corpus per batch instead
      * of a full scan).
      */
    def save(index: IvfIndex, path: String): Unit = {
      index.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      index.bucketed.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/bucketed")
    }

    /** Load a persisted index. `numCells` is recovered from the centroid
      * table (its row count IS the cell count).
      */
    def load(spark: SparkSession, path: String): IvfIndex = {
      val centroids = spark.read.parquet(s"$path/centroids")
      val bucketed = spark.read.parquet(s"$path/bucketed")
      IvfIndex(centroids, bucketed, centroids.count().toInt)
    }
  }

  /** Build an IVF index over the corpus.
    *
    * The cell quantizer is fitted on a bounded SAMPLE (≤ `trainRows`
    * vectors, about 13 MB at 100k × 16 dims) in ONE task ([[fitQuantizers]]):
    * the sample is shuffled to a single partition and k-means runs there
    * to convergence, so the fit is one job whatever `numCells` or the
    * iteration count, and only the centroids come back to the driver.
    * Assignment of the full corpus stays distributed: one narrow
    * nearest-centroid projection ([[probeCells]] with `nprobe = 1`, ties
    * to the lower cell id). At scale, write `bucketed` partitioned by cell
    * so queries prune to their probed cells' files.
    *
    * k-means can return FEWER than `numCells` centres (fewer distinct
    * sample vectors than cells); `numCells` of the result is the number of
    * centroids, as [[IvfIndex.load]] recovers it.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      seed: Long = 42L,
      trainRows: Long = 100000L): IvfIndex = {
    VectorExprs.register(corpus.sparkSession)
    val sel = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    // count() is footer-metadata cheap on parquet; it bounds the sampling
    // fraction so the one-task fit never holds more than trainRows vectors
    val sample = trainSample(sel, sel.count(), seed, trainRows)
    val cents = fitQuantizers(sample, "nv", Seq(Fit(numCells, seed))).head
    val centroids = centroidFrame(corpus.sparkSession, cents)
    // a local relation: probeCells fetches it without running a job
    IvfIndex(centroids, probeCells(sel, centroids, nprobe = 1, vecCol = "nv"), cents.length)
  }

  /** One k-means quantizer to fit: `k` centres over the `sub`-th of `subs`
    * equal contiguous slices of every sample vector (`subs = 1`: the whole
    * vector), seeded by `seed`.
    */
  private final case class Fit(k: Int, seed: Long, sub: Int = 0, subs: Int = 1)

  /** Spark ML `KMeans` defaults, kept so the one-task fit seeds and stops
    * where the distributed fit did.
    */
  private val InitSteps = 2
  private val MaxIter = 20
  private val Tol = 1e-4
  /** Lloyd rounds of the weighted k-means++ pass that cuts the k-means||
    * candidates down to k (Spark's `LocalKMeans` bound). */
  private val PlusPlusIter = 30

  /** The bounded training sample: all of `df` when `n ≤ trainRows`, else a
    * seeded Bernoulli sample of about `trainRows` rows.
    */
  private def trainSample(df: DataFrame, n: Long, seed: Long, trainRows: Long): DataFrame =
    if (n <= trainRows) df
    else df.sample(withReplacement = false, trainRows.toDouble / n, seed)

  /** Fit every quantizer of `fits` on the `vecCol` vectors of `sample` in
    * ONE task: `repartition(1)` + `mapPartitions`, the finish-small shape
    * of `TrainPipeline`'s union-find. The sample is bounded by the caller
    * (`trainRows`), so it fits in the task's memory; only the centroids
    * come back, never the sample. Replaces Spark ML `KMeans`, whose
    * k-means|| seeding and Lloyd iterations each ran one driver-synced job
    * (7 + up to 20 per fit, and one fit per PQ subspace). The shuffle is
    * an RDD one, so the fit is a single job: under AQE a Dataset
    * repartition would run its map stage as a job of its own.
    *
    * The task sorts the sample before fitting, so the result depends only
    * on the sampled vectors and the seeds, not on shuffle arrival order.
    * Returns each fit's centres in `fits` order; null vectors are skipped
    * and an empty sample fails.
    */
  private def fitQuantizers(
      sample: DataFrame, vecCol: String, fits: Seq[Fit]): Seq[Array[Array[Double]]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    val fs = fits.toArray
    val rows = sample.where(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>")).as[Array[Double]]
      .rdd.repartition(1)
      .mapPartitions { it =>
        val pts = it.toArray
        java.util.Arrays.sort(pts,
          (a: Array[Double], b: Array[Double]) => java.util.Arrays.compare(a, b))
        if (pts.isEmpty) Iterator.empty
        else fs.iterator.zipWithIndex.flatMap { case (f, i) =>
          kMeans(subspace(pts, f.sub, f.subs), f.k, f.seed)
            .iterator.zipWithIndex.map { case (c, j) => (i, j, c) }
        }
      }
      .collect()
    require(rows.nonEmpty, s"no training vectors in column $vecCol")
    fs.indices.map(i => rows.filter(_._1 == i).sortBy(_._2).map(_._3))
  }

  /** The `sub`-th of `subs` equal contiguous slices of every point. */
  private def subspace(pts: Array[Array[Double]], sub: Int, subs: Int): Array[Array[Double]] =
    if (subs == 1 || pts.isEmpty) pts
    else {
      val dim = pts(0).length
      require(dim % subs == 0, s"dim $dim must be divisible by m=$subs subspaces")
      val d = dim / subs
      pts.map(p => java.util.Arrays.copyOfRange(p, sub * d, sub * d + d))
    }

  /** k-means on one task's points, with Spark ML's seeding and stopping
    * rules: k-means|| initialisation ([[InitSteps]] rounds, each keeping
    * every point with probability 2k·cost/Σcost), weighted k-means++ over
    * the distinct candidates when there are more than `k`, then Lloyd with
    * squared Euclidean distance ([[lloyd]]). Returns fewer than `k`
    * centres when k-means|| finds fewer distinct candidates. k-means||
    * spreads the seeds by distance; a plain k-means++ start gives
    * near-equal cells on isotropic data, which lowers recall at a fixed
    * `nprobe`.
    */
  private def kMeans(pts: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val rnd = new java.util.Random(seed)
    val cost = Array.fill(n)(Double.PositiveInfinity)
    val cands = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(n)))
    var fresh = cands.toArray
    var step = 0
    while (step < InitSteps) {
      var sum = 0.0
      var i = 0
      while (i < n) {
        if (fresh.nonEmpty)
          cost(i) = math.min(cost(i), sqDist(pts(i), fresh(closest(fresh, pts(i)))))
        sum += cost(i)
        i += 1
      }
      fresh = pts.indices.filter(i => rnd.nextDouble() < 2.0 * k * cost(i) / sum)
        .map(pts).toArray
      cands ++= fresh
      step += 1
    }
    val distinct = cands.distinctBy(c => c.toSeq).toArray
    val init =
      if (distinct.length <= k) distinct
      else {
        val w = new Array[Double](distinct.length)
        pts.foreach(p => w(closest(distinct, p)) += 1.0)
        kMeansPlusPlus(distinct, w, k, rnd)
      }
    lloyd(pts, Array.fill(n)(1.0), init, MaxIter)
  }

  /** Weighted k-means++ (Spark's `LocalKMeans.kMeansPlusPlus`): draw `k`
    * centres with probability ∝ weight × squared distance to the chosen
    * ones, then refine them with weighted Lloyd over the candidates.
    */
  private def kMeansPlusPlus(
      pts: Array[Array[Double]], w: Array[Double], k: Int,
      rnd: java.util.Random): Array[Array[Double]] = {
    def pick(score: Int => Double): Array[Double] = {
      val r = rnd.nextDouble() * pts.indices.map(score).sum
      var acc = 0.0
      var j = 0
      while (j < pts.length && acc < r) { acc += score(j); j += 1 }
      pts(math.max(j - 1, 0))
    }
    val centers = new Array[Array[Double]](k)
    centers(0) = pick(w(_))
    val cost = pts.map(sqDist(_, centers(0)))
    for (c <- 1 until k) {
      centers(c) = pick(j => w(j) * cost(j))
      pts.indices.foreach(j => cost(j) = math.min(cost(j), sqDist(pts(j), centers(c))))
    }
    lloyd(pts, w, centers, PlusPlusIter)
  }

  /** Weighted Lloyd rounds from `init` until no centre moves more than
    * [[Tol]] or `maxIter` rounds; an empty cluster keeps its centre.
    */
  private def lloyd(
      pts: Array[Array[Double]], w: Array[Double], init: Array[Array[Double]],
      maxIter: Int): Array[Array[Double]] = {
    val k = init.length
    val dim = init(0).length
    val centers = init.map(_.clone)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Double](k)
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        val c = closest(centers, p)
        val s = sums(c)
        var d = 0
        while (d < dim) { s(d) += w(i) * p(d); d += 1 }
        counts(c) += w(i)
        i += 1
      }
      converged = true
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val next = sums(c).map(_ / counts(c))
          if (sqDist(next, centers(c)) > Tol * Tol) converged = false
          centers(c) = next
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Index of the nearest centre by squared Euclidean distance; the
    * first minimum wins ties. */
  private def closest(centers: Array[Array[Double]], p: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val d = sqDist(p, centers(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The `(cell, centroid)` table of fitted centres, cell = position. */
  private def centroidFrame(spark: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
  }

  /** Answer a query batch against a prebuilt index: pick each query's
    * `nprobe` nearest cells ([[probeCells]], a narrow projection over the
    * query batch), broadcast the probes into an equi-join on `cell` that
    * scores only those cells' vectors, rank top-k.
    */
  def ivfQuery(
      index: IvfIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 3): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qn", VectorExprs.norm(col("qv")))
    val probes = probeCells(q, index.centroids, nprobe)
    // corpus-side norms once per bucketed vector, below the probe join —
    // each probed cell's vectors pay one dot per query, not a full cosine
    val scored = index.bucketed.withColumn("nn", VectorExprs.norm(col("nv")))
      .join(broadcast(probes), "cell")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine)
    topK(scored, "cosine", k, ascending = false)
  }

  /** IVF (inverted-file) approximate top-k: [[buildIvfIndex]] +
    * [[ivfQuery]] in one call, for one-shot use; amortize the build via the
    * two-step API when serving repeated query batches.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCells: Int = 16,
      nprobe: Int = 3,
      seed: Long = 42L,
      trainRows: Long = 100000L): DataFrame =
    ivfQuery(
      buildIvfIndex(corpus, idCol, vecCol, numCells, seed, trainRows),
      queries, idCol, vecCol, k, nprobe)

  /** Distributed k-NN JOIN: every row of `left` gets its `k` nearest rows
    * of `right` by cosine. This is the both-sides-large shape
    * ([[bruteTopK]]/[[ivfQuery]] assume a small query batch): neither side
    * is broadcast or cross-joined. Both sides route through a shared IVF
    * cell assignment —
    *
    *  - the `right` side is bucketed once by [[buildIvfIndex]] (one-task
    *    k-means fit on a bounded sample, narrow full-corpus assignment);
    *  - the `left` side picks its `nprobe` nearest cells with
    *    [[probeCells]], the probe [[ivfQuery]] uses too: a NARROW per-row
    *    projection (`array_sort` + `slice` + `explode` over the tiny
    *    centroid table), so no crossJoin and no per-qid ranking window,
    *    which for a large left side would be a full extra shuffle;
    *  - the only wide operations are the equi-join on `cell` and the final
    *    top-k window on `qid` (which Catalyst executes with a partial
    *    WindowGroupLimit, so each map task emits ≤ k rows per qid).
    *
    * `nprobe = numCells` degenerates to the exact join through the same
    * distributed plumbing (this is how the oracle checks it); smaller
    * `nprobe` is the recall/cost dial. At scale, size `numCells` ~
    * sqrt(|right|) (e.g. 32k cells for 1 B vectors): the cell-join key
    * cardinality grows with the data, so the join parallelizes, and AQE's
    * skew splitting handles hot cells.
    *
    * `excludeSelf` drops `qid == nid` matches for self-join dedup/retrieval
    * over one table (ids must then be from the same id space).
    */
  def knnJoin(
      left: DataFrame,
      right: DataFrame,
      leftIdCol: String,
      leftVecCol: String,
      rightIdCol: String,
      rightVecCol: String,
      k: Int,
      numCells: Int = 16,
      nprobe: Int = 3,
      excludeSelf: Boolean = false,
      seed: Long = 42L,
      trainRows: Long = 100000L): DataFrame =
    knnJoinWithIndex(
      buildIvfIndex(right, rightIdCol, rightVecCol, numCells, seed, trainRows),
      left, leftIdCol, leftVecCol, k, nprobe, excludeSelf)

  /** [[knnJoin]] against a prebuilt/persisted [[IvfIndex]] over the right
    * side (amortize the build across many left-side batches).
    */
  def knnJoinWithIndex(
      index: IvfIndex,
      left: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      excludeSelf: Boolean = false): DataFrame = {
    VectorExprs.register(left.sparkSession)
    // pre-cast both vector columns to array<double> ONCE PER ROW: the
    // pair-level dot below otherwise re-casts (allocating) per candidate
    // PAIR — measured 3× on the exact self-join shape
    val spark = left.sparkSession
    val sel = left.select(col(idCol).as("qid"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", VectorExprs.norm(col("qv")))
    // the cell join's output (and the partial top-k sort above it) inherit
    // the LEFT side's partitioning — an under-split local scan would build
    // every candidate pair in one task. Spread only when the scan is
    // genuinely under-split (never on a well-split table at scale, where
    // the spread would be a full extra shuffle of left × nprobe vector rows)
    val probed = probeCells(Spread.maybe(sel, col("qid")), index.centroids, nprobe)
    val bucketed = index.bucketed
      .withColumn("nv", col("nv").cast("array<double>"))
      .withColumn("nn", VectorExprs.norm(col("nv")))
    // SALT the cell join: the join key has only numCells distinct values,
    // so with few cells (an oracle-exact all-cells probe, or any index
    // built when the corpus was small) the pair build and the partial
    // top-k sort above it run on ≤ numCells tasks no matter how many
    // cores exist — measured 2.8× super-linear at the 100× soak (413 s,
    // 16 tasks on 32 cores, ~25M-row sorts per task). Splitting each
    // cell's CORPUS rows across ceil(4·parallelism/numCells) salt lanes
    // (probe side replicated per lane — it is queries × nprobe rows,
    // orders of magnitude smaller than the corpus) forms every pair
    // exactly once while saturating the cluster and shrinking each
    // task's sort. No-op when the index already has ≥ 4× cells per core.
    // numCells comes from the index record — both build and load populate
    // it — so sizing the salt costs no count() job (measured r14: the
    // recount was one driver-synced job on EVERY knn invocation).
    val numCells = math.max(1, index.numCells)
    val saltN = math.max(1,
      math.ceil(4.0 * spark.sparkContext.defaultParallelism / numCells.toDouble).toInt)
    val (probeSide, corpusSide) =
      if (saltN == 1) (probed, bucketed)
      else (
        probed.withColumn("_salt",
          explode(sequence(lit(0), lit(saltN - 1)))),
        bucketed.withColumn("_salt",
          pmod(xxhash64(col("nid")), lit(saltN.toLong)).cast("int")))
    val joinKeys = if (saltN == 1) Seq("cell") else Seq("cell", "_salt")
    val scored = probeSide.join(corpusSide, joinKeys)
      .drop("_salt")
    val filtered =
      if (excludeSelf) scored.where(col("qid") =!= col("nid")) else scored
    // topK's partial WindowGroupLimit cuts every salt lane's task output
    // to ≤ k rows per qid BEFORE the qid exchange (plan-pinned in
    // PlanAuditSpec), so the shuffle carries O(queries·k·lanes) rows
    topK(filtered.select(col("qid"), col("nid"), cosine), "cosine", k, ascending = false)
  }

  /** Above this many cells the literal-centroid probe stops riding the
    * plan as an expression tree and switches to the broadcast array-column
    * form — ~4k cells ≈ 2 MB of plan literals is fine, the 32k cells a
    * 1 B-row corpus wants (≈16 MB in ONE expression) is not. The spec
    * asserts result identity across the gate.
    */
  private[graft] val ProbeLiteralMaxCells = 4096

  /** Each row's `nprobe` nearest IVF cells, as a NARROW projection over a
    * frame carrying a `vecCol` vector column: no crossJoin row blow-up and
    * no per-row ranking window — cell selection is `array_sort` + `slice` +
    * `explode` over per-cell (dist, cell) structs. Distance is −2·v·c + c·c
    * (squared L2 with the constant |v|² dropped); ties break on cell id.
    * The one cell probe of the family: [[ivfQuery]], [[knnJoinWithIndex]]
    * and [[ivfPqQuery]] probe with it, and the index builds assign each
    * corpus vector its cell with `nprobe = 1`. Output = input columns plus
    * `cell`, one row per (input row, probed cell).
    *
    * Two result-identical physical forms behind a size gate
    * (`maxLiteralCells`, default [[ProbeLiteralMaxCells]]):
    *
    *  - `numCells ≤ gate`: the centroid table rides the plan as
    *    LITERALS (one struct per cell) — codegen-friendly, zero joins;
    *  - past the gate: the centroids are aggregated into a SINGLE
    *    cell-sorted array row and attached via a broadcast cross join, so
    *    the 16 MB of a 32k-cell table is DATA in one broadcast row, not
    *    plan text — per-row compute is the same numCells dot products,
    *    evaluated by `transform` over the array column. Both fold c·c
    *    left-to-right over the same doubles, so distances (and therefore
    *    probe sets) are bitwise identical across the gate.
    */
  private[graft] def probeCells(
      withQv: DataFrame, centroids: DataFrame, nprobe: Int,
      maxLiteralCells: Int = ProbeLiteralMaxCells, vecCol: String = "qv"): DataFrame = {
    val keep = withQv.columns.map(col)
    val centsTyped = centroids
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
    // ONE driver action sizes AND fetches: limit(gate+1).collect() returns
    // the complete centroid set whenever it is at or under the gate (limit
    // only truncates past it), so the literal path needs no separate
    // count() job — measured r14, the count was a driver-synced job on
    // every IVF probe. Exactly gate+1 rows back ⇒ over the gate ⇒ the
    // broadcast-join form (which never needs the exact count).
    val headRows = centsTyped
      .limit(math.min(maxLiteralCells.toLong + 1L, Int.MaxValue.toLong).toInt)
      .collect()
    if (headRows.length <= maxLiteralCells) {
      val numCells = headRows.length
      val probeN = math.min(nprobe, numCells)
      val cents = headRows
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      withQv
        .select(scala.collection.immutable.ArraySeq.unsafeWrapArray(keep :+
          explode(slice(array_sort(array(cellDistances(col(vecCol), cents.toSeq): _*)),
            1, probeN)).as("p")): _*)
        .select(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          keep :+ col("p.cell").as("cell")): _*)
    } else {
      // numCells > gate ≥ any sane nprobe here; `slice` truncates to the
      // array length anyway, so min(nprobe, numCells) needs no exact count
      val probeN = nprobe
      // c·c rides the broadcast row too (same left-to-right double fold
      // as the literal path's driver-side sum); array_sort on the
      // (cell, …) struct reproduces the literal path's sortBy(cell)
      val centsRow = broadcast(centsTyped
        .select(struct(
          col("cell"),
          col("centroid"),
          aggregate(col("centroid"), lit(0.0), (a, x) => a + x * x)
            .as("cnorm2")).as("c"))
        .agg(array_sort(collect_list(col("c"))).as("_cents")))
      withQv
        .crossJoin(centsRow)
        .select(scala.collection.immutable.ArraySeq.unsafeWrapArray(keep :+
          explode(slice(array_sort(transform(col("_cents"), c =>
              struct(
                (VectorExprs.dot(col(vecCol), c.getField("centroid")) * lit(-2.0) +
                  c.getField("cnorm2")).as("dist"),
                c.getField("cell").as("cell")))),
            1, probeN)).as("p")): _*)
        .select(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          keep :+ col("p.cell").as("cell")): _*)
    }
  }

  /** One `(dist, cell)` struct per literal centre: dist = −2·v·c + c·c,
    * the squared L2 distance with the constant |v|² dropped, so ordering
    * the structs orders by distance and then by cell id.
    */
  private def cellDistances(v: Column, cents: Seq[(Int, Array[Double])]): Seq[Column] =
    cents.map { case (cell, c) =>
      struct(
        (VectorExprs.dot(v, lit(c)) * lit(-2.0) + lit(c.map(x => x * x).sum)).as("dist"),
        lit(cell).as("cell"))
    }

  /** A product-quantization index (FAISS `IndexPQ` shape): per-subspace
    * k-means codebooks plus the corpus compressed to one small code per
    * subspace. `codebooks(sub, code, centroid)` is tiny (m × codesPerSub
    * centroids); `codes(nid, codes)` carries m small ints per vector —
    * the memory story of PQ: a 64-dim float vector (256 B) becomes m = 8
    * bytes, so a 100 TB embedding corpus scans as ~3 TB of codes.
    *
    * Vectors are L2-NORMALIZED before quantization, which makes
    * ADC's squared-L2 ranking equivalent to cosine ranking (monotonic:
    * ‖q−x‖² = 2 − 2·cos on the unit sphere) — so results are comparable
    * with [[bruteTopK]]/[[lshTopK]]/[[ivfTopK]].
    *
    * For the full IVF-PQ composition, bucket `codes` by an
    * [[IvfIndex]] cell assignment and score only probed cells; the flat
    * form here is the exhaustive-but-compressed scan.
    */
  final case class PqIndex(
      codebooks: DataFrame, codes: DataFrame, m: Int, codesPerSub: Int, dim: Int)

  object PqIndex {
    /** Persist the index: tiny codebooks as one parquet, the code table
      * (the compressed corpus — the artifact whose 30×-smaller scan is
      * PQ's point) as plain parquet. Unlike [[IvfIndex.save]] there is no
      * pruning dimension to partition by: a flat ADC query reads every
      * code row by design.
      */
    def save(index: PqIndex, path: String): Unit = {
      index.codebooks.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks")
      index.codes.write.mode("overwrite").parquet(s"$path/codes")
    }

    /** Load a persisted index; its geometry is read back from the codebook
      * table ([[codebookGeometry]]).
      */
    def load(spark: SparkSession, path: String): PqIndex = {
      val codebooks = spark.read.parquet(s"$path/codebooks")
      val (m, codesPerSub, dim) = codebookGeometry(codebooks)
      PqIndex(codebooks, spark.read.parquet(s"$path/codes"), m, codesPerSub, dim)
    }
  }

  /** `(m, codesPerSub, dim)` of a codebook table, in one aggregate:
    * build-time padding ([[codebookFrame]]) makes the `sub × code` grid
    * dense, so max(sub)+1 and max(code)+1 ARE m and codesPerSub, and every
    * centroid is one dim/m-long subspace slice.
    */
  private def codebookGeometry(codebooks: DataFrame): (Int, Int, Int) = {
    val g = codebooks
      .agg(max(col("sub")), max(col("code")), max(size(col("centroid"))))
      .head()
    val m = g.getInt(0) + 1
    (m, g.getInt(1) + 1, g.getInt(2) * m)
  }

  /** Build a PQ index: split each (normalized) vector into `m` contiguous
    * subspaces and fit an independent codebook of `codesPerSub` centroids
    * per subspace on a bounded sample (≤ `trainRows` vectors). All `m`
    * codebooks are fitted in ONE task over one sample ([[fitQuantizers]]),
    * then the corpus is encoded by one narrow projection over the `m`
    * literal codebooks ([[pqEncode]]). The vector dimension must divide
    * evenly by `m`; the fit task reads it from the sample and fails the
    * build otherwise.
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      codesPerSub: Int = 16,
      seed: Long = 42L,
      trainRows: Long = 100000L): PqIndex = {
    VectorExprs.register(corpus.sparkSession)
    val unit = normalized(corpus, idCol, vecCol, "nid", "nv")
    // count the RAW corpus (parquet-footer cheap — no filter/projection
    // in the way) to bound the sample fraction; the handful of zero-norm
    // rows normalized() drops only make the sample marginally smaller
    val books = fitQuantizers(trainSample(unit, corpus.count(), seed, trainRows),
      "nv", pqFits(m, codesPerSub, seed))
    PqIndex(codebookFrame(corpus.sparkSession, books, codesPerSub),
      pqEncode(unit, books, carry = Nil), m, codesPerSub, books.head.head.length * m)
  }

  /** The `m` subspace quantizers of a PQ index, subspace `s` seeded
    * `seed + s`. */
  private def pqFits(m: Int, codesPerSub: Int, seed: Long): Seq[Fit] =
    (0 until m).map(s => Fit(codesPerSub, seed + s, sub = s, subs = m))

  /** The `(sub, code, centroid)` codebook table. k-means may return FEWER
    * than `codesPerSub` centres (low-cardinality subspace / tiny sample).
    * The ADC table is indexed positionally by sub*codesPerSub + code, so a
    * deficient codebook is padded to exactly codesPerSub rows, or every
    * later subspace's lookups would shift (silent mis-ranking; top slots
    * out of bounds). Padded slots repeat centre 0; [[pqEncode]] encodes
    * against the fitted centres only, so no code references them.
    */
  private def codebookFrame(
      spark: SparkSession, books: Seq[Array[Array[Double]]], codesPerSub: Int): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (centers, s) =>
      val padded = centers ++ Array.fill(codesPerSub - centers.length)(centers(0))
      padded.toSeq.zipWithIndex.map { case (c, code) => (s, code, c) }
    }.toDF("sub", "code", "centroid")
  }

  /** Encode an already-normalized `(nid, nv, …)` frame against fitted
    * codebooks in one narrow projection: each subspace's code is its
    * nearest literal centre (ties to the lower code), emitting
    * `(nid, carry…, codes)`. [[buildIvfPqIndex]] carries the cell
    * assignment through the encode instead of re-joining it on id later —
    * at scale that join would be a second full shuffle of the corpus.
    */
  private def pqEncode(
      df: DataFrame, books: Seq[Array[Array[Double]]], carry: Seq[String]): DataFrame = {
    val dsub = books.head.head.length
    val keep = col("nid") +: carry.map(col)
    // the slices are their own projection so each is cut once per row,
    // not once per centre
    val subs = df.select(keep ++ books.indices.map(s =>
      slice(col("nv"), s * dsub + 1, dsub).as(s"_sub$s")): _*)
    val codes = books.zipWithIndex.map { case (centers, s) =>
      val dists = cellDistances(col(s"_sub$s"), centers.toSeq.zipWithIndex.map(_.swap))
      (if (dists.length == 1) dists.head else least(dists: _*)).getField("cell")
    }
    subs.select(keep :+ array(codes: _*).as("codes"): _*)
  }

  private def normalized(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as(idAs), v.as("rawv"))
      .withColumn("rn0", VectorExprs.norm(col("rawv")))
      .where(col("rn0") > 0.0)
      .select(col(idAs),
        transform(col("rawv"), x => x / col("rn0")).as(vecAs))
  }

  /** Answer a query batch by asymmetric distance computation (ADC): build
    * each query's (sub, code) → squared-subdistance lookup table against
    * the broadcast codebooks, flatten it to one array per query, then scan
    * the corpus CODES — never the vectors — summing `m` table lookups per
    * candidate.
    *
    * Scale shape: the table build touches queries × m × codesPerSub tiny
    * rows; the scan is `codes ⨯ broadcast(tables)` — a narrow pass over
    * the compressed corpus with a fully-codegen per-row score (the m-term
    * sum is unrolled into `GetArrayItem`/`ElementAt` adds, no interpreted
    * higher-order function in the hot loop), followed by the shared
    * rank-limited per-query [[topK]].
    */
  def pqQuery(
      index: PqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val q = normalized(queries, idCol, vecCol, "qid", "qv")
    val dtabs = adcTables(q, index.codebooks, index.m, index.codesPerSub,
      index.dim)
    val scored = index.codes.crossJoin(broadcast(dtabs))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        adcScore(index.m, index.codesPerSub).as("adist"))
    topK(scored, "adist", k, ascending = true)
  }

  /** Per-query ADC lookup tables against broadcast codebooks: one flat
    * `dtab` array per qid, slot-indexed by `sub * codesPerSub + code`.
    * ‖s − c‖² = s·s − 2 s·c + c·c, all three via the codegen dot.
    */
  private def adcTables(
      q: DataFrame, codebooks: DataFrame,
      m: Int, codesPerSub: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    val qtab = q.crossJoin(broadcast(codebooks))
      .select(col("qid"), col("sub"), col("code"),
        (VectorExprs.dot(
            slice(col("qv"), col("sub") * dsub + 1, lit(dsub)),
            slice(col("qv"), col("sub") * dsub + 1, lit(dsub)))
          - VectorExprs.dot(
              slice(col("qv"), col("sub") * dsub + 1, lit(dsub)),
              col("centroid")) * 2.0
          + VectorExprs.dot(col("centroid"), col("centroid"))).as("d"))
    qtab.groupBy("qid").agg(
      transform(
        array_sort(collect_list(struct(
          (col("sub") * codesPerSub + col("code")).as("slot"),
          col("d").as("d")))),
        e => e.getField("d")).as("dtab"))
  }

  /** The unrolled m-term ADC sum over a `codes` array and a `dtab` lookup
    * array — plain `GetArrayItem`/`ElementAt` adds, fully codegen.
    */
  private def adcScore(m: Int, codesPerSub: Int) =
    Rounding.r4((0 until m)
      .map(s => element_at(col("dtab"),
        col("codes").getItem(s) + lit(s * codesPerSub) + 1))
      .reduce(_ + _))

  /** PQ with exact re-rank (the FAISS `IndexRefineFlat` composition): ADC
    * over the compressed codes produces a `shortlist`-sized candidate set
    * per query, then ONLY those candidates' true vectors are read back and
    * scored by exact cosine. This recovers most of the recall ADC loses to
    * quantization while keeping the corpus-wide scan on the codes.
    *
    * Scale shape: the candidate set (queries × shortlist ids) broadcasts
    * into a second pass over the vector table — the join filters to
    * candidates AT THE SCAN, so the refine stage moves only
    * |queries|·shortlist full vectors; at 100 TB with the vector table
    * partitioned/bucketed by id this is a point-lookup-shaped read, not a
    * second full scan.
    */
  def pqQueryRefined(
      index: PqIndex,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int = 100): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val cand = pqQuery(index, queries, idCol, vecCol, shortlist)
      .select("qid", "nid")
    refineExact(corpus, queries, cand, idCol, vecCol, k)
  }

  /** Exact cosine re-rank of a `(qid, nid)` candidate set: only the
    * candidates' true vectors are read back and scored. Both small sides
    * broadcast, so the vector table is scanned narrowly exactly once; at
    * 100 TB with the vector table bucketed by id this is a
    * point-lookup-shaped read, not a second full scan.
    */
  private def refineExact(
      corpus: DataFrame, queries: DataFrame, cand: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = normalized(queries, idCol, vecCol, "qid", "qv")
    val corp = normalized(corpus, idCol, vecCol, "nid", "nv")
    // unit vectors → cosine is one dot
    val scored = corp.join(broadcast(cand), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        Rounding.r4(VectorExprs.dot(col("qv"), col("nv"))).as("cosine"))
    topK(scored, "cosine", k, ascending = false)
  }

  /** The full IVF-PQ composition (FAISS `IndexIVFPQ` shape): the corpus is
    * partitioned into IVF cells AND compressed to PQ codes, so a query
    * touches only its probed cells and scans codes, not vectors — the two
    * scale levers multiply (nprobe/numCells of the corpus × ~30× smaller
    * rows). Codes are encoded against the raw normalized vectors (FAISS's
    * `by_residual=false` mode): one shared codebook set stays exact to
    * [[pqQuery]]'s ADC semantics and keeps the encode narrow; per-cell
    * residual codebooks are a recall refinement, not a structural change.
    *
    * `codes(nid, cell, codes)` — persist partitioned by `cell`
    * ([[IvfPqIndex.save]]) and the probe join prunes to probed cells'
    * files, exactly like [[IvfIndex]].
    */
  final case class IvfPqIndex(
      centroids: DataFrame, codebooks: DataFrame, codes: DataFrame,
      numCells: Int, m: Int, codesPerSub: Int, dim: Int)

  object IvfPqIndex {
    def save(index: IvfPqIndex, path: String): Unit = {
      index.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids")
      index.codebooks.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks")
      index.codes.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/codes")
      // m / codesPerSub / dim are recoverable from the codebook table; no
      // sidecar metadata file to drift
    }

    def load(spark: SparkSession, path: String): IvfPqIndex = {
      val centroids = spark.read.parquet(s"$path/centroids")
      val codebooks = spark.read.parquet(s"$path/codebooks")
      val (m, codesPerSub, dim) = codebookGeometry(codebooks)
      IvfPqIndex(centroids, codebooks, spark.read.parquet(s"$path/codes"),
        centroids.count().toInt, m, codesPerSub, dim)
    }
  }

  /** Build the IVF-PQ index: one normalization pass and one sample feed
    * the coarse (cell) quantizer and the `m` subspace codebooks, all
    * fitted in the same single task ([[fitQuantizers]]); the narrow cell
    * assignment and the narrow encode then run over the corpus in one
    * pipeline, carrying the cell through the encode — no id re-join.
    */
  def buildIvfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      m: Int = 8,
      codesPerSub: Int = 16,
      seed: Long = 42L,
      trainRows: Long = 100000L): IvfPqIndex = {
    VectorExprs.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    val unit = normalized(corpus, idCol, vecCol, "nid", "nv")
    val fitted = fitQuantizers(trainSample(unit, corpus.count(), seed, trainRows),
      "nv", Fit(numCells, seed) +: pqFits(m, codesPerSub, seed))
    val (cents, books) = (fitted.head, fitted.tail)
    val centroids = centroidFrame(spark, cents)
    val bucketed = probeCells(unit, centroids, nprobe = 1, vecCol = "nv")
    IvfPqIndex(centroids, codebookFrame(spark, books, codesPerSub),
      pqEncode(bucketed, books, carry = Seq("cell")), cents.length, m,
      codesPerSub, cents.head.length)
  }

  /** Query the IVF-PQ index: per-query ADC tables against the broadcast
    * codebooks, nprobe cell selection by [[probeCells]], then an equi-join
    * on `cell` scans ONLY probed cells' codes with the unrolled codegen ADC
    * sum; the shared [[topK]] ranks. Ranking is by approximate distance — compose with
    * [[ivfPqQueryRefined]] for the exact re-rank.
    */
  def ivfPqQuery(
      index: IvfPqIndex,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 3): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val q = normalized(queries, idCol, vecCol, "qid", "qv")
    val dtabs = adcTables(q, index.codebooks, index.m, index.codesPerSub,
      index.dim)
    val probes = probeCells(q, index.centroids, nprobe)
      .select("qid", "cell")
      .join(dtabs, "qid")
    val scored = index.codes.join(broadcast(probes), "cell")
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        adcScore(index.m, index.codesPerSub).as("adist"))
    topK(scored, "adist", k, ascending = true)
  }

  /** IVF-PQ with exact re-rank (`IndexIVFPQ` + `IndexRefineFlat`): the ADC
    * shortlist from the probed cells, then only those candidates' true
    * vectors re-scored exactly.
    */
  def ivfPqQueryRefined(
      index: IvfPqIndex,
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int = 100,
      nprobe: Int = 3): DataFrame = {
    val cand = ivfPqQuery(index, queries, idCol, vecCol, shortlist, nprobe)
      .select("qid", "nid")
    refineExact(corpus, queries, cand, idCol, vecCol, k)
  }

  /** The deterministic ±1/√outDim sign matrix for [[signProject]]:
    * entry (j, k) from the md5 of `salt|j|k` (first hex nibble < '8' →
    * +1). md5 so the matrix is reproducible in ANY engine; computed ONCE
    * driver-side — rows pay only the multiply-add.
    */
  def signProjectionMatrix(
      inDim: Int, outDim: Int, salt: String): Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDim, outDim) { (j, k) =>
      val h = mdt.digest(s"$salt|$j|$k".getBytes("UTF-8"))
      // first hex char < '8' ⇔ top bit of the first byte is 0
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
  }

  /** Sign random projection (Achlioptas/JL): compress `inDim`-dim
    * embeddings to `outDim` dims with a deterministic ±1 matrix, scaled
    * by 1/√outDim so inner products (and cosines, after the implied
    * norms) are preserved in expectation with O(1/√outDim) distortion —
    * the memory/bandwidth lever BEFORE the ANN index (768→64 dims is a
    * 12× smaller corpus for every downstream brute/LSH/IVF/PQ stage).
    *
    * Purely narrow: the matrix rides the plan as a literal, each row is
    * an `outDim × inDim` fused multiply-add, no shuffle, no fit step, no
    * state — re-running with the same salt reproduces the projection
    * bit-for-bit on any cluster shape (the fold order is fixed
    * ascending-j, so the doubles are deterministic too).
    */
  def signProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDim: Int,
      salt: String = ""): DataFrame = {
    val inDim = df.select(size(col(vecCol)).as("d")).head().getInt(0)
    val m = typedLit(signProjectionMatrix(inDim, outDim, salt))
    val scale = math.sqrt(outDim.toDouble)
    val proj = transform(sequence(lit(0), lit(outDim - 1)), k =>
      aggregate(sequence(lit(0), lit(inDim - 1)), lit(0.0),
        (acc, j) => acc +
          element_at(col(vecCol), j + 1).cast("double") *
            element_at(element_at(m, j + 1), k + 1)) / scale)
    df.select(col(idCol), proj.as("proj"))
  }
}
