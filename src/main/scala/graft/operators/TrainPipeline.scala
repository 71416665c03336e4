package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators beyond the reference surface: context-
  * window chunking, deterministic stratified sampling, PII redaction,
  * token-budget sequence packing, and near-duplicate clustering
  * (connected components over candidate pairs). These are the steps an
  * LLM-corpus build runs after the klogs-style ingest/filter layer
  * (SURVEY.md §2.10 extension policy).
  *
  * Scale posture (100 TB):
  *  - chunk / sample / redact are narrow, per-row column expressions — no
  *    shuffle, pruned scans, whole-stage codegen;
  *  - packGreedy is one hash-partition shuffle on the group key plus an
  *    in-partition sorted streaming pass (O(1) state per partition);
  *  - connectedComponentsAuto is the dedup clustering entry point. It
  *    builds the canonical edge set once and counts it; at or below a
  *    size gate (2^20 edges) it finishes in ONE union-find task, so the
  *    number of driver-synced jobs does not depend on the graph. Above
  *    the gate it runs min-label propagation (connectedComponents: one
  *    shuffle join per round, rounds bounded by cluster diameter) for a
  *    round budget, then the alternating large-star/small-star rounds
  *    (O(log n) rounds, SoCC'14), finishing small as soon as the edge
  *    set fits under the gate.
  */
object TrainPipeline {

  /** Thrown by the connected-components variants on a `requireConvergence`
    * maxIter exit. A dedicated subtype (still an IllegalStateException for
    * existing callers) so [[connectedComponentsAuto]] can catch exactly
    * the non-convergence signal and not an unrelated failure from the
    * round's Spark jobs.
    */
  final class ConvergenceException(msg: String) extends IllegalStateException(msg)

  /** Explode each document into fixed-size character windows starting every
    * `stride` characters (the training context-window shape; `size` >
    * `stride` yields overlap). Empty texts produce no chunks. Narrow
    * operation: `explode(sequence(...))` then a substring per chunk — the
    * scan never shuffles and chunking parallelism equals scan parallelism.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive: $size/$stride")
    df.where(length(col(textCol)) > 0)
      .select(col(idCol),
        explode(sequence(lit(0L),
          floor((length(col(textCol)) - 1) / lit(stride)).cast(LongType)))
          .as("chunk_idx"),
        col(textCol))
      .select(col(idCol), col("chunk_idx"),
        col(textCol).substr(
          (col("chunk_idx") * stride + 1).cast(IntegerType),
          lit(size)).as("chunk"))
  }

  /** Token-bounded variant of [[chunk]]: windows of `sizeTokens`
    * whitespace tokens starting every `strideTokens` (what a real training
    * chunker counts — the char variant is the byte-budget fallback).
    * Tokenization preserves case; the per-row `filter` HOF is interpreted
    * but evaluates once per document (not per window), so it stays off the
    * per-pair hot path. Narrow, shuffle-free. Output: id, chunk_idx,
    * chunk (space-rejoined), n_tokens.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      sizeTokens: Int, strideTokens: Int): DataFrame = {
    require(sizeTokens > 0 && strideTokens > 0,
      s"size/stride must be positive: $sizeTokens/$strideTokens")
    df.select(col(idCol),
        filter(split(col(textCol), "\\s+"), x => x =!= "").as("tk"))
      .where(size(col("tk")) > 0)
      .select(col(idCol),
        explode(sequence(lit(0L),
          floor((size(col("tk")) - 1) / lit(strideTokens)).cast(LongType)))
          .as("chunk_idx"),
        col("tk"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", slice(col("tk"),
          (col("chunk_idx") * strideTokens + 1).cast(IntegerType),
          lit(sizeTokens))).as("chunk"),
        least(lit(sizeTokens.toLong),
          size(col("tk")) - col("chunk_idx") * strideTokens)
          .cast(LongType).as("n_tokens"))
  }

  /** Deterministic hash bucket in [0, 100) for stratified sampling: the
    * first 8 hex digits of md5(id) — stable across engines, runs, and
    * partitionings (unlike `rand()`), so a sample is reproducible and a
    * re-run adds/removes nothing. md5 is cross-engine canonical (DuckDB:
    * `('0x' || substr(md5(id::VARCHAR),1,8))::BIGINT % 100`).
    */
  def hashBucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType) % 100

  /** Keep each row iff its hash bucket falls under the row's percent rate
    * (0-100), e.g. `when(col("lang") === "en", 50).otherwise(10)` for
    * 50% English / 10% other. Pure per-row filter — no shuffle, and the
    * sample of a stratum is a fixed subset regardless of cluster layout.
    */
  def sampleStratified(df: DataFrame, idCol: String, ratePercent: Column): DataFrame =
    df.where(hashBucket(col(idCol)) < ratePercent)

  /** Deterministic fixed-size uniform sample: the `n` rows with the
    * smallest `md5(salt ‖ id)`. [[sampleStratified]] gives a reproducible
    * RATE; this gives a reproducible exact COUNT (eval slices, debug
    * corpora, "any 10k docs" fixtures), same cross-engine hash arithmetic.
    *
    * Scale shape: `orderBy(hash).limit(n)` plans as TakeOrderedAndProject —
    * each partition keeps its local n smallest, the driver merges — no
    * global sort shuffle, no full-data exchange. `n` must fit driver
    * memory, which a fixed-size sample does by definition.
    */
  def sampleUniformN(
      df: DataFrame, idCol: String, n: Int, salt: String = ""): DataFrame =
    df.orderBy(md5(concat(lit(salt), col(idCol).cast(StringType))),
        col(idCol))
      .limit(n)

  /** Survivor selection by QUALITY rather than min id: each near-dup
    * cluster keeps its highest-scoring member (ties → smallest id) — the
    * curation-grade variant of the min-id rule (when one copy of a
    * boilerplate-wrapped document is clean, keep the clean one).
    *
    * `clustered` = (idCol, clusterCol, scoreCol) rows. One map-side-
    * combined aggregation: the arg-max rides a `max(struct(score, -id))`
    * partial aggregate, so no per-cluster sort window and no second
    * shuffle — cheaper at scale than the row_number formulation the
    * oracle uses to state the same semantics.
    */
  def survivorsByQuality(
      clustered: DataFrame,
      idCol: String,
      clusterCol: String,
      scoreCol: String): DataFrame =
    clustered.groupBy(col(clusterCol))
      .agg(
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("nid"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col(clusterCol),
        (-col("best.nid")).cast("long").as(idCol),
        col("best.s").as(scoreCol), col("cluster_size"))

  /** Exact-size deterministic sample PER GROUP — [[sampleUniformN]]'s
    * grouped form (balanced eval slices: "500 docs per language", "1000
    * rows per day"), where the rate-based [[sampleStratified]] cannot hit
    * an exact count. Keeps each group's `n` smallest `md5(salt ‖ id)`;
    * same salt ⇒ same rows forever, new salt ⇒ fresh draw.
    *
    * One hash exchange on the group key feeding a rank window; Spark
    * inserts WindowGroupLimit before the exchange (rank ≤ n), so each
    * partition ships at most n candidate rows per group, not the group.
    */
  def sampleGroupN(
      df: DataFrame, groupCols: Seq[String], idCol: String, n: Int,
      salt: String = ""): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(md5(concat(lit(salt), col(idCol).cast(StringType))),
        col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= n)
      .drop("_rk")
  }

  /** Deterministic pseudo-random shard + within-shard position for a row:
    * the global-shuffle primitive of training-data export. Training wants
    * the corpus order decorrelated from its source order (crawl order,
    * dedup cluster order, …), reproducibly — `rand()` reshuffles on every
    * retry/backfill, so instead both the shard AND the within-shard order
    * come from `md5(salt ‖ id)`: shard = hash mod `numShards`, position =
    * rank of the full hex digest within the shard. Changing `salt` is a
    * fresh epoch-level reshuffle; re-running with the same salt is a no-op.
    *
    * One hash-partition exchange on `shard` + a per-shard sort — exactly
    * the shuffle the export write needs anyway, and with `numShards` sized
    * to the cluster (thousands at 100 TB) it parallelizes fully; the hash
    * key is uniform so there is no skew. Cross-engine canonical (DuckDB:
    * same md5/substr/mod arithmetic), so shard membership and order are
    * oracle-checkable.
    */
  def shuffleShards(
      df: DataFrame, idCol: String, numShards: Int,
      salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val digest = md5(concat(lit(salt), col(idCol).cast(StringType)))
    val shard = (conv(substring(digest, 1, 8), 16, 10)
      .cast(LongType) % numShards).cast(IntegerType)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shard", shard)
      .withColumn("shuffle_key", digest)
      .withColumn("pos", row_number().over(w).cast(LongType))
  }

  /** Export the deterministic shuffle as training shards: one directory
    * per shard (`partitionBy`), rows inside each file in shuffle order
    * (`sortWithinPartitions` on the same key the position ranks by —
    * readers that stream a shard file sequentially see the shuffled
    * order without any sort of their own).
    */
  def writeShards(
      df: DataFrame, idCol: String, numShards: Int, outDir: String,
      salt: String = ""): Unit =
    shuffleShards(df, idCol, numShards, salt)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shuffle_key"), col(idCol))
      .drop("shuffle_key")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Scrub common PII shapes from free text: emails, IPv4 addresses, and
    * long digit runs (phone/account numbers). Patterns are intentionally
    * RE2-compatible (no backreferences/lookaround) so the same regexes run
    * in DuckDB/Go-style engines for cross-checking.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val digits = "\\b[0-9]{7,}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      digits, "<NUM>")
  }

  /** Symmetric int8 embedding quantization — the standard ANN compression
    * step (4× memory over float32; at 100 TB of vectors the difference
    * between an in-memory and a spilled index). Per vector:
    * `scale = max|x| / 127`, `q_i = clamp(floor(x_i/scale + 0.5), ±127)`.
    * `floor(x + 0.5)` — not `round()` — so Spark and the SQL oracle share
    * one deterministic tie rule. Emits the quantized vector, its scale,
    * and the cosine fidelity cos(v, q) — equal to cos(v, dequantized)
    * since dequantization is a positive scalar multiple. All-zero vectors
    * quantize to zeros with scale 0 and null fidelity.
    *
    * Narrow per-row expressions only: no shuffle, stays in whole-stage
    * codegen, scales linearly with input splits.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.expressions.VectorExprs.register(emb.sparkSession)
    val scaled = emb
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0d))
    scaled
      .withColumn("q",
        when(col("scale") === 0.0d,
          transform(col("v"), _ => lit(0).cast(IntegerType)))
        .otherwise(transform(col("v"), x =>
          greatest(lit(-127.0d), least(lit(127.0d),
            floor(x / col("scale") + lit(0.5d)))).cast(IntegerType))))
      .select(col("id"),
        graft.functions.Rounding.r(col("scale"), 6).as("scale"),
        col("q"),
        when(col("scale") === 0.0d, lit(null).cast(DoubleType))
          .otherwise(graft.functions.Rounding.r4(
            graft.expressions.VectorExprs.cosine(col("v"),
              transform(col("q"), _.cast(DoubleType)))))
          .as("cos_fidelity"))
  }

  /** Greedy sequence packing: within each group, walk items in `idCol`
    * order and assign consecutive bin ids, opening a new bin whenever
    * adding the item would exceed `budget` (items above `budget` get a bin
    * of their own). This is the first-fit-in-order packing training
    * pipelines use to fill context windows without reordering documents.
    *
    * Implementation is ONE hash shuffle on the group key followed by a
    * sorted streaming pass per partition: `repartition(group)` co-locates
    * each group, `sortWithinPartitions(group, id)` orders it, and the
    * `mapPartitions` walker keeps O(1) state (current group, bin, fill) —
    * no per-group materialization, so a group larger than memory still
    * packs. Output: group, id, weight, bin.
    */
  def packGreedy(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    // null id/weight rows are dropped rather than crashing the partition
    // walker (getLong on null throws an opaque NPE mid-stage); a null
    // GROUP is a legitimate stratum and packs normally
    val in = df.select(
        col(groupCol).cast(StringType).as("grp"),
        col(idCol).cast(LongType).as("id"),
        col(weightCol).cast(LongType).as("w"))
      .where(col("id").isNotNull && col("w").isNotNull)
    val outSchema = StructType(Seq(
      StructField("grp", StringType), StructField("id", LongType),
      StructField("w", LongType), StructField("bin", LongType)))
    val packed = in.repartition(col("grp"))
      .sortWithinPartitions(col("grp"), col("id"))
      .mapPartitions { rows =>
        // explicit first-row flag: a null sentinel for "no group yet" would
        // conflate partition start with the legitimate null group — its
        // first row would take the continuation branch and, when oversized,
        // open bin 1 instead of bin 0, shifting the whole group's numbering
        var first = true
        var grp: String = null
        var bin = 0L
        var fill = 0L
        rows.map { r =>
          val g = r.getString(0); val id = r.getLong(1); val w = r.getLong(2)
          if (first || g != grp) { first = false; grp = g; bin = 0L; fill = w }
          else if (fill + w <= budget) { fill += w }
          else { bin += 1L; fill = w }
          Row(g, id, w, bin)
        }
      }(Encoders.row(outSchema))
    packed.toDF("grp", "id", "w", "bin")
  }

  /** Weighted corpus mixing: each row is emitted `floor(weight/100)` times
    * plus one more when its deterministic [[hashBucket]] falls under
    * `weight % 100` — so weight 250 ≈ 2.5× upsampling, weight 40 ≈ 0.4×
    * downsampling, per row, reproducibly (same id → same copy count on
    * every run and partitioning). This is the domain-weighting step of a
    * training mix (e.g. upsample wiki, downsample crawl). Narrow:
    * `explode(sequence(...))` at scan parallelism, no shuffle. Output adds
    * a `copy` index (0-based) so downstream shuffles can spread replicas.
    */
  def interleaveMix(df: DataFrame, idCol: String, weightPercent: Column): DataFrame = {
    // withColumn REPLACES same-named columns — a pre-existing `copy` (a
    // plausible provenance field name) would be silently lost. Fail fast.
    Seq("copy", "graft_copies").foreach { reserved =>
      require(!df.columns.contains(reserved),
        s"interleaveMix adds a `$reserved` column; input already has one — rename it first")
    }
    val copies = (weightPercent.cast(LongType) / 100L).cast(LongType) +
      when(hashBucket(col(idCol)) < weightPercent.cast(LongType) % 100L, 1L)
        .otherwise(0L)
    df.withColumn("graft_copies", copies)
      .where(col("graft_copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("graft_copies") - 1)))
      .drop("graft_copies")
  }

  /** Connected components over an undirected candidate-pair graph (the
    * dedup step after minhash/simhash banding: pairs → clusters → keep one
    * doc per cluster). Returns (node, cluster) where cluster is the
    * minimum node id reachable from the node — the unique, deterministic
    * fixpoint of min-label propagation.
    *
    * Each round propagates labels across edges (one shuffle join + one
    * map-side-combined min aggregate) and stops when no label changed.
    * Rounds are bounded by component diameter, and each driver sync
    * (checkpoint + convergence probe) costs a fixed number of jobs however
    * small the graph. This is the pinned label-propagation formulation:
    * [[connectedComponentsAuto]] runs it as its first phase above the
    * size gate. Dedup clustering goes through the auto variant, which
    * finishes small graphs in one union-find task and falls back to
    * [[connectedComponentsAlternating]] (O(log n) rounds) on deep ones.
    *
    * Hitting `maxIter` before the fixpoint means labels are only partially
    * propagated — a component with diameter > maxIter comes back as split
    * clusters, which for dedup means surviving duplicates. That never
    * happens silently: the non-converged exit logs a warning, and
    * `requireConvergence = true` turns it into an IllegalStateException for
    * pipelines where split clusters are unacceptable.
    */
  def connectedComponents(nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, requireConvergence: Boolean = false): DataFrame = {
    val nodeSet = nodes.select(col(nodeCol).as("node")).distinct()
    // undirected: propagate both ways. Edges touching an endpoint OUTSIDE
    // the node universe are dropped up front — the label-sum convergence
    // probe below relies on a fixed node population (a foreign endpoint
    // appearing in round 1 would make the sum non-monotone, and components
    // are defined over `nodes` anyway).
    val bidir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()
    // Lineage is TRUNCATED every round (eager localCheckpoint): with plain
    // persist, round N's logical plan nests rounds 1..N-1 and Catalyst
    // re-analysis cost explodes with depth — a diameter-10 chain took
    // minutes in plan time while executing milliseconds of work. Constant
    // plan depth keeps each round O(data), and the returned frame never
    // re-runs the iteration chain. At multi-node scale swap localCheckpoint
    // for checkpoint() on a fault-tolerant dir (executor loss invalidates
    // local checkpoints); the round structure is unchanged.
    // (Measured, r14: pre-partitioning e by src / labels by node before
    // the checkpoints does NOT survive the checkpoint boundary under AQE —
    // the rounds re-exchange regardless — so the two extra setup exchanges
    // were pure cost and are not done.)
    // SELF-LOOPS ride the edge table: with (v, v) present for every node,
    // a propagation round is join + min-aggregate ONLY — the old
    // `union(labels)` branch (which existed to keep each node's own label
    // in play) is exactly what the self-loop join rows reproduce, so each
    // round's plan drops an operator and scans `labels` once instead of
    // twice. Labels per round are identical either way (min over the same
    // multiset).
    // LAZY setup checkpoints: e materializes inside the first sync's own
    // action and labels inside the initial labelSum below — the eager form
    // paid one extra driver-synced job per frame for nothing (r15, §5).
    val e = bidir
      .join(nodeSet.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(nodeSet.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .union(nodeSet.select(col("node").as("src"), col("node").as("dst")))
      .localCheckpoint(false)
    var labels = nodes.select(col(nodeCol).as("node"), col(nodeCol).as("label"))
      .localCheckpoint(false)
    // convergence probe: per-node labels only ever decrease, so the label
    // sum is strictly monotone until the fixpoint — one map-side-combined
    // aggregate per round instead of a join-diff. Decimal dodges overflow
    // on billions of wide ids.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // FOUR propagation rounds per materialization + probe (bounded by the
      // remaining round budget — maxIter still counts ROUNDS, so a
      // maxIter=1 caller gets exactly one round). Each driver sync
      // (checkpoint + labelSum action) costs a fixed number of jobs
      // whatever the data size; fusing rounds divides those syncs while
      // shuffling the same bytes. Convergence detection stays EXACT for
      // any fusion width: labels are pointwise non-increasing, so an
      // unchanged sum across a fused step forces every half-round in it
      // unchanged — the fixpoint test cannot false-positive, it is at
      // worst confirmed k−1 cheap no-op rounds later. Width 4 measured
      // best on the bench's shallow dedup graphs (r15: 2 syncs instead of
      // 3 for a diameter-≤3 component; jobs/query −30%); deeper fusion
      // pays more wasted no-op rounds past the fixpoint than it saves in
      // syncs once the diameter is below the width.
      val rounds = math.min(4, maxIter - iter)
      // LAZY localCheckpoint: the labelSum probe right below is the step's
      // one action and materializes the checkpoint as it runs — an eager
      // checkpoint would execute the step twice (materialize + probe)
      var prop = labels
      (1 to rounds).foreach { _ =>
        prop = prop.join(e, col("node") === col("src"))
          .select(col("dst").as("node"), col("label"))
          .groupBy("node").agg(min("label").as("label"))
      }
      prop = prop.localCheckpoint(false)
      val s = labelSum(prop)
      labels = prop
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += rounds
    }
    if (!converged) {
      val msg = s"connectedComponents exited at maxIter=$maxIter before the " +
        "fixpoint: labels are partially propagated and components with " +
        s"diameter > $maxIter are split into multiple clusters (for dedup: " +
        "duplicates survive). Raise maxIter or shrink component diameter."
      if (requireConvergence) throw new ConvergenceException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct word n-grams with any benchmark (eval-set)
    * document — the standard pre-training hygiene step that keeps test
    * data out of the training mix. Returns (doc, bench, overlap) per
    * contaminated pair; documents shorter than n tokens cannot overlap
    * and are dropped on both sides.
    *
    * Scale shape: the benchmark side is SMALL by nature (an eval suite)
    * and is broadcast, so the corpus is one narrow scan + map-side
    * shingle explode; the only shuffle is the map-side-combined
    * (doc, bench) overlap count. Each exploded row carries (id, shingle)
    * only — never the document text. `maxBenchDf` bounds the per-shingle
    * join fan-out for 100 TB corpora (see the in-body note).
    */
  def decontaminate(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, minOverlap: Int = 5,
      maxBenchDf: Int = Int.MaxValue): DataFrame = {
    require(n >= 1 && minOverlap >= 1,
      s"n/minOverlap must be positive: $n/$minOverlap")
    graft.expressions.GraftFunctions.registerAll(corpus.sparkSession)
    val benchSh = benchShingles(bench, idCol, textCol, n, maxBenchDf)
    // distinct shingles on both sides ⇒ one joined row per SHARED shingle
    // per pair, so count(*) == |intersection|
    shingledDocs(corpus, idCol, textCol, n, "doc").join(broadcast(benchSh), "sh")
      .groupBy("doc", "bench").agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** Per-doc distinct word n-grams, one row per (id, shingle). */
  private def shingledDocs(
      df: DataFrame, idCol: String, textCol: String, n: Int, out: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    df.where(size(TF.tokens(col(textCol))) >= n)
      .select(col(idCol).as(out),
        explode(array_distinct(TF.shingles(col(textCol), n))).as("sh"))
  }

  /** Benchmark-side shingles with the df fan-out cap.
    *
    * Scale knob: a shingle appearing in more than maxBenchDf benchmark
    * docs is boilerplate ("in order to") — each corpus occurrence fans
    * out to every bench doc carrying it, and at corpus scale that
    * multiplication dominates the join. Dropping high-df shingles on the
    * (small-relative-to-corpus) bench side bounds the fan-out; real
    * contamination shows in the distinctive n-grams that survive.
    */
  private def benchShingles(
      bench: DataFrame, idCol: String, textCol: String,
      n: Int, maxBenchDf: Int): DataFrame = {
    val all = shingledDocs(bench, idCol, textCol, n, "bench")
    if (maxBenchDf == Int.MaxValue) all
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
      all.withColumn("_df", count(lit(1)).over(w))
        .where(col("_df") <= maxBenchDf).drop("_df")
    }
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the variant for
    * benchmark suites whose shingle SET is too large to broadcast as
    * strings. Same output contract (exact overlap counts; Bloom false
    * positives are eliminated by the verify join), different data
    * movement:
    *
    *   1. one pass over bench shingles builds an `fpp` Bloom filter over
    *      `xxhash64(shingle)` (bits, not strings — ~1.2 MB/M shingles at
    *      1%, broadcastable where the string set is not);
    *   2. the corpus-side shingle explode is filtered MAP-SIDE through
    *      [[graft.expressions.SketchExprs.bloomContains]] (codegen'd, one
    *      hash + bit-test per shingle), so only true matches plus an fpp
    *      fraction of the corpus ever reach the join;
    *   3. the exact verify join runs UNHINTED over the survivors — AQE
    *      broadcasts a small bench side and shuffle-joins a big one, and
    *      either way its input is orders of magnitude below
    *      [[decontaminate]]'s full corpus-shingle stream.
    *
    * Sizing + build cost at most two bench-side passes (one with an
    * `expectedShingles` hint) — the side that is small relative to the
    * corpus by construction; at 100 TB the corpus-side shuffle they avoid
    * dominates both. Neither pass shuffles: sizing is a tokenize-only
    * instance-count upper bound (no shingle strings, no distinct
    * sketch — oversizing only lowers the realized fpp), the build a
    * treeAggregate.
    */
  def decontaminateBloom(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, minOverlap: Int = 5,
      fpp: Double = 0.01,
      maxBenchDf: Int = Int.MaxValue,
      expectedShingles: Long = -1L): DataFrame = {
    require(n >= 1 && minOverlap >= 1,
      s"n/minOverlap must be positive: $n/$minOverlap")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    graft.expressions.GraftFunctions.registerAll(corpus.sparkSession)
    import graft.expressions.SketchExprs
    val benchSh = benchShingles(bench, idCol, textCol, n, maxBenchDf)
    // Bloom insertion is idempotent, so the build runs over the RAW
    // (id, shingle) stream — no distinct shuffle. Sizing: a caller hint
    // (a benchmark suite's shingle count is typically known), else ONE
    // tokenize-only pass summing per-doc shingle INSTANCES (|tokens|−n+1)
    // — an upper bound on the distinct count that needs no shingle
    // strings, no explode, no distinct sketch (measured r14: the old
    // approx_count_distinct sizing pass rebuilt and deduplicated every
    // bench shingle just to pick a size). Overestimating only wastes
    // bloom bits — fpp can only come out LOWER — and the exact verify
    // join makes the result row set independent of the size either way.
    import graft.functions.{TextFunctions => STF}
    val expected = math.max(64L,
      if (expectedShingles > 0) expectedShingles
      else bench
        .select(greatest(lit(0),
          size(STF.tokens(col(textCol))) - (n - 1)).cast("long").as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)))
        .head().getLong(0))
    val bloom = benchSh.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", expected, fpp)
    val bloomBytes = SketchExprs.serialize(bloom)
    val survivors = shingledDocs(corpus, idCol, textCol, n, "doc")
      .where(SketchExprs.bloomContains(bloomBytes, col("sh")))
    survivors.join(benchSh, "sh")
      .groupBy("doc", "bench").agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** [[connectedComponents]] via the alternating large-star/small-star
    * formulation (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the adversarial-chain path: rounds scale with
    * O(log n) instead of component DIAMETER, so a diameter-10⁶ chain
    * converges in ~20 rounds where label propagation needs 10⁶. Same
    * signature and output contract as the simple variant (node → minimum
    * reachable id); each round is two groupBy-min shuffles plus the
    * convergence probe, all on (long, long) pairs.
    *
    *  - large-star: every node u links its LARGER neighbors to
    *    m = min(Γ(u) ∪ {u}) — long chains contract toward small ids;
    *  - small-star: with edges held canonical (big → small), every node
    *    links its smaller neighbors and itself to m — stars flatten.
    *
    * At the fixpoint the edge set is exactly {(v, center)} stars, so the
    * label join is a single lookup. Convergence = edge set unchanged,
    * checked with count + one anti-join (both sides are distinct sets).
    */
  def connectedComponentsAlternating(nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, requireConvergence: Boolean = false): DataFrame = {
    // LAZY setup checkpoints (see the simple variant): nodeSet and e
    // materialize inside the count's job below instead of paying two extra
    // driver-synced setup jobs (r15, §5).
    val nodeSet = nodeUniverse(nodes, nodeCol)
    val e = canonicalEdges(nodeSet, edges, srcCol, dstCol)
    alternatingRounds(nodeSet, e, e.count(), maxIter, requireConvergence,
      smallGate = -1L)
  }

  /** The distinct node ids as column `node`, lazily checkpointed. */
  private def nodeUniverse(nodes: DataFrame, nodeCol: String): DataFrame =
    nodes.select(col(nodeCol).as("node")).distinct().localCheckpoint(false)

  /** The universe rule every formulation shares, as a canonical edge set
    * (u, v): edges with an endpoint outside `nodeSet` dropped, oriented
    * big→small (u > v), self-loops and duplicates removed. Lazily
    * checkpointed: the caller's count materializes it.
    */
  private def canonicalEdges(nodeSet: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .join(nodeSet.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(nodeSet.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)

  /** Large-star/small-star rounds from the canonical edge set `e0` holding
    * `count0` edges. A round whose edge count is at most `smallGate` hands
    * its edge set to [[finishSmall]] instead of probing convergence (pass
    * −1 to never finish small).
    */
  private def alternatingRounds(nodeSet: DataFrame, e0: DataFrame, count0: Long,
      maxIter: Int, requireConvergence: Boolean, smallGate: Long): DataFrame = {
    def largeStar(cur: DataFrame): DataFrame = {
      val nbrs = cur.select(col("u").as("x"), col("v").as("y"))
        .union(cur.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy("x")
        .agg(min("y").as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      // emit (y, m) for y > x: y > x >= m, so the pair is already canonical.
      // NO trailing distinct: the only consumer is smallStar, whose own
      // trailing distinct restores set semantics (its groupBy-min and join
      // are duplicate-insensitive), so the exchange a distinct would cost
      // here is pure overhead — one fewer shuffle per round (r15, §2.4).
      nbrs.join(mins, "x").where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }

    def smallStar(cur: DataFrame): DataFrame = {
      // canonical edges mean v ≤ u already: Γ≤(u) = {v}, m = min of them
      val mins = cur.groupBy("u").agg(min("v").as("m"))
      cur.join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .union(mins.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct()
    }

    var e = e0
    var eCount = count0
    var small = false
    var converged = false
    var iter = 0
    while (!small && !converged && iter < maxIter) {
      // lazy checkpoint: the count below materializes it (see the simple
      // variant's loop for rationale)
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextCount = next.count()
      // a round that fits under the gate skips the convergence probe: the
      // union-find resolves whatever contraction is left exactly.
      // Otherwise, distinct sets: equal counts + empty one-sided
      // difference = equality; the previous round's count is carried, not
      // recomputed
      small = nextCount <= smallGate
      converged = !small && nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      iter += 1
    }
    if (small) finishSmall(nodeSet, e)
    else {
      if (!converged) {
        val msg = s"connectedComponentsAlternating exited at maxIter=$maxIter " +
          "before the edge-set fixpoint; components may be split."
        if (requireConvergence) throw new ConvergenceException(msg)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      val centers = e.groupBy("u").agg(min("v").as("cluster"))
      nodeSet.join(centers, col("node") === col("u"), "left")
        .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
    }
  }

  /** Canonical-edge count at or below which [[connectedComponentsAuto]]
    * resolves components in one union-find task. The task holds the
    * endpoints of every edge (2 × 8 B), the sorted distinct ids (at most
    * 2 ids per edge × 8 B) and an int parent per id (4 B): about 40 B per
    * edge, so 2^20 edges keep one task's arrays near 40 MB, well inside
    * an executor's heap. The gate is on rows, never on the input's scale:
    * a graph that does not shrink under it keeps the distributed rounds.
    */
  private val SmallEdgeGate: Long = 1L << 20

  /** Connected components with a size gate and a diameter guard. The
    * canonical edge set (foreign endpoints dropped, big→small, no
    * self-loops or duplicates) is built and counted once.
    *
    *  - At most [[SmallEdgeGate]] edges (2^20, about 40 MB of primitive
    *    arrays in one task): the edges go to ONE reduce partition and a
    *    union-find resolves every component there; the result stays on the
    *    executors and is left-joined back to the node set. The number of
    *    driver-synced jobs is then the same for every graph — no rounds,
    *    no convergence probes (the finish-small hybrid of Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC'14).
    *  - Above the gate: min-label propagation for up to `diameterBudget`
    *    rounds — near-dup graphs are shallow in practice and the simple
    *    round is the cheaper plan — then, if the fixpoint has not arrived,
    *    a restart on the alternating large-star/small-star rounds, whose
    *    count scales O(log n) with component SIZE rather than diameter.
    *    Each alternating round re-checks the gate at the edge count it
    *    already takes, and finishes small once the edge set fits.
    *
    * Every path returns the same (node, cluster = minimum reachable id)
    * rows: the union-find roots each component at its minimum id, so the
    * result does not depend on edge order or task retries. The small path
    * covers integral id types (the ones every caller passes); other id
    * types always take the distributed rounds. `maxIter` and
    * `requireConvergence` apply to the alternating rounds; the small path
    * is exact and always converges. This is the production entry point for
    * dedup clustering, and oracle row dedup_cluster calls it: at fixture
    * size that row finishes in the one union-find task. The two
    * distributed variants stay public for callers that pin a formulation:
    * oracle row dedup_cluster_altcc pins the alternating rounds, and
    * TrainPipelineSpec pins label propagation.
    */
  def connectedComponentsAuto(nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      diameterBudget: Int = 8, maxIter: Int = 30,
      requireConvergence: Boolean = false): DataFrame =
    connectedComponentsGated(nodes, nodeCol, edges, srcCol, dstCol,
      diameterBudget, maxIter, requireConvergence, SmallEdgeGate)

  /** [[connectedComponentsAuto]] with the size gate as an argument, so
    * specs can force the distributed rounds (0) or a gate that only a
    * contracted round fits under.
    */
  private[graft] def connectedComponentsGated(nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      diameterBudget: Int, maxIter: Int, requireConvergence: Boolean,
      smallGate: Long): DataFrame = {
    val nodeSet = nodeUniverse(nodes, nodeCol)
    val e = canonicalEdges(nodeSet, edges, srcCol, dstCol)
    val gate = nodeSet.schema("node").dataType match {
      case ByteType | ShortType | IntegerType | LongType => smallGate
      case _ => -1L
    }
    val eCount = e.count()
    if (eCount <= gate) finishSmall(nodeSet, e)
    else try connectedComponents(nodeSet, "node", e, "u", "v",
      maxIter = diameterBudget, requireConvergence = true)
    catch {
      case ex: ConvergenceException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"diameter guard tripped after $diameterBudget label-propagation " +
            s"rounds; switching to the alternating O(log n) formulation: " +
            ex.getMessage)
        alternatingRounds(nodeSet, e, eCount, maxIter, requireConvergence, gate)
    }
  }

  /** Components of the canonical edge set `e` (integral u, v) resolved by
    * one union-find in a single reduce partition, left-joined back to
    * `nodeSet` so nodes without edges keep their own id. The roots never
    * reach the driver.
    */
  private def finishSmall(nodeSet: DataFrame, e: DataFrame): DataFrame = {
    val idType = nodeSet.schema("node").dataType
    val pair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val roots = e.select(col("u").cast(LongType), col("v").cast(LongType)).as(pair)
      .repartition(1)
      .mapPartitions(unionFindMinRoots)(pair)
      .toDF("node", "root")
      .select(col("node").cast(idType).as("node"), col("root").cast(idType).as("root"))
    nodeSet.join(roots, Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster"))
  }

  /** Union-find over one partition's edges on primitive arrays: ids are
    * sorted and deduplicated, so an id's index orders like the id, and
    * linking the larger root under the smaller makes every root its
    * component's minimum id whatever the edge order. Emits (id, root) for
    * every id that appears in an edge.
    */
  private def unionFindMinRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val us = new scala.collection.mutable.ArrayBuilder.ofLong
    val vs = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { case (u, v) => us += u; vs += v }
    val a = us.result()
    val b = vs.result()
    val all = new Array[Long](a.length + b.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < a.length) {
      val ra = find(java.util.Arrays.binarySearch(all, 0, n, a(i)))
      val rb = find(java.util.Arrays.binarySearch(all, 0, n, b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    Iterator.range(0, n).map(k => (all(k), all(find(k))))
  }
}
