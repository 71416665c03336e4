package graft.operators

import graft.expressions.{SketchExprs, VectorExprs}
import graft.functions.{Rounding, TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for the training-data pipeline surface: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is banded/bucketed so candidate generation is
  * a hash-partitioned equi-join on (band, signature) — never an all-pairs
  * product. At 100 TB the only shuffles are (1) the band-key exchange whose
  * fan-in is bounded by bucket size and (2) the final pair verification,
  * which touches candidate pairs only.
  *
  * The banding core is shared: [[selfJoin]] is every family's candidate
  * join, [[minhashBands]] + [[verifyPairs]] are the MinHash arithmetic of
  * both [[minhashPairs]] and [[graft.model.DedupIndex]], and
  * [[hyperplaneBands]] keys both [[embeddingCosinePairs]] and
  * [[Similarity.lshTopK]].
  */
object Dedup {

  /** Exact dedup with a deterministic survivor: group by `keys`, keep the
    * minimum `idCol`. Map-side partial aggregation makes this one shuffle
    * of (keys → min id), not a data-wide sort.
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** MinHash signature column: for each of `numHashes` seeded xxhash64
    * families take the min over the document's shingle set. Uses the native
    * [[graft.expressions.MinHashSignature]] expression (fused loop);
    * signature computation is embarrassingly parallel.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    SketchExprs.minhash(shingleCol, numHashes)

  /** The candidate self-join of a banded frame: rows sharing `keys`, each
    * unordered pair once (`l.<id> < r.<id>`); callers read the `l.` and
    * `r.` columns. Aliased self-join (not two renamed projections) with a
    * shuffle hint on both sides: the build side is the whole banded corpus,
    * so Spark's stats-based broadcast pick at small SF cannot survive
    * scale, and with both sides shuffled the branches canonicalize
    * identically, so AQE reuses one exchange for both (the band rows are
    * computed and shuffled once).
    */
  private[graft] def selfJoin(banded: DataFrame, keys: Seq[String], id: String = "id")
    : DataFrame =
    banded.as("l").hint("shuffle_merge")
      .join(banded.as("r").hint("shuffle_merge"), keys)
      .where(col(s"l.$id") < col(s"r.$id"))

  /** MinHash LSH band rows `(id, band, bandhash)` of `(id, sh)` shingle
    * sets: the `bands * rowsPerBand` signature sliced into `bands` runs of
    * `rowsPerBand`, each run hashed seeded by its index. The persisted
    * [[graft.model.DedupIndex]] `bands` table holds these values, so the
    * arithmetic is a data format.
    */
  private[graft] def minhashBands(shingles: DataFrame, bands: Int, rowsPerBand: Int)
    : DataFrame =
    shingles.withColumn("sig", minhashSignature(col("sh"), bands * rowsPerBand))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(array_join(transform(
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast(StringType)), ","), b)))
          .as(Seq("band", "bandhash")))

  /** Exact-Jaccard verification of `(id_a, id_b)` candidate pairs against
    * `sets`, one `(id, setCol)` row per id; the set elements may be of any
    * type. With `broadcastCandidates` the candidate-derived side is
    * broadcast into BOTH lookups, so a corpus-sized `sets` is never
    * shuffled — the broadcast payload is bounded by the candidate count
    * times one set.
    */
  private[graft] def verifyPairs(
      candidates: DataFrame, sets: DataFrame, setCol: String, threshold: Double,
      broadcastCandidates: Boolean = false): DataFrame = {
    val bc: DataFrame => DataFrame =
      if (broadcastCandidates) broadcast else identity
    bc(bc(candidates)
      .join(sets.select(col("id").as("id_a"), col(setCol).as("sh_a")), "id_a"))
      .join(sets.select(col("id").as("id_b"), col(setCol).as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash near-dup pairs of [[minhashBands]] rows: the distinct pairs
    * sharing a band key, verified against `sets` ([[verifyPairs]], once per
    * pair). The band self-join carries ids only — (id, 8 bytes) rows cross
    * the shuffle, not sets.
    */
  private[graft] def minhashBandPairs(
      banded: DataFrame, sets: DataFrame, setCol: String, threshold: Double): DataFrame =
    verifyPairs(
      selfJoin(banded, Seq("band", "bandhash"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct(),
      sets, setCol, threshold)

  /** MinHash+LSH candidate pairs over `documents(idCol, textCol)`:
    * shingle → minhash signature → band hashes → equi-self-join per band →
    * exact-Jaccard verification on the shingle sets.
    *
    * bands*rowsPerBand = numHashes; the usual S-curve threshold is
    * (1/bands)^(1/rowsPerBand).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5): DataFrame = {
    SketchExprs.register(docs.sparkSession)
    val withSh = docs
      .select(col(idCol).as("id"),
        array_distinct(TF.shingles(col(textCol), shingleN)).as("sh"))
    minhashBandPairs(minhashBands(withSh, bands, rowsPerBand), withSh, "sh", jaccardThreshold)
  }

  /** 64-bit SimHash of a token multiset: per bit, sum +1/-1 weighted by
    * token-hash bit, take the sign. Near-duplicate docs differ in few bits.
    * Native fused-loop expression ([[graft.expressions.SimHash]]).
    */
  def simhash(textCol: Column): Column =
    SketchExprs.simhash(TF.tokens(textCol))

  /** SimHash near-dup pairs: band the 64-bit fingerprint into
    * `maxHamming + 1` chunks (pigeonhole: a pair differing in ≤ maxHamming
    * bits cannot differ in every one of maxHamming+1 disjoint chunks, so it
    * shares at least one exact chunk), equi-join per chunk, verify Hamming
    * distance. Band count DERIVES from the query threshold — a fixed band
    * count silently drops pairs beyond its own guarantee.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    SketchExprs.register(docs.sparkSession)
    val withFp = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    simhashPairsFromFingerprints(withFp, maxHamming)
  }

  /** Banded candidate generation + verification over precomputed (id, fp)
    * fingerprints — split out so recall can be property-tested on planted
    * fingerprints at exact Hamming distances. The one-word case of
    * [[simhashPairsFromWideFingerprints]].
    */
  def simhashPairsFromFingerprints(withFp: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsFromWideFingerprints(
      withFp.select(col("id"), array(col("fp")).as("fp")), maxHamming, words = 1)

  /** SimHash near-dup pairs over a WIDE (words×64-bit) fingerprint — the
    * scale path for radii beyond a few bits. Banding needs maxHamming+1
    * disjoint chunks; over a single 64-bit word a radius-12 query leaves
    * ~5-bit chunks whose buckets collide for 1/32 of ALL pairs per band
    * (quadratic candidate blowup). Doubling the fingerprint to 128 bits
    * doubles chunk width to ~10 bits — 32× fewer spurious candidates — at
    * the cost of one extra hash per token at sketch time. Precision is
    * unaffected either way: candidates are verified against the exact
    * Hamming distance of the full fingerprint.
    */
  def simhashPairsWide(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      words: Int = 2): DataFrame = {
    SketchExprs.register(docs.sparkSession)
    val withFp = docs.select(col(idCol).as("id"),
      SketchExprs.simhashWide(TF.tokens(col(textCol)), words).as("fp"))
    simhashPairsFromWideFingerprints(withFp, maxHamming, words)
  }

  /** Chunk placement for the wide-fingerprint banding: maxHamming+1 chunks
    * spread across `words` 64-bit words, each word's chunks tiling its 64
    * bits with widths differing by at most one. Pure index arithmetic,
    * split out so the pigeonhole invariants (disjoint, covering, balanced)
    * can be property-tested directly. Returns (wordIdx, bitOffset, width)
    * per band.
    */
  private[graft] def wideChunkLayout(
      maxHamming: Int, words: Int): Seq[(Int, Int, Int)] = {
    require(words >= 1, s"words must be >= 1, got $words")
    require(maxHamming >= 0 && maxHamming < 64 * words,
      s"maxHamming must be in [0, ${64 * words}), got $maxHamming")
    val nBands = maxHamming + 1
    val perWord = {
      val base = nBands / words
      val rem = nBands % words
      (0 until words).map(w => base + (if (w < rem) 1 else 0))
    }
    perWord.zipWithIndex.flatMap { case (c, w) =>
      val base = if (c > 0) 64 / c else 0
      val rem = if (c > 0) 64 % c else 0
      (0 until c).map { i =>
        val width = if (i < rem) base + 1 else base
        val offset = i * base + math.min(i, rem)
        (w, offset, width)
      }
    }
  }

  /** Banded candidates + exact verification over precomputed wide
    * fingerprints (`fp ARRAY<BIGINT>` of length `words`). The maxHamming+1
    * chunks are distributed across the words; disjointness alone gives the
    * pigeonhole recall guarantee (a pair within radius maxHamming cannot
    * differ in every one of maxHamming+1 disjoint chunks).
    */
  def simhashPairsFromWideFingerprints(
      withFp: DataFrame, maxHamming: Int, words: Int): DataFrame = {
    val chunks: Seq[Column] = wideChunkLayout(maxHamming, words).map {
      case (w, offset, width) =>
        val word = element_at(col("fp"), w + 1)
        // Java shifts are mod 64: (1L << 64) - 1 would be 0, collapsing
        // every chunk to one bucket (an all-pairs cross join) at maxHamming = 0
        val mask = if (width >= 64) -1L else (1L << width) - 1
        call_function("shiftright", word, lit(offset)).bitwiseAND(lit(mask))
    }
    val banded = withFp.select(col("id"), col("fp"),
      posexplode(array(chunks: _*)).as(Seq("band", "chunk")))
    val ham = (0 until words).map(w =>
        VF.hamming(element_at(col("l.fp"), w + 1), element_at(col("r.fp"), w + 1)))
      .reduce(_ + _)
    // Verify BEFORE the dedup shuffle: the Hamming check is a map-side
    // xor/bit_count over the joined pair, so only QUALIFYING collisions
    // (≤ bands copies of each true pair) reach the exchange — correlated
    // fingerprints make buckets skewed, and shuffling every spurious
    // collision through the groupBy would dominate the query
    selfJoin(banded, Seq("band", "chunk"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), ham.as("hamming"))
      .where(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs produced by a
    * bounded self-join (`idFilter` bounds the verified set — at scale the
    * candidates come from [[minhashPairs]]/[[simhashPairs]] instead of a
    * product).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxId: Long): DataFrame = {
    val d = docs
      .where(col(idCol) < maxId)
      .select(col(idCol).as("id"),
        array_distinct(TF.shingles(col(textCol), n)).as("sh"))
    val l = d.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = d.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.crossJoin(r)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Rounding.r4(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Random-hyperplane LSH band rows of a `sketchBits`-bit sketch: a
    * generator of (band, chunk) over `bands` disjoint runs of
    * `sketchBits / bands` bits.
    */
  private[graft] def hyperplaneBands(sketch: Column, sketchBits: Int, bands: Int): Column = {
    require(bands >= 1 && sketchBits >= bands && sketchBits % bands == 0,
      s"sketchBits must be a positive multiple of bands, got $sketchBits/$bands" +
        " (a remainder would silently ignore the top sketch bits)")
    val bitsPerBand = sketchBits / bands
    val mask = (1L << bitsPerBand) - 1
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => call_function("shiftright", sketch, b * bitsPerBand).bitwiseAND(mask)))
      .as(Seq("band", "chunk"))
  }

  /** Embedding near-dup pairs above a cosine threshold. The scale path
    * buckets by a random-hyperplane sketch first (candidates = pairs that
    * collide on at least one band), then verifies exact cosine — the
    * all-pairs product never materializes.
    */
  def embeddingCosinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      sketchBits: Int = 16,
      bands: Int = 4): DataFrame = {
    val bandKeys = hyperplaneBands(col("sk"), sketchBits, bands)
    VectorExprs.register(emb.sparkSession)
    // norm once per vector, before the band explode (exploded copies share
    // the scalar): collision scoring pays one dot per pair via the
    // bit-identical cosineFromNorms contract
    val withSketch = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorExprs.norm(col(vecCol)).as("n"),
      VF.hyperplaneSketch(col(vecCol), sketchBits).as("sk"))
    val banded = withSketch.select(col("id"), col("v"), col("n"), bandKeys)
    // the cosine is computed map-side so only the scalar rides the dedup
    // shuffle, not the vectors
    selfJoin(banded, Seq("band", "chunk"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        Rounding.r4(VectorExprs.cosineFromNorms(
          col("l.v"), col("r.v"), col("l.n"), col("r.n"))).as("cosine"))
      .groupBy("id_a", "id_b")
      .agg(first(col("cosine")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Exact duplicated-substring statistics at k-token granularity (the
    * span-level dedup of Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): hash every k-token window of every
    * document; a window whose hash occurs in ≥ 2 distinct documents is a
    * duplicated span. Returns one row per document: total windows,
    * duplicated windows, and the duplicated fraction — the signal used to
    * drop or trim boilerplate-heavy documents.
    *
    * Scale design: window generation is a narrow map-side explode, and only
    * the 8-byte xxhash64 of each window leaves the scan — never window
    * text. "Appears in ≥ 2 distinct documents" is evaluated as
    * `min(id) OVER (hash) ≠ max(id) OVER (hash)` — a window frame, NOT a
    * count-distinct aggregate joined back: the join-back formulation
    * generates and shuffles the window set twice (its probe exchanges on
    * (hash) but count-distinct's first level on (hash, id), so the
    * exchanges never canonicalize together and ReuseExchange cannot fire).
    * Here the corpus-sized window set is generated once and crosses the
    * wire exactly twice: the (hash) exchange that co-locates copies, then
    * the per-doc rollup of the qualifying subset.
    */
  def exactSubstringStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val toks = docs.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("t"))
    // docs shorter than k tokens yield zero windows (a span shorter than
    // the window cannot be a duplicated SPAN; whole-short-doc dup is
    // dedup_exact's job)
    val wins = toks.select(col("id"),
      explode(when(size(col("t")) >= k,
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => xxhash64(array_join(slice(col("t"), i, lit(k)), " "))))
        .otherwise(array().cast("array<bigint>"))).as("h"))
    val byHash = Window.partitionBy("h")
    val dupPerDoc = wins
      .withColumn("is_dup",
        min(col("id")).over(byHash) =!= max(col("id")).over(byHash))
      .where(col("is_dup"))
      .groupBy("id").agg(count(lit(1)).as("dup_windows"))
    toks.select(col("id"),
        greatest(size(col("t")) - (k - 1), lit(0)).cast(LongType).as("windows"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        Rounding.r4(coalesce(col("dup_windows"), lit(0L)).cast(DoubleType) /
          greatest(col("windows"), lit(1L)).cast(DoubleType)).as("dup_frac"))
  }

  /** Span-level exact dedup REMOVAL (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better") — the action to
    * [[exactSubstringStats]]'s measurement: every k-token window that has
    * already occurred earlier in the corpus (ordered by document id, then
    * position; the first occurrence always survives) marks its token span
    * for removal, overlapping marked spans merge naturally as a covered
    * token set, and each document is re-assembled from its surviving
    * tokens. A document that is entirely a copy of earlier text
    * re-assembles to `""` — exactly the paper's outcome for verbatim
    * duplicates.
    *
    * The reference implementation builds a corpus-wide suffix array to
    * find maximal duplicated spans of ANY length ≥ k; the fixed-k window
    * tiling here removes the same duplicated regions (every duplicated
    * span ≥ k tokens is a union of duplicated k-windows) without the
    * suffix array's global sorted structure, which is what makes it a
    * bounded-shuffle distributed plan.
    *
    * Scale shape: window hashing is the same narrow fused pass as
    * [[exactSubstringStats]]; the keep-first rank is one scalars-only
    * exchange on the 64-bit window hash; covered-position aggregation is
    * one map-side-combined scalars exchange on the doc id; the final
    * reassembly joins the (doc → covered array) frame back to the token
    * arrays on the id and filters tokens narrowly. Windows are compared
    * by xxhash64 — a collision (≈ 2⁻⁶⁴ per pair) could remove a
    * non-duplicated span; acceptable for corpus curation, same trade as
    * the stats variant.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    val toksDf = docs.select(col(idCol).as("doc"), TF.tokens(col(textCol)).as("t"))
    val wins = toksDf.select(col("doc"),
      explode(when(size(col("t")) >= k,
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => struct(i.as("pos"),
            xxhash64(array_join(slice(col("t"), i, lit(k)), " ")).as("h"))))
        .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("w"))
      .select(col("doc"), col("w.pos").as("pos"), col("w.h").as("h"))
    val byHash = Window.partitionBy("h").orderBy(col("doc"), col("pos"))
    val covered = wins
      .withColumn("rn", row_number().over(byHash))
      .where(col("rn") > 1)
      .groupBy("doc")
      .agg(array_sort(array_distinct(flatten(
        collect_list(sequence(col("pos"), col("pos") + (k - 1)))))).as("covered"))
    // graft_remove_at: one two-pointer pass over (tokens, sorted covered)
    // — the filter/array_contains formulation is O(T·C) per doc, which
    // blows up on exactly the heavily-duplicated documents this operator
    // targets (C → T on a verbatim copy)
    toksDf.join(covered, Seq("doc"), "left")
      .select(col("doc"),
        size(col("t")).cast(LongType).as("n_toks"),
        coalesce(size(col("covered")), lit(0)).cast(LongType).as("n_removed"),
        array_join(call_function("graft_remove_at", col("t"),
          coalesce(col("covered"), array().cast("array<int>"))),
          " ").as("text_dedup"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * removal via clustered cosine. k-means cells bound the candidate set;
    * within each cell a vector is a duplicate iff it has cosine ≥
    * `threshold` to some LOWER-id vector of the same cell (deterministic
    * exemplar rule: the minimum id of each within-cell near-dup group
    * always survives). Returns (id, is_dup) for every input vector.
    *
    * Scale design: the k-means fit runs on a bounded sample in one task
    * ([[Similarity.buildIvfIndex]]); full-corpus assignment is one narrow
    * pass. The only shuffle is the cell-key exchange; within-cell pairing
    * is quadratic in CELL size, so `numCells` must grow ∝ corpus size —
    * SemDeDup's own deployment recipe — keeping per-partition pair work
    * constant at 100 TB.
    */
  def semDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 16,
      seed: Long = 42L,
      trainRows: Long = 100000L): DataFrame = {
    val idx = Similarity.buildIvfIndex(emb, idCol, vecCol, numCells, seed, trainRows)
    semDedupFromCells(idx.bucketed, threshold)
  }

  /** Within-cell duplicate marking over precomputed `(nid, nv, cell)`
    * assignments (the [[Similarity.IvfIndex.bucketed]] layout) — split out
    * so parity with a brute-force per-cell oracle can be tested on planted
    * assignments, independent of the k-means fit.
    */
  def semDedupFromCells(bucketed: DataFrame, threshold: Double): DataFrame = {
    VectorExprs.register(bucketed.sparkSession)
    val cells = bucketed
      .select(col("nid"), col("cell"), col("nv").cast("array<double>").as("v"))
      .withColumn("n", VectorExprs.norm(col("v")))
    // the cosine is evaluated map-side on the joined pair so only
    // qualifying ids reach the distinct
    val dups = selfJoin(cells, Seq("cell"), id = "nid")
      .where(VectorExprs.cosineFromNorms(col("l.v"), col("r.v"),
        col("l.n"), col("r.n")) >= threshold)
      .select(col("r.nid").as("nid")).distinct()
    cells.select("nid")
      .join(dups.withColumn("is_dup", lit(true)), Seq("nid"), "left")
      .select(col("nid").as("id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Exact (non-LSH) embedding cosine pairs — the oracle-checkable variant;
    * bounded all-pairs for verification at small SF.
    *
    * `maxId` is REQUIRED and enforced in code (same contract as
    * [[ngramJaccardPairs]]): the pair scan is a broadcast product, so an
    * unbounded corpus would fail only at the broadcast threshold — loudly,
    * but long after reading the data. For unbounded corpora use
    * [[embeddingCosinePairs]] (the LSH path).
    */
  def embeddingCosinePairsExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxId: Long): DataFrame = {
    VectorExprs.register(emb.sparkSession)
    val bounded = emb.where(col(idCol) < maxId)
    // cast to double and take the norm ONCE per row (not per pair) and
    // repartition the streamed side so the nested-loop pair scan
    // parallelizes; per-pair scoring is one dot product via the
    // bit-identical cosineFromNorms contract
    val l = bounded.select(col(idCol).as("id_a"),
        col(vecCol).cast("array<double>").as("v_a"))
      .withColumn("n_a", VectorExprs.norm(col("v_a")))
      .repartition(col("id_a"))
    val r = bounded.select(col(idCol).as("id_b"),
        col(vecCol).cast("array<double>").as("v_b"))
      .withColumn("n_b", VectorExprs.norm(col("v_b")))
    l.crossJoin(broadcast(r))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Rounding.r4(VectorExprs.cosineFromNorms(
          col("v_a"), col("v_b"), col("n_a"), col("n_b"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Segment-level exact dedup — the line/paragraph-wise deduplication of
    * the C4 / RefinedWeb recipes ("remove any line that appears elsewhere
    * in the corpus, keep documents otherwise"), generalized to fixed
    * `segTokens`-token segments because the synthetic corpus carries no
    * line structure; on a real corpus, segment on `\n`/blank-line
    * boundaries upstream and feed the exploded lines through the same
    * keep-first rule. The first occurrence of each distinct segment —
    * ordered by (document id, segment position) — survives; every later
    * occurrence is dropped and the document re-assembled from its
    * survivors in original order.
    *
    * Output: `(doc, n_seg, n_kept, text_dedup)` — one row per non-empty
    * input document, `text_dedup = ""` when every segment was a repeat.
    *
    * Scale shape: segmentation is a narrow fused expression (tokens →
    * per-window `array_join` — no per-token explode, no pre-shuffle);
    * the keep-first rule is one hash exchange on the segment text (the
    * same data-wide shuffle class as [[exact]] — unavoidable, since
    * equality across the whole corpus IS the operation) followed by the
    * per-document reassembly exchange on the id. Both aggregations carry
    * each segment exactly once; nothing is quadratic and no driver-side
    * state exists. Segment-frequency skew (a boilerplate segment repeated
    * millions of times) lands in one window partition — at that scale,
    * pre-aggregate `min(struct(doc, seg))` per segment (map-side combined)
    * instead of ranking; the rank form is kept here because it also
    * emits the per-occurrence keep flag the reassembly needs.
    */
  def dedupSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int = 20): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    // materialize the token array ONCE per doc before the per-segment
    // lambda: higher-order functions evaluate their body per element, so
    // inlining TF.tokens there would re-tokenize the whole text per
    // segment — O(T²/segTokens) character work on long docs
    val toksDf = docs
      .select(col(idCol).as("doc"), TF.tokens(col(textCol)).as("t"))
      .where(size(col("t")) >= 1)
    val nSegs = ceil(size(col("t")).cast(DoubleType) / lit(segTokens.toDouble))
      .cast(IntegerType)
    val segs = toksDf
      .select(col("doc"),
        posexplode(transform(sequence(lit(0), nSegs - 1),
          i => array_join(slice(col("t"), i * segTokens + 1, lit(segTokens)), " ")))
          .as(Seq("seg", "segtext")))
    val w = Window.partitionBy("segtext").orderBy(col("doc"), col("seg"))
    val ranked = segs.withColumn("rn", row_number().over(w))
    ranked.groupBy("doc").agg(
      count(lit(1)).as("n_seg"),
      count(when(col("rn") === 1, lit(1))).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("seg").as("seg"), col("segtext").as("segtext"))))),
          s => s.getField("segtext")),
        " ").as("text_dedup"))
  }
}
