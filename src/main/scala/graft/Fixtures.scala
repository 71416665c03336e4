package graft

import graft.model.{LogSchema, NgramIndex}
import graft.operators.{Dedup, Ingest, Similarity}
import graft.sources.Tables
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** One named fixture of the query registry: a value built once per
  * (session, sf dir) on a [[SessionCache]], timing its own build.
  */
final class Fixture[T] private[graft] (
    val name: String, build: (SparkSession, String) => T)
    extends ((SparkSession, String) => T) {
  private val built = new SessionCache[String, (T, Double)]

  def apply(s: SparkSession, dir: String): T =
    built(s, dir) {
      val t0 = System.nanoTime()
      val v = build(s, dir)
      (v, (System.nanoTime() - t0) / 1e9)
    }._1

  /** Wall seconds the (s, dir) build took, once it is built. */
  def buildSeconds(s: SparkSession, dir: String): Option[Double] =
    built.get(s, dir).map(_._2)
}

/** The registry's fixtures: written tables, indexes, trained models and
  * answer keys, each built once per (session, sf dir) and reused by every
  * query build. Query builders must be side-effect free on rebuild: the
  * bench builds every query twice (warmup + measured) and Verify once
  * more, so a write inside a builder would run each time and leak a
  * scratch directory per build.
  *
  * Lifecycle: a fixture writes only under [[tempDir]], one root per
  * session. When the session's SparkContext ends (or [[SessionCache.release]]
  * is called for a child session) its entries are dropped and that root is
  * deleted; nothing outside it is touched (`mediaTableDir` may return the
  * pre-generated `<sfDir>/media.parquet`, which survives). A frame fixture
  * is persisted and counted inside its build, so calling a fixture once
  * builds all of it; its cached blocks belong to the context and go when it
  * stops. [[all]] lists every fixture: the amortized boundary of the bench.
  */
private[graft] object Fixtures {
  private val registry = scala.collection.mutable.ArrayBuffer.empty[Fixture[_]]

  private def fixture[T](name: String)(build: (SparkSession, String) => T): Fixture[T] = {
    val f = new Fixture(name, build)
    registry += f
    f
  }

  /** Every fixture, bases before the fixtures built on them. */
  def all: Seq[Fixture[_]] = registry.toList

  /** Build every fixture for `dir` and print its build seconds on stderr
    * as `[fixtures] <name> <seconds>s`. A fixture that fails is named on
    * stderr and skipped; fixtures build lazily, so the first query that
    * needs it builds it again and fails on its own.
    */
  def warm(s: SparkSession, dir: String): Unit =
    all.foreach { f =>
      try {
        f(s, dir)
        f.buildSeconds(s, dir).foreach(secs =>
          System.err.println(f"[fixtures] ${f.name} $secs%.3fs"))
      } catch { case NonFatal(e) => System.err.println(s"[fixtures] ${f.name} failed: $e") }
    }

  private val roots = new SessionCache[Unit, Path](
    onRelease = root => deleteRecursively(root.toFile))

  /** A fresh directory under the session's temp root; deleted when the
    * session is released.
    */
  def tempDir(s: SparkSession, prefix: String): String =
    Files.createTempDirectory(
      roots(s, ())(Files.createTempDirectory("graft-session")), prefix).toString

  /** Delete a file or a directory tree; a missing path is a no-op and a
    * symbolic link is removed, never followed.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(s)
    Tables.read(s, dir, name)
  }

  /** Persist and count, so the frame is built when its fixture returns. */
  private def materialized(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK).count()
    df
  }

  /** The log view written ONCE per (session, sf dir) with the reference
    * physical design — daily partitions, in-partition sort key — plus
    * promoted columns for the hot map keys. This is the written-table path
    * the reference's materialized-column fast path needs: the
    * PromoteMapKeys rule only helps once the promoted column physically
    * exists in the scanned files.
    */
  val logTableDir: Fixture[String] = fixture("logTableDir") { (s, dir) =>
    val out = tempDir(s, "graft-logtable")
    LogSchema.writePartitioned(
      LogSchema.withPromotedColumns(
        LogSchema.logsFromEvents(t(s, dir, "events")),
        stringKeys = Seq("event.type"),
        numberKeys = Seq("event.value")),
      out)
    out
  }

  /** Fluent Bit wire-format fixture: a bounded slice of `events`
    * re-encoded as msgpack chunk files (the reference plugin's actual
    * input shape, main.go:238-244). The collect here is fixture
    * CONSTRUCTION — 300 rows, bounded at every SF — not the query path;
    * the query reads the chunk files back through `binaryFile` like any
    * other source. Because decode∘encode is the identity on these rows,
    * the DuckDB oracle can state the expected output directly against
    * `events`.
    */
  val fbChunkDir: Fixture[String] = fixture("fbChunkDir") { (s, dir) =>
    import graft.expressions.MsgpackWire
    val out = tempDir(s, "graft-fbchunks")
    val rows = t(s, dir, "events").where(col("event_id") < 300)
      .select(col("event_id").cast(LongType), unix_micros(col("ts")),
        col("event_type"), col("value").cast(DoubleType),
        col("user_id").cast(LongType))
      .orderBy("event_id").collect()
    rows.grouped(100).zipWithIndex.foreach { case (grp, i) =>
      val events = grp.toSeq.map { row =>
        val micros = row.getLong(1)
        val rec = scala.collection.immutable.ListMap[String, Any](
          "event_id" -> row.getLong(0),
          "event_type" -> row.getString(2),
          "value" -> (if (row.isNullAt(3)) null else row.getDouble(3)),
          "user_id" -> (if (row.isNullAt(4)) null else row.getLong(4)))
        (MsgpackWire.EventTime(micros / 1000000L, (micros % 1000000L) * 1000L),
          rec): (Any, Any)
      }
      Files.write(java.nio.file.Paths.get(out, f"chunk$i%03d.msgpack"),
        MsgpackWire.encodeChunk(events))
    }
    out
  }

  /** A fragmented-then-compacted copy of the log table: the streaming
    * sink's one-file-per-flush layout merged by
    * [[LogSchema.compactPartitions]] (the MergeTree background-merge
    * analogue). The oracle on top checks content survives the
    * merge-and-swap byte-for-byte at the aggregate level.
    */
  val compactedLogTableDir: Fixture[String] = fixture("compactedLogTableDir") { (s, dir) =>
    val out = tempDir(s, "graft-compacted")
    LogSchema.logsFromEvents(t(s, dir, "events"))
      .withColumn("date", to_date(col("timestamp")))
      .repartition(8)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val stats = LogSchema.compactPartitions(s, out,
      targetBytes = 1L << 40, minFiles = 2, jobParallelism = 8)
    require(stats.nonEmpty, "compaction fixture must see fragmented days")
    out
  }

  /** A partitioned log table with retention already enforced: the TTL
    * drop (schema.sql:19) reckoned against the DATA's own "now" (its
    * max day) so the fixture is deterministic across wall-clock time —
    * keep the newest 7 days, drop the 23 older partition dirs.
    */
  val retainedLogTableDir: Fixture[String] = fixture("retainedLogTableDir") { (s, dir) =>
    val out = tempDir(s, "graft-retained")
    val logs = LogSchema.logsFromEvents(t(s, dir, "events"))
      .withColumn("date", to_date(col("timestamp")))
    logs.write.mode("overwrite").partitionBy("date").parquet(out)
    val maxDay = logs.agg(max(col("date"))).head().getDate(0).toLocalDate
    val dropped = LogSchema.dropPartitionsBefore(s, out, maxDay.minusDays(6))
    require(dropped.nonEmpty, "retention fixture must drop expired days")
    out
  }

  /** The partitioned log table with its n-gram bloom skip index built
    * (sidecar only — the underscore dir is invisible to table reads, so
    * sharing [[logTableDir]]'s physical table is safe). Small blooms:
    * fixture files hold a few thousand distinct grams each.
    */
  val indexedLogTableDir: Fixture[String] = fixture("indexedLogTableDir") { (s, dir) =>
    val base = logTableDir(s, dir)
    NgramIndex.build(s, base, n = 4, expectedNdv = 1L << 16, fpp = 0.02)
    base
  }

  /** [[indexedLogTableDir]] plus a min/max zone map over `id` — the
    * BOTH-INDEXES table the combined front-end probe
    * ([[NgramIndex.searchLogsQuery]] intersecting ngram and zone-map
    * candidate sets) is oracle-verified against. Sidecars share the
    * physical table; underscore dirs stay invisible to table reads.
    */
  val rangeIndexedLogTableDir: Fixture[String] = fixture("rangeIndexedLogTableDir") { (s, dir) =>
    val base = indexedLogTableDir(s, dir)
    graft.model.ZoneMapIndex.build(s, base, Seq("id"))
    base
  }

  /** A log table plus its incrementally-maintained rollup
    * ([[graft.model.Rollup]]): ingest lands in two batches — everything
    * except a deterministic third of the newest day, then that remainder
    * appended — with a refresh after each, so the fixture PROVES the
    * incremental contract: the second refresh must touch exactly the one
    * day whose source files changed. Returns (logDir, rollupDir).
    */
  val rollupDirs: Fixture[(String, String)] = fixture("rollupDirs") { (s, dir) =>
    val src = tempDir(s, "graft-rollup-src")
    val out = tempDir(s, "graft-rollup")
    val logs = LogSchema.logsFromEvents(t(s, dir, "events"))
    val maxDay = logs.agg(max(to_date(col("timestamp")))).head()
      .getDate(0).toString
    val late = to_date(col("timestamp")) === lit(maxDay) &&
      col("id") % 3 === 0
    LogSchema.writePartitioned(logs.where(!late), src)
    graft.model.Rollup.refresh(s, src, out, jobParallelism = 4)
    LogSchema.writePartitioned(logs.where(late), src, mode = "append")
    val second = graft.model.Rollup.refresh(s, src, out, jobParallelism = 4)
    require(second.map(st => (st.day, st.action)) ==
        Seq((maxDay, "changed")),
      s"rollup fixture: expected exactly [$maxDay changed], got $second")
    (src, out)
  }

  /** A log table written WITHOUT promoted columns, then backfilled by
    * [[LogSchema.materializePromotedColumns]] — the MATERIALIZE COLUMN
    * mutation path (README.md:68-84), as opposed to [[logTableDir]]
    * where promotion happens at write time.
    */
  val materializedLogTableDir: Fixture[String] = fixture("materializedLogTableDir") { (s, dir) =>
    val out = tempDir(s, "graft-materialized")
    LogSchema.logsFromEvents(t(s, dir, "events"))
      .withColumn("date", to_date(col("timestamp")))
      .repartition(4)
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val rewritten = LogSchema.materializePromotedColumns(s, out,
      stringKeys = Seq("event.type"), numberKeys = Seq("event.value"),
      jobParallelism = 4)
    require(rewritten.nonEmpty,
      "materialize fixture must backfill at least one partition")
    out
  }

  /** BPE merges learned ONCE per (session, sf dir) — training is the
    * amortizable index-build step (a production pipeline trains the
    * tokenizer once and ships the merge list to every encode job, the
    * same split the IVF index uses); `token_bpe` times the narrow
    * encode path.
    */
  val bpeMerges: Fixture[Seq[graft.operators.Bpe.Merge]] = fixture("bpeMerges") { (s, dir) =>
    graft.operators.Bpe.train(t(s, dir, "documents"), "text",
      numMerges = 32, maxVocab = 50000)
  }

  /** Nested JSON synthesized deterministically from `events` columns so the
    * oracle can state the expected flattened fields directly.
    */
  private def nestedJson: Column = to_json(struct(
    struct(
      col("event_type").as("type"),
      col("user_id").as("uid"),
      array(lit(1), col("user_id")).as("arr")).as("content"),
    get_json_object(col("props"), "$.k").cast(LongType).as("k")))

  /** One shared ingest of the nested-JSON rendering of `events` — the
    * parse is the expensive step and both flatten_nested and
    * map_build_split consume the identical result.
    */
  val nestedIngested: Fixture[DataFrame] = fixture("nestedIngested") { (s, dir) =>
    val ev = t(s, dir, "events").withColumn("j", nestedJson)
    materialized(Ingest.ingestJson(ev, col("j"), col("ts")))
  }

  /** One IVF index per (session, sf dir) — the index build (one-task
    * k-means fit on a bounded sample + a narrow full assignment pass) is
    * the amortizable step a production deployment persists; queries probe
    * the cached bucketed corpus.
    */
  val ivfIndex: Fixture[Similarity.IvfIndex] = fixture("ivfIndex") { (s, dir) =>
    val idx = Similarity.buildIvfIndex(
      t(s, dir, "embeddings"), "vec_id", "embedding", numCells = 16)
    idx.copy(bucketed = materialized(idx.bucketed))
  }

  /** The SCALE-AWARE sibling of [[ivfIndex]]: numCells = ⌈√n⌉ (floored
    * at 16), the FAISS sizing rule knnJoin's scaladoc commits to — the
    * cell-join key cardinality grows with the corpus so the join keeps
    * parallelizing, and per-cell candidate lists grow as √n instead of
    * n. This is the index the ANN-mode knn_join row probes; the fixed
    * 16-cell [[ivfIndex]] stays the oracle-exactness vehicle (probing
    * all 16 cells = provably brute force).
    */
  val ivfIndexScaled: Fixture[Similarity.IvfIndex] = fixture("ivfIndexScaled") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    val cells = math.max(16,
      math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val idx = Similarity.buildIvfIndex(
      emb, "vec_id", "embedding", numCells = cells)
    idx.copy(bucketed = materialized(idx.bucketed))
  }

  /** One PQ index per (session, sf dir) — the m subspace codebooks
    * fitted in one task on a bounded sample + one narrow encode pass is
    * the amortizable build; queries ADC-scan the cached code table (the
    * compressed corpus, not the vectors).
    */
  val pqIndex: Fixture[Similarity.PqIndex] = fixture("pqIndex") { (s, dir) =>
    val idx = Similarity.buildPqIndex(
      t(s, dir, "embeddings"), "vec_id", "embedding")
    idx.copy(codes = materialized(idx.codes))
  }

  /** One IVF-PQ index per (session, sf dir) — the full-composition build
    * (coarse cells and subspace codebooks fitted in one task, then a
    * narrow assignment + carried-cell encode) amortizes
    * like its siblings; queries prune to probed cells AND scan codes.
    */
  val ivfPqIndex: Fixture[Similarity.IvfPqIndex] = fixture("ivfPqIndex") { (s, dir) =>
    val idx = Similarity.buildIvfPqIndex(
      t(s, dir, "embeddings"), "vec_id", "embedding", numCells = 8)
    idx.copy(codes = materialized(idx.codes))
  }

  /** Two persisted MinHash-LSH dedup indexes per (session, sf dir): one
    * over the "historical corpus" slice (doc_id < 400), one over all
    * docs — the pair the `dedup_incremental` equivalence cert needs.
    * Built once and probed by every rebuild; paths are (corpus, full).
    */
  val dedupIndexDirs: Fixture[(String, String)] = fixture("dedupIndexDirs") { (s, dir) =>
    val corpus = tempDir(s, "graft-dedupidx-c")
    val full = tempDir(s, "graft-dedupidx-f")
    val docs = t(s, dir, "documents").where(col("doc_id") < 500)
    graft.model.DedupIndex.build(
      docs.where(col("doc_id") < 400), "doc_id", "text", corpus)
    graft.model.DedupIndex.build(docs, "doc_id", "text", full)
    (corpus, full)
  }

  /** The documents table with a planted two-topic vocabulary signal (the
    * synthetic-fixture pattern piiRedact also uses — this table's `lang`/
    * `source` columns are independent of its text, so no real label is
    * learnable from it): each doc gets 3 words from its class's 5-word
    * topic vocabulary, rotated by doc_id so no single planted token is a
    * constant column, and 8% of TRAINING labels are flipped (md5 bucket —
    * deterministic) so the fit must tolerate weak-label noise. Holdout
    * evaluation is against the TRUE labels.
    */
  def topicDocs(s: SparkSession, dir: String): DataFrame = {
    val a = Array("tensor", "gradient", "epoch", "optimizer", "batchnorm")
    val b = Array("invoice", "shipment", "warehouse", "ledger", "freight")
    // rotation index (doc_id + 7i) mod 5: for every doc_id residue class
    // mod 5 — in particular the %5==0 holdout — the three planted tokens
    // are a DIFFERENT subset of the vocabulary, and each vocabulary word
    // appears in several training residues, so the holdout never sees a
    // token the fit couldn't have learned (a doc_id*k rotation collapses
    // on the holdout residue and leaks exactly that way)
    def pick(arr: Array[String], i: Int) =
      element_at(lit(arr), (pmod(col("doc_id") + 7 * i, lit(5)) + 1).cast("int"))
    val label = (col("doc_id") % 2 === 0).cast(DoubleType)
    val planted = (0 until 3).map(i =>
      when(label === 1.0, pick(a, i)).otherwise(pick(b, i)))
    val noisy = when(
      graft.operators.TrainPipeline.hashBucket(col("doc_id")) < 8,
      lit(1.0) - label).otherwise(label)
    t(s, dir, "documents").select(
      col("doc_id"),
      concat_ws(" ", (col("text") +: planted): _*).as("text"),
      label.as("label"), noisy.as("noisy_label"))
  }

  /** One trained quality/topic filter per (session, sf dir): the L-BFGS
    * fit is the amortizable build (a production pipeline trains once and
    * scores many corpus shards); training sees only the doc_id % 5 != 0
    * split and only the NOISY labels, so the registry query's holdout
    * against true labels is honest.
    */
  val qualityModel: Fixture[org.apache.spark.ml.PipelineModel] = fixture("qualityModel") { (s, dir) =>
    graft.operators.QualityClassifier.train(
      topicDocs(s, dir).where(col("doc_id") % 5 =!= 0),
      "text", "noisy_label")
  }

  /** pairs → min-label clusters over the bounded verification set. ONE
    * definition shared by `dedup_cluster` (times it live) and [[clusters]]
    * (caches it for `dedup_survivors`) so the two queries can never
    * silently diverge on threshold/maxId.
    */
  def clusterPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.8, maxId = 60)
    // requireConvergence: the DuckDB oracle computes the EXACT recursive
    // closure, so a maxIter exit (silently split clusters) must fail
    // this query loudly rather than surface as a mystery hash mismatch.
    // Auto = the production entry point: this graph is far under its edge
    // gate, so it resolves in the one union-find task (label propagation
    // and the alternating rounds run only above the gate).
    graft.operators.TrainPipeline.connectedComponentsAuto(
      docs.where(col("doc_id") < 60).select(col("doc_id")), "doc_id",
      pairs, "id_a", "id_b", requireConvergence = true)
  }

  /** [[clusterPipeline]] routed through the ALTERNATING large-star /
    * small-star formulation (SoCC'14) — the documented adversarial-chain
    * path whose rounds scale O(log n), not component diameter. Same
    * pairs, same universe, same (node, cluster) contract; held to the
    * same exact recursive-closure oracle, so a divergence between the
    * two formulations fails the gate instead of hiding in ScalaTest.
    */
  def clusterPipelineAlternating(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.8, maxId = 60)
    graft.operators.TrainPipeline.connectedComponentsAlternating(
      docs.where(col("doc_id") < 60).select(col("doc_id")), "doc_id",
      pairs, "id_a", "id_b", requireConvergence = true)
  }

  /** Near-dup clusters over the bounded verification set, computed ONCE
    * per (session, dir) — the real pipeline materializes clusters once
    * and derives survivors/filters from them. `dedup_cluster` still runs
    * the components live (it times the algorithm); `dedup_survivors`
    * consumes this frame (it times the derivation). The frame is the
    * lazy finish-small plan of [[clusterPipeline]] (pairs, one union-find
    * task, a left join back to the nodes), persisted and counted here so
    * its readers scan the cached rows instead of re-running that plan.
    */
  val clusters: Fixture[DataFrame] = fixture("clusters") { (s, dir) =>
    materialized(clusterPipeline(s, dir))
  }

  /** The TRUTH side of `dedup_minhash`'s certification — the exact
    * bounded n-gram Jaccard pair set the LSH result is graded against —
    * computed once per (session, dir). The answer key of a cert is the
    * grader's fixture, not the operator under test: re-deriving it on
    * every build charged dedup_minhash ~2× its own cost (the same
    * amortization contract as the index fixtures; the LSH pipeline
    * itself still runs live on every build).
    */
  val minhashTruth: Fixture[DataFrame] = fixture("minhashTruth") { (s, dir) =>
    materialized(Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, threshold = 0.4, maxId = 300)
      .select("id_a", "id_b"))
  }

  /** The TRUTH side of `maintenance_rollup_theta`: exact adjacent-day
    * pod overlap/churn from the raw log table, cached per (session,
    * dir) under the same grader's-fixture contract — the theta-sketch
    * merge/estimate path still runs live on every build.
    */
  val podDayTruth: Fixture[DataFrame] = fixture("podDayTruth") { (s, dir) =>
    val (src, _) = rollupDirs(s, dir)
    val logsDf = LogSchema.readLogs(s, src)
      .select(col("date").cast(StringType).as("day"), col("pod_name"))
      .distinct()
    materialized(logsDf.as("x")
      .join(logsDf.as("y"),
        date_add(col("x.day").cast("date"), 1) === col("y.day").cast("date") &&
          col("x.pod_name") === col("y.pod_name"), "left")
      .groupBy(col("x.day").as("day1"))
      .agg(count(col("y.pod_name")).as("n_both"),
        count(when(col("y.pod_name").isNull, 1)).as("n_gone"))
      // the last day has no successor — drop it like the est side's
      // inner join does
      .where(col("n_both") > 0))
  }

  /** The embeddings-table cardinality, once per (session, dir) — the
    * catalog statistic a production deployment reads from table
    * metadata instead of recounting per request. Only ever used to SIZE
    * query parameters (sim_search_pq's corpus-proportional shortlist,
    * the clustered-corpus geometry); never a result, and the operator
    * under test still computes live from parquet on every build.
    */
  val embeddingsCount: Fixture[Long] = fixture("embeddingsCount") { (s, dir) =>
    t(s, dir, "embeddings").count()
  }

  /** The TRUTH side shared by all four ANN recall certs (lsh / ivf /
    * pq / ivfpq): the exact brute-force top-5 neighbor set for the
    * fixed 10-query batch, computed once per (session, dir) — the
    * grader's answer key again; every approximate path under test
    * still runs live on each build.
    */
  val annBruteTruth: Fixture[DataFrame] = fixture("annBruteTruth") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    materialized(Similarity.bruteTopK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .select("qid", "nid"))
  }

  /** The FIXED query batch shared by the two knn_join rows: the
    * [[graft.operators.TrainPipeline.sampleUniformN]] md5 arithmetic
    * (salt "knn", n = 128) picks the same vectors in Spark and in the
    * oracle's `ORDER BY md5('knn' || vec_id) LIMIT 128` CTE, at every
    * SF. A FIXED-SIZE batch is what makes the exact-knn DuckDB oracle
    * tractable at scale: brute pairs are O(128 · n) instead of
    * O(q · n) with q growing alongside the corpus — the sf10 compare's
    * 4×10⁸-pair stall under the old `vec_id < 2000` bound, cut 16×.
    */
  val KnnQueryCount = 128
  val knnQueryBatch: Fixture[DataFrame] = fixture("knnQueryBatch") { (s, dir) =>
    materialized(graft.operators.TrainPipeline.sampleUniformN(
      t(s, dir, "embeddings").select("vec_id", "embedding"),
      "vec_id", n = KnnQueryCount, salt = "knn"))
  }

  /** [[annBruteTruth]] over the FULL [[knnQueryBatch]] — the answer key
    * for knn_join_ann's recall cert, so the cert covers the whole
    * 128-query batch the row runs (the 10-query truth certifies the
    * small-batch sim_search family). Exact brute force in-engine:
    * 128 · n pairs, linear in the corpus.
    */
  val knnBruteTruth: Fixture[DataFrame] = fixture("knnBruteTruth") { (s, dir) =>
    materialized(Similarity.bruteTopK(t(s, dir, "embeddings"),
        knnQueryBatch(s, dir), "vec_id", "embedding", k = 5)
      .select("qid", "nid"))
  }

  /** A PLANTED-CLUSTER embedding corpus over the embeddings id domain —
    * the shape real model-embedding corpora have (neighborhoods exist by
    * construction) and the base testdata deliberately lacks (it is
    * near-isotropic, knn_join_ann's worst-case-floor rationale). Closed
    * forms, MediaTable's discipline: blob count C = max(numCells,
    * ⌈n/64⌉) keeps ≥ 6 members per blob (true top-5 stays in-blob,
    * intra-blob cosine ≈ 0.9998 vs cross-blob ≲ 0.25) AND ≥ 1 blob per
    * IVF cell (a blob never splits across cells by k-means geometry —
    * the splitmix-style per-dim center hash keeps blobs far apart
    * relative to the ±2% noise). All columns are codegen expressions;
    * generation is NARROW over the embeddings scan.
    */
  val clusteredEmbeddings: Fixture[DataFrame] = fixture("clusteredEmbeddings") { (s, dir) =>
    val n = t(s, dir, "embeddings").count()
    val numCells = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val blobs = math.max(numCells, math.ceil(n / 64.0).toInt)
    val dim = 64
    materialized(t(s, dir, "embeddings").select(col("vec_id"))
      .withColumn("blob", pmod(col("vec_id"), lit(blobs.toLong)))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)), j =>
          (pmod(xxhash64(lit("ctr"), col("blob"), j), lit(2000L))
            / lit(1000.0) - lit(1.0)) +
          (pmod(xxhash64(lit("eps"), col("vec_id"), j), lit(2000L))
            / lit(1000.0) - lit(1.0)) * lit(0.02)))
      .select("vec_id", "embedding"))
  }

  /** The scale-aware IVF index over [[clusteredEmbeddings]] — same
    * numCells = ⌈√n⌉ sizing and one-task k-means fit as
    * [[ivfIndexScaled]]. */
  val ivfIndexClustered: Fixture[Similarity.IvfIndex] = fixture("ivfIndexClustered") { (s, dir) =>
    val emb = clusteredEmbeddings(s, dir)
    val cells = math.max(16,
      math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val idx = Similarity.buildIvfIndex(
      emb, "vec_id", "embedding", numCells = cells)
    idx.copy(bucketed = materialized(idx.bucketed))
  }

  /** [[knnQueryBatch]] / [[knnBruteTruth]] over the clustered corpus
    * (salt "knnc" — an independent draw from the exact row's batch).
    */
  val knnClusteredQueryBatch: Fixture[DataFrame] = fixture("knnClusteredQueryBatch") { (s, dir) =>
    materialized(graft.operators.TrainPipeline.sampleUniformN(
      clusteredEmbeddings(s, dir), "vec_id", n = KnnQueryCount,
      salt = "knnc"))
  }

  val knnClusteredBruteTruth: Fixture[DataFrame] = fixture("knnClusteredBruteTruth") { (s, dir) =>
    materialized(Similarity.bruteTopK(clusteredEmbeddings(s, dir),
        knnClusteredQueryBatch(s, dir), "vec_id", "embedding", k = 5)
      .select("qid", "nid"))
  }

  /** The events table rewritten Z-order-clustered on
    * (user_id, event-time millis) — [[graft.operators.ZOrder.cluster]]'s
    * 8×8 Morton grid, one `zbucket=` directory per cell. Cached with the
    * dimension bounds so the prune query can derive its box from the
    * same statistics the oracle's min/max CTE recomputes.
    */
  val zorderedEventsDir: Fixture[(String, (Long, Long, Long, Long))] =
    fixture("zorderedEventsDir") { (s, dir) =>
      val out = tempDir(s, "graft-zorder")
      val ev = t(s, dir, "events")
        .withColumn("ts_ms", unix_millis(col("ts")))
        // a NaN-poisoned double alongside the clustered dims: every
        // file inherits a few NaN rows (event_id mod 97 spreads across
        // z-cells), so the zone-map oracle row exercises the NaN-bounds
        // path end to end — an index that lets NaN poison a file's max
        // would prune EVERY file here and drop the whole result
        .withColumn("metric",
          when(col("event_id") % 97 === 0, lit(Double.NaN))
            .otherwise(col("user_id").cast(DoubleType)))
      val bounds = graft.operators.ZOrder.cluster(ev, "user_id", "ts_ms", out)
      (out, bounds)
    }

  /** The z-ordered events table plus its min/max zone-map sidecar
    * ([[graft.model.ZoneMapIndex]]) over both clustered dimensions —
    * the layout whose tight per-file spans the index exists for.
    * Shares [[zorderedEventsDir]]'s physical table (the sidecar lives
    * in an underscore dir, invisible to table reads).
    */
  val zorderedIndexedEventsDir: Fixture[(String, (Long, Long, Long, Long))] =
    fixture("zorderedIndexedEventsDir") { (s, dir) =>
      val (out, bounds) = zorderedEventsDir(s, dir)
      graft.model.ZoneMapIndex.build(s, out,
        Seq("user_id", "ts_ms", "metric"))
      (out, bounds)
    }

  /** The stored binary-media corpus ([[graft.sources.MediaTable]]):
    * read the pre-generated `<sfDir>/media.parquet` when the testdata
    * ships one (ScaleGen emits it), else write it ONCE per (session,
    * sf dir) from the documents table. The nine multimodal/perceptual
    * operators read their payload blobs back FROM this parquet table —
    * the production shape (binary column scan, partition pruning on
    * `kind`) — rather than planting fixtures inside each query.
    */
  val mediaTableDir: Fixture[String] = fixture("mediaTableDir") { (s, dir) =>
    val pre = new java.io.File(dir, "media.parquet")
    // "non-empty dir" is NOT "valid corpus": an interrupted ScaleGen
    // write leaves _temporary but no _SUCCESS — trust only a
    // committed write (marker present AND every payload family's
    // kind= partition, so a corpus generated before a family was
    // added regenerates instead of serving empty scans), else fall
    // through to the temp-dir regeneration path
    val missingMarker = pre.isDirectory &&
      !new java.io.File(pre, "_SUCCESS").isFile
    val missingKinds =
      if (!pre.isDirectory) Nil
      else graft.sources.MediaTable.Kinds.filterNot(k =>
        new java.io.File(pre, s"kind=$k").isDirectory)
    val committed = pre.isDirectory && !missingMarker && missingKinds.isEmpty
    if (committed)
      pre.getAbsolutePath
    else {
      // regeneration is expensive at large SF and otherwise invisible
      // — say WHICH trust predicate failed so an operator whose
      // corpus was written without success markers (or before a
      // family existed) knows what to re-run
      if (pre.isDirectory)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"media corpus at $pre not trusted, regenerating to a temp dir: " +
            (if (missingMarker) "_SUCCESS marker missing" else "") +
            (if (missingMarker && missingKinds.nonEmpty) "; " else "") +
            (if (missingKinds.nonEmpty)
              missingKinds.mkString("missing kind= partitions: ", ", ", "")
            else ""))
      val out = tempDir(s, "graft-media")
      graft.sources.MediaTable.write(t(s, dir, "documents"), out)
      out
    }
  }
}
