package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.DedupIndex
import graft.operators.{Dedup, Similarity, TrainPipeline}

/** `llm_corpus`: the LLM batch pipeline, which bypasses the log table.
  * One iteration dedups the corpus (MinHash pairs, connected components,
  * one survivor per cluster), builds the persisted dedup index and an IVF
  * index and answers a similarity batch; the first then applies the
  * increments to its dedup index. Iterations repeat until the window
  * closes, at least two.
  */
object CorpusWorkload {
  val Docs = 1500
  /** Compact near-duplicate groups, 180 documents in all. */
  val GroupSizes: Seq[Int] = Seq.fill(12)(Seq(2, 3, 4, 6)).flatten
  /** Chain-shaped groups: diameter 13 > the 8-round label-propagation
    * budget, so connected components also takes its alternating path.
    */
  val ChainLens = Seq(14, 14, 14)
  /** Four increments, not fewer and larger: the first after a build runs
    * slowest, and the median of four is not set by it.
    */
  val Increments = 4
  val MinIterations = 2
  val IncrementDocs = 75
  val Dim = 16
  val K = 3
  val RecallFloor = 0.9
  /** 20 bands of 3 rows: a pair at Jaccard 0.81 (one planted edit) is missed
    * with probability ~3e-7, adjacent chain links (0.76) ~1e-5.
    */
  val Params: DedupIndex.Params = DedupIndex.Params(shingleN = 3, bands = 20, rowsPerBand = 3)

  final class Data(spark: SparkSession, val c: Gen.Corpus) {
    import spark.implicits._
    val docs: DataFrame = c.docs.map(d => (d.id, d.text, d.score)).toDF("id", "text", "score")
    val vecs: DataFrame = c.vecs.map { case (i, v) => (i, v) }.toDF("id", "vec")
    val queryIds: Seq[Long] = c.groups.filter(_.size >= 4).map(_.head)
    val queries: DataFrame = vecs.where(col("id").isin(queryIds: _*))
    val incs: Seq[DataFrame] = c.increments.map(_.map(d => (d.id, d.text, d.score)).toDF("id", "text", "score"))
    val textBytes: Long = c.docs.map(_.text.length.toLong).sum
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val corpus = Gen.corpus(ctx.seed, Docs, GroupSizes, ChainLens, Increments, IncrementDocs, Dim)
    val (data, setupNs) = Stats.timed {
      // warm-up: the whole pipeline and two increments, once on a small
      // corpus of its own. It has no chain: warming the alternating
      // components rounds too took a cold iteration over a corpus with one,
      // 13 s more of every run than this, for 2 s less in the timed one.
      val warm = new Data(spark, Gen.corpus(ctx.seed + 1000003L, 60, Seq(2, 3), Nil, 2, 10, Dim))
      iteration(ctx, warm, check = false, req = 0L, increments = true)
      ctx.log("warm-up pipeline done")
      val d = new Data(spark, corpus)
      d.docs.persist().count(); d.vecs.persist().count()
      d
    }

    val untraced = measure(ctx, data, req = 1L)
    val traced = if (!ctx.traceRun) None else {
      ctx.tracer.start()
      Some(measure(ctx, data, req = 1000000L))
    }

    val incMs = untraced.flatMap(_.incrementNs).map(Stats.ms)
    // the median iteration's rate: one slow iteration does not set it
    val docsPerS = Stats.median(untraced.map(i => Docs / (i.pipelineNs / 1e9)))
    val layers = mutable.Map.empty[String, Double]
    traced.foreach { w =>
      val t = ctx.tracer
      val n = "corpus.pipeline"
      val ccSpans = t.allSpans.filter(_.name == "TrainPipeline.cc").map(_.id).toSet
      def pipelineMs(its: Seq[Iteration]) = its.map(i => Stats.ms(i.pipelineNs))
      layers ++= Map(
        "Dedup.minhash_pairs_s" -> Layers.spanS(t, "Dedup.minhash_pairs", n),
        "TrainPipeline.cc_s" -> Layers.spanS(t, "TrainPipeline.cc", n),
        "TrainPipeline.cc_jobs" -> t.allJobs.count(j => ccSpans(j.spanId)).toDouble / t.roots(n).size.max(1),
        "TrainPipeline.survivors_s" -> Layers.spanS(t, "TrainPipeline.survivors", n),
        "DedupIndex.build_s" -> Layers.spanS(t, "DedupIndex.build", n),
        "Similarity.ivf_build_s" -> Layers.spanS(t, "Similarity.ivf_build", n),
        "Similarity.ivf_query_s" -> Layers.spanS(t, "Similarity.ivf_query", n),
        "DedupIndex.incremental_pairs_s" -> Layers.spanS(t, "DedupIndex.incremental_pairs", "corpus.increment"),
        "DedupIndex.append_s" -> Layers.spanS(t, "DedupIndex.append", "corpus.increment"),
        "trace.overhead_pct" -> Layers.overheadPct(pipelineMs(w), pipelineMs(untraced)))
      layers ++= Layers.sparkCounts(t, n)
    }
    Result(
      setupS = setupNs / 1e9,
      itemsPerS = docsPerS,
      opP50Ms = Stats.median(incMs),
      storedRatio = untraced.head.storedBytes.toDouble / data.textBytes,
      ops = untraced.size + incMs.size,
      lines = Seq(
        s"llm_corpus: $Docs documents, ${untraced.size} pipeline run(s), ${incMs.size} increments of $IncrementDocs",
        f"corpus_docs_per_s            $docsPerS%12.1f docs/s",
        f"increment_p50_ms             ${Stats.median(incMs)}%12.1f ms"),
      layers = Layers.complete(layers))
  }

  /** Checked iterations until the window closes, at least
    * [[MinIterations]]: at 9-15 s a pipeline run, a window of `--seconds 10`
    * always holds two, whatever the host's speed. The first applies the
    * increments.
    */
  private def measure(ctx: Ctx, data: Data, req: Long): Seq[Iteration] = {
    val out = mutable.Buffer.empty[Iteration]
    val deadline = ctx.deadline
    var r = req
    do {
      out += iteration(ctx, data, check = true, req = r, increments = out.isEmpty)
      r += 1 + Increments
      val it = out.last
      ctx.log(f"pipeline iteration: ${it.pipelineNs / 1e6}%.0f ms, increments " +
        it.incrementNs.map(n => f"${n / 1e6}%.0f").mkString(" ") + " ms")
    } while (out.size < MinIterations || System.nanoTime() < deadline)
    out.toSeq
  }

  final case class Iteration(pipelineNs: Long, incrementNs: Seq[Long], storedBytes: Long)

  /** One pipeline run, then, with `increments`, the increments; with
    * `check`, every output is checked and counted as an operation.
    */
  def iteration(ctx: Ctx, d: Data, check: Boolean, req: Long, increments: Boolean): Iteration = {
    val t = ctx.tracer
    val dir = ctx.dir("dedup-index")
    var pairsDf: DataFrame = null
    var ccDf: DataFrame = null
    var ivf: Similarity.IvfIndex = null
    val (out, pipelineNs) = Stats.timed(t.span("corpus.pipeline", req) {
      pairsDf = Dedup.minhashPairs(d.docs, "id", "text", shingleN = Params.shingleN, bands = Params.bands,
        rowsPerBand = Params.rowsPerBand, jaccardThreshold = Gen.CorpusJaccard).persist()
      t.span("Dedup.minhash_pairs", req)(pairsDf.count())
      ccDf = t.span("TrainPipeline.cc", req) {
        val cc = TrainPipeline.connectedComponentsAuto(d.docs.select("id"), "id", pairsDf, "id_a", "id_b").persist()
        cc.count()
        cc
      }
      val survivors = t.span("TrainPipeline.survivors", req) {
        TrainPipeline.survivorsByQuality(ccDf.withColumnRenamed("node", "id").join(d.docs, "id"),
          "id", "cluster", "score").select("cluster", "id").collect()
      }
      t.span("DedupIndex.build", req)(DedupIndex.build(d.docs, "id", "text", dir, Params))
      ivf = t.span("Similarity.ivf_build", req) {
        val idx = Similarity.buildIvfIndex(d.vecs, "id", "vec")
        val b = idx.bucketed.persist()
        b.count()
        idx.copy(bucketed = b)
      }
      val nn = t.span("Similarity.ivf_query", req)(
        Similarity.ivfQuery(ivf, d.queries, "id", "vec", K).select("qid", "nid").collect())
      (survivors, nn)
    })
    val (survivors, nn) = out
    if (check) {
      val pairs = pairsDf.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val cc = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      checkPipeline(ctx, d, pairs, cc, survivors.map(r => r.getLong(0) -> r.getLong(1)).toSeq,
        nn.map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    }
    pairsDf.unpersist(); ccDf.unpersist(); ivf.bucketed.unpersist()

    val incs = (if (increments) d.incs else Nil).zipWithIndex.map { case (inc, j) =>
      val id = req + 1 + j
      try {
        val ((pairs, appended), ns) = Stats.timed(t.span("corpus.increment", id) {
          val p = t.span("DedupIndex.incremental_pairs", id)(
            DedupIndex.incrementalPairs(inc, "id", "text", dir, Gen.CorpusJaccard).collect())
          val a = t.span("DedupIndex.append", id)(DedupIndex.append(inc, "id", "text", dir))
          (p, a)
        })
        if (check) checkIncrement(ctx, d, j, pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq, appended)
        Some(ns)
      } catch { case e: Exception => if (check) ctx.fail(s"increment $j", e); None }
    }.flatten
    Iteration(pipelineNs, incs, Stats.dirBytes(dir))
  }

  /** Connected components equal the union-find closure of the returned
    * pairs, every compact planted group is one cluster, survivors are one
    * per cluster at the maximum score, and IVF recall@K against brute force
    * is at least [[RecallFloor]].
    */
  private def checkPipeline(ctx: Ctx, d: Data, pairs: Seq[(Long, Long)], cc: Map[Long, Long],
      survivors: Seq[(Long, Long)], nn: Seq[(Long, Long)]): Unit = {
    val ids = d.c.docs.map(_.id)
    val parent = mutable.Map.empty[Long, Long] ++ ids.map(i => i -> i)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val smallest = ids.groupBy(find).map { case (root, m) => root -> m.min }
    val closure = ids.map(i => i -> smallest(find(i))).toMap
    ctx.check(s"connected components differ from the union-find closure of ${pairs.size} pairs")(
      cc == closure)
    val split = d.c.groups.filter(g => g.map(cc.getOrElse(_, -1L)).distinct.size != 1)
    ctx.check(s"${split.size} planted groups not recovered")(split.isEmpty)
    val score = d.c.docs.map(x => x.id -> x.score).toMap
    val want = cc.groupBy(_._2).map { case (cl, m) =>
      cl -> m.keys.toSeq.sortBy(i => (-score(i), i)).head
    }
    ctx.check("survivors are not one per cluster at the maximum score")(survivors.toMap == want && survivors.size == want.size)
    val vec = d.c.vecs.toMap
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(x => x._1 * x._2).sum / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val recall = d.queryIds.map { q =>
      val all = d.c.vecs.filter(_._1 != q).map { case (i, v) => i -> cos(vec(q), v) }.sortBy(-_._2)
      val kth = all(K - 1)._2
      nn.filter(_._1 == q).count { case (_, n) => cos(vec(q), vec(n)) >= kth - 1e-4 }.toDouble / K
    }
    val mean = recall.sum / recall.size
    ctx.check(f"IVF recall@$K $mean%.3f below $RecallFloor")(mean >= RecallFloor)
  }

  /** Every returned pair clears the threshold and touches the increment, the
    * planted source of each edited increment document is found, and every
    * new document is appended.
    */
  private def checkIncrement(ctx: Ctx, d: Data, j: Int, pairs: Seq[(Long, Long, Double)], appended: Long): Unit = {
    val incIds = d.c.increments(j).map(_.id).toSet
    val sound = pairs.forall { case (a, b, jac) => jac >= Gen.CorpusJaccard && (incIds(a) || incIds(b)) }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val planted = d.c.incSources.filter { case (n, _) => incIds(n) }
    val missed = planted.count { case (n, s) => !found((math.min(n, s), math.max(n, s))) }
    ctx.check(s"increment $j: ${pairs.size} pairs, sound=$sound, $missed of ${planted.size} planted sources missed, appended $appended")(
      sound && missed == 0 && appended == incIds.size)
  }
}
