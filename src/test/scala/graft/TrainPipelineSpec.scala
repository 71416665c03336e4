package graft

import graft.operators.TrainPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TrainPipelineSpec extends SparkTestBase {

  test("chunk: covers the text with stride windows, last chunk short, empty text dropped") {
    import spark.implicits._
    val df = Seq((1L, "a" * 150), (2L, "xyz"), (3L, "")).toDF("id", "text")
    val out = TrainPipeline.chunk(df, "id", "text", size = 80, stride = 60)
      .orderBy("id", "chunk_idx").collect()
    // 150 chars, stride 60 → starts 0,60,120 → 3 chunks (last 30 chars)
    val one = out.filter(_.getLong(0) == 1L)
    assert(one.length == 3)
    assert(one(0).getString(2).length == 80)
    assert(one(2).getString(2).length == 30)
    // overlap: chunk k starts at k*60 inside the source
    assert(one(1).getString(2) == "a" * 80)
    val two = out.filter(_.getLong(0) == 2L)
    assert(two.length == 1 && two(0).getString(2) == "xyz")
    assert(!out.exists(_.getLong(0) == 3L))
  }

  test("chunkTokens: token windows with overlap; final short window counts its real tokens") {
    import spark.implicits._
    val df = Seq((1L, (1 to 50).map(i => s"t$i").mkString(" ")), (2L, "a b"), (3L, " "))
      .toDF("id", "text")
    val out = TrainPipeline.chunkTokens(df, "id", "text", sizeTokens = 32, strideTokens = 24)
      .orderBy("id", "chunk_idx").collect()
    val one = out.filter(_.getLong(0) == 1L)
    // 50 tokens, stride 24 → starts 0, 24, 48 → 3 chunks of 32/26/2 tokens
    assert(one.map(_.getLong(3)).toSeq == Seq(32L, 26L, 2L))
    assert(one(1).getString(2).startsWith("t25 "), "second window starts at token 25")
    assert(one(2).getString(2) == "t49 t50")
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(!out.exists(_.getLong(0) == 3L), "whitespace-only text yields no chunks")
  }

  test("sampleStratified: deterministic across runs and honors per-stratum rates") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("id", "lang")
    val rate = when(col("lang") === "en", 50).otherwise(10)
    val a = TrainPipeline.sampleStratified(df, "id", rate).collect().map(_.getLong(0)).toSet
    val b = TrainPipeline.sampleStratified(df, "id", rate).collect().map(_.getLong(0)).toSet
    assert(a == b, "same input must sample the same rows")
    val en = df.where(col("lang") === "en").count().toDouble
    val enKept = TrainPipeline.sampleStratified(df, "id", rate)
      .where(col("lang") === "en").count().toDouble
    val de = df.where(col("lang") === "de").count().toDouble
    val deKept = TrainPipeline.sampleStratified(df, "id", rate)
      .where(col("lang") === "de").count().toDouble
    assert(math.abs(enKept / en - 0.5) < 0.08, s"en rate ${enKept / en}")
    assert(math.abs(deKept / de - 0.1) < 0.05, s"de rate ${deKept / de}")
  }

  test("redactPii: emails, IPv4s, and long digit runs are scrubbed; short numbers survive") {
    import spark.implicits._
    val df = Seq(
      "mail me at jane.doe+spam@corp.example.co and 10.22.0.255 acct 12345678 room 42"
    ).toDF("t")
    val out = df.select(TrainPipeline.redactPii(col("t")).as("c")).head().getString(0)
    assert(out == "mail me at <EMAIL> and <IP> acct <NUM> room 42", out)
  }

  test("packGreedy: budget respected in id order, oversize item gets its own bin, groups independent") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 40L), ("a", 2L, 50L), ("a", 3L, 30L), ("a", 4L, 900L), ("a", 5L, 10L),
      ("b", 6L, 10L)).toDF("g", "id", "w")
    val out = TrainPipeline.packGreedy(df, "g", "id", "w", budget = 100L)
      .orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // a: 40+50=90 fits bin0; 30 opens bin1; 900 > budget alone in bin2; 10 in bin3
    assert(out.toSeq == Seq(
      ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("a", 4L, 2L), ("a", 5L, 3L),
      ("b", 6L, 0L)))
    // bins never exceed budget except singleton-oversize bins
    val weights = Map(1L -> 40L, 2L -> 50L, 3L -> 30L, 4L -> 900L, 5L -> 10L, 6L -> 10L)
    out.groupBy(r => (r._1, r._3)).foreach { case (_, rs) =>
      val s = rs.map(r => weights(r._2)).sum
      assert(s <= 100L || rs.length == 1, s"bin over budget: ${rs.toSeq}")
    }
  }

  test("interleaveMix: weight buckets up- and down-sample deterministically") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "up" else "down"))
      .toDF("id", "src")
    val w = when(col("src") === "up", 250L).otherwise(40L)
    val out = TrainPipeline.interleaveMix(df, "id", w)
    val again = TrainPipeline.interleaveMix(df, "id", w)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq ==
      again.collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq,
      "mix must be reproducible")
    val perRow = out.groupBy("id", "src").count().collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // weight 250 → 2 or 3 copies each; weight 40 → the row appears 0 or 1
    // times (absent rows don't show up here)
    assert(perRow.filter(_._1 == "up").forall(c => c._2 == 2 || c._2 == 3))
    assert(perRow.filter(_._1 == "down").forall(_._2 == 1))
    val upMean = out.where(col("src") === "up").count().toDouble / 500.0
    val downMean = out.where(col("src") === "down").count().toDouble / 500.0
    assert(math.abs(upMean - 2.5) < 0.15, s"up mean $upMean")
    assert(math.abs(downMean - 0.4) < 0.12, s"down mean $downMean")
  }

  test("connectedComponents: chain needs multiple rounds; isolated node keeps own label") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus isolated 9: min-label must travel 4 hops
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("n")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val got = TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (9L, 9L)))
  }

  test("connectedComponents: edges to nodes outside the universe are ignored, not miscounted") {
    import spark.implicits._
    // chain 101..111 shrinking the sum by 10/round, plus edge (10, 999)
    // with BOTH endpoints foreign: a naive label-sum probe would see the
    // +10 from node 999 cancel the -10 and stop a round early
    val nodes = (101L to 111L).toDF("n")
    val edges = ((101L to 110L).map(i => (i, i + 1)) :+ (10L, 999L)).toDF("s", "d")
    val got = TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._2 == 101L), s"whole chain must label 101: ${got.toSeq}")
    assert(!got.exists(r => r._1 == 999L || r._1 == 10L),
      "foreign endpoints must not enter the result")
  }

  test("packGreedy: the null group's first oversized item still opens bin 0") {
    import spark.implicits._
    // null sorts first; with a null "no group yet" sentinel its first row
    // would take the continuation branch and open bin 1 when oversized
    val df = Seq((null.asInstanceOf[String], 1L, 300L),
      (null.asInstanceOf[String], 2L, 10L), ("a", 3L, 40L)).toDF("g", "id", "w")
    val out = TrainPipeline.packGreedy(df, "g", "id", "w", budget = 256L)
      .orderBy("id").collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 0L)))
  }

  test("packGreedy: null id/weight rows are dropped instead of crashing the walker") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1L), Some(40L)), ("a", None, Some(50L)), ("a", Some(3L), None),
      ("a", Some(4L), Some(70L))).toDF("g", "id", "w")
    val out = TrainPipeline.packGreedy(df, "g", "id", "w", budget = 100L)
      .orderBy("id").collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L), (4L, 1L)))
  }

  test("connectedComponents: maxIter caps propagation depth") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("n")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val capped = TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d", maxIter = 1)
      .orderBy("node").collect().map(_.getLong(1)).toSeq
    // one round: each node only sees direct neighbors' original labels
    assert(capped == Seq(1L, 1L, 2L, 3L, 4L))
    // the partial exit is never silent: strict mode refuses split clusters
    val ex = intercept[IllegalStateException] {
      TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d",
        maxIter = 1, requireConvergence = true)
    }
    assert(ex.getMessage.contains("maxIter=1"))
    // a converged run passes strict mode untouched
    val strict = TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d",
        requireConvergence = true)
      .orderBy("node").collect().map(_.getLong(1)).toSeq
    assert(strict == Seq(1L, 1L, 1L, 1L, 1L))
  }

  test("decontaminate flags planted eval-set leakage and ignores clean/short docs") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog every single day")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day indeed"),
      (2L, "completely different content about catalyst optimizers and shuffle plans"),
      (3L, "fox dog day")).toDF("doc_id", "text")
    val got = TrainPipeline.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(1L), s"only the leaked doc flags: ${got.toSeq}")
    assert(got.head._2 == 100L && got.head._3 == 10L,
      s"doc 1 shares all 10 benchmark 3-grams: ${got.toSeq}")
    // df cap: with a two-doc bench sharing one boilerplate shingle, capping
    // bench df at 1 drops that shingle from BOTH bench docs' profiles
    val bench2 = Seq(
      (100L, "alpha beta gamma shared ngram here"),
      (101L, "delta epsilon zeta shared ngram here")).toDF("doc_id", "text")
    val corp2 = Seq((1L, "shared ngram here and nothing else at all")).toDF("doc_id", "text")
    val capped = TrainPipeline.decontaminate(corp2, bench2, "doc_id", "text",
      n = 3, minOverlap = 1, maxBenchDf = 1)
    assert(capped.count() == 0, "boilerplate shingle above the df cap must not flag")
    val uncapped = TrainPipeline.decontaminate(corp2, bench2, "doc_id", "text",
      n = 3, minOverlap = 1)
    assert(uncapped.count() == 2, "without the cap both bench docs flag")
  }

  test("decontaminateBloom matches the broadcast variant exactly (planted leak + sf0.001 docs)") {
    import spark.implicits._
    // planted case first — same fixture as the broadcast test
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog every single day")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day indeed"),
      (2L, "completely different content about catalyst optimizers and shuffle plans"),
      (3L, "fox dog day")).toDF("doc_id", "text")
    val got = TrainPipeline.decontaminateBloom(corpus, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 100L, 10L)), s"bloom variant must flag the leak: $got")
    // real-data equivalence: identical (doc, bench, overlap) sets — bloom
    // false positives must never survive the verify join
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc", "bench").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows(TrainPipeline.decontaminate(
      docs.where(col("doc_id") % 25 =!= 0), docs.where(col("doc_id") % 25 === 0),
      "doc_id", "text", n = 3, minOverlap = 5))
    val bloom = rows(TrainPipeline.decontaminateBloom(
      docs.where(col("doc_id") % 25 =!= 0), docs.where(col("doc_id") % 25 === 0),
      "doc_id", "text", n = 3, minOverlap = 5))
    assert(bloom == exact, "bloom-prefiltered output must equal the exact variant")
    assert(exact.nonEmpty, "fixture must plant at least one contaminated pair")
  }

  test("repetitionScore: repeated text scores high, varied text low") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six"),
      (3L, "solo")).toDF("doc_id", "text") // < 2 tokens: dropped
    val got = graft.operators.TextAnalysis.repetitionScore(df, "doc_id", "text")
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 0.8333, 1.0), (2L, 0.0, 0.2)))
  }

  test("compressionRatio: repetitive text compresses far below prose, " +
      "high-entropy far above; byte accounting and determinism hold") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val noisy = Iterator.continually(rng.nextPrintableChar()).take(600).mkString
    val df = Seq(
      (1L, "spam " * 200),                             // pure repetition
      (2L, "The quick brown fox jumps over the lazy dog " * 14), // prose-ish
      (3L, noisy),                                     // near-incompressible
      (4L, "")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.compressionRatio(df, "doc_id", "text")
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byId = got.map(t => t._1 -> t).toMap
    // raw_bytes is the UTF-8 length
    assert(byId(1L)._2 == 1000L && byId(3L)._2 == 600L && byId(4L)._2 == 0L)
    // ordering: repetition << repeated prose << random printable chars
    assert(byId(1L)._4 < 0.05, s"pure repetition: ${byId(1L)._4}")
    assert(byId(1L)._4 < byId(2L)._4 && byId(2L)._4 < byId(3L)._4)
    assert(byId(3L)._4 > 0.7, s"high entropy must stay near 1: ${byId(3L)._4}")
    // deterministic across runs
    val again = graft.operators.TextAnalysis.compressionRatio(df, "doc_id", "text")
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == again.toSeq)
  }

  test("connectedComponentsAlternating: diameter-100 chain converges in O(log n) rounds and matches the simple variant") {
    import spark.implicits._
    // permuted chain: p(i) = 37i mod 101 is a bijection on 0..100, so ids
    // along the chain are non-monotone — min-labels must genuinely travel
    def p(i: Long): Long = (i * 37L) % 101L
    val chain = (0L until 100L).map(i => (p(i), p(i + 1)))
    val extra = Seq((200L, 201L)) // second component
    val nodes = ((0L to 100L).map(p) ++ Seq(200L, 201L, 300L)).toDF("n")
    val edges = (chain ++ extra).toDF("s", "d")
    // maxIter = 15 << diameter 100: only the O(log n) algorithm converges
    val alt = TrainPipeline.connectedComponentsAlternating(nodes, "n",
        edges, "s", "d", maxIter = 15, requireConvergence = true)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val simple = TrainPipeline.connectedComponents(nodes, "n",
        edges, "s", "d", maxIter = 150, requireConvergence = true)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(alt == simple, "alternating and label-propagation variants must agree")
    assert(alt.filter(_._1 <= 100L).forall(_._2 == 0L), "chain labels its min (0)")
    assert(alt.toMap.apply(201L) == 200L)
    assert(alt.toMap.apply(300L) == 300L, "isolated node keeps its own label")
  }

  test("connectedComponentsAlternating: foreign endpoints ignored; strict mode flags maxIter exit") {
    import spark.implicits._
    val nodes = (1L to 40L).toDF("n")
    val edges = ((1L to 39L).map(i => (i, i + 1)) :+ (5L, 999L)).toDF("s", "d")
    val got = TrainPipeline.connectedComponentsAlternating(nodes, "n", edges, "s", "d")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._2 == 1L))
    assert(!got.exists(_._1 == 999L), "foreign endpoint must not enter the result")
    val ex = intercept[IllegalStateException] {
      TrainPipeline.connectedComponentsAlternating(nodes, "n", edges, "s", "d",
        maxIter = 1, requireConvergence = true)
    }
    assert(ex.getMessage.contains("maxIter=1"))
  }

  test("connectedComponentsAuto: shallow graph stays on label propagation; deep chain trips the guard and still converges") {
    import spark.implicits._
    // gate 0 forces the distributed rounds, which these graphs would
    // otherwise skip: the union-find finishes anything under 2^20 edges
    def auto(nodes: DataFrame, edges: DataFrame, diameterBudget: Int = 8,
        maxIter: Int = 30): Seq[(Long, Long)] =
      TrainPipeline.connectedComponentsGated(nodes, "n", edges, "s", "d",
          diameterBudget, maxIter, requireConvergence = true, smallGate = 0L)
        .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // shallow: diameter 3, budget 8 — the simple path converges in-budget
    val nodesS = (1L to 8L).toDF("n")
    val edgesS = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("s", "d")
    assert(auto(nodesS, edgesS) == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))

    // deep: permuted diameter-100 chain with budget 4 — label propagation
    // CANNOT finish in 4 rounds, so the guard must restart on the
    // alternating formulation and converge there (maxIter 15 suffices only
    // for the O(log n) path)
    def p(i: Long): Long = (i * 37L) % 101L
    val nodesD = ((0L to 100L).map(p) ++ Seq(300L)).toDF("n")
    val edgesD = (0L until 100L).map(i => (p(i), p(i + 1))).toDF("s", "d")
    val deep = auto(nodesD, edgesD, diameterBudget = 4, maxIter = 15)
    assert(deep.filter(_._1 <= 100L).forall(_._2 == 0L), "chain labels its min (0)")
    assert(deep.toMap.apply(300L) == 300L)

    // strict mode still surfaces a genuine non-convergence: budget 1 AND
    // alternating maxIter 1 on the deep chain leaves no converging path
    val ex = intercept[IllegalStateException] {
      auto(nodesD, edgesD, diameterBudget = 1, maxIter = 1)
    }
    assert(ex.getMessage.contains("maxIter=1"))
  }

  test("connectedComponentsAuto: the alternating fallback finishes small once a round fits under the gate") {
    import spark.implicits._
    // a permuted diameter-100 chain (100 edges) next to a 15-clique (105
    // edges): 205 canonical edges start above a gate of 150, label
    // propagation cannot cover the chain in 2 rounds, and the first
    // alternating round contracts the clique to a 14-edge star (114 edges)
    def p(i: Long): Long = (i * 37L) % 101L
    val nodes = ((0L to 100L).map(p) ++ (200L until 215L)).toDF("n")
    val edges = ((0L until 100L).map(i => (p(i), p(i + 1))) ++
      (for (a <- 200L until 215L; b <- a + 1 until 215L) yield (a, b))).toDF("s", "d")
    def gated(gate: Long): DataFrame =
      TrainPipeline.connectedComponentsGated(nodes, "n", edges, "s", "d",
        diameterBudget = 2, maxIter = 1, requireConvergence = true, smallGate = gate)
    // one alternating round cannot contract a diameter-100 chain, so
    // without the gate the strict run fails...
    intercept[IllegalStateException](gated(0L).collect())
    // ...and with it the union-find finishes the round's edge set exactly
    val got = gated(150L).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 116)
    assert(got.forall { case (n, c) => c == (if (n >= 200L) 200L else 0L) }, got)
  }

  /** Node → minimum reachable id, by a plain union-find on the driver;
    * edges with an endpoint outside `nodes` are ignored.
    */
  private def closure(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("connectedComponentsAuto: the union-find path equals both distributed formulations and a driver-side closure") {
    import spark.implicits._
    def p(i: Long): Long = (i * 37L) % 101L
    val chain = (0L until 100L).map(i => (p(i), p(i + 1)))
    // duplicate, reversed and self-loop edges; 300/301 isolated (300 only
    // through a self-loop); foreign endpoints 996-999
    val messy = Seq((200L, 201L), (201L, 200L), (200L, 201L), (201L, 202L),
      (202L, 202L), (300L, 300L))
    val foreign = Seq((5L, 999L), (998L, 997L), (200L, 996L))
    val ids = (0L to 100L) ++ Seq(200L, 201L, 202L, 300L, 301L)
    val pairs = chain ++ messy ++ foreign
    val want = closure(ids, pairs)
    val nodes = ids.toDF("n")
    val edges = pairs.toDF("s", "d")
    def longs(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // budget 1 and maxIter 1 cannot converge on the chain by rounds: only
    // the union-find can answer this strict call
    val small = longs(TrainPipeline.connectedComponentsAuto(nodes, "n", edges, "s", "d",
      diameterBudget = 1, maxIter = 1, requireConvergence = true))
    assert(small == want)
    assert(longs(TrainPipeline.connectedComponents(nodes, "n", edges, "s", "d",
      maxIter = 150, requireConvergence = true)) == want)
    assert(longs(TrainPipeline.connectedComponentsAlternating(nodes, "n", edges, "s", "d",
      requireConvergence = true)) == want)

    // Int ids take the same path and keep their type
    val ints = TrainPipeline.connectedComponentsAuto(ids.map(_.toInt).toDF("n"), "n",
      pairs.map { case (a, b) => (a.toInt, b.toInt) }.toDF("s", "d"), "s", "d",
      diameterBudget = 1, maxIter = 1, requireConvergence = true)
    assert(ints.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(ints.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toMap == want)
  }

  test("connectedComponentsAuto: the union-find path runs the same number of jobs for a diameter-10 and a diameter-1000 chain") {
    import spark.implicits._
    val sc = spark.sparkContext
    val tag = "graft.spec.ccJobs"
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(ps => Option(ps.getProperty(tag))).foreach { t =>
          jobs.synchronized { jobs(t) = jobs.getOrElse(t, 0) + 1 }
        }
    }
    def run(diameter: Int): Unit = {
      // ids permuted along the chain (gcd(37, diameter + 1) = 1)
      def p(i: Long): Long = (i * 37L) % (diameter + 1L)
      val nodes = (0L to diameter.toLong).map(p).toDF("n")
      val edges = (0L until diameter.toLong).map(i => (p(i), p(i + 1))).toDF("s", "d")
      sc.setLocalProperty(tag, s"d$diameter")
      val got = TrainPipeline.connectedComponentsAuto(nodes, "n", edges, "s", "d",
        requireConvergence = true).collect()
      assert(got.length == diameter + 1 && got.forall(_.getLong(1) == 0L))
    }
    sc.addSparkListener(listener)
    try {
      run(10)
      run(1000)
      // one listener sees events in order: once the flush job arrives,
      // every job of both runs has been counted
      sc.setLocalProperty(tag, "flush")
      spark.range(1).count()
      eventually()(jobs.synchronized(jobs.contains("flush")))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val (short, long) = jobs.synchronized((jobs("d10"), jobs("d1000")))
    assert(short == long, s"jobs: diameter 10 → $short, diameter 1000 → $long")
  }

  test("sampleUniformN: exact size, partitioning-invariant, TakeOrdered plan (no sort shuffle)") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"doc$i")).toDF("id", "text")
    val a = TrainPipeline.sampleUniformN(df, "id", 50)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = TrainPipeline.sampleUniformN(df.repartition(13), "id", 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a.size == 50 && a == b, "sample must be an exact, layout-stable set")
    val c = TrainPipeline.sampleUniformN(df, "id", 50, salt = "v2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(c != a, "a different salt draws a different sample")
    val plan = TrainPipeline.sampleUniformN(df, "id", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"fixed-size sample must not global-sort:\n$plan")
  }

  test("shuffleShards: deterministic, salt-epoch reshuffle, positions tile each shard") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"doc$i")).toDF("id", "text")
    val a = TrainPipeline.shuffleShards(df, "id", numShards = 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = TrainPipeline.shuffleShards(df.repartition(7), "id", numShards = 8)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // reproducible: same assignment regardless of input partitioning
    assert(a.toSet == b.toSet)
    // positions tile 1..n within every shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // all shards in range and used (200 rows over 8 uniform buckets)
    assert(a.map(_._2).toSet == (0 until 8).toSet)
    // the shuffle decorrelates: within-shard order is not source order
    val shard0 = a.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted, "shuffle left source order intact")
    // a different salt is a fresh epoch: some assignment must change
    val c = TrainPipeline.shuffleShards(df, "id", numShards = 8, salt = "ep1")
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(c.toSet != a.toSet)
  }

  test("writeShards: shard directories hold rows in shuffle-position order") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"doc$i")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    TrainPipeline.writeShards(df, "id", numShards = 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100)
    // per shard: reading the files sequentially yields pos order 1..n —
    // the no-reader-side-sort contract
    val expected = TrainPipeline.shuffleShards(df, "id", numShards = 4)
      .select("shard", "pos", "id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, rows) =>
        s -> rows.sortBy(_._2).map(_._3).toSeq }
    (0 until 4).foreach { s =>
      val got = spark.read.parquet(s"$dir/shard=$s")
        .select("id", "pos").collect().sortBy(_.getLong(1)).map(_.getLong(0))
      assert(got.toSeq == expected(s), s"shard $s order")
    }
  }

  test("logTemplates: masks uuid/ip/hex/number with correct precedence, groups by template") {
    import spark.implicits._
    val df = Seq(
      "req 550e8400-e29b-41d4-a716-446655440000 from 192.168.1.10 took 35ms",
      "req deadbeefcafe1234 from 10.0.0.7 took 7ms",
      "req 550e8400-e29b-41d4-a716-446655440000 from 192.168.1.11 took 1.5ms",
      "cache hit ratio 0.95").toDF("log")
    val got = graft.operators.TextAnalysis.logTemplates(df, "log")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // uuid masked as ONE token (not hex+number shards); ip before hex/num
    assert(got == Map(
      "req <UUID> from <IP> took <N>ms" -> 2,
      "req <HEX> from <IP> took <N>ms" -> 1,
      "cache hit ratio <N>" -> 1), got.toString)
  }

  test("sampleGroupN: exact n per group, deterministic per salt, fresh draw per new salt") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    def draw(salt: String) = TrainPipeline
      .sampleGroupN(df, Seq("g"), "id", n = 10, salt = salt)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val a = draw("s1")
    assert(a.groupBy(_._1).view.mapValues(_.size).toMap ==
      Map("g0" -> 10, "g1" -> 10, "g2" -> 10))
    assert(a == draw("s1"), "same salt must reproduce the identical sample")
    assert(a != draw("s2"), "a new salt must be a fresh draw")
    // n larger than the group returns the whole group, no padding
    val small = (0 until 4).map(i => (i.toLong, "g")).toDF("id", "g")
    assert(TrainPipeline.sampleGroupN(small, Seq("g"), "id", 10).count() == 4)
  }

  test("novelTemplates: first-seen-in-window templates only; volume changes of old shapes never flag") {
    import spark.implicits._
    val df = Seq(
      // old shape: printed before AND (100×) inside the window — not novel
      ("2024-01-01 00:00:00", "conn from 10.0.0.1 ok"),
      ("2024-01-05 00:00:00", "conn from 10.0.0.2 ok"),
      // novel shape: first occurrence inside the window
      ("2024-01-05 01:00:00", "circuit breaker OPEN for billing"),
      ("2024-01-05 02:00:00", "circuit breaker OPEN for search"),
      // boundary: first seen exactly AT windowStart counts as novel
      ("2024-01-04 00:00:00", "tls handshake slow 250ms"))
      .toDF("tss", "log")
      .select(to_timestamp(col("tss")).as("ts"), col("log"))
    val got = graft.operators.TextAnalysis.novelTemplates(df, "log", "ts",
        lit("2024-01-04 00:00:00").cast("timestamp"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map(
      "circuit breaker OPEN for billing" -> 1,
      "circuit breaker OPEN for search" -> 1,
      "tls handshake slow <N>ms" -> 1), got.toString)
  }

  test("quantizeInt8: max element pins ±127, reconstruction within scale/2, zero vector safe") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.5f, -0.25f, 0.125f, 0.0f)),
      (2L, Array(-1.0f, 1.0f, 0.5f, -0.5f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = TrainPipeline.quantizeInt8(emb, "vec_id", "embedding")
      .orderBy("id").collect()
    val (r1, r2, r3) = (rows(0), rows(1), rows(2))
    val q1 = r1.getSeq[Int](2); val q2 = r2.getSeq[Int](2)
    // the largest-magnitude element maps to exactly ±127
    assert(q1.max == 127, s"q1=$q1")
    assert(q2.min == -127 && q2.max == 127, s"q2=$q2")
    // elementwise reconstruction bound: |x - q*scale| <= scale/2
    for ((r, orig) <- Seq(r1 -> Seq(0.5, -0.25, 0.125, 0.0),
        r2 -> Seq(-1.0, 1.0, 0.5, -0.5))) {
      // the emitted scale is rounded for display; the bound holds against
      // the true scale (floor(x/s + 0.5) can land exactly on a half-step)
      val scale = orig.map(math.abs).max / 127.0
      assert(math.abs(r.getDouble(1) - scale) < 1e-6, "emitted scale drifted")
      val q = r.getSeq[Int](2)
      q.zip(orig).foreach { case (qi, xi) =>
        assert(math.abs(xi - qi * scale) <= scale / 2 + 1e-12,
          s"vec ${r.getLong(0)}: $xi vs $qi*$scale")
      }
      assert(r.getDouble(3) > 0.999, "int8 cosine fidelity")
    }
    // all-zero vector: scale 0, zero q, null fidelity (cosine undefined)
    assert(r3.getDouble(1) == 0.0 && r3.getSeq[Int](2).forall(_ == 0) &&
      r3.isNullAt(3))
  }
}
