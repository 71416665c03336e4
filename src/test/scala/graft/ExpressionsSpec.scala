package graft

import graft.functions.{Rounding, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native expressions vs their Column-formula equivalents, and the
  * cross-engine rounding contract.
  */
class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_round: half away from zero on doubles (DuckDB round semantics)") {
    val cases = Seq(2.5 -> 3.0, 3.5 -> 4.0, -2.5 -> -3.0, 2.4 -> 2.0, -2.4 -> -2.0)
    val out = cases.map(_._1).toDF("x")
      .select(Rounding.r(col("x"), 0).as("r")).collect().map(_.getDouble(0))
    assert(out.toSeq == cases.map(_._2))
    // tie at 2 decimals (the fn_math regression): 46523.715 → .72
    val tie = Seq(46523.715).toDF("x")
      .select(Rounding.r2(col("x"))).collect()(0).getDouble(0)
    assert(tie == 46523.72)
  }

  test("graft_tokens equals the filter(split(lower)) formulation") {
    val texts = spark.read.parquet(sf() + "/documents.parquet").select("text")
    val mismatches = texts.select(
        call_function("graft_tokens", col("text")).as("fast"),
        filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("slow"))
      .where(not(col("fast") === col("slow")))
      .count()
    assert(mismatches == 0)
  }

  test("graft_tokens lowercases with Locale.ROOT regardless of the default locale") {
    val prev = java.util.Locale.getDefault
    try {
      // under tr-TR, default-locale toLowerCase maps "I" to dotless "ı",
      // which would diverge from DuckDB lower() and break oracle parity
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      val toks = graft.expressions.Tokenize.tokenize(
        org.apache.spark.unsafe.types.UTF8String.fromString("III ij"))
      assert(toks.getUTF8String(0).toString == "iii")
      assert(toks.getUTF8String(1).toString == "ij")
    } finally java.util.Locale.setDefault(prev)
  }

  test("graft_shingles equals the transform/slice formulation (incl. short docs)") {
    val texts = (Seq("one", "a b", "", "x  y\tz  w") ++
      spark.read.parquet(sf() + "/documents.parquet")
        .select("text").as[String].take(50)).toDF("text")
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    // empty/whitespace-only text has NO shingles (not a single empty one) —
    // matches the DuckDB oracles, which drop empty tokens
    val slow = when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < 3, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
    val mismatches = texts.select(
        TF.shingles(col("text"), 3).as("fast"), slow.as("slow"))
      .where(not(col("fast") === col("slow"))).count()
    assert(mismatches == 0)
  }

  test("graft_cosine / graft_dot equal the higher-order-function formulation") {
    val vecs = spark.read.parquet(sf() + "/embeddings.parquet").limit(50)
    val a = vecs.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib"))
    val mismatches = pairs.select(
        graft.expressions.VectorExprs.cosine(col("va"), col("vb")).as("fast"),
        (VF.dot(col("va"), col("vb")) / (VF.l2Norm(col("va")) * VF.l2Norm(col("vb")))).as("slow"))
      .where(abs(col("fast") - col("slow")) > 1e-12).count()
    assert(mismatches == 0)
  }

  test("graft_bloom_contains: no false negatives, honest fpp, null/constant contract") {
    import graft.expressions.SketchExprs
    val members = (0 until 1000).map(i => s"member-$i")
    val bloom = members.toDF("sh")
      .select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", 1000, 0.01)
    val bytes = SketchExprs.serialize(bloom)
    // every member hits (bloom guarantee: zero false negatives)
    val hits = members.toDF("sh")
      .where(SketchExprs.bloomContains(bytes, col("sh"))).count()
    assert(hits == 1000L)
    // fpp stays near the configured 1% on a disjoint probe set
    val fp = (0 until 10000).map(i => s"absent-$i").toDF("sh")
      .where(SketchExprs.bloomContains(bytes, col("sh"))).count()
    assert(fp < 300L, s"false-positive count $fp implies fpp far above 1%")
    // null value → null (filter drops it), and the codegen + interpreted
    // paths agree (the where above ran codegen; eval() runs interpreted)
    val row = Seq(Option.empty[String]).toDF("sh")
      .select(SketchExprs.bloomContains(bytes, col("sh")).as("m")).collect()
    assert(row.head.isNullAt(0))
    val expr = graft.expressions.BloomContainsString(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        bytes, BinaryType),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("member-7"), StringType))
    assert(expr.eval(null) == true)
    // a foldable NULL bloom yields null rows in BOTH execution paths (the
    // codegen path emits the constant-null form instead of NPE-ing)
    val nullBloom = members.take(3).toDF("sh")
      .select(call_function("graft_bloom_contains",
        lit(null).cast(BinaryType), col("sh")).as("m"))
    assert(nullBloom.collect().forall(_.isNullAt(0)))
    assert(nullBloom.where(col("m")).count() == 0)
    // a non-constant bloom argument is rejected at analysis time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", Array[Byte](1))).toDF("sh", "b")
        .where(call_function("graft_bloom_contains", col("b"), col("sh")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("constant bloom"),
      s"unexpected analysis error: ${err.getMessage}")
  }

  test("minhash signature: jaccard estimate tracks exact jaccard") {
    // two token sets with known overlap 50/150 = 1/3
    val x = (0 until 100).map(i => s"t$i")
    val y = (50 until 150).map(i => s"t$i")
    val df = Seq((1L, x), (2L, y)).toDF("id", "sh")
    val k = 256
    val sigs = df.select(col("id"),
        call_function("graft_minhash", col("sh"), lit(k)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (p, q) => p == q }.toDouble / k
    assert(math.abs(est - 1.0 / 3.0) < 0.1, s"estimate $est far from 1/3")
  }

  test("minhash union aggregate: group signature == signature of the union set") {
    val k = 64
    val x = (0 until 80).map(i => s"t$i")
    val y = (40 until 120).map(i => s"t$i")
    // two rows aggregated vs their union as one row
    val grouped = Seq(("g", x), ("g", y)).toDF("g", "sh")
      .groupBy("g")
      .agg(graft.expressions.MinHashAgg.minhashUnion(col("sh"), k).as("sig"))
      .collect()(0).getSeq[Long](1)
    val unioned = Seq((x ++ y).distinct).toDF("sh")
      .select(call_function("graft_minhash", col("sh"), lit(k)).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(grouped == unioned)
  }

  test("simhash: identical token sets → identical fingerprint; disjoint → distant") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww vv uu")).toDF("id", "text")
    val fps = df.select(col("id"),
        call_function("graft_simhash", TF.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) > 8)
  }

  test("lshTopK recall vs brute-force on the shared embeddings") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10,
      sketchBits = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"LSH@10 recall $recall vs brute")
  }

  test("signProject: deterministic matrix, cosine fidelity grows with outDim, exact-dup cosines stay 1") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .where(col("vec_id") < 100)
    // matrix determinism: an entry is a pure function of (salt, j, k)
    val m1 = Similarity.signProjectionMatrix(8, 4, "s")
    val m2 = Similarity.signProjectionMatrix(8, 4, "s")
    assert(m1.map(_.toSeq).toSeq == m2.map(_.toSeq).toSeq)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(Similarity.signProjectionMatrix(8, 4, "other").map(_.toSeq).toSeq
      != m1.map(_.toSeq).toSeq)
    def meanDelta(outDim: Int): Double = {
      val p = Similarity.signProject(emb, "vec_id", "embedding", outDim, "t")
      val both = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(p, "vec_id")
      both.as("a").crossJoin(both.as("b"))
        .where(col("a.vec_id") < col("b.vec_id"))
        .select(abs(
          graft.expressions.VectorExprs.cosine(col("a.v"), col("b.v")) -
          graft.expressions.VectorExprs.cosine(col("a.proj"), col("b.proj")))
          .as("d"))
        .agg(avg("d")).head().getDouble(0)
    }
    val (d8, d32) = (meanDelta(8), meanDelta(32))
    assert(d32 < d8, s"JL monotonicity violated: 32-dim $d32 vs 8-dim $d8")
    assert(d32 < 0.2, s"32-dim mean cosine distortion too high: $d32")
    // identical vectors project identically → projected cosine exactly 1
    val p = Similarity.signProject(emb.limit(1), "vec_id", "embedding", 16, "t")
      .collect()(0).getSeq[Double](1)
    assert(p.length == 16 && p.exists(_ != 0.0))
  }

  test("ivfTopK recall vs brute-force on the shared embeddings") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    // 100 queries (1,000 true neighbours), as the PQ tests: on 5, the
    // estimate spreads 0.44-0.64 across build seeds, close to the floor
    val queries = emb.where(col("vec_id") < 100)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      numCells = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF@10 recall $recall vs brute")
  }

  test("pqTopK recall vs brute-force on the shared embeddings") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    // 100 queries (1,000 true neighbours): on 5, the raw ADC estimate
    // spreads 0.16-0.32 across build seeds on these isotropic vectors,
    // across the floor, for Spark ML's KMeans and the one-task fit alike
    val queries = emb.where(col("vec_id") < 100)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val idx = Similarity.buildPqIndex(emb, "vec_id", "embedding")
    val pq = Similarity.pqQuery(idx, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.25, s"raw ADC PQ@10 recall $recall vs brute")
    // the refine pass re-ranks a 50-candidate ADC shortlist exactly —
    // recall must step up well beyond raw ADC
    val refined = Similarity.pqQueryRefined(idx, emb, queries,
        "vec_id", "embedding", 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refRecall = (brute intersect refined).size.toDouble / brute.size
    assert(refRecall >= 0.6, s"refined PQ@10 recall $refRecall vs brute")
    assert(refRecall >= recall, "refine must not lose recall")
  }

  test("ivfPq: raw ADC over probed cells recalls, refine steps up, all-cells+refine near-exact") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    // 100 queries (1,000 true neighbours): on 5, the raw ADC estimate
    // spreads 0.16-0.32 across build seeds on these isotropic vectors,
    // across the floor, for Spark ML's KMeans and the one-task fit alike
    val queries = emb.where(col("vec_id") < 100)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      numCells = 8)
    val raw = Similarity.ivfPqQuery(idx, queries, "vec_id", "embedding", 10,
        nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rawRecall = (brute intersect raw).size.toDouble / brute.size
    assert(rawRecall >= 0.2, s"IVF-PQ raw ADC@10 recall $rawRecall vs brute")
    val refined = Similarity.ivfPqQueryRefined(idx, emb, queries,
        "vec_id", "embedding", 10, shortlist = 50, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refRecall = (brute intersect refined).size.toDouble / brute.size
    assert(refRecall >= 0.5, s"refined IVF-PQ@10 recall $refRecall vs brute")
    assert(refRecall >= rawRecall, "refine must not lose recall")
    // every cell probed + a shortlist big enough to hold the true top-10:
    // the remaining loss is only ADC shortlist selection, so recall must
    // be near-exact
    val full = Similarity.ivfPqQueryRefined(idx, emb, queries,
        "vec_id", "embedding", 10, shortlist = 100, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val fullRecall = (brute intersect full).size.toDouble / brute.size
    assert(fullRecall >= 0.7, s"all-cells refined recall $fullRecall")
  }

  test("IvfPqIndex save/load round-trips results and recovered shape params") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .where(col("vec_id") < 200)
    val queries = emb.where(col("vec_id") < 3)
    val idx = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      numCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.IvfPqIndex.save(idx, dir)
    val back = Similarity.IvfPqIndex.load(spark, dir)
    assert(back.numCells == idx.numCells && back.m == idx.m &&
      back.codesPerSub == idx.codesPerSub && back.dim == idx.dim)
    val a = Similarity.ivfPqQuery(idx, queries, "vec_id", "embedding", 5,
      nprobe = 4).collect().map(_.toSeq).toSet
    val b = Similarity.ivfPqQuery(back, queries, "vec_id", "embedding", 5,
      nprobe = 4).collect().map(_.toSeq).toSet
    assert(a == b, "persisted index must answer identically")
  }

  test("knnJoin: exact at nprobe = numCells (brute parity), graceful recall below") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    // with every cell probed, the cell-routed join IS the brute join —
    // every (query, neighbor) pair is scored exactly once
    val brute = Similarity.bruteTopK(emb, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Similarity.knnJoin(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, numCells = 8, nprobe = 8,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exact == brute, "all-cells knnJoin must equal brute top-k")

    val approx = Similarity.knnJoin(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, numCells = 8, nprobe = 2,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brutePairs = brute.map { case (q, _, n) => (q, n) }
    val recall = (brutePairs intersect approx).size.toDouble / brutePairs.size
    assert(recall >= 0.4, s"knnJoin@3 nprobe=2 recall $recall vs brute")
  }

  test("probeCells: literal vs broadcast form identical across the gate, no plan-size blowup") {
    // a 5000-cell centroid table sits past ProbeLiteralMaxCells (4096):
    // the auto gate must pick the broadcast array-column form, return the
    // same probe sets as the forced-literal form, and keep the plan tiny
    // (the literal form embeds one struct per cell in the expression tree)
    val nCells = 5000
    val dim = 8
    val cents = spark.range(nCells).select(
      col("id").cast("int").as("cell"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (pmod(xxhash64(col("id") * lit(31) + j), lit(1000)) / lit(500.0))
          - lit(1.0)).as("centroid"))
    val rows = spark.range(40).select(
      col("id").as("qid"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (pmod(xxhash64(col("id") * lit(37) + j * lit(7)), lit(1000))
          / lit(500.0)) - lit(1.0)).cast("array<double>").as("qv"))
      .persist()
    val lit5k = Similarity.probeCells(rows, cents, nprobe = 3,
      maxLiteralCells = Int.MaxValue)
    val bcast = Similarity.probeCells(rows, cents, nprobe = 3,
      maxLiteralCells = Similarity.ProbeLiteralMaxCells)
    val a = lit5k.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val b = bcast.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(a == b, "probe sets must be identical across the gate")
    assert(a.size == 40 * 3)
    // plan SIZE by expression-node count (toString truncates long trees,
    // so string length would hide exactly the blowup under test): the
    // literal form carries one struct(dot(qv, <64 doubles>), cell) per
    // cell — ~10⁵ nodes at 5000 cells — the broadcast form a constant
    // handful
    def exprNodes(df: org.apache.spark.sql.DataFrame): Long = {
      var n = 0L
      df.queryExecution.optimizedPlan.foreach { p =>
        p.expressions.foreach(e => e.foreach(_ => n += 1))
      }
      n
    }
    val litNodes = exprNodes(lit5k)
    val bcastNodes = exprNodes(bcast)
    assert(bcastNodes < litNodes / 100,
      s"broadcast form must not embed centroids in the plan " +
        s"(literal $litNodes expr nodes vs broadcast $bcastNodes)")
    // and well under the gate the literal path still serves (tie-order
    // parity on a small table both forms can run)
    val centsSmall = cents.where(col("cell") < 64)
    val la = Similarity.probeCells(rows, centsSmall, 3, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val lb = Similarity.probeCells(rows, centsSmall, 3, 0)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(la == lb)
    rows.unpersist()
    ()
  }

  test("knnJoin: excludeSelf=false keeps the self match at rank 1") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .where(col("vec_id") < 50)
    val withSelf = Similarity.knnJoin(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", k = 1, numCells = 4, nprobe = 4)
      .collect()
    assert(withSelf.forall(r => r.getLong(0) == r.getLong(2)),
      "every vector's nearest neighbor including itself is itself")
  }

  test("graft_remove_at: two-pointer drop at sorted 1-based positions, incl. empty/all/out-of-range") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq(2, 4)),
      (2L, Seq("a", "b"), Seq.empty[Int]),
      (3L, Seq("a", "b"), Seq(1, 2)),
      (4L, Seq("a", "b"), Seq(3, 9)) // past the end → no-op
    ).toDF("id", "t", "pos")
    val out = df.select(col("id"),
        call_function("graft_remove_at", col("t"), col("pos")).as("kept"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a", "c"))
    assert(out(2L) == Seq("a", "b"))
    assert(out(3L) == Seq.empty)
    assert(out(4L) == Seq("a", "b"))
  }

  test("PQ survives a deficient subspace codebook: constant sub-vectors give KMeans < k centers, padding keeps ADC slots aligned") {
    val rnd = new scala.util.Random(11)
    // dims 0-7 constant (one distinct sub-vector → 1 center), dims 8-15 varied
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.fill(8)(0.5f) ++ Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.buildPqIndex(emb, "vec_id", "embedding",
      m = 2, codesPerSub = 8)
    // padded codebook must still be dense: exactly m * codesPerSub rows
    assert(idx.codebooks.count() == 16)
    val queries = emb.where(col("vec_id") < 3)
    val out = Similarity.pqQuery(idx, queries, "vec_id", "embedding", k = 5)
      .collect()
    assert(out.length == 15, "every query answers k rows")
    // with a full-corpus shortlist the refine pass must agree with brute
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val refined = Similarity.pqQueryRefined(idx, emb, queries,
        "vec_id", "embedding", 5, shortlist = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(refined == brute)
  }

  test("PQ index save/load: geometry recovered from the codebook grid, loaded index answers identically") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val idx = Similarity.buildPqIndex(emb, "vec_id", "embedding")
    val dir = tmp("pqidx")
    Similarity.PqIndex.save(idx, dir)
    val loaded = Similarity.PqIndex.load(spark, dir)
    assert(loaded.m == idx.m && loaded.codesPerSub == idx.codesPerSub &&
      loaded.dim == idx.dim)
    val q = emb.where(col("vec_id") < 3)
    val a = Similarity.pqQuery(idx, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Similarity.pqQuery(loaded, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("PQ ADC distance approximates true squared L2 on the unit sphere") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val idx = Similarity.buildPqIndex(emb, "vec_id", "embedding")
    // codes are m small ints — the compressed representation really is m
    // codes per vector, each within [0, codesPerSub)
    val codes = idx.codes.limit(50).collect()
    assert(codes.forall { r =>
      val cs = r.getSeq[Int](1)
      cs.length == idx.m && cs.forall(c => c >= 0 && c < idx.codesPerSub)
    })
    // ADC distances live on the unit sphere: approx ‖q−x‖² ∈ [0, 4] + slack
    val scored = Similarity.pqQuery(idx, emb.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 10).collect()
    assert(scored.nonEmpty)
    assert(scored.forall { r =>
      val d = r.getDouble(3); d >= -0.05 && d <= 4.5
    }, "ADC distance outside the unit-sphere range")
  }

  test("IVF index save/load: per-cell layout on disk, loaded index answers identically, probe join prunes partitions dynamically") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val built = Similarity.buildIvfIndex(emb, "vec_id", "embedding", numCells = 8)
    val dir = tmp("graft-ivf")
    Similarity.IvfIndex.save(built, dir)

    // the promised physical layout: one directory per cell, so a probed
    // query batch can skip every other cell's files
    val cellDirs = new java.io.File(s"$dir/bucketed").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length == 8, s"per-cell dirs: ${cellDirs.mkString(",")}")

    val loaded = Similarity.IvfIndex.load(spark, dir)
    assert(loaded.numCells == 8)
    def answers(ix: Similarity.IvfIndex) =
      Similarity.ivfQuery(ix, queries, "vec_id", "embedding", k = 10, nprobe = 3)
        .collect().map(_.toString).sorted.toSeq
    assert(answers(loaded) == answers(built),
      "a persisted+reloaded index must answer exactly like the in-memory one")

    // the scale property the layout exists for: the probe side is small
    // (broadcastable), so the cell equi-join plants a dynamic-pruning
    // subquery in the bucketed scan's partition filters — per batch, only
    // the probed cells' files are read
    val plan = Similarity.ivfQuery(loaded, queries, "vec_id", "embedding",
      k = 10, nprobe = 3).queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"partitioned index scan should carry a dynamic partition filter:\n$plan")
  }

  test("ivfQuery probes with probeCells: every cell probed answers as bruteTopK, one Window in the plan") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 20)
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding", numCells = 8)
    val ivf = Similarity.ivfQuery(idx, queries, "vec_id", "embedding", k = 10,
      nprobe = idx.numCells)
    val brute = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10)
    assert(ivf.collect().map(_.toSeq).toSet == brute.collect().map(_.toSeq).toSet,
      "an all-cells IVF probe must return exactly the brute-force rows")
    // the probe is a narrow projection, so the only window left is topK's
    // result ranking (a crossJoin probe ranks cells with a second one)
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plan = Similarity.ivfQuery(idx, queries, "vec_id", "embedding", k = 10,
      nprobe = 3).queryExecution.executedPlan
    val windows = Plans.collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, s"expected one Window operator:\n$plan")
  }

  test("PQ and IVF-PQ index load: one codebook-geometry read each, equal to the built geometry") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .where(col("vec_id") < 200)
    val pq = Similarity.buildPqIndex(emb, "vec_id", "embedding",
      m = 4, codesPerSub = 8)
    val ivfPq = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      numCells = 4, m = 4, codesPerSub = 8)
    val pqDir = tmp("graft-pq-geo")
    val ivfPqDir = tmp("graft-ivfpq-geo")
    Similarity.PqIndex.save(pq, pqDir)
    Similarity.IvfPqIndex.save(ivfPq, ivfPqDir)
    val (p, pqJobs) = withJobs(Similarity.PqIndex.load(spark, pqDir))
    val (ip, ivfPqJobs) = withJobs(Similarity.IvfPqIndex.load(spark, ivfPqDir))
    assert((p.m, p.codesPerSub, p.dim) == (pq.m, pq.codesPerSub, pq.dim))
    assert((ip.numCells, ip.m, ip.codesPerSub, ip.dim) ==
      (ivfPq.numCells, ivfPq.m, ivfPq.codesPerSub, ivfPq.dim))
    // both loads read the geometry the same way; the IVF-PQ load adds only
    // the centroid table's read and count
    val (_, centroidJobs) = withJobs(
      spark.read.parquet(s"$ivfPqDir/centroids").count())
    assert(ivfPqJobs.size == pqJobs.size + centroidJobs.size,
      s"PQ load ran ${pqJobs.size} jobs, IVF-PQ load ${ivfPqJobs.size}, " +
        s"the centroid read and count ${centroidJobs.size}")
  }

  test("ANN plans: partial top-k precedes the shuffle; no single-partition exchange of scored rows") {
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val plans = Seq(
      "brute" -> Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 10),
      "lsh" -> Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10,
        sketchBits = 8, bands = 4),
      "ivf" -> Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        numCells = 8, nprobe = 3))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name: rank-limit pushdown did not fire — full scored set would shuffle:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"$name: a single-partition exchange remains:\n$plan")
    }
  }

  test("language id: distinctive stopword texts classify; und on no evidence") {
    // hand-written expectations, independent of both LangProfiles-derived
    // code paths (the DuckDB oracle is GENERATED from the same constant,
    // so only this suite can catch a wrong shared profile; the synthetic
    // documents' lang column is decorative word-soup metadata, unusable
    // as linguistic ground truth)
    val df = Seq(
      (1L, "the cat and the dog was in the house for it"),
      (2L, "le chat est dans la maison et je suis pour une"),
      (3L, "der hund ist nicht in der stadt und ich bin mit"),
      (4L, "el perro es una de las casas y los gatos en se"),
      (5L, "qwerty zxcvb asdfgh"),
      (6L, "我 的 是 不 了 他 在 这 有 就"),
      (7L, "the le")).toDF("id", "text")
    val out = df.select(col("id"), TF.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "fr" && out(3L) == "de" && out(4L) == "es")
    assert(out(5L) == "und")
    assert(out(6L) == "zh")
    // documented deterministic tie-break: lexicographically greatest wins
    assert(out(7L) == "fr")
  }

  test("fingerprint: stable under duplication, changes under edit") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different sentence entirely here")).toDF("id", "text")
    val fps = df.select(col("id"), TF.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }
}
