package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-task quantizer fit behind [[Similarity.buildIvfIndex]],
  * [[Similarity.buildPqIndex]] and [[Similarity.buildIvfPqIndex]]: its job
  * count, its seeding, its determinism and its centre count.
  */
class SimilarityTrainSpec extends SparkTestBase {

  /** Spark jobs started while `body` runs, counted by a listener that sees
    * only jobs carrying this call's local-property tag.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.trainJobs"
    val jobs = scala.collection.mutable.Map.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(ps => Option(ps.getProperty(tag))).foreach { t =>
          jobs.synchronized { jobs(t) = jobs.getOrElse(t, 0) + 1 }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = body
      // one listener sees events in order: once the flush job arrives,
      // every job of the body has been counted
      sc.setLocalProperty(tag, "flush")
      spark.range(1).count()
      eventually()(jobs.synchronized(jobs.contains("flush")))
      (out, jobs.synchronized(jobs.getOrElse("body", 0)))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** `n` seeded Gaussian `dim`-vectors as a parquet scan of 4 files. */
  private def gaussian(n: Int, dim: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val dir = tmp("train-corpus")
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def centroids(idx: Similarity.IvfIndex): Seq[(Int, Seq[Double])] =
    idx.centroids.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  test("buildIvfIndex + one bucketed count runs at most 6 jobs, the same for 8 and 64 cells") {
    val corpus = gaussian(3000, 16, seed = 5)
    val counts = Seq(8, 64).map { cells =>
      val ((idx, rows), jobs) = jobsOf {
        val idx = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", numCells = cells)
        (idx, idx.bucketed.count())
      }
      assert(rows == 3000L)
      assert(idx.numCells == cells)
      assert(jobs <= 6, s"$cells cells: $jobs jobs")
      jobs
    }
    assert(counts.distinct.size == 1, s"job count grows with the cell count: $counts")
  }

  test("buildPqIndex with m = 8 fits all eight codebooks in one job: at most 6 jobs for the fit and encode") {
    val corpus = gaussian(2000, 16, seed = 6)
    val (idx, jobs) = jobsOf {
      val idx = Similarity.buildPqIndex(corpus, "vec_id", "embedding", m = 8, codesPerSub = 16)
      idx.codes.count()
      idx
    }
    assert(jobs <= 6, s"$jobs jobs")
    assert(idx.codebooks.count() == 8 * 16)
    assert(idx.codes.collect().forall(r =>
      r.getSeq[Int](1).length == 8 && r.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
  }

  test("4 well-separated planted blobs, 4 cells: each blob is exactly one cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    // four centres at distance ≥ 14 with noise σ = 0.05: a start that puts
    // two seeds in one blob leaves Lloyd stuck with two blobs in one cell
    // (four points drawn uniformly do that for 90% of seeds); k-means||
    // seeds by distance and finds all four, whatever the seed
    val centers = Seq(0 -> 10.0, 1 -> 10.0, 0 -> -10.0, 1 -> -10.0)
    var id = 0L
    val rows = centers.zipWithIndex.flatMap { case ((axis, at), blob) =>
      (0 until 150).map { _ =>
        val v = Array.fill(dim)(rnd.nextGaussian() * 0.05)
        v(axis) += at
        id += 1
        (id, blob, v)
      }
    }
    val emb = rows.toDF("vec_id", "blob", "embedding")
    val blobOf = rows.map(r => r._1 -> r._2).toMap
    for (seed <- 1L to 5L) {
      val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding", numCells = 4, seed = seed)
      assert(idx.numCells == 4)
      val cellsByBlob = idx.bucketed.select("nid", "cell").collect()
        .groupBy(r => blobOf(r.getLong(0)))
        .map { case (b, rs) => b -> rs.map(_.getInt(1)).distinct.toSeq }
      assert(cellsByBlob.values.forall(_.size == 1), s"seed $seed: a blob spans cells: $cellsByBlob")
      assert(cellsByBlob.values.flatten.toSet.size == 4, s"seed $seed: two blobs share a cell: $cellsByBlob")
    }
  }

  test("the same seed gives identical centroids and codebooks on two builds") {
    val corpus = gaussian(1500, 16, seed = 8)
    val a = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", numCells = 16, seed = 3L)
    val b = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", numCells = 16, seed = 3L)
    assert(centroids(a) == centroids(b))
    // a sampled fit (trainRows below the corpus) is seeded too
    val sa = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", numCells = 16, trainRows = 500L)
    val sb = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", numCells = 16, trainRows = 500L)
    assert(centroids(sa) == centroids(sb))
    def books(i: Similarity.PqIndex) =
      i.codebooks.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSet
    assert(books(Similarity.buildPqIndex(corpus, "vec_id", "embedding")) ==
      books(Similarity.buildPqIndex(corpus, "vec_id", "embedding")))
  }

  test("fewer distinct vectors than cells: numCells is the number of centroids and every query answers") {
    import spark.implicits._
    val dim = 8
    // 5 distinct unit vectors, 6 rows each
    val rows = for (d <- 0 until 5; c <- 0 until 6) yield {
      val v = Array.fill(dim)(0.0)
      v(d) = 1.0
      ((d * 6 + c).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val idx = Similarity.buildIvfIndex(emb, "vec_id", "embedding", numCells = 8)
    assert(idx.numCells == 5)
    assert(idx.centroids.count() == 5L)
    assert(idx.bucketed.collect().forall(r => r.getAs[Int]("cell") < 5))
    val queries = emb.where(col("vec_id") % 6 === 0)
    val out = Similarity.ivfQuery(idx, queries, "vec_id", "embedding", k = 3).collect()
    val perQuery = out.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.length }
    assert(perQuery == (0 until 5).map(d => (d * 6).toLong -> 3).toMap)
    // every answer is an exact copy of its query
    assert(out.forall(_.getDouble(3) == 1.0))
    // the IVF-PQ build passes the same count on
    val ivfPq = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      numCells = 8, m = 2, codesPerSub = 4)
    assert(ivfPq.numCells == 5)
  }
}
