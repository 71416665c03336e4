package graft

import graft.model.DedupIndex
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The persisted incremental-dedup index: build/probe/append must commute
  * with from-scratch indexing, and the probe must find planted cross-batch
  * duplicates.
  */
class DedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  // corpus: 30 disjoint-vocabulary docs + a planted intra-corpus near-dup
  // pair (20/21); increment: 5 fresh docs + one near-dup OF A CORPUS DOC
  // (101 ~ 5) + one exact dup of a corpus doc (102 == 7) + an intra-
  // increment exact pair (103/104)
  private def doc(seed: Int) =
    (0 until 30).map(j => s"w${seed * 100 + j}").mkString(" ")
  private lazy val corpus = {
    val base = (0 until 30).map(i => (i.toLong, doc(i)))
    val near = (21L, doc(20).replace("w2029", "CHANGED"))
    spark.createDataFrame(base :+ near).toDF("doc_id", "text")
  }
  private lazy val increment = {
    val fresh = (200 until 205).map(i => (i.toLong, doc(i)))
    val extra = Seq(
      (101L, doc(5).replace("w529", "CHANGED")),
      (102L, doc(7)),
      (103L, doc(300)), (104L, doc(300)))
    spark.createDataFrame(fresh ++ extra).toDF("doc_id", "text")
  }

  private val params = DedupIndex.Params(shingleN = 2, bands = 16, rowsPerBand = 2)

  test("incremental probe finds cross-batch and intra-increment planted dups, nothing else") {
    val dir = tmp("graft-dedupidx")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    val pairs = DedupIndex.incrementalPairs(
        increment, "doc_id", "text", dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 101L)), "near-dup of a corpus doc")
    assert(pairs.contains((7L, 102L)), "exact dup of a corpus doc")
    assert(pairs.contains((103L, 104L)), "intra-increment exact pair")
    // the intra-CORPUS planted pair (20,21) must NOT appear: the probe
    // reports pairs touching the increment only
    assert(!pairs.contains((20L, 21L)))
    assert(pairs.size <= 5, s"false-positive explosion: $pairs")
  }

  test("incremental probe ≡ from-scratch index restricted to touching-new, exactly") {
    val corpusDir = tmp("graft-dedupidx-c")
    val fullDir = tmp("graft-dedupidx-f")
    DedupIndex.build(corpus, "doc_id", "text", corpusDir, params)
    DedupIndex.build(corpus.unionByName(increment), "doc_id", "text",
      fullDir, params)
    val incr = DedupIndex.incrementalPairs(
        increment, "doc_id", "text", corpusDir, jaccardThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val newIds = increment.select("doc_id").collect().map(_.getLong(0)).toSet
    val scratch = DedupIndex.allPairs(spark, fullDir, jaccardThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(incr == scratch)
  }

  test("append then allPairs ≡ one-shot build over the union; re-append is a no-op") {
    val grownDir = tmp("graft-dedupidx-g")
    val fullDir = tmp("graft-dedupidx-f2")
    DedupIndex.build(corpus, "doc_id", "text", grownDir, params)
    assert(DedupIndex.append(increment, "doc_id", "text", grownDir) ==
      increment.count())
    // replayed batch: every id already indexed → nothing appended
    assert(DedupIndex.append(increment, "doc_id", "text", grownDir) == 0)
    DedupIndex.build(corpus.unionByName(increment), "doc_id", "text",
      fullDir, params)
    def all(d: String) = DedupIndex.allPairs(spark, d, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all(grownDir) == all(fullDir))
    assert(all(grownDir).exists(p => p._1 == 20L && p._2 == 21L),
      "intra-corpus planted pair")
  }

  test("vacuum drops dead ids (post-retention) and compacts append small files; survivors intact") {
    val dir = tmp("graft-dedupidx-v")
    val refDir = tmp("graft-dedupidx-vr")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    DedupIndex.append(increment, "doc_id", "text", dir)
    // retention deletes the increment's dup-of-corpus docs and doc 20
    val liveDocs = corpus.unionByName(increment)
      .where(!col("doc_id").isin(20L, 101L, 102L))
    val dropped = DedupIndex.vacuum(spark, dir, liveDocs, "doc_id")
    assert(dropped == 3)
    // probing a re-arrival of doc 101's text must NOT pair with the dead
    // 101/102 — only with the still-live corpus originals 5 and 7
    val again = spark.createDataFrame(Seq(
        (900L, doc(5).replace("w529", "CHANGED")), (901L, doc(7))))
      .toDF("doc_id", "text")
    val pairs = DedupIndex.incrementalPairs(
        again, "doc_id", "text", dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((5L, 900L), (7L, 901L)), pairs.toString)
    // equivalent to an index built from the live docs directly
    DedupIndex.build(liveDocs, "doc_id", "text", refDir, params)
    def all(d: String) = DedupIndex.allPairs(spark, d, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all(dir) == all(refDir))
    // append-then-vacuum compacted the table back to one file per side
    def files(t: String) = new java.io.File(s"$dir/$t").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files("bands") == 1 && files("sketches") == 1)
  }

  test("vacuum crash between the two renames: read path promotes the staged dir") {
    val dir = tmp("graft-dedupidx-crash")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    def all() = DedupIndex.allPairs(spark, dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = all()
    assert(before.nonEmpty)
    // reproduce the exact crash window: dst renamed aside, staged dir
    // complete, promote-rename never executed — dst missing, staged
    // present, a stale .old lingering
    import java.nio.file.{Files, Paths}
    Files.move(Paths.get(s"$dir/bands"), Paths.get(s"$dir/.bands.staged"))
    Files.createDirectory(Paths.get(s"$dir/.bands.old"))
    assert(all() == before) // read recovered, not errored
    // and the recovery was durable: the table dir is back in place
    assert(Files.exists(Paths.get(s"$dir/bands")))
    assert(!Files.exists(Paths.get(s"$dir/.bands.staged")))
  }

  test("readers racing to recover one between-renames state all succeed") {
    val dir = tmp("graft-dedupidx-race")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    def all() = DedupIndex.allPairs(spark, dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = all()
    import java.nio.file.{Files, Paths}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try (1 to 10).foreach { _ =>
      // a crash between each table's renames: the complete staged bands
      // are promoted, the aside sketches (nothing staged) restored. Every
      // reader finds both tables missing and races the others to the same
      // renames; the losers must read the winner's dir, not throw
      Files.move(Paths.get(s"$dir/bands"), Paths.get(s"$dir/.bands.staged"))
      Files.move(Paths.get(s"$dir/sketches"), Paths.get(s"$dir/.sketches.old"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val reads = (0 until 16).map(_ => pool.submit(() => {
        gate.await()
        DedupIndex.allPairs(spark, dir, jaccardThreshold = 0.5)
      }))
      gate.countDown()
      reads.foreach(_.get()) // rethrows any reader's failure
      assert(Files.exists(Paths.get(s"$dir/bands")) && Files.exists(Paths.get(s"$dir/sketches")))
    } finally pool.shutdown()
    assert(all() == before)
  }

  test("property: incremental ≡ from-scratch on seeded random corpora with heavy overlap") {
    // small vocabulary → plenty of genuine near-dup pairs across the
    // corpus/increment split; 5 seeded draws, exact set equality each time
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val vocabN = 12 + rnd.nextInt(10)
      def randDoc() = (0 until 12 + rnd.nextInt(10))
        .map(_ => s"v${rnd.nextInt(vocabN)}").mkString(" ")
      val base = (0 until 40).map(i => (i.toLong, randDoc()))
      val splitAt = 15 + rnd.nextInt(15)
      // guarantee cross-split near-dups: 3 increment docs are light
      // mutations of random corpus docs
      val all = base.zipWithIndex.map { case ((id, text), i) =>
        if (i >= splitAt && i < splitAt + 3) {
          val src = base(rnd.nextInt(splitAt))._2
          (id, src + " v0")
        } else (id, text)
      }
      val (corpusRows, newRows) = all.splitAt(splitAt)
      import spark.implicits._
      val corpusDf = corpusRows.toDF("doc_id", "text")
      val newDf = newRows.toDF("doc_id", "text")
      val cDir = tmp(s"graft-didx-prop-c$trial")
      val fDir = tmp(s"graft-didx-prop-f$trial")
      DedupIndex.build(corpusDf, "doc_id", "text", cDir, params)
      DedupIndex.build(corpusDf.unionByName(newDf), "doc_id", "text",
        fDir, params)
      val newIds = newRows.map(_._1).toSet
      val incr = DedupIndex.incrementalPairs(
          newDf, "doc_id", "text", cDir, jaccardThreshold = 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val scratch = DedupIndex.allPairs(spark, fDir, jaccardThreshold = 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        .filter(p => newIds(p._1) || newIds(p._2))
      assert(incr == scratch,
        s"trial $trial (split $splitAt): " +
          s"incr-only=${incr -- scratch} scratch-only=${scratch -- incr}")
      assert(incr.nonEmpty, s"trial $trial degenerate: no pairs at all")
    }
  }

  test("probe runs with persisted params, not caller guesses: bands table arithmetic matches minhashPairs") {
    // allPairs off a fresh index must agree with the live operator on the
    // same docs/params — the index is a persistence of minhashPairs'
    // candidate structure, modulo hashed-shingle verification
    val dir = tmp("graft-dedupidx-p")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    val fromIndex = DedupIndex.allPairs(spark, dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleN = 2, bands = 16, rowsPerBand = 2, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex == live)
  }
}
