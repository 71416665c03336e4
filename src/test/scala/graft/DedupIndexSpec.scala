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

  private def partFiles(dir: String, table: String): Set[String] =
    new java.io.File(s"$dir/$table").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

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

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("an id repeated in an increment is indexed once and its pairs are reported once") {
    val dir = tmp("graft-dedupidx-dup")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    // id 300 twice (two copies of doc 3: an edit and the exact text) plus a
    // fresh doc; compared as sequences, so a doubled row cannot hide in a set
    val twice = Seq(
        (300L, doc(3).replace("w329", "CHANGED")), (300L, doc(3)), (301L, doc(301)))
      .toDF("doc_id", "text")
    val probed = pairsOf(DedupIndex.incrementalPairs(twice, "doc_id", "text", dir, 0.5))
    assert(probed == Seq((3L, 300L)), probed.toString)
    // the copy verified against does not depend on row order
    def jaccard300(df: org.apache.spark.sql.DataFrame) =
      DedupIndex.incrementalPairs(df.coalesce(1), "doc_id", "text", dir, 0.0)
        .where(col("id_a") === 3L && col("id_b") === 300L).collect().toSeq
    val asc = jaccard300(twice.orderBy(col("text")))
    assert(asc.length == 1 && asc == jaccard300(twice.orderBy(col("text").desc)))
    assert(DedupIndex.append(twice, "doc_id", "text", dir) == 2)
    val all = pairsOf(DedupIndex.allPairs(spark, dir, 0.5))
    assert(all.count(_ == ((3L, 300L))) == 1, all.toString)
    assert(all.length == all.distinct.length, all.toString)
  }

  test("a replayed increment: an id already indexed is verified once") {
    val dir = tmp("graft-dedupidx-replay")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    assert(DedupIndex.append(Seq((301L, doc(301))).toDF("doc_id", "text"),
      "doc_id", "text", dir) == 1)
    // 301 again, beside 302, an edit of it
    val replay = Seq((301L, doc(301)), (302L, doc(301).replace("w30129", "CHANGED")))
      .toDF("doc_id", "text")
    val again = pairsOf(DedupIndex.incrementalPairs(replay, "doc_id", "text", dir, 0.5))
    assert(again == Seq((301L, 302L)), again.toString)
  }

  test("a warm increment runs at most 14 jobs, none reading params or a table schema") {
    val dir = tmp("graft-dedupidx-jobs")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    // the first increment after a build reads the new generation's params
    DedupIndex.incrementalPairs(increment, "doc_id", "text", dir, 0.5).collect()
    DedupIndex.append(increment, "doc_id", "text", dir)
    val next = spark.createDataFrame((400 until 410).map(i => (i.toLong, doc(i))) :+
        ((410L, doc(6).replace("w629", "CHANGED")))).toDF("doc_id", "text")
    val ((pairs, appended), jobs) = withJobs {
      (DedupIndex.incrementalPairs(next, "doc_id", "text", dir, 0.5).collect(),
        DedupIndex.append(next, "doc_id", "text", dir))
    }
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((6L, 410L)))
    assert(appended == 11)
    assert(jobs.size <= 14, s"${jobs.size} jobs")
    // a job's stage details hold its call stack
    val meta = jobs.map(_.stageInfos.map(_.details).mkString("\n"))
      .filter(s => s.contains("DedupIndex$.readParams") || s.contains("DedupIndex$.tableOf"))
    assert(meta.isEmpty, meta.mkString("\n---\n"))
  }

  test("the static schemas are what build and append write; append adds one file per table") {
    val dir = tmp("graft-dedupidx-schema")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    def inferred(path: String) = spark.read.parquet(path).schema
    assert(inferred(s"$dir/bands") == DedupIndex.BandsSchema)
    assert(inferred(s"$dir/sketches") == DedupIndex.SketchesSchema)
    val before = Seq("bands", "sketches").map(t => t -> partFiles(dir, t)).toMap
    assert(DedupIndex.append(increment, "doc_id", "text", dir) == increment.count())
    for (t <- Seq("bands", "sketches")) {
      val added = partFiles(dir, t) -- before(t)
      assert(added.size == 1, s"$t: $added")
      val schema = if (t == "bands") DedupIndex.BandsSchema else DedupIndex.SketchesSchema
      assert(inferred(s"$dir/$t/${added.head}") == schema, t)
    }
  }

  test("a build overwrite with other params is seen by the next readParams and probe") {
    val dir = tmp("graft-dedupidx-regen")
    DedupIndex.build(corpus, "doc_id", "text", dir, params)
    assert(DedupIndex.readParams(spark, dir) == params)
    val other = DedupIndex.Params(shingleN = 3, bands = 8, rowsPerBand = 3)
    DedupIndex.build(corpus, "doc_id", "text", dir, other)
    assert(DedupIndex.readParams(spark, dir) == other)
    // the probe sketches with the new generation's params: its band rows
    // meet the rebuilt table's, so the planted edit is still found
    val pairs = DedupIndex.incrementalPairs(increment, "doc_id", "text", dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 101L)) && pairs.contains((7L, 102L)), pairs.toString)
  }
  test("golden band rows: build writes the recorded (band, bandhash, id) and shash values") {
    // the bands and sketches tables are a data format: an index on disk is
    // probed by the band arithmetic of whatever build reads it later, so a
    // slip in the hashing would orphan every stored index without failing
    // any equivalence test (both sides would move together)
    val dir = tmp("graft-dedupidx-golden")
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown dog jumps"),
      (3L, "lorem ipsum dolor")).toDF("doc_id", "text")
    DedupIndex.build(docs, "doc_id", "text", dir,
      DedupIndex.Params(shingleN = 2, bands = 4, rowsPerBand = 2))
    val bands = spark.read.parquet(s"$dir/bands").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(bands == Seq(
      (0, 1535879456737582467L, 2L), (0, 1576282558054213689L, 1L),
      (0, 3593967219867611178L, 3L), (1, -7540599216068658238L, 3L),
      (1, 1994194648671609501L, 1L), (1, 9121478644918999351L, 2L),
      (2, -2039979649307164365L, 1L), (2, 3260065919941029726L, 2L),
      (2, 5789629382078664622L, 3L), (3, -2097499514395033747L, 3L),
      (3, 6832830246457859779L, 1L), (3, 6832830246457859779L, 2L)))
    val shash = spark.read.parquet(s"$dir/sketches").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(shash == Map(
      1L -> Set(-4581668098265437708L, -363416911106444635L,
        2730302524557721517L, 6756634568719420433L),
      2L -> Set(-4581668098265437708L, 2513922000404381425L,
        3180485654744963175L, 6756634568719420433L),
      3L -> Set(-6491397129746283449L, -4265695145598633863L)))
  }
}
