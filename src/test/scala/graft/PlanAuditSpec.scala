package graft

import graft.Tools.countExchanges
import graft.operators.TrainPipeline
import org.apache.spark.sql.functions._

/** Plan-shape invariants for the scale-critical operators: these assert the
  * PHYSICAL properties the 100 TB design depends on (pruned scans, pushed
  * predicates, shuffle counts), so a refactor that silently de-optimizes a
  * plan fails CI rather than only showing up as a bench regression.
  */
class PlanAuditSpec extends SparkTestBase {

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("text_chunk: pruned two-column scan, no shuffle before the presentation sort") {
    val df = TrainPipeline.chunk(
      spark.read.parquet(sf("sf0.01") + "/documents.parquet"),
      "doc_id", "text", size = 80, stride = 60)
    val plan = executed(df)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read only doc_id+text:\n$plan")
    assert(countExchanges(plan) == 0, s"chunking itself must not shuffle:\n$plan")
  }

  test("sample_stratified: filter evaluates at the scan stage, zero shuffles") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    val df = TrainPipeline.sampleStratified(docs, "doc_id",
      when(col("lang") === "en", 50).otherwise(10))
    val plan = executed(df)
    assert(countExchanges(plan) == 0, s"sampling is a pure filter:\n$plan")
    assert(plan.contains("Scan parquet"), plan)
  }

  test("pack_sequences: exactly one exchange (the group co-location)") {
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("source"), col("doc_id"), length(col("text")).cast("long").as("w"))
    val df = TrainPipeline.packGreedy(docs, "source", "doc_id", "w", 256L)
    val plan = executed(df)
    assert(countExchanges(plan) == 1,
      s"packing needs exactly one hash shuffle on the group key:\n$plan")
  }

  test("dedup LSH banding: corpus self-joins shuffle — the banded corpus is never a broadcast build side") {
    // simhash is a pure self-join: nothing in the plan may broadcast.
    // minhash's candidate self-join must be SMJ, but its VERIFICATION
    // joins (small candidate set back to shingle sets) may legitimately
    // broadcast — that's the correct adaptive pick at any scale.
    val simhash = executed(Queries.registry("dedup_simhash").build(spark, sf("sf0.01")))
    assert(!simhash.contains("BroadcastHashJoin"),
      s"dedup_simhash must not broadcast the banded corpus (shuffle_merge hint lost?):\n$simhash")
    assert(simhash.contains("SortMergeJoin"), s"candidate join should be SMJ:\n$simhash")
    val minhash = executed(Queries.registry("dedup_minhash").build(spark, sf("sf0.01")))
    assert(minhash.contains("SortMergeJoin"),
      s"dedup_minhash banded self-join should be SMJ:\n$minhash")
    // both sides of each band self-join read ONE shuffle: only the final
    // adaptive plan (after this frame's own execution) shows the reuse
    for (q <- Seq("dedup_minhash", "dedup_simhash")) {
      val df = Queries.registry(q).build(spark, sf("sf0.01"))
      df.collect()
      val plan = executed(df)
      assert(plan.contains("isFinalPlan=true") && plan.contains("ReusedExchange"),
        s"$q: the self-join's second side must reuse the banded exchange:\n$plan")
    }
  }

  test("sim_search_topk: a well-split corpus is never shuffled before scoring") {
    // force the local single-file read to split like a real multi-split
    // scan, so the under-parallelism spread gate must NOT fire. The conf
    // override lives on a CLONED session (shared context, own SQLConf) so
    // no other suite can ever plan a scan inside the 16 KB window.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    val emb = s2.read.parquet(sf("sf0.01") + "/embeddings.parquet")
    assert(emb.rdd.getNumPartitions >= s2.sparkContext.defaultParallelism,
      "test setup: the scan must be at least as parallel as the session")
    val df = graft.operators.Similarity.bruteTopK(
      emb, emb.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    val plan = executed(df)
    assert(!plan.contains("hashpartitioning(nid"),
      s"the corpus vectors must not be hash-exchanged:\n$plan")
    assert(!plan.contains("RoundRobinPartitioning"),
      s"the spread gate must not fire on a well-split corpus:\n$plan")
    assert(countExchanges(plan) == 1,
      s"only the (qid, scalar) window exchange may move data:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"partial top-k must run before the exchange:\n$plan")
  }

  test("knn_join: partial top-k runs per salt lane, before the qid exchange") {
    // the salted cell join spreads one qid's candidates across salt
    // lanes; Catalyst's InferWindowGroupLimit must then cut each lane's
    // task output to ≤ k rows per qid BEFORE the qid exchange (Partial
    // mode), so the shuffle carries O(queries·k·lanes) rows, not the
    // full pairs-linear candidate stream — the "per-lane partial top-k"
    // without hand-rolling one
    val plan = executed(Queries.registry("knn_join").build(spark, sf("sf0.01")))
    assert("WindowGroupLimit .*row_number\\(\\), \\d+, Partial".r
        .findFirstIn(plan).isDefined,
      s"map-side partial group limit must precede the rank exchange:\n$plan")
    assert("WindowGroupLimit .*row_number\\(\\), \\d+, Final".r
        .findFirstIn(plan).isDefined,
      s"final group limit must guard the window:\n$plan")
  }

  test("join_broadcast: dims arrive as broadcast, the fact side never shuffles before aggregation") {
    val plan = executed(Queries.registry("join_broadcast").build(spark, sf("sf0.01")))
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).size == 2, s"two dim broadcasts:\n$plan")
    // shuffles: one for the groupBy, one for the orderBy — never the join
    assert(countExchanges(plan) <= 2, s"the fact side must not shuffle for the join:\n$plan")
  }

  test("agg_group_metadata: map-side partial aggregation before a single hash exchange") {
    val plan = executed(Queries.registry("agg_group_metadata").build(spark, sf("sf0.01")))
    // partial + final HashAggregate pair = map-side combine is in place
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial aggregation missing:\n$plan")
    assert(countExchanges(plan) <= 2, // agg exchange + presentation sort
      s"only the agg exchange and the ORDER BY may shuffle:\n$plan")
  }

  test("source_stream_decode: chunk decode + ingest run in the scan stage — only the presentation sort exchanges") {
    val df = Queries.registry("source_stream_decode").build(spark, sf("sf0.01"))
    val plan = executed(df)
    assert(plan.contains("Generate explode"),
      s"graft_fb_records must explode inside the plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"wire decode must not hash-shuffle anything:\n$plan")
    assert(countExchanges(plan) == 1,
      s"only the deterministic ORDER BY may exchange (rangepartitioning):\n$plan")
  }

  test("registry-wide plan snapshot: every query's shuffle-exchange count matches the recorded baseline") {
    // The seven shape tests above pin hand-picked invariants; this pins the
    // WHOLE registry, so any refactor that adds an exchange anywhere fails
    // CI rather than only surfacing as a bench regression. The snapshot is
    // generated by `tools/run.sh graft.Tools plan-shape /root/testdata/sf0.01`
    // (see Tools.planShape) — regenerate and review the diff when a plan
    // change is intentional.
    val dir = sf("sf0.01")
    val in = getClass.getResourceAsStream("/exchange_counts.tsv")
    assert(in != null, "missing src/test/resources/exchange_counts.tsv — " +
      "generate with tools/run.sh graft.Tools plan-shape /root/testdata/sf0.01")
    val recorded = {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(n, c) = l.split("\t"); n -> c.toInt
      }.toMap
      finally src.close()
    }
    val actual = Queries.registry.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> countExchanges(executed(q.build(spark, dir)))
    }.toMap
    val diff = (recorded.keySet ++ actual.keySet).toSeq.sorted
      .filter(k => recorded.get(k) != actual.get(k))
      .map(k => s"  $k: recorded=${recorded.get(k).orNull} actual=${actual.get(k).orNull}")
    assert(diff.isEmpty,
      s"exchange-count drift in ${diff.size} queries:\n" + diff.mkString("\n") +
        "\nIf intentional, regenerate the snapshot:\n" +
        "  tools/run.sh graft.Tools plan-shape /root/testdata/sf0.01 " +
        "> src/test/resources/exchange_counts.tsv")
  }

  test("promoted-column path: the map-number predicate reaches the parquet scan as a pushed filter") {
    val dir = graft.Fixtures.logTableDir(spark, sf("sf0.01"))
    val df = graft.model.LogSchema.readLogs(spark, dir)
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
      .select(col("id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(promoted_event_value), " +
        "GreaterThanOrEqual(promoted_event_value,150.0)]") ||
      plan.contains("GreaterThanOrEqual(promoted_event_value,150.0)"),
      s"PromoteMapKeys must turn the subscript into a pushed scan predicate:\n$plan")
  }
}
