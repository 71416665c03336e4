package graft

import java.nio.file.Files
import graft.model.LogSchema
import org.apache.spark.sql.functions._

/** The promoted-column rewrite: map-subscript predicates are redirected to
  * materialized columns and reach the parquet scan as pushed filters.
  */
class PlansSpec extends SparkTestBase {

  test("PromoteMapKeys rewrites map subscripts to promoted columns and pushes the predicate") {
    val out = tmp("graft-promo")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    LogSchema.writePartitioned(
      LogSchema.withPromotedColumns(logs,
        stringKeys = Seq("event.type"), numberKeys = Seq("event.value")),
      out)

    val back = LogSchema.readLogs(spark, out)
    val q = back.where(
      try_element_at(col("fields_number"), lit("event.value")) >= 150.0 &&
      try_element_at(col("fields_string"), lit("event.type")) === "error")

    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("promoted_event_value"),
      s"numeric subscript not rewritten:\n$optimized")
    assert(optimized.contains("promoted_event_type"),
      s"string subscript not rewritten:\n$optimized")

    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      physical.contains("GreaterThanOrEqual(promoted_event_value"),
      s"numeric predicate did not reach the scan:\n$physical")

    // rewrite preserves semantics: same rows as the unrewritten map path
    val expected = LogSchema.logsFromEvents(
        graft.sources.Tables.events(spark, sf()))
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0 &&
        col("namespace") === "error")
      .count()
    assert(q.count() == expected && expected > 0)

    // with a slim projection, the scan must not read the map column at all:
    // the inferred isnotnull(fields_number) is redundant next to the
    // promoted comparison and is dropped, so ReadSchema excludes the map
    val slim = back
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
      .select(col("timestamp"))
    val slimPhys = slim.queryExecution.executedPlan.toString
    assert(!slimPhys.contains("fields_number"),
      s"map column still read for a promoted-only predicate:\n$slimPhys")
    val expectedSlim = LogSchema.logsFromEvents(
        graft.sources.Tables.events(spark, sf()))
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
      .count()
    assert(slim.count() == expectedSlim && expectedSlim > 0)
  }

  test("colliding keys a.b / a_b each resolve to their OWN promoted column") {
    import spark.implicits._
    val df = Seq(
      (1L, Map("a.b" -> "dot1", "a_b" -> "und1")),
      (2L, Map("a.b" -> "dot2", "a_b" -> "und2")),
    ).toDF("id", "fields_string")
    // parquet round-trip: a purely local relation would be constant-folded
    // before the rule could fire
    val out = tmp("graft-promo-collide")
    LogSchema.withPromotedColumns(df, stringKeys = Seq("a.b", "a_b"))
      .write.mode("overwrite").parquet(out)
    val promoted = spark.read.parquet(out)
    // both sanitize to promoted_a_b; metadata-based resolution must keep
    // them apart (the round-1 name-based rule returned one key's values for
    // both subscripts)
    val q = promoted.select(
      col("id"),
      try_element_at(col("fields_string"), lit("a.b")).as("dot"),
      try_element_at(col("fields_string"), lit("a_b")).as("und"))
    assert(q.queryExecution.optimizedPlan.toString.contains("promoted_a_b"),
      "subscripts were not rewritten at all")
    val rows = q.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, "dot1", "und1"), (2L, "dot2", "und2")))
  }

  test("promoted metadata survives the parquet round-trip") {
    val out = tmp("graft-promo-md")
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf())).drop("id")
    LogSchema.writePartitioned(
      LogSchema.withPromotedColumns(logs, numberKeys = Seq("event.value")), out)
    val back = LogSchema.readLogs(spark, out)
    val f = back.schema("promoted_event_value")
    assert(f.metadata.getString(graft.plans.PromoteMapKeys.MetaSourceKey) == "event.value")
    assert(f.metadata.getString(graft.plans.PromoteMapKeys.MetaSourceMap) == "fields_number")
  }

  test("join: one table's promoted column must not capture another table's subscript") {
    import spark.implicits._
    // A: promoted log table (from the shared fixture write below); B: a
    // different table with a same-named map whose values are all -1
    val aDir = tmp("graft-promo-a")
    LogSchema.writePartitioned(
      LogSchema.withPromotedColumns(
        LogSchema.logsFromEvents(graft.sources.Tables.events(spark, sf())),
        numberKeys = Seq("event.value")),
      aDir)
    val a = LogSchema.readLogs(spark, aDir)
      .select(col("id"), col("promoted_event_value"))
    val bDir = tmp("graft-promo-b")
    LogSchema.logsFromEvents(graft.sources.Tables.events(spark, sf()))
      .select(col("id"),
        map(lit("event.value"), lit(-1.0)).as("fields_number"))
      .write.mode("overwrite").parquet(bDir)
    val b = spark.read.parquet(bDir)

    // the subscript targets B's map; A's promoted_event_value is in scope
    // and metadata-matches, but lives in a different relation — a rewrite
    // to it would filter on A's values instead of B's constant -1
    val q = a.join(b, "id")
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
    assert(q.count() == 0,
      "cross-relation promoted capture: B's subscript read A's values")
  }

  test("null-tolerant wrapper keeps the explicit isnotnull(map) conjunct") {
    import spark.implicits._
    // coalesce(subscript, 0) > -1 accepts null-map rows, so the comparison
    // implies nothing about the map; only the explicit isnotnull(map)
    // excludes row 2. The old containment-based check dropped it — null-map
    // rows leaked through after the rewrite.
    val df = Seq(
      (1L, Some(Map("k" -> 10.0))),
      (2L, Option.empty[Map[String, Double]]),
    ).toDF("id", "fields_number")
    val out = tmp("graft-promo-tolerant")
    LogSchema.withPromotedColumns(df, numberKeys = Seq("k"))
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)

    val q = back.where(
      coalesce(try_element_at(col("fields_number"), lit("k")), lit(0.0)) > -1.0 &&
        col("fields_number").isNotNull)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("isnotnull(fields_number"),
      s"explicit isnotnull(map) was dropped beside a null-tolerant comparison:\n$optimized")
    assert(q.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "null-map row leaked through the filter")

    // control: a bare (null-intolerant) promoted comparison still sheds the
    // map conjunct so the scan can skip the map column
    val strict = back.where(
      try_element_at(col("fields_number"), lit("k")) > -1.0 &&
        col("fields_number").isNotNull)
    assert(!strict.queryExecution.optimizedPlan.toString.contains("isnotnull(fields_number"),
      "redundant isnotnull(map) survived a null-rejecting promoted comparison")
    assert(strict.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a projection that prunes the promoted column leaves the subscript untouched (no unbindable rewrite)") {
    val dir = graft.Fixtures.logTableDir(spark, sf("sf0.01"))
    val back = LogSchema.readLogs(spark, dir)
    // the nondeterministic projection blocks filter pushdown AND prunes the
    // promoted column, so the filter's direct child cannot provide it; the
    // rule must leave the subscript alone (a rewrite to the deep attribute
    // would fail binding at execution)
    val q = back.select(col("fields_number"), rand().as("r"))
      .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
    // inspect the FILTER CONDITION, not the plan string — the relation's
    // schema line legitimately lists the promoted column
    val filterConds = q.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }
    assert(filterConds.nonEmpty && filterConds.forall(!_.contains("promoted_")),
      s"subscript must not rewrite to an out-of-scope promoted column: $filterConds")
    assert(q.count() > 0) // and the query executes
  }

  test("GraftExtensions wires a fresh session: functions resolve and the promoted rewrite fires without registerAll") {
    import org.apache.spark.sql.SparkSession
    val shared = spark
    // force a genuinely new session over the same SparkContext; the
    // string form (`spark.sql.extensions`) is a STATIC conf that only
    // applies when the SparkContext itself is created, so the test uses
    // the equivalent public withExtensions hook — same injection surface
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      assert(s2 ne shared)
      // functions registered by the extension, not by registerAll
      assert(s2.sql("SELECT graft_round(CAST(2.5 AS DOUBLE), 0) AS v")
        .head().getDouble(0) == 3.0)
      assert(s2.sql(
        """SELECT inline(array(graft_ingest('{"a":1}', array(), false)))""")
        .select("fields_number").head().getMap[String, Double](0)("a") == 1.0)
      // optimizer rule injected: the promoted rewrite fires on this session
      val dir = graft.Fixtures.logTableDir(shared, sf("sf0.01"))
      val q = graft.model.LogSchema.readLogs(s2, dir)
        .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
        .select(col("id"))
      assert(q.queryExecution.optimizedPlan.toString.contains("promoted_event_value"),
        "PromoteMapKeys must be active via the extension")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("AQE skew-join splits a pathologically skewed SMJ partition at runtime — the built-in half of the salting playbook") {
    // ARCHITECTURE.md "Skew playbook": AQE's OptimizeSkewedJoin is the
    // zero-code fix for a skewed shuffle JOIN; SkewJoin.saltedJoin remains
    // necessary where AQE cannot reach (aggregation-over-join keys, reused
    // partitionings, streaming state). This pins the AQE half actually
    // firing, so the playbook's premise stays true under Spark upgrades.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
    import org.apache.spark.sql.functions.{col, lit, when}
    // 90% of probe rows share key 1 → one shuffle partition dwarfs the rest
    val probe = s2.range(0, 100000).select(
      when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val build = s2.range(0, 1000).select(col("id").as("bk"), (col("id") * 2).as("bv"))
    val joined = probe.join(build, col("k") === col("bk"))
    // AQE decides skew at RUNTIME, and only THIS df's own execution
    // finalizes its adaptive plan (count() would plan a separate query)
    val n = joined.collect().length
    assert(n > 0)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"AQE must have re-planned:\n$plan")
    assert(plan.contains("skew=true"),
      s"the skewed partition must be split by OptimizeSkewedJoin:\n$plan")
  }

  test("no promoted column in scope → plan unchanged") {
    val logs = LogSchema.logsFromEvents(
      graft.sources.Tables.events(spark, sf()))
    val q = logs.where(
      try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
    assert(!q.queryExecution.optimizedPlan.toString.contains("promoted_"))
    assert(q.count() > 0)
  }
}
