package graft

import graft.operators.{Ingest, IngestConfig}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** klogs record-dataflow semantics (the reference has no tests for these —
  * flatten/type-dispatch/routing are asserted here against the behaviors
  * documented in SURVEY.md §2.3 with reference file:line grounding).
  */
class IngestSpec extends SparkTestBase {

  private val cfg = IngestConfig()

  test("flatten: nested maps join with _, top level unprefixed (flatten.go:56-66)") {
    val rec = Ingest.processRecord("""{"a":{"b":{"c":1}},"top":"v"}""", cfg)
    assert(rec.fields_number == Map("a_b_c" -> 1.0))
    assert(rec.fields_string == Map("top" -> "v"))
  }

  test("flatten: array elements keyed by index (flatten.go:42-46)") {
    val rec = Ingest.processRecord("""{"tags":["x","y"],"nums":[1,2.5]}""", cfg)
    assert(rec.fields_string == Map("tags_0" -> "x", "tags_1" -> "y"))
    assert(rec.fields_number == Map("nums_0" -> 1.0, "nums_1" -> 2.5))
  }

  test("type dispatch: every JSON numeric → double, bool → 'true'/'false', null dropped (main.go:262-312)") {
    val rec = Ingest.processRecord(
      """{"i":3,"f":2.5,"big":9007199254740993,"b":true,"n":null,"s":"x"}""", cfg)
    assert(rec.fields_number.keySet == Set("i", "f", "big"))
    assert(rec.fields_number("i") == 3.0)
    // int64 > 2^53 loses precision by design (single-double numeric model)
    assert(rec.fields_number("big") == 9007199254740992.0)
    assert(rec.fields_string == Map("b" -> "true", "s" -> "x"))
  }

  test("routing: seven well-known keys to spine, excluded from maps (main.go:313-329)") {
    val json =
      """{"cluster":"c1","kubernetes":{"namespace_name":"ns","pod_name":"p1",
        |"container_name":"ctr","host":"h1","labels":{"app":"a1","k8s-app":"legacy"}},
        |"log":"line","extra":"e"}""".stripMargin.replace("\n", "")
    val rec = Ingest.processRecord(json, cfg)
    assert(rec.cluster == "c1" && rec.namespace == "ns" && rec.pod_name == "p1")
    assert(rec.container_name == "ctr" && rec.host == "h1" && rec.log == "line")
    // deterministic precedence: kubernetes_labels_app wins (SURVEY §7 —
    // the reference is Go-map-iteration nondeterministic, main.go:318-321)
    assert(rec.app == "a1")
    assert(rec.fields_string == Map("extra" -> "e"))
  }

  test("routing: k8s-app label used when app label absent") {
    val rec = Ingest.processRecord(
      """{"kubernetes":{"labels":{"k8s-app":"only"}}}""", cfg)
    assert(rec.app == "only")
  }

  test("routing: numeric value under routed key routes as empty string (stringValue unset, main.go:262-329)") {
    val rec = Ingest.processRecord("""{"cluster":42}""", cfg)
    assert(rec.cluster == "")
  }

  test("forceUnderscores rewrites dots in non-routed keys only (main.go:331-334)") {
    val rec = Ingest.processRecord("""{"a.b":"v","log":"l"}""",
      IngestConfig(forceUnderscores = true))
    assert(rec.fields_string == Map("a_b" -> "v"))
    assert(rec.log == "l")
  }

  test("forceNumberFields: membership on original key, storage under formatted key (main.go:337-345)") {
    val c = IngestConfig(forceNumberFields = Seq("m.v"), forceUnderscores = true)
    val ok = Ingest.processRecord("""{"m.v":"1.5"}""", c)
    assert(ok.fields_number == Map("m_v" -> 1.5) && ok.fields_string.isEmpty)
    // membership tested on the formatted key must NOT match
    val miss = Ingest.processRecord("""{"m.v":"1.5"}""",
      IngestConfig(forceNumberFields = Seq("m_v"), forceUnderscores = true))
    assert(miss.fields_string == Map("m_v" -> "1.5") && miss.fields_number.isEmpty)
  }

  test("forceNumberFields: unparsable value falls back to string map (main.go:340-345)") {
    val c = IngestConfig(forceNumberFields = Seq("v"))
    val rec = Ingest.processRecord("""{"v":"not-a-number"}""", c)
    assert(rec.fields_string == Map("v" -> "not-a-number"))
  }

  test("malformed / non-container input yields null record (flatten.go:47-51 error semantics)") {
    assert(Ingest.processRecord("not json", cfg) == null)
    assert(Ingest.processRecord("42", cfg) == null)
    assert(Ingest.processRecord(null, cfg) == null)
  }

  test("ingestJson end-to-end over a DataFrame matches per-record processing") {
    import spark.implicits._
    val df = Seq(
      """{"ts":"2026-01-28T12:00:00.123Z","cluster":"kind","kubernetes":{"namespace_name":"kube-system","pod_name":"fb-1","container_name":"fb","host":"n1","labels":{"app":"fluent-bit","k8s-app":"logging"}},"log":"msg","content":{"level":"info","duration":12.5,"tags":["a","b"],"nested":{"deep":{"x":1}},"maybe_null":null}}"""
    ).toDF("value")
    val out = Ingest.ingestJson(df, col("value"),
      Ingest.coerceTimestamp(get_json_object(col("value"), "$.ts"))).collect()(0)
    assert(out.getAs[String]("namespace") == "kube-system")
    assert(out.getAs[String]("app") == "fluent-bit")
    val fs = out.getAs[Map[String, String]]("fields_string")
    val fn = out.getAs[Map[String, Double]]("fields_number")
    assert(fs("content_level") == "info")
    assert(fs("content_tags_0") == "a" && fs("content_tags_1") == "b")
    assert(fn("content_duration") == 12.5)
    assert(fn("content_nested_deep_x") == 1.0)
    assert(!fs.contains("content_maybe_null") && !fn.contains("content_maybe_null"))
    // the raw ts field is itself ingested as a string field too
    assert(fs.contains("ts"))
    assert(out.getAs[java.sql.Timestamp]("timestamp").toInstant.toString
      == "2026-01-28T12:00:00.123Z")
  }

  test("flattenStruct (plan-time expression path) agrees with the dynamic UDF path") {
    import spark.implicits._
    val df = Seq((("inner", 2.5, true), "top", 7L))
      .toDF("nested", "s", "i")
      .select(struct(col("nested").as("n"), col("s"), col("i")).as("rec"))
    val schema = df.schema("rec").dataType.asInstanceOf[StructType]
    val (fs, fn) = Ingest.flattenStruct(col("rec"), schema)
    val row = df.select(fs.as("fs"), fn.as("fn")).collect()(0)
    val fsm = row.getAs[Map[String, String]]("fs")
    val fnm = row.getAs[Map[String, Double]]("fn")
    assert(fsm("n__1") == "inner" && fsm("n__3") == "true" && fsm("s") == "top")
    assert(fnm("n__2") == 2.5 && fnm("i") == 7.0)
  }

  test("flattenStruct: flat-key collisions resolve last-wins; timestamp/date leaves render as strings") {
    import spark.implicits._
    // struct a.b and field a_b both flatten to key "a_b" — the dynamic
    // path's LinkedHashMap overwrites (last wins); the plan-time path must
    // not trip DUPLICATE_MAP_KEY
    val df = Seq((Tuple1(1L), 2L, "2026-02-03 04:05:06"))
      .toDF("a", "a_b", "ts_s")
      .select(struct(
        struct(col("a._1").as("b")).as("a"),
        col("a_b"),
        to_timestamp(col("ts_s")).as("created_at")).as("rec"))
    val schema = df.schema("rec").dataType.asInstanceOf[StructType]
    val (fs, fn) = Ingest.flattenStruct(col("rec"), schema)
    val row = df.select(fs.as("fs"), fn.as("fn")).collect()(0)
    val fnm = row.getAs[Map[String, Double]]("fn")
    val fsm = row.getAs[Map[String, String]]("fs")
    assert(fnm("a_b") == 2.0, s"expected last-wins 2.0, got $fnm")
    // non-string/number/bool atomic leaves land in the string map
    assert(fsm("created_at").startsWith("2026-02-03 04:05:06"))
  }

  test("native graft_ingest expression ≡ processRecord on the driver") {
    import spark.implicits._
    val raw = Seq(
      """{"cluster":"c1","kubernetes":{"namespace_name":"ns","labels":{"app":"a","k8s-app":"b"}},"log":"x","m.v":"1.5","deep":{"a":[1,"s",null,{"z":true}]}}""",
      """{"log":2,"vals":[0.5,-3]}""",
      """not json at all""",
      """{"only":"strings","n":null}""",
    )
    val cfg = graft.operators.IngestConfig(
      forceNumberFields = Seq("m.v"), forceUnderscores = true)
    val ts = graft.operators.Ingest.coerceTimestamp(lit("2024-01-01 00:00:00"))
    // the expression's rows, through JsonIngest.toInternalRow, against the
    // record objects processRecord builds for the same JSON
    val native = graft.operators.Ingest.ingestJson(raw.toDF("value"), col("value"), ts, cfg)
      .collect().map { r =>
        graft.operators.IngestedRecord(
          r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getString(5),
          r.getString(6), r.getString(9),
          r.getMap[String, String](7).toMap, r.getMap[String, Double](8).toMap)
      }.toSet
    val onDriver = raw.map(graft.operators.Ingest.processRecord(_, cfg)).filter(_ != null)
    assert(native == onDriver.toSet)
    assert(native.size == 3) // the malformed record dropped by both
  }

  test("timestamp coercion: iso string, epoch seconds, fallback (main.go:85-103)") {
    import spark.implicits._
    val fb = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val df = Seq("2024-03-01 10:00:00", "1704067200", "garbage").toDF("raw")
    val out = df.select(Ingest.coerceTimestamp(col("raw"), lit(fb)).as("ts"))
      .collect().map(_.getTimestamp(0).toString)
    assert(out(0) == "2024-03-01 10:00:00.0")
    assert(out(1) == "2024-01-01 00:00:00.0") // epoch 1704067200 UTC
    assert(out(2) == "2020-01-01 00:00:00.0") // fallback
  }

  test("timestamp coercion: v2.1 nested array form and wide epoch range (main.go:85-103)") {
    import spark.implicits._
    val fb = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val df = Seq(
      """[[1704067200, {"source": "fb"}], "the log line"]""", // v2.1 nested
      """[1704067260, "flat pair"]""",                        // single-level array
      "123",                  // small uint64: epoch 123s (old 9-10 digit regex dropped it)
      "99999999999999999999", // overflows: falls through to the fallback
      """[["nope", {}], "m"]""",
    ).toDF("raw")
    val out = df.select(Ingest.coerceTimestamp(col("raw"), lit(fb)).as("ts"))
      .collect().map(_.getTimestamp(0).toInstant.toString)
    assert(out(0) == "2024-01-01T00:00:00Z")
    assert(out(1) == "2024-01-01T00:01:00Z")
    assert(out(2) == "1970-01-01T00:02:03Z")
    assert(out(3) == "2020-01-01T00:00:00Z")
    assert(out(4) == "2020-01-01T00:00:00Z")
  }

  test("hostile nesting depth rejects the record instead of crashing the task") {
    // Jackson's default depth constraint (1000) fires BEFORE the flatten
    // recursion could overflow the stack — the record becomes a null row
    // (the reference's skip-on-error stance), never a task-killing Error.
    // Same robustness class as MsgpackWire's explicit depth cap.
    def deep(n: Int) = "{\"a\":" * n + "1" + "}" * n
    assert(Ingest.processRecord(deep(999), IngestConfig()) != null)
    assert(Ingest.processRecord(deep(5000), IngestConfig()) == null)
    assert(Ingest.processRecord(deep(50000), IngestConfig()) == null)
  }
}
