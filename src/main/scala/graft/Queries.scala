package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.functions.Rounding.r
import graft.model.{LogSchema, NgramIndex}
import graft.operators.{Dedup, Ingest, IngestConfig, Similarity, Spread}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The operator registry: one entry per SURVEY.md §2 operator key, each a
  * Spark query builder plus (where SQL-expressible) the DuckDB oracle SQL
  * the driver hash-compares against on the same parquet tables.
  *
  * Conventions for oracle parity:
  *  - every query ends in a deterministic ORDER BY mirrored in the SQL;
  *  - aggregate/computed columns carry identical aliases on both sides;
  *  - doubles are rounded on both sides;
  *  - timestamps are emitted as epoch millis (`unix_millis` / `epoch_ms`)
  *    to dodge timezone-annotation mismatches between engines.
  */
object Queries {

  final case class Q(
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(s)
    Tables.read(s, dir, name)
  }

  /** Log-shaped view over `events` (see [[LogSchema.logsFromEvents]]); the
    * oracle SQL for log operators is written directly against `events`
    * using the same deterministic mapping.
    */
  private def logs(s: SparkSession, dir: String): DataFrame =
    LogSchema.logsFromEvents(t(s, dir, "events"))

  /** [[logs]] over a compute-spread events scan — for the builders whose
    * per-row work (regex template mining, JSON round-trips, map packing)
    * dominates an under-split single-file scan. [[Spread.maybe]] gates the
    * exchange: a many-file or already-shuffled source spreads nothing, so
    * the 100 TB plan shape is unchanged. Spread BEFORE the log-view
    * projection: the exchange then carries the raw events columns and the
    * view's map-building runs on every core.
    */
  private def logsSpread(s: SparkSession, dir: String): DataFrame =
    LogSchema.logsFromEvents(
      Spread.maybe(t(s, dir, "events"), col("event_id")))

  private val msEv = "epoch_ms(ts)" // DuckDB: events.ts truncated ns→µs→ms

  // ------------------------------------------------------------------
  // §2.1 scans / sources
  // ------------------------------------------------------------------

  private val scanParquet = Q(
    (s, dir) => t(s, dir, "region").orderBy("r_regionkey"),
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  private val sourceTsExtract = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      // v2.1 nested event rendering: [[epoch, {meta}], "message"] — the
      // coercion must descend to element 0 twice (main.go:92-99)
      val nested = concat(lit("[["), unix_seconds(col("ts")).cast(StringType),
        lit(""", {"source": "fluentbit"}], "log line"]"""))
      ev.select(
        col("event_id").as("id"),
        unix_millis(Ingest.coerceTimestamp(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSS"))).as("ts_iso_ms"),
        unix_millis(Ingest.coerceTimestamp(unix_seconds(col("ts")))).as("ts_epoch_ms"),
        unix_millis(Ingest.coerceTimestamp(nested)).as("ts_nested_ms"),
      ).orderBy("id")
    },
    Some("""SELECT event_id AS id,
        epoch_ms(ts) AS ts_iso_ms,
        epoch_ms(date_trunc('second', ts)) AS ts_epoch_ms,
        epoch_ms(date_trunc('second', ts)) AS ts_nested_ms
        FROM events ORDER BY id"""))

  /** The Fluent Bit wire path end-to-end: msgpack chunk files → binaryFile
    * scan → `explode(graft_fb_records(content))` → `graft_ingest` → typed
    * projection. EventTime ext timestamps survive to the microsecond; the
    * record map round-trips through the flatten/type-dispatch pipeline.
    * Scale: decode runs inside the scan stage, chunks parallelize by file —
    * zero shuffle before the ORDER BY (which only the oracle comparison
    * needs).
    */
  private val sourceStreamDecode = Q(
    (s, dir) => {
      graft.expressions.GraftFunctions.registerAll(s)
      val chunks = s.read.format("binaryFile").load(Fixtures.fbChunkDir(s, dir))
      graft.streaming.IngestStream.ingestedFromChunks(chunks)
        .select(
          col("fields_number")("event_id").cast(LongType).as("id"),
          unix_millis(col("timestamp")).as("ts_ms"),
          try_element_at(col("fields_string"), lit("event_type")).as("etype"),
          r(try_element_at(col("fields_number"), lit("value")), 2).as("val"),
          try_element_at(col("fields_number"), lit("user_id")).cast(LongType).as("uid"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, epoch_ms(ts) AS ts_ms,
        event_type AS etype, round(value, 2) AS val, user_id AS uid
        FROM events WHERE event_id < 300 ORDER BY id"""))

  // ------------------------------------------------------------------
  // §2.2 projection / filter / predicates (log-shaped view over events)
  // ------------------------------------------------------------------

  private val projectColumns = Q(
    (s, dir) => logs(s, dir).select("id", "namespace", "app").orderBy("id"),
    Some("""SELECT event_id AS id, event_type AS namespace,
        'app-' || (user_id % 10)::VARCHAR AS app
        FROM events ORDER BY id"""))

  private val filterMetadataEq = Q(
    (s, dir) => logs(s, dir)
      .where(col("namespace") === "purchase" && col("host") === "host-3")
      .select("id", "pod_name").orderBy("id"),
    Some("""SELECT event_id AS id, 'pod-' || user_id::VARCHAR AS pod_name
        FROM events WHERE event_type = 'purchase' AND user_id % 5 = 3
        ORDER BY id"""))

  private val filterTimeRange = Q(
    (s, dir) => logs(s, dir)
      .where(col("timestamp") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("timestamp") < to_timestamp(lit("2024-01-20 00:00:00")))
      .select(col("id"), unix_millis(col("timestamp")).as("ts_ms"))
      .orderBy("id"),
    Some(s"""SELECT event_id AS id, $msEv AS ts_ms FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-20 00:00:00'
        ORDER BY id"""))

  private val filterMapStringEq = Q(
    (s, dir) => logs(s, dir)
      .where(try_element_at(col("fields_string"), lit("event.type")) === "error")
      .select("id").orderBy("id"),
    Some("SELECT event_id AS id FROM events WHERE event_type = 'error' ORDER BY id"))

  private val filterMapNumberCmp = Q(
    (s, dir) => {
      // The map-subscript predicate cannot push into a parquet scan — this
      // is the reference's materialized-column fast path (README.md:68-84):
      // query the WRITTEN log table, whose promoted_event_value column the
      // PromoteMapKeys rule substitutes for the subscript, turning the
      // filter into an ordinary pushed parquet predicate with row-group
      // skipping. The query text still speaks in map terms.
      val back = LogSchema.readLogs(s, Fixtures.logTableDir(s, dir))
      back
        .where(try_element_at(col("fields_number"), lit("event.value")) >= 150.0)
        .select(col("id"),
          r(try_element_at(col("fields_number"), lit("event.value")), 2).as("v"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, round(value, 2) AS v FROM events
        WHERE value >= 150.0 ORDER BY id"""))

  private val filterFieldExists = Q(
    (s, dir) => logs(s, dir)
      .where(map_contains_key(col("fields_string"), lit("flag.err")))
      .select("id", "namespace").orderBy("id"),
    Some("""SELECT event_id AS id, event_type AS namespace FROM events
        WHERE event_type = 'error' ORDER BY id"""))

  private val filterLogContains = Q(
    (s, dir) => logs(s, dir)
      .where(col("log").contains("purchase"))
      .select("id").orderBy("id"),
    // concat_ws (null-skipping), not `||` (null-propagating): the log view
    // builds its line with concat_ws, and a NULL props row would LIKE-drop
    // under || while Spark keeps it
    Some("""SELECT event_id AS id FROM events
        WHERE concat_ws(' ', event_type, props) LIKE '%purchase%' ORDER BY id"""))

  /** The same substring search THROUGH the n-gram bloom skip index
    * ([[graft.model.NgramIndex]], the ngrambf_v1 analogue): prune files by
    * needle-gram bloom membership, scan survivors, re-apply the exact
    * filter. Oracle-identical to [[filterLogContains]] by construction —
    * that equivalence (pruned scan ≡ full scan) is exactly what the
    * hash-match proves.
    */
  private val filterLogContainsIndexed = Q(
    (s, dir) => NgramIndex.searchLogs(
        s, Fixtures.indexedLogTableDir(s, dir), "purchase")
      .select("id").orderBy("id"),
    Some("""SELECT event_id AS id FROM events
        WHERE concat_ws(' ', event_type, props) LIKE '%purchase%' ORDER BY id"""))

  /** The front-end riding the skip index: the parsed query's provable
    * log-needles ([[graft.query.LogQuery.requiredLogNeedles]]) prune
    * files before the full compiled predicate runs. The klogs user types
    * a word plus metadata filters; the engine reads only files whose
    * gram blooms admit the word.
    */
  private val queryLanguageIndexed = Q(
    (s, dir) => NgramIndex.searchLogsQuery(
        s, Fixtures.indexedLogTableDir(s, dir),
        "log~'purchase' _and_ cluster='c1' _and_ namespace!='signup'")
      .select("id").orderBy("id"),
    Some("""SELECT event_id AS id FROM events
        WHERE concat_ws(' ', event_type, props) LIKE '%purchase%'
          AND ('c' || CAST(user_id % 2 AS VARCHAR)) = 'c1'
          AND event_type != 'signup'
        ORDER BY id"""))

  /** The COMBINED sidecar probe under the oracle gate: one front-end
    * query whose needle consults the n-gram blooms AND whose numeric
    * range on a direct column consults the zone map — the file list read
    * is the intersection of both candidate sets
    * ([[graft.model.NgramIndex.searchLogsQuery]]), and the result must
    * still hash-match the plain SQL restatement. Range bounds derive
    * from max(event_id) by integer arithmetic exact on both engines, so
    * the row is scale-portable like filter_range_zonemap's.
    */
  private val queryLanguageIndexedRange = Q(
    (s, dir) => {
      val tbl = Fixtures.rangeIndexedLogTableDir(s, dir)
      val mx = t(s, dir, "events").agg(max(col("event_id"))).head().getLong(0)
      val lo = mx * 3 / 10
      val hi = mx * 6 / 10
      NgramIndex.searchLogsQuery(s, tbl,
          s"log~'purchase' _and_ id>=$lo _and_ id<=$hi _and_ namespace!='signup'")
        .select("id").orderBy("id")
    },
    Some("""WITH m AS (SELECT max(event_id) AS mx FROM events)
        SELECT event_id AS id FROM events, m
        WHERE concat_ws(' ', event_type, props) LIKE '%purchase%'
          AND event_id >= (mx * 3) // 10
          AND event_id <= (mx * 6) // 10
          AND event_type != 'signup'
        ORDER BY id"""))

  /** The query-language front-end end-to-end: the filter string a klogs
    * user types into the reference's documented query UI (kobs,
    * /root/reference/README.md:6-8), parsed and compiled by
    * [[graft.query.LogQuery]] to Catalyst predicates over the log view.
    * Exercises metadata equality, a numeric dynamic field, `_exists_`,
    * `_not_` + ILIKE, `!=`, regex, and grouping in one expression; the
    * oracle states the same predicate in SQL over `events`.
    */
  private val queryLanguage = Q(
    // NOT spread (measured, r14): Catalyst pushes the parsed filter below
    // a repartition, so a spread pays its exchange and parallelizes nothing
    (s, dir) => graft.query.LogQuery.filter(logs(s, dir),
        "cluster='c1' _and_ (event.value>=150 _or_ _exists_ flag.err) " +
          "_and_ _not_ namespace=~'%view%' _and_ namespace!='signup' " +
          "_and_ log~'[0-9]'")
      .select(col("id"), col("namespace"),
        r(try_element_at(col("fields_number"), lit("event.value")), 2).as("v"))
      .orderBy("id"),
    Some("""SELECT event_id AS id, event_type AS namespace,
          round(value, 2) AS v
        FROM events
        WHERE ('c' || CAST(user_id % 2 AS VARCHAR)) = 'c1'
          AND (value >= 150.0 OR event_type = 'error')
          AND NOT (event_type ILIKE '%view%')
          AND event_type != 'signup'
          AND regexp_matches(concat_ws(' ', event_type, props), '[0-9]')
        ORDER BY id"""))

  /** The front-end's other two request shapes over the same parsed filter:
    * the volume chart (bucketed counts) UNION'd conceptually with the
    * aggregation tab (avg of a numeric field by group) — both stated here
    * as one two-part oracle via the chart query, exercising the parser →
    * aggregate pipeline end-to-end.
    */
  private val queryLanguageAgg = Q(
    (s, dir) => graft.query.LogQuery.aggregate(
        logs(s, dir),
        "namespace!='view' _and_ event.value>=50",
        groupField = "namespace", op = "avg", metricField = Some("event.value"))
      .select(col("group"), r(col("value"), 2).as("value"))
      .orderBy("group"),
    Some("""SELECT event_type AS "group", round(avg(value), 2) AS value
        FROM events
        WHERE event_type != 'view' AND value >= 50.0
        GROUP BY 1 ORDER BY "group""""))

  /** Percentile on the aggregation tab, both paths at once: the RAW path's
    * exact per-namespace p90 hash-compares against quantile_cont, and the
    * ROLLUP-ROUTED path (the same request answered from stored KLL states
    * — ClickHouse quantileMerge from an MV) is certified rank-wise: the
    * estimate must land inside the exact p85..p95 band, an order looser
    * than KLL's ~1.65% rank-error bound. `.get` on the routed side makes a
    * silent fallback to raw a loud failure.
    */
  private val queryLanguageAggPercentile = Q(
    (s, dir) => {
      val (src, roll) = Fixtures.rollupDirs(s, dir)
      // ONE raw-table pass computes the exact p90 AND the p85/p95 band
      // (was: LogQuery.aggregate + a separate band aggregate — two scans,
      // two exchanges over the same rows; r15, guide §2.4). percentile
      // over an array of fractions evaluates every fraction against the
      // same accumulated buffer with the same interpolation, so element 2
      // is bit-identical to the scalar percentile(v, 0.9) the aggregate
      // path computed — the expression below is exactly LogQuery's
      // metricFor("p90") / numField("event.value") resolution, widened to
      // the three fractions.
      val stats = LogSchema.readLogs(s, src)
        .groupBy(col("namespace").as("group"))
        .agg(expr("percentile(try_element_at(fields_number, 'event.value'), " +
          "array(0.85, 0.9, 0.95))").as("b"))
      val routed = graft.query.LogQuery.aggregateFromRollup(
          graft.model.Rollup.readRollup(s, roll), "", "namespace", "p90",
          Some("event.value")).get
        .select(col("group"), col("value").as("est"))
      stats.join(routed, "group")
        .select(col("group"), r(element_at(col("b"), 2), 2).as("p90"),
          (col("est") >= element_at(col("b"), 1) &&
            col("est") <= element_at(col("b"), 3)).as("p90_routed_ok"))
        .orderBy("group")
    },
    Some("""SELECT event_type AS "group",
        round(quantile_cont(value, 0.9), 2) AS p90,
        true AS p90_routed_ok
        FROM events GROUP BY 1 ORDER BY "group""""))

  /** The paged log-list request itself: range + filter + newest-first
    * order + limit, tiebroken on id so pagination (and this hash compare)
    * is deterministic under same-millisecond timestamps.
    */
  private val queryLanguageLogs = Q(
    (s, dir) => graft.query.LogQuery.logs(
        logs(s, dir), "namespace='purchase' _and_ event.value>=100",
        java.time.Instant.parse("2024-01-05T00:00:00Z"),
        java.time.Instant.parse("2024-01-25T00:00:00Z"),
        limit = 50, tieBreak = Seq("id"))
      .select(col("id"), unix_millis(col("timestamp")).as("ts_ms")),
    Some(s"""SELECT event_id AS id, $msEv AS ts_ms FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <= TIMESTAMP '2024-01-25 00:00:00'
          AND event_type = 'purchase' AND value >= 100.0
        ORDER BY ts DESC, id LIMIT 50"""))

  /** Page TWO of the same log-list request, fetched by keyset cursor
    * (`LogQuery.logsAfter`) — the pagination that stays O(page) at depth,
    * vs the OFFSET form whose page k re-orders and discards k·page rows.
    * The oracle states the same page as OFFSET/LIMIT over the total
    * (ts DESC, id) order, proving cursor paging loses/duplicates nothing
    * across the page boundary. The small collect fetches the cursor (the
    * last row the "user" already has) — request construction, not the
    * measured page query.
    */
  private val queryLanguagePage2 = Q(
    (s, dir) => {
      val frame = logs(s, dir)
      val q = "namespace='purchase' _and_ event.value>=100"
      val t0 = java.time.Instant.parse("2024-01-05T00:00:00Z")
      val t1 = java.time.Instant.parse("2024-01-25T00:00:00Z")
      val page1 = graft.query.LogQuery.logs(frame, q, t0, t1,
        limit = 50, tieBreak = Seq("id")).select("timestamp", "id").collect()
      // a SHORT first page means the result set ends there: page 2 via
      // the cursor (rows strictly after the last delivered row) is empty,
      // exactly like the oracle's OFFSET 50 — so tiny scale factors stay
      // correct instead of tripping a full-page fixture requirement
      if (page1.isEmpty)
        frame.limit(0)
          .select(col("id"), unix_millis(col("timestamp")).as("ts_ms"))
      else {
        val last = page1.last
        graft.query.LogQuery.logsAfter(frame, q, t0, t1,
            cursorTs = last.getTimestamp(0).toInstant,
            cursorId = last.getLong(1), limit = 50)
          .select(col("id"), unix_millis(col("timestamp")).as("ts_ms"))
      }
    },
    Some(s"""SELECT event_id AS id, $msEv AS ts_ms FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
          AND ts <= TIMESTAMP '2024-01-25 00:00:00'
          AND event_type = 'purchase' AND value >= 100.0
        ORDER BY ts DESC, event_id LIMIT 50 OFFSET 50"""))

  /** The per-series chart shape: metric per (time bucket, group) over the
    * parsed filter — count of error/high-value events per hour per
    * namespace.
    */
  private val queryLanguageSeries = Q(
    (s, dir) => graft.query.LogQuery.series(
        logs(s, dir),
        "namespace='error' _or_ event.value>=180",
        groupField = "namespace", bucket = "hour")
      .orderBy("bucket_ms", "group"),
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
          event_type AS "group", count(*) AS value
        FROM events
        WHERE event_type = 'error' OR value >= 180.0
        GROUP BY 1, 2 ORDER BY bucket_ms, "group""""))

  /** The volume chart ROUTED THROUGH THE ROLLUP: the filter touches only
    * rollup dimensions, so `volumeRouted` answers it from the
    * incrementally-maintained pre-aggregate — and the oracle proves the
    * routed result equals counting the raw events directly. A filter the
    * rollup cannot answer is exercised in LogQuerySpec (falls back to the
    * raw path with an identical result).
    */
  private val queryLanguageRollupVolume = Q(
    (s, dir) => {
      val (src, roll) = Fixtures.rollupDirs(s, dir)
      graft.query.LogQuery.volumeRouted(
        LogSchema.readLogs(s, src),
        graft.model.Rollup.readRollup(s, roll),
        "cluster='c1' _and_ _not_ namespace=~'%view%'", bucket = "hour")
    },
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        count(*) AS cnt
        FROM events
        WHERE ('c' || CAST(user_id % 2 AS VARCHAR)) = 'c1'
          AND NOT (event_type ILIKE '%view%')
        GROUP BY 1 ORDER BY bucket_ms"""))

  /** Reads the WRITTEN, promoted log table — the subscript below is
    * rewritten by PromoteMapKeys to the materialized promoted_event_value
    * column (metadata round-tripped through parquet), so this pair
    * actually exercises the promoted-column operator its key names; the
    * in-memory view variant would be a plain map access.
    */
  private val projectPromotedColumn = Q(
    (s, dir) => {
      graft.expressions.GraftFunctions.registerAll(s)
      graft.model.LogSchema.readLogs(s, Fixtures.logTableDir(s, dir))
        .withColumn("content_value",
          r(try_element_at(col("fields_number"), lit("event.value")), 2))
        .select("id", "content_value").orderBy("id")
    },
    Some("""SELECT event_id AS id, round(value, 2) AS content_value
        FROM events ORDER BY id"""))

  private val filterNullElision = Q(
    (s, dir) => logs(s, dir)
      .select(col("id"),
        size(col("fields_string")).cast(LongType).as("n_str"),
        size(col("fields_number")).cast(LongType).as("n_num"))
      .orderBy("id"),
    // the oracle DERIVES elision per row instead of asserting constants
    // that only hold while the generated data has no NULLs
    Some("""SELECT event_id AS id,
        ((CASE WHEN event_type IS NULL THEN 0 ELSE 1 END) +
         (CASE WHEN event_type = 'error' THEN 1 ELSE 0 END))::BIGINT AS n_str,
        ((CASE WHEN value IS NULL THEN 0 ELSE 1 END) +
         (CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
               IS NULL THEN 0 ELSE 1 END))::BIGINT AS n_num
        FROM events ORDER BY id"""))

  // ------------------------------------------------------------------
  // §2.3 dynamic-field ingest engine (flatten / type dispatch / routing)
  // ------------------------------------------------------------------

  private val flattenNested = Q(
    (s, dir) => {
      Fixtures.nestedIngested(s, dir)
        .withColumn("id", col("fields_number")("content_uid").cast(LongType))
        .select(
          col("id"),
          try_element_at(col("fields_string"), lit("content_type")).as("content_type"),
          try_element_at(col("fields_number"), lit("content_arr_0")).as("arr0"),
          try_element_at(col("fields_number"), lit("content_arr_1")).as("arr1"),
          try_element_at(col("fields_number"), lit("k")).as("k"))
        .groupBy("id", "content_type", "arr0", "arr1")
        .agg(count(lit(1)).as("n"), r(avg("k"), 4).as("avg_k"))
        .orderBy("id", "content_type")
    },
    Some("""SELECT user_id AS id, event_type AS content_type,
        1.0 AS arr0, user_id::DOUBLE AS arr1,
        count(*) AS n, round(avg(json_extract(props,'$.k')::DOUBLE), 4) AS avg_k
        FROM events GROUP BY ALL ORDER BY id, content_type"""))

  private val typeDispatch = Q(
    (s, dir) => {
      val j = to_json(
        struct(
          col("event_type").as("s"),
          col("user_id").as("i"),
          col("value").as("f"),
          (col("user_id") % 2 === 0).as("b"),
          lit(null).cast(StringType).as("n")),
        Map("ignoreNullFields" -> "false"))
      val ev = Spread.maybe(t(s, dir, "events"), col("event_id"))
        .withColumn("j", j)
      Ingest.ingestJson(ev, col("j"), col("ts"))
        .select(
          col("fields_number")("i").cast(LongType).as("id_i"),
          try_element_at(col("fields_string"), lit("s")).as("s_val"),
          r(try_element_at(col("fields_number"), lit("f")), 2).as("f_val"),
          try_element_at(col("fields_string"), lit("b")).as("b_val"),
          (size(col("fields_string")) + size(col("fields_number")))
            .cast(LongType).as("n_fields"))
        .groupBy("id_i", "s_val", "b_val", "n_fields")
        .agg(r(sum("f_val"), 2).as("sum_f"))
        .orderBy("id_i", "s_val")
    },
    // every field count and value DERIVES its null elision (a NULL column
    // in regenerated data must elide on both sides, not break a constant)
    Some("""SELECT user_id AS id_i, event_type AS s_val,
        CASE WHEN user_id IS NULL THEN NULL
             WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END AS b_val,
        ((CASE WHEN event_type IS NULL THEN 0 ELSE 1 END) +
         (CASE WHEN user_id IS NULL THEN 0 ELSE 2 END) +
         (CASE WHEN value IS NULL THEN 0 ELSE 1 END))::BIGINT AS n_fields,
        round(sum(round(value, 2)), 2) AS sum_f
        FROM events GROUP BY ALL ORDER BY id_i, s_val"""))

  /** The PLAN-TIME flatten path (`Ingest.flattenStruct`) — the scale route
    * for sources whose nested schema Spark already knows: the recursion
    * runs at plan time and emits only codegen'd built-ins, no JSON parse.
    * This gives the static path its own oracle row; the dynamic-vs-static
    * equivalence is additionally asserted in IngestSpec.
    */
  private val flattenStatic = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      val structCol = struct(
        struct(col("event_type").as("type"), col("user_id").as("uid")).as("content"),
        col("value").as("v"))
      val schema = ev.select(structCol.as("x")).schema("x")
        .dataType.asInstanceOf[StructType]
      val (fs, fn) = Ingest.flattenStruct(structCol, schema)
      ev.select(col("event_id").as("id"), fs.as("fstr"), fn.as("fnum"))
        .select(col("id"),
          try_element_at(col("fstr"), lit("content_type")).as("ctype"),
          r(try_element_at(col("fnum"), lit("content_uid")), 2).as("cuid"),
          r(try_element_at(col("fnum"), lit("v")), 2).as("v"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, event_type AS ctype,
        round(user_id::DOUBLE, 2) AS cuid, round(value, 2) AS v
        FROM events ORDER BY id"""))

  private val routeWellknownKeys = Q(
    (s, dir) => {
      val j = to_json(struct(
        lit("c1").as("cluster"),
        struct(
          col("event_type").as("namespace_name"),
          concat(lit("pod-"), col("user_id")).as("pod_name"),
          lit("main").as("container_name"),
          concat(lit("host-"), col("user_id") % 5).as("host"),
          struct(
            concat(lit("app-"), col("user_id") % 10).as("app"),
            lit("legacy").as("k8s-app")).as("labels")).as("kubernetes"),
        col("props").as("log"),
        col("event_id").as("event_id")))
      // the JSON round-trip below is the cost; spread the under-split scan
      // so it runs on every core (gated — no-op on a many-file source)
      val ev = Spread.maybe(t(s, dir, "events"), col("event_id"))
        .withColumn("j", j)
      Ingest.ingestJson(ev, col("j"), col("ts"))
        .select(
          col("fields_number")("event_id").cast(LongType).as("id"),
          col("cluster"), col("namespace"), col("app"), col("pod_name"),
          col("container_name"), col("host"), col("log"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, 'c1' AS cluster, event_type AS namespace,
        'app-' || (user_id % 10)::VARCHAR AS app,
        'pod-' || user_id::VARCHAR AS pod_name,
        'main' AS container_name,
        'host-' || (user_id % 5)::VARCHAR AS host,
        props AS log
        FROM events ORDER BY id"""))

  private val keyForceUnderscores = Q(
    (s, dir) => {
      val j = to_json(struct(
        col("event_id").as("event_id"),
        col("value").as("metric.v"),
        col("event_type").as("tag.t")))
      val ev = Spread.maybe(t(s, dir, "events"), col("event_id"))
        .withColumn("j", j)
      Ingest.ingestJson(ev, col("j"), col("ts"),
          IngestConfig(forceUnderscores = true))
        .select(
          col("fields_number")("event_id").cast(LongType).as("id"),
          r(try_element_at(col("fields_number"), lit("metric_v")), 2).as("mv"),
          try_element_at(col("fields_string"), lit("tag_t")).as("tt"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, round(value, 2) AS mv, event_type AS tt
        FROM events ORDER BY id"""))

  private val coerceForceNumber = Q(
    (s, dir) => {
      val j = to_json(struct(
        col("event_id").as("event_id"),
        col("value").cast(StringType).as("metric.v"),
        col("event_type").as("note.n")))
      val ev = Spread.maybe(t(s, dir, "events"), col("event_id"))
        .withColumn("j", j)
      // membership is tested on the ORIGINAL dotted key, storage lands on
      // the underscored key (/root/reference/main.go:337-345)
      Ingest.ingestJson(ev, col("j"), col("ts"),
          IngestConfig(forceNumberFields = Seq("metric.v", "note.n"),
            forceUnderscores = true))
        .select(
          col("fields_number")("event_id").cast(LongType).as("id"),
          r(try_element_at(col("fields_number"), lit("metric_v")), 2).as("mv"),
          try_element_at(col("fields_string"), lit("note_n")).as("nn"),
          size(col("fields_number")).cast(LongType).as("n_num"))
        .orderBy("id")
    },
    // n_num derived, not constant: fields_number holds event_id (always)
    // plus metric_v exactly when value is non-null (nulls elide)
    Some("""SELECT event_id AS id, round(value, 2) AS mv, event_type AS nn,
        (1 + (CASE WHEN value IS NULL THEN 0 ELSE 1 END))::BIGINT AS n_num
        FROM events ORDER BY id"""))

  private val mapBuildSplit = Q(
    (s, dir) => {
      Fixtures.nestedIngested(s, dir)
        .select(
          size(col("fields_string")).cast(LongType).as("n_str"),
          size(col("fields_number")).cast(LongType).as("n_num"))
        .groupBy("n_str", "n_num").agg(count(lit(1)).as("n"))
        .orderBy("n_str", "n_num")
    },
    Some("""SELECT 1::BIGINT AS n_str, 4::BIGINT AS n_num, count(*) AS n
        FROM events GROUP BY ALL ORDER BY n_str, n_num"""))

  // ------------------------------------------------------------------
  // §2.4 aggregations
  // ------------------------------------------------------------------

  private val aggCount = Q(
    (s, dir) => t(s, dir, "lineitem").agg(count(lit(1)).as("cnt")),
    Some("SELECT count(*) AS cnt FROM lineitem"))

  private val aggGroupMetadata = Q(
    (s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        r(sum("l_quantity"), 2).as("sum_qty"),
        r(avg("l_extendedprice"), 2).as("avg_price"),
        r(min("l_discount"), 2).as("min_disc"),
        r(max("l_tax"), 2).as("max_tax"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        round(sum(l_quantity), 2) AS sum_qty,
        round(avg(l_extendedprice), 2) AS avg_price,
        round(min(l_discount), 2) AS min_disc,
        round(max(l_tax), 2) AS max_tax
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""))

  private val aggTimeBucket = Q(
    (s, dir) => t(s, dir, "events")
      .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("bucket_ms"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket_ms"),
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        count(*) AS cnt FROM events GROUP BY 1 ORDER BY bucket_ms"""))

  private val aggNumericFieldStats = Q(
    (s, dir) => logs(s, dir)
      .groupBy("namespace")
      .agg(
        count(lit(1)).as("cnt"),
        r(sum(try_element_at(col("fields_number"), lit("event.value"))), 2).as("sum_v"),
        r(avg(try_element_at(col("fields_number"), lit("event.value"))), 2).as("avg_v"),
        r(min(try_element_at(col("fields_number"), lit("event.value"))), 2).as("min_v"),
        r(max(try_element_at(col("fields_number"), lit("event.value"))), 2).as("max_v"))
      .orderBy("namespace"),
    Some("""SELECT event_type AS namespace, count(*) AS cnt,
        round(sum(value), 2) AS sum_v, round(avg(value), 2) AS avg_v,
        round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
        FROM events GROUP BY 1 ORDER BY namespace"""))

  private val aggDistinct = Q(
    (s, dir) => t(s, dir, "events").agg(
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(col("user_id")).as("n_users")),
    Some("""SELECT count(DISTINCT event_type) AS n_types,
        count(DISTINCT user_id) AS n_users FROM events"""))

  /** Sketch aggregates (HLL++, approximate percentile). The sketch VALUES
    * are engine-specific and can't hash-match another engine, but their
    * accuracy CONTRACTS are SQL-expressible: emit the exact answer plus
    * booleans asserting each sketch landed within tolerance. The bounds
    * carry deliberate slack over the documented error so the row is not
    * flaky: HLL++'s default rsd is 5%, asserted at 15% (3σ); Spark's
    * percentile_approx at accuracy 1000 is deterministic and lands within
    * 2% of the true median on this data. The oracle states the same exact
    * value and literal trues — a sketch drifting past the slack fails the
    * hash compare, making this a REAL correctness row rather than a
    * rows-only count.
    */
  private val aggApproxDistinct = Q(
    (s, dir) => t(s, dir, "events").agg(
      countDistinct(col("user_id")).as("exact_users"),
      (abs(approx_count_distinct(col("user_id")) - countDistinct(col("user_id")))
        <= countDistinct(col("user_id")) * 0.15).as("approx_users_ok"),
      (abs(expr("percentile_approx(value, 0.5, 1000)") -
        expr("percentile(value, 0.5)"))
        <= abs(expr("percentile(value, 0.5)")) * 0.02 + 0.001).as("p50_ok")),
    Some("""SELECT count(DISTINCT user_id) AS exact_users,
        true AS approx_users_ok, true AS p50_ok FROM events"""))

  private val aggGroupingSets = Q(
    (s, dir) => t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("cnt"),
        r(sum("o_totalprice"), 2).as("sum_total"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_prio"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("cnt"), col("sum_total"), col("g_status"), col("g_prio"))
      .orderBy("g_status", "g_prio", "status", "prio"),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        coalesce(o_orderpriority, 'ALL') AS prio,
        count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_total,
        GROUPING(o_orderstatus)::BIGINT AS g_status,
        GROUPING(o_orderpriority)::BIGINT AS g_prio
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY g_status, g_prio, status, prio"""))

  private val aggFieldKeyHistogram = Q(
    (s, dir) => logs(s, dir)
      .select(explode(map_keys(col("fields_string"))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k"),
    // HAVING guards: an ungrouped aggregate always yields one row, but a
    // key absent from every map yields NO exploded row on the Spark side
    Some("""SELECT k, cnt FROM (
        SELECT 'event.type' AS k, count(*) AS cnt FROM events
        WHERE event_type IS NOT NULL HAVING count(*) > 0
        UNION ALL
        SELECT 'flag.err' AS k, count(*) AS cnt FROM events
        WHERE event_type = 'error' HAVING count(*) > 0) ORDER BY k"""))

  // ------------------------------------------------------------------
  // §2.5 joins
  // ------------------------------------------------------------------

  private val joinBroadcast = Q(
    (s, dir) => t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n_sup"))
      .orderBy("r_name"),
    Some("""SELECT r_name, count(*) AS n_sup FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name"""))

  private val joinShuffleHash = Q(
    (s, dir) => t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(*) AS n_items,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private val joinSemiAnti = Q(
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("with_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("without_orders"))
      semi.crossJoin(anti)
    },
    // EXISTS, not IN: `NOT IN` over a set containing NULL is NULL for
    // every row (0 customers), while Spark's left_anti keeps unmatched
    // rows — null-luck-equivalent today, wrong on any NULL o_custkey
    Some("""SELECT
        (SELECT count(*) FROM customer c WHERE EXISTS
          (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS with_orders,
        (SELECT count(*) FROM customer c WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS without_orders"""))

  private val joinOuter = Q(
    (s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_rows"))
      .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        count(*) AS n_rows
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val joinRangeAsof = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      // Deterministic right side: one row per (custkey, orderdate) — ties on
      // the as-of timestamp would make "the most recent row" ambiguous in
      // both engines. `o_val` plants NULLs so the oracle catches any
      // per-column backfill: a true as-of carries the whole latest row,
      // NULL cells included.
      val w = Window.partitionBy("o_custkey", "o_orderdate")
        .orderBy(col("o_orderkey").desc)
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"),
          when(col("o_orderstatus") === "F", lit(null).cast(DoubleType))
            .otherwise(col("o_totalprice")).as("o_val"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn", "o_orderkey")
      graft.operators.AsofJoin.asofBackward(ev, o,
          "user_id", "o_custkey", "ts", "o_orderdate",
          rightValueCols = Seq("o_orderstatus", "o_val"))
        .select(col("event_id").as("id"),
          unix_millis(col("asof_ts")).as("asof_ms"),
          col("asof_o_orderstatus").as("asof_status"),
          r(col("asof_o_val"), 2).as("asof_val"))
        .orderBy("id")
    },
    Some("""WITH o AS (
          SELECT o_custkey, o_orderdate, o_orderstatus, o_val FROM (
            SELECT o_custkey, o_orderdate, o_orderstatus,
              CASE WHEN o_orderstatus = 'F' THEN NULL
                   ELSE o_totalprice END AS o_val,
              ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                ORDER BY o_orderkey DESC) AS rn
            FROM orders) WHERE rn = 1)
        SELECT e.event_id AS id, epoch_ms(o.o_orderdate) AS asof_ms,
          o.o_orderstatus AS asof_status, round(o.o_val, 2) AS asof_val
        FROM events e ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        ORDER BY id"""))

  // ------------------------------------------------------------------
  // §2.6 window functions
  // ------------------------------------------------------------------

  private val winTopkPerGroup = Q(
    (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id"))
      counts.withColumn("rn", row_number().over(w).cast(LongType))
        .where(col("rn") <= 3)
        .orderBy("event_type", "rn")
    },
    Some("""SELECT event_type, user_id, cnt, rn FROM (
        SELECT event_type, user_id, count(*) AS cnt,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY count(*) DESC, user_id) AS rn
        FROM events GROUP BY event_type, user_id)
        WHERE rn <= 3 ORDER BY event_type, rn"""))

  private val winLagInterarrival = Q(
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id").as("id"),
          (unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
            .as("gap_ms"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id,
        epoch_ms(ts) - LAG(epoch_ms(ts), 1) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        FROM events ORDER BY id"""))

  private val winRunningFrame = Q(
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-5, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id").as("id"),
          r(sum("value").over(w), 2).as("rsum"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id,
        round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS rsum
        FROM events ORDER BY id"""))

  /** Time-RANGE window frame — the "activity in the trailing 10 minutes
    * as of each event" rolling metric. Distinct from [[winRunningFrame]]'s
    * ROWS frame: the frame is bounded by the ORDER value (epoch millis),
    * not a row count, so bursty users get wide frames and quiet users
    * narrow ones. Same scale shape as any window: one hash exchange on
    * the partition key + an in-partition sort; frame state is bounded by
    * the time width, not the partition.
    */
  private val winTimeRangeFrame = Q(
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
        .rangeBetween(-600000L, Window.currentRow)
      // the summed metric is pre-rounded to integer cents: a RANGE frame
      // orders by ONE numeric key, so tied ts_ms rows have no
      // deterministic tiebreak and a double sum's addition order (hence
      // its last ulp) would be run-dependent; a long sum is order-free
      t(s, dir, "events")
        .withColumn("ts_ms", unix_millis(col("ts")))
        .withColumn("cents", r(col("value") * lit(100), 0).cast(LongType))
        .select(col("event_id").as("id"),
          count(lit(1)).over(w).as("cnt_10m"),
          sum("cents").over(w).as("sum_cents_10m"))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id, count(*) OVER w AS cnt_10m,
        (sum(round(value * 100)::BIGINT) OVER w)::BIGINT AS sum_cents_10m
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
          RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
        ORDER BY id"""))

  // ------------------------------------------------------------------
  // §2.7 sorts / limits / set ops / exact dedup
  // ------------------------------------------------------------------

  private val sortByTime = Q(
    (s, dir) => t(s, dir, "events")
      .select(col("event_id").as("id"), unix_millis(col("ts")).as("ts_ms"))
      .orderBy(col("ts_ms").desc, col("id").desc)
      .limit(100),
    Some("""SELECT event_id AS id, epoch_ms(ts) AS ts_ms FROM events
        ORDER BY ts_ms DESC, id DESC LIMIT 100"""))

  // the ORDER BY under a LIMIT must be TOTAL: (l_orderkey, l_linenumber)
  // is NOT unique in the testdata (11k+ duplicate pairs differing in
  // measures), so a cut landing inside a tie group would let each engine
  // legally keep different rows — the quantity/price tiebreakers make the
  // prefix deterministic at every SF
  private val limitN = Q(
    (s, dir) => t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .limit(50),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        LIMIT 50"""))

  private val setUnion = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      ev.where(col("event_type") === "error").select(col("event_id").as("id"))
        .unionByName(
          ev.where(col("event_type") === "purchase").select(col("event_id").as("id")))
        .orderBy("id")
    },
    Some("""SELECT event_id AS id FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT event_id AS id FROM events WHERE event_type = 'purchase'
        ORDER BY id"""))

  private val setIntersectExcept = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      // ONE scan + ONE exchange: per-user presence flags are exactly
      // INTERSECT / EXCEPT over the two distinct user sets — a user with
      // both types is the intersection, purchase-without-error the
      // difference. The set-operator form evaluated each distinct subtree
      // twice (once per set op): 4 scans of events, 4+ exchanges (r15,
      // guide §2.4). groupBy groups NULL user_ids like the set ops'
      // null-safe equality does.
      ev.where(col("event_type").isin("purchase", "error"))
        .groupBy("user_id")
        .agg(max(col("event_type") === "purchase").as("_p"),
          max(col("event_type") === "error").as("_e"))
        .where(col("_p"))
        .select(col("user_id"),
          when(col("_e"), lit("i")).otherwise(lit("e")).as("op"))
        .orderBy("op", "user_id")
    },
    Some("""SELECT user_id, op FROM (
        SELECT user_id, 'i' AS op FROM (
          SELECT user_id FROM events WHERE event_type = 'purchase'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'error')
        UNION ALL
        SELECT user_id, 'e' AS op FROM (
          SELECT user_id FROM events WHERE event_type = 'purchase'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'error'))
        ORDER BY op, user_id"""))

  private val dedupExact = Q(
    (s, dir) => Dedup.exact(
        t(s, dir, "documents").withColumn("text_md5", md5(col("text")))
          .select("text_md5", "doc_id"),
        Seq("text_md5"), "doc_id")
      .orderBy("doc_id"),
    Some("""SELECT md5(text) AS text_md5, min(doc_id) AS doc_id,
        count(*) AS n_copies FROM documents GROUP BY md5(text)
        ORDER BY doc_id"""))

  // ------------------------------------------------------------------
  // §2.8 scalar functions
  // ------------------------------------------------------------------

  private val fnMapAccess = Q(
    (s, dir) => logs(s, dir).select(
        col("id"),
        try_element_at(col("fields_string"), lit("event.type")).as("etype"),
        map_contains_key(col("fields_string"), lit("flag.err")).as("has_flag"),
        array_join(array_sort(map_keys(col("fields_string"))), ",").as("ks"))
      .orderBy("id"),
    Some("""SELECT event_id AS id, event_type AS etype,
        event_type = 'error' AS has_flag,
        CASE WHEN event_type = 'error' THEN 'event.type,flag.err'
             ELSE 'event.type' END AS ks
        FROM events ORDER BY id"""))

  private val fnDate = Q(
    (s, dir) => t(s, dir, "orders").select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd").as("plus30"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
        strftime(o_orderdate::DATE + 30, '%Y-%m-%d') AS plus30,
        year(o_orderdate)::BIGINT AS y, month(o_orderdate)::BIGINT AS m,
        day(o_orderdate)::BIGINT AS d
        FROM orders ORDER BY o_orderkey"""))

  private val fnString = Q(
    (s, dir) => t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast(LongType).as("name_len"),
        split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        col("p_name").contains("a").as("has_a"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
        length(p_name)::BIGINT AS name_len,
        split_part(p_name, ' ', 1) AS first_word,
        regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        concat_ws('-', p_brand, p_type) AS brand_type,
        contains(p_name, 'a') AS has_a
        FROM part ORDER BY p_partkey"""))

  private val fnKeyRewrite = Q(
    (s, dir) => logs(s, dir).select(
        col("id"),
        array_join(array_sort(map_keys(
          transform_keys(col("fields_string"),
            (k, _) => regexp_replace(k, "\\.", "_")))), ",").as("ks"))
      .orderBy("id"),
    Some("""SELECT event_id AS id,
        CASE WHEN event_type = 'error' THEN 'event_type,flag_err'
             ELSE 'event_type' END AS ks
        FROM events ORDER BY id"""))

  private val fnNumericParse = Q(
    (s, dir) => t(s, dir, "events").select(
        col("event_id").as("id"),
        get_json_object(col("props"), "$.k").try_cast(DoubleType).as("k_num"),
        col("event_type").try_cast(DoubleType).as("bad"))
      .orderBy("id"),
    Some("""SELECT event_id AS id,
        TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
        TRY_CAST(event_type AS DOUBLE) AS bad
        FROM events ORDER BY id"""))

  private val fnMath = Q(
    (s, dir) => t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")), 2).as("charge"),
        r(abs(col("l_discount") - 0.05), 3).as("absd"),
        floor(col("l_quantity")).cast(LongType).as("fl"),
        ceil(col("l_quantity")).cast(LongType).as("ce"),
        r(sqrt(col("l_extendedprice")), 3).as("sq"))
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber,
        round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge,
        round(abs(l_discount - 0.05), 3) AS absd,
        CAST(floor(l_quantity) AS BIGINT) AS fl,
        CAST(ceil(l_quantity) AS BIGINT) AS ce,
        round(sqrt(l_extendedprice), 3) AS sq
        FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val fnJson = Q(
    (s, dir) => t(s, dir, "events").select(
        col("event_id").as("id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_int"),
        get_json_object(col("props"), "$.k").as("k_str"))
      .orderBy("id"),
    Some("""SELECT event_id AS id,
        json_extract(props, '$.k')::BIGINT AS k_int,
        json_extract_string(props, '$.k') AS k_str
        FROM events ORDER BY id"""))

  private val fnArray = Q(
    (s, dir) => t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        r(element_at(col("embedding"), 1).cast(DoubleType), 4).as("e1"),
        r(VF.l2Norm(col("embedding")), 4).as("l2"),
        exists(col("embedding"), x => x < 0).as("has_neg"))
      .orderBy("vec_id"),
    Some("""SELECT vec_id, len(embedding)::BIGINT AS dim,
        round(embedding[1]::DOUBLE, 4) AS e1,
        round(sqrt(list_sum(list_transform(embedding,
          x -> x::DOUBLE * x::DOUBLE))), 4) AS l2,
        len(list_filter(embedding, x -> x < 0)) > 0 AS has_neg
        FROM embeddings ORDER BY vec_id"""))

  // ------------------------------------------------------------------
  // §2.9 streaming (batch-equivalent forms; true streaming in ScalaTest)
  // ------------------------------------------------------------------

  private val streamTumblingCounts = Q(
    (s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("cnt"))
      .orderBy("bucket_ms", "event_type"),
    Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        event_type, count(*) AS cnt FROM events
        GROUP BY 1, 2 ORDER BY bucket_ms, event_type"""))

  private val streamSlidingCounts = Q(
    (s, dir) => t(s, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("cnt"))
      .orderBy("bucket_ms"),
    // each event falls in the window starting at its hour and the one
    // starting an hour earlier
    Some("""SELECT epoch_ms(w) AS bucket_ms, count(*) AS cnt FROM (
        SELECT date_trunc('hour', ts) AS w FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w FROM events)
        GROUP BY w ORDER BY bucket_ms"""))

  private val streamSessionWindow = Q(
    (s, dir) => t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("sess_start_ms"), col("cnt"))
      .orderBy("user_id", "sess_start_ms"),
    // >=, not >: Spark's session_window is half-open [start, start+gap) —
    // an event at EXACTLY prevTs+gap starts a NEW session, so the oracle's
    // boundary condition must split there too
    Some("""WITH g AS (
          SELECT user_id, ts,
            CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM g)
        SELECT user_id, epoch_ms(min(ts)) AS sess_start_ms, count(*) AS cnt
        FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start_ms"""))

  private val sinkPartitionedWrite = Q(
    (s, dir) => {
      // the log view written with the reference physical design (daily
      // partitions + sort key) — the write runs once per process as a
      // fixture; the query verifies the round-trip via per-day counts over
      // partition-pruned reads
      LogSchema.readLogs(s, Fixtures.logTableDir(s, dir))
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt
        FROM events GROUP BY 1 ORDER BY day"""))

  private val aggQuantiles = Q(
    (s, dir) => t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        r(expr("percentile(value, 0.5)"), 2).as("p50"),
        r(expr("percentile(value, 0.9)"), 2).as("p90"),
        r(expr("percentile(value, 0.99)"), 2).as("p99"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
        round(quantile_cont(value, 0.5), 2) AS p50,
        round(quantile_cont(value, 0.9), 2) AS p90,
        round(quantile_cont(value, 0.99), 2) AS p99
        FROM events GROUP BY event_type ORDER BY event_type"""))

  private val joinSkewSalted = Q(
    (s, dir) => graft.operators.SkewJoin.saltedJoin(
        t(s, dir, "events"), t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment"),
        "user_id", "c_custkey", saltFactor = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), r(sum("value"), 2).as("sum_v"))
      .orderBy("c_mktsegment"),
    // identical to the unsalted join — salting must not change results
    Some("""SELECT c_mktsegment, count(*) AS cnt, round(sum(value), 2) AS sum_v
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // ------------------------------------------------------------------
  // §2.10 north-star: dedup / similarity / text / multimodal
  // ------------------------------------------------------------------

  /** MinHash banding certified against brute truth (the
    * agg_approx_distinct pattern): `n_true` — the exact count of pairs at
    * jaccard ≥ 0.4 over distinct 2-word shingles — hash-compares against
    * the same computation in SQL; `recall_ok` certifies the banding
    * surfaced at least the measured floor of those pairs (banding with
    * b=8, r=4 at j=0.4 has per-pair probability 1−(1−j⁴)⁸, so sub-1.0
    * recall near the threshold is the math, not a bug — planted near-dups
    * sit well above it); `precision_ok` certifies every emitted pair
    * carries a passing EXACT jaccard (the map-side verify contract). The
    * doc_id < 300 bound is the usual exact-verification-variant contract
    * (the quadratic truth side is the cost driver — 300 keeps 7 planted
    * pairs at sf0.01, enough to certify, at a quarter of the pair count).
    */
  private val dedupMinhash = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val found = Dedup.minhashPairs(docs.where(col("doc_id") < 300),
          "doc_id", "text",
          shingleN = 2, bands = 8, rowsPerBand = 4, jaccardThreshold = 0.4)
        .select("id_a", "id_b")
      val truth = Fixtures.minhashTruth(s, dir)
      // flag-union diff (presenceFlags — one exchange, no per-side
      // sort-merge): both sides are distinct pair sets, so n_true / n_hit
      // / n_false are flag-pattern counts of the same union — the live
      // LSH pipeline (the expensive side) is evaluated once, not twice.
      // Values identical by construction (set semantics).
      presenceFlags(truth, found, Seq("id_a", "id_b"))
        .agg(
          count(when(col("_l") === 1, 1)).as("n_true"),
          count(when(col("_l") === 1 && col("_r") === 1, 1))
            .as("n_hit"),
          count(when(col("_l") === 0, 1)).as("n_false"))
        .select(
          col("n_true"),
          (col("n_hit") >= col("n_true") * 0.8).as("recall_ok"),
          (col("n_false") === 0).as("precision_ok"))
    },
    Some("""WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
          FROM documents WHERE doc_id < 300),
        sh AS (SELECT doc_id, list_distinct(CASE
            WHEN len(tk) = 1 THEN [tk[1]]
            WHEN len(tk) >= 2 THEN list_transform(
              generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])
            END) AS sh
          FROM toks),
        pairs AS (SELECT
            round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS j
          FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        SELECT count(*) AS n_true, TRUE AS recall_ok, TRUE AS precision_ok
        FROM pairs WHERE j >= 0.4"""))

  /** The persisted-index incremental dedup loop, certified by set EQUALITY:
    * probing a new increment (doc_id in [400, 500)) against the corpus
    * index (doc_id < 400) must produce exactly the pairs a from-scratch
    * index over corpus ∪ increment yields, restricted to pairs touching a
    * new id (new ids are the top range, so `id_b ≥ 400` ⇔ touching-new
    * under id_a < id_b). Same hash families and verification arithmetic on
    * both paths make the comparison exact — including the jaccard doubles,
    * which join as part of the key. The SQL anchor is the increment row
    * count. Both slices are id-bounded (the ngramJaccardPairs maxId
    * contract) so the certification stays the same size at every SF.
    */
  private val dedupIncremental = Q(
    (s, dir) => {
      val (corpusIdx, fullIdx) = Fixtures.dedupIndexDirs(s, dir)
      val newDocs = t(s, dir, "documents")
        .where(col("doc_id") >= 400 && col("doc_id") < 500)
      val incr = graft.model.DedupIndex.incrementalPairs(
        newDocs, "doc_id", "text", corpusIdx, jaccardThreshold = 0.4)
      val scratch = graft.model.DedupIndex.allPairs(s, fullIdx,
          jaccardThreshold = 0.4)
        .where(col("id_b") >= 400)
      // Flag-union symmetric diff (presenceFlags) instead of two
      // anti-joins (r14 used one full-outer; the union form drops the
      // per-side sort-merge exchanges too): both sides are distinct sets
      // keyed by (id_a, id_b, jaccard) with bit-identical jaccard from
      // the same sketch rows, so the flag-pattern counts are exactly the
      // two anti counts.
      val keys = Seq("id_a", "id_b", "jaccard")
      val diff = presenceFlags(scratch, incr, keys)
        .agg(
          count(when(col("_r") === 0, 1)).as("n_miss"),
          count(when(col("_l") === 0, 1)).as("n_extra"))
      newDocs.agg(count(lit(1)).as("n_new"))
        .crossJoin(diff)
        .select(col("n_new"),
          (col("n_miss") === 0).as("complete_ok"),
          (col("n_extra") === 0).as("sound_ok"))
    },
    Some("""SELECT count(*) AS n_new, TRUE AS complete_ok,
        TRUE AS sound_ok FROM documents
        WHERE doc_id >= 400 AND doc_id < 500"""))

  /** SimHash banding certified against brute truth: unlike MinHash, the
    * pigeonhole banding is COMPLETE by construction (Hamming ≤ h ⇒ some
    * chunk matches exactly), so the certification is set EQUALITY with the
    * brute all-pairs Hamming scan, not a recall floor — `complete_ok`
    * (every brute pair found, with the same min-Hamming) and `sound_ok`
    * (nothing extra) both certify TRUE, with the doc count as the SQL
    * anchor. doc_id < 600 is the exact-verification bound (covers all of
    * sf0.01; the brute side is quadratic).
    */
  private val dedupSimhash = Q(
    // radius 12 needs the 128-bit fingerprint: banding 64 bits into 13
    // chunks leaves ~5-bit buckets that collide for 1/32 of all pairs per
    // band (see Dedup.simhashPairsWide scaladoc)
    (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 600)
      val found = Dedup.simhashPairsWide(docs, "doc_id", "text",
        maxHamming = 12, words = 2)
      val fp = docs.select(col("doc_id").as("id"),
        graft.expressions.SketchExprs.simhashWide(
          TF.tokens(col("text")), 2).as("fp"))
      val ham = (0 until 2).map(w =>
          graft.functions.VectorFunctions.hamming(
            element_at(col("a.fp"), w + 1), element_at(col("b.fp"), w + 1)))
        .reduce(_ + _)
      val brute = fp.as("a").crossJoin(fp.as("b"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          ham.as("hamming"))
        .where(col("hamming") <= 12)
      // flag-union symmetric diff (see dedup_incremental): the quadratic
      // brute side is evaluated once, not once per anti-join
      val diff = presenceFlags(brute, found, Seq("id_a", "id_b", "hamming"))
        .agg(
          count(when(col("_r") === 0, 1)).as("n_miss"),
          count(when(col("_l") === 0, 1)).as("n_extra"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(diff)
        .select(col("n_docs"),
          (col("n_miss") === 0).as("complete_ok"),
          (col("n_extra") === 0).as("sound_ok"))
    },
    Some("""SELECT count(*) AS n_docs, TRUE AS complete_ok,
        TRUE AS sound_ok FROM documents WHERE doc_id < 600"""))

  private val dedupNgramJaccard = Q(
    (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
        "text", n = 1, threshold = 0.8, maxId = 60)
      .orderBy("id_a", "id_b"),
    Some("""WITH d AS (
        SELECT doc_id, list_distinct(list_filter(
          string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh
        FROM documents WHERE doc_id < 60)
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) AS jaccard
          FROM d a, d b WHERE a.doc_id < b.doc_id)
        WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""))

  // maxId = 500 covers the FULL sf0.01 oracle table (max vec_id 499) while
  // keeping the all-pairs verification variant bounded at every larger SF —
  // the same enforced-bound contract as dedup_ngram_jaccard
  private val dedupEmbeddingCosine = Q(
    (s, dir) => Dedup.embeddingCosinePairsExact(
        t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4,
        maxId = 500L)
      .orderBy("id_a", "id_b"),
    Some("""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500)
        SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(
            list_sum(list_transform(list_zip(a.embedding, b.embedding),
              p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
            (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) *
             sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
          4) AS cosine
        FROM e a, e b WHERE a.vec_id < b.vec_id)
        WHERE cosine >= 0.4 ORDER BY id_a, id_b"""))

  private val simSearchTopk = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteTopK(emb, emb.where(col("vec_id") < 10), "vec_id",
          "embedding", k = 5)
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.qid, c.vec_id AS nid,
            round(
              list_sum(list_transform(list_zip(q.qv, c.embedding),
                p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
              (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) *
               sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
            4) AS cosine
          FROM q, embeddings c WHERE c.vec_id <> q.qid)
        SELECT qid, rank, nid, cosine FROM (
          SELECT qid, nid, cosine,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY qid, rank"""))

  /** Flag-union symmetric diff of two DISTINCT keyed sets: one exchange
    * (groupBy over the union of flag-tagged rows) instead of the r14
    * full-outer sort-merge join — the union needs no per-side sort or
    * exchange, both map sides feed a single shuffle, and the plan loses
    * ~2 AQE stages per certification (r15, guide §2.4). One row per key
    * present in either set, with 0/1 presence flags `_l` / `_r`; since
    * each side carries a key at most once, max() over the flags
    * reproduces the full-outer join's null pattern exactly.
    */
  private[graft] def presenceFlags(
      left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val l = left.select(keys.map(col) :+ lit(1).as("_l") :+ lit(0).as("_r"): _*)
    val rr = right.select(keys.map(col) :+ lit(0).as("_l") :+ lit(1).as("_r"): _*)
    l.unionByName(rr).groupBy(keys.map(col): _*)
      .agg(max(col("_l")).as("_l"), max(col("_r")).as("_r"))
  }

  /** ANN certification harness (agg_approx_distinct pattern): the exact
    * brute top-k set sizes hash-compare against SQL (the brute formulation
    * itself is independently hash-verified by sim_search_topk), and
    * `recall_ok` certifies the approximate index surfaced at least the
    * measured floor of the true neighbors — bounds sit well under the
    * deterministic-seed measurements (lsh .36 / ivf .62 / pq .82 /
    * ivfpq .74 at sf0.01) so they certify the mechanism, not the noise.
    */
  private def annCertified(
      s: SparkSession, dir: String, minRecall: Double,
      truth: (SparkSession, String) => DataFrame = Fixtures.annBruteTruth)(
      topk: DataFrame): DataFrame = {
    // flag-union diff (presenceFlags): the truth fixture is read once,
    // flag counts over distinct (qid, nid) sets equal the old
    // full-outer's null-pattern counts exactly
    presenceFlags(truth(s, dir), topk.select("qid", "nid"),
        Seq("qid", "nid"))
      .agg(
        count_distinct(when(col("_l") === 1, col("qid"))).as("n_q"),
        count(when(col("_l") === 1, 1)).as("n_brute"),
        count(when(col("_l") === 1 && col("_r") === 1, 1))
          .as("n_hit"))
      .select(col("n_q"), col("n_brute"),
        (col("n_hit") >= col("n_brute") * minRecall).as("recall_ok"))
  }

  /** The counting oracle over the same brute top-k CTE sim_search_topk
    * hash-verifies in full. */
  private val annOracleSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.qid, c.vec_id AS nid,
            round(
              list_sum(list_transform(list_zip(q.qv, c.embedding),
                p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
              (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) *
               sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
            4) AS cosine
          FROM q, embeddings c WHERE c.vec_id <> q.qid),
        topk AS (SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rank
          FROM scored)
        WHERE rank <= 5)
        SELECT count(DISTINCT qid) AS n_q, count(*) AS n_brute,
          TRUE AS recall_ok FROM topk"""

  /** The counting oracle over the 128-query [[Fixtures.knnQueryBatch]]
    * brute top-k (the knn_join row hash-verifies the same sampled-batch
    * brute CTE in full at k = 3) — O(128 · n) pairs, tractable in DuckDB
    * at every rung.
    */
  private val knnAnnOracleSql =
    """WITH qs AS (SELECT vec_id FROM embeddings
          ORDER BY md5('knn' || cast(vec_id AS VARCHAR)), vec_id LIMIT 128),
        q AS (SELECT e.vec_id AS qid, e.embedding AS qv
          FROM embeddings e JOIN qs ON qs.vec_id = e.vec_id),
        scored AS (
          SELECT q.qid, c.vec_id AS nid,
            round(
              list_sum(list_transform(list_zip(q.qv, c.embedding),
                p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
              (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) *
               sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
            4) AS cosine
          FROM q, embeddings c WHERE c.vec_id <> q.qid),
        topk AS (SELECT qid, nid FROM (
          SELECT qid, nid,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rank
          FROM scored)
        WHERE rank <= 5)
        SELECT count(DISTINCT qid) AS n_q, count(*) AS n_brute,
          TRUE AS recall_ok FROM topk"""

  private val simSearchLsh = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      annCertified(s, dir, minRecall = 0.2)(
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), "vec_id",
          "embedding", k = 5))
    },
    Some(annOracleSql))

  private val textTfidf = Q(
    (s, dir) => graft.operators.TextAnalysis.tfIdf(
        t(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text")
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id", "term"),
    Some("""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
          FROM documents WHERE doc_id < 100),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents WHERE doc_id < 100)
        SELECT doc_id, term, tf, round(tf * ln(n.n::DOUBLE / df.df), 4) AS tfidf
        FROM tf JOIN df USING (term), n
        ORDER BY doc_id, term"""))

  private val aggMinhashGroup = Q(
    (s, dir) => {
      // sketch each document SOURCE as one union-signature, then estimate
      // cross-source similarity from signature agreement — no row data
      // touched after the one aggregated pass
      val sigs = t(s, dir, "documents")
        .select(col("source"), TF.shingles(col("text"), 1).as("sh"))
        .groupBy("source")
        .agg(graft.expressions.MinHashAgg.minhashUnion(col("sh"), 64).as("sig"))
      val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
      val est = a.crossJoin(b).where(col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            m => m)).cast(DoubleType) / 64.0).as("est_jaccard"))
      // exact union-set jaccard per source pair — the SQL-anchored truth
      // the k=64 signature estimates (agg_approx_distinct pattern since
      // the continuation session: exact values hash-compare, the booleans
      // certify every estimate within the sketch's error envelope —
      // binomial σ ≤ 1/(2√64), bound 0.25 ≈ 4σ over 190 pairs)
      val ss = t(s, dir, "documents")
        .select(col("source"), explode(TF.shingles(col("text"), 1)).as("sh"))
        .distinct()
      val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = ss.as("x")
        .join(ss.as("y"), col("x.sh") === col("y.sh") &&
          col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("n_int"))
      val sa = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      val sb = sizes.select(col("source").as("source_b"), col("n").as("n_b"))
      val exact = sa.crossJoin(sb)
        .where(col("source_a") < col("source_b"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          (coalesce(col("n_int"), lit(0L)).cast(DoubleType) /
            (col("n_a") + col("n_b") - coalesce(col("n_int"), lit(0L)))
              .cast(DoubleType)).as("exact_jaccard"))
      exact.join(est, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"),
          r(col("exact_jaccard"), 4).as("exact_jaccard"),
          (abs(col("est_jaccard") - col("exact_jaccard")) <= 0.25)
            .as("est_ok"))
        .orderBy("source_a", "source_b")
    },
    Some("""WITH ss AS (
          SELECT DISTINCT source, unnest(list_filter(
            string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh
          FROM documents),
        sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        inter AS (SELECT x.source AS source_a, y.source AS source_b,
            count(*) AS n_int
          FROM ss x JOIN ss y ON x.sh = y.sh AND x.source < y.source
          GROUP BY 1, 2)
        SELECT a.source AS source_a, b.source AS source_b,
          round(coalesce(n_int, 0)::DOUBLE /
            (a.n + b.n - coalesce(n_int, 0))::DOUBLE, 4) AS exact_jaccard,
          TRUE AS est_ok
        FROM sizes a JOIN sizes b ON a.source < b.source
        LEFT JOIN inter ON inter.source_a = a.source
          AND inter.source_b = b.source
        ORDER BY source_a, source_b"""))

  private val simSearchIvf = Q(
    // query path against the per-session index fixture — the build
    // (one-task k-means fit on a sample + assignment) is the amortized step, like a
    // persisted ANN index in production
    (s, dir) => annCertified(s, dir, minRecall = 0.4)(
      Similarity.ivfQuery(Fixtures.ivfIndex(s, dir),
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)),
    Some(annOracleSql))

  private val simSearchPq = Q(
    // ADC scan of the cached code table (the compressed corpus) plus the
    // exact re-rank refine pass — the codebook fit + encode is the
    // amortized build, like simSearchIvf
    (s, dir) => {
      // plain PQ has NO cell pruning: the ADC scan ranks the whole
      // corpus, so the shortlist feeding the exact re-rank must scale
      // with the corpus to hold recall (a fixed 50 was 10% of the
      // sf0.01 corpus but 2.5% at sf0.1, where the cert failed) —
      // 10% of corpus, floored at 50. Corpus-proportional work is
      // inherent to refined flat-PQ; cell-pruned shortlists are what
      // sim_search_ivfpq exists for.
      val n = Fixtures.embeddingsCount(s, dir)
      annCertified(s, dir, minRecall = 0.6)(
        Similarity.pqQueryRefined(Fixtures.pqIndex(s, dir),
          t(s, dir, "embeddings"),
          t(s, dir, "embeddings").where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5,
          shortlist = math.max(50L, n / 10).toInt))
    },
    Some(annOracleSql))

  /** The weak-label quality-filter loop, agg_approx_distinct-style oracle:
    * the exact split sizes hash-compare against SQL, and the booleans
    * certify (computed Spark-side, stated as literals by the oracle) that
    * the classifier — trained on 4/5 of the docs under 8% label noise —
    * actually separates the holdout against TRUE labels: accuracy ≥ 0.9
    * on the planted two-topic vocabulary (Fixtures.topicDocs) and the
    * positive class's mean probability strictly above the negative's.
    * Model values themselves are engine-specific (hashed features +
    * L-BFGS); behavior is also pinned in QualityClassifierSpec.
    */
  private val qualityClassifier = Q(
    (s, dir) => {
      val docs = Fixtures.topicDocs(s, dir)
      val nTrain = docs.where(col("doc_id") % 5 =!= 0)
        .agg(count(lit(1)).as("n_train"))
      val ev = graft.operators.QualityClassifier.evaluate(
        Fixtures.qualityModel(s, dir),
        docs.where(col("doc_id") % 5 === 0), "label")
      nTrain.crossJoin(ev).select(
        col("n_train"),
        col("n").as("n_test"),
        (col("accuracy") >= 0.9).as("acc_ok"),
        (col("mean_prob_pos") > col("mean_prob_neg")).as("separation_ok"))
    },
    Some("""SELECT
        (SELECT count(*) FROM documents WHERE doc_id % 5 <> 0) AS n_train,
        (SELECT count(*) FROM documents WHERE doc_id % 5 = 0) AS n_test,
        TRUE AS acc_ok,
        TRUE AS separation_ok"""))

  private val simSearchIvfPq = Q(
    // the full composition: probed cells only (IVF pruning) scanned as
    // codes (PQ compression), then the exact refine pass — FAISS
    // IndexIVFPQ + RefineFlat; the amortized index comes from the fixture
    (s, dir) => {
      // like sim_search_pq: the shortlist feeding the exact refine must
      // scale with what the probed cells contain (nprobe/numCells of the
      // corpus) or ADC error swamps recall as the corpus grows — the sf1
      // soak caught the fixed 50 failing at 10×
      val n = Fixtures.embeddingsCount(s, dir)
      annCertified(s, dir, minRecall = 0.5)(
        Similarity.ivfPqQueryRefined(Fixtures.ivfPqIndex(s, dir),
          t(s, dir, "embeddings"),
          t(s, dir, "embeddings").where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5,
          shortlist = math.max(50L, n / 20).toInt, nprobe = 4))
    },
    Some(annOracleSql))

  /** Exact-mode k-NN join (nprobe = numCells): every embedding finds its 3
    * nearest neighbors through the full distributed plumbing — k-means
    * cells fitted on a sample, literal-centroid narrow probe selection on the left
    * side, the cell equi-join, the group-limited ranking window — and with
    * all cells probed the result is provably the brute-force join, which
    * the oracle computes directly. The nprobe < numCells recall dial is
    * covered in ExpressionsSpec.
    */
  private val knnJoin = Q(
    // the shared IVF index fixture amortizes the cell build (production
    // joins against a persisted index); probing every cell keeps the
    // exactness proof intact. The left side carries the same enforced
    // bound as the other exact-verification variants (ngramJaccard's
    // maxId contract): exact all-cells knn IS quadratic — the sf1 soak
    // measured 75× for 10× data unbounded — so the oracle-exact form runs
    // on the FIXED md5-sampled query batch ([[Fixtures.knnQueryBatch]]:
    // the sample_uniform_n arithmetic, so DuckDB picks the identical
    // vectors) and pair count scales linearly with the corpus AND with a
    // constant the oracle can afford at sf10 (128·n, vs the 4×10⁸-pair
    // stall of the old vec_id < 2000 bound); unbounded production joins
    // use the nprobe dial instead.
    (s, dir) => Similarity.knnJoinWithIndex(Fixtures.ivfIndex(s, dir),
        Fixtures.knnQueryBatch(s, dir),
        "vec_id", "embedding",
        k = 3, nprobe = 16, excludeSelf = true)
      .orderBy("qid", "rank"),
    Some("""WITH qs AS (SELECT vec_id FROM embeddings
          ORDER BY md5('knn' || cast(vec_id AS VARCHAR)), vec_id LIMIT 128),
        e AS (SELECT vec_id, embedding FROM embeddings),
        scored AS (
          SELECT q.vec_id AS qid, c.vec_id AS nid,
            round(
              list_sum(list_transform(list_zip(q.embedding, c.embedding),
                p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
              (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) *
               sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))),
            4) AS cosine
          FROM e q JOIN qs ON qs.vec_id = q.vec_id, e c
          WHERE c.vec_id <> q.vec_id)
        SELECT qid, rank, nid, cosine FROM (
          SELECT qid, nid, cosine,
            ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, nid) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY qid, rank"""))

  /** ANN-mode k-NN join — the PRODUCTION dial of [[knnJoin]]: the SAME
    * 128-query md5-sampled batch as the exact row
    * ([[Fixtures.knnQueryBatch]]), probed against the scale-aware index
    * (numCells = ⌈√n⌉) at nprobe = numCells/8, so every rung scans
    * ~12.5% of the corpus per query — an 8× pair-count cut vs the exact
    * row at every scale, with the cell-join key cardinality growing as
    * √n (the parallelism story knnJoin's scaladoc promises at 1B rows).
    *
    * Recall is certified against the brute-force anchor over the ENTIRE
    * 128-query batch ([[Fixtures.knnBruteTruth]] — not a 10-query
    * subsample) at ≥ 0.3. Why 0.3 and not higher: this synthetic corpus
    * is near-isotropic (measured: random-pair cosine p90 ≈ 0.16, top-1
    * neighbor ≈ 0.45–0.49 — no planted near-dup clusters), where IVF
    * recall ≈ 4–5× the scanned fraction and cannot beat the scan
    * fraction asymptotically. Measured on the full 128-query batch
    * (graft.ProbeAnnRecall@4f2207e): 0.66 / 0.60 / 0.53 at sf0.001/0.01/0.1 —
    * the earlier "recall rises with scale" reading was 10-query sample
    * noise; what actually holds is recall ≈ 4–5× the ~12.5% scan
    * fraction at every rung, and 0.3 clears each with ≥ 1.7× margin.
    * On a real embedding corpus
    * (clustered by construction) the same dial sits at 0.9+ recall for
    * 1–2% scanned — the knn_join_ann_clustered row certifies exactly
    * that operating point on a planted-cluster corpus; the isotropic
    * case here is the worst-case floor, not the expected operating
    * point.
    */
  private val knnJoinAnn = Q(
    (s, dir) => {
      val idx = Fixtures.ivfIndexScaled(s, dir)
      annCertified(s, dir, minRecall = 0.3, truth = Fixtures.knnBruteTruth)(
        Similarity.knnJoinWithIndex(idx,
          Fixtures.knnQueryBatch(s, dir),
          "vec_id", "embedding",
          k = 5, nprobe = math.max(4, idx.numCells / 8),
          excludeSelf = true))
    },
    Some(knnAnnOracleSql))

  /** knn_join_ann OFF the isotropic worst-case floor: the same production
    * join at the ~1–2%-scan dial (nprobe = numCells/64, floored at 2) on
    * a PLANTED-CLUSTER corpus ([[Fixtures.clusteredEmbeddings]] — the
    * shape real model-embedding corpora have by construction), certified
    * at recall ≥ 0.9 over the full 128-query batch vs the in-engine brute
    * truth. This is the operating point the ANN row's scaladoc claims for
    * clustered data: each blob's members land in one IVF cell (blob count
    * ≥ cell count, noise ≪ blob separation), so probing the query's
    * nearest 1–2% of cells finds essentially all true in-blob neighbors —
    * where the isotropic row at the SAME scan fraction can only reach
    * recall ≈ 4–5× the fraction. The nprobe floor of 2 covers the
    * blob-split edge (two k-means centroids landing inside one blob, or a
    * blob straddling a Voronoi boundary): the two nearest cells then ARE
    * the two halves. The DuckDB anchor states the sampled batch size and
    * the k·n_q brute-set cardinality from the shared md5 arithmetic; the
    * recall boolean is in-engine (the vectors exist only engine-side —
    * the established certified-boolean pattern).
    */
  private val knnJoinAnnClustered = Q(
    (s, dir) => {
      val idx = Fixtures.ivfIndexClustered(s, dir)
      annCertified(s, dir, minRecall = 0.9,
        truth = Fixtures.knnClusteredBruteTruth)(
        Similarity.knnJoinWithIndex(idx,
          Fixtures.knnClusteredQueryBatch(s, dir),
          "vec_id", "embedding",
          k = 5, nprobe = math.max(2, idx.numCells / 64),
          excludeSelf = true))
    },
    Some("""WITH qs AS (SELECT vec_id FROM embeddings
          ORDER BY md5('knnc' || cast(vec_id AS VARCHAR)), vec_id LIMIT 128)
        SELECT count(*) AS n_q, count(*) * 5 AS n_brute,
          TRUE AS recall_ok FROM qs"""))

  private val textAnalyze = Q(
    (s, dir) => t(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20),
    Some("""SELECT token, count(*) AS cnt FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
          x -> x <> '')) AS token FROM documents)
        GROUP BY token ORDER BY cnt DESC, token LIMIT 20"""))

  private val tokenCount = Q(
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCountWs(col("text")).cast(LongType).as("n_ws"),
        TF.tokenCountBpe(col("text")).as("n_bpe"),
        length(col("text")).cast(LongType).as("n_chars"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
        len(list_filter(string_split_regex(lower(text), '\s+'),
          x -> x <> ''))::BIGINT AS n_ws,
        (len(regexp_extract_all(text, '[\p{L}\p{N}]{1,4}')) +
         len(regexp_extract_all(text, '[^\p{L}\p{N}\s]')))::BIGINT AS n_bpe,
        length(text)::BIGINT AS n_chars
        FROM documents ORDER BY doc_id"""))

  private val qualityScore = Q(
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TF.qualityScore(col("text")).as("score"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, round(
        least(length(text) / 500.0, 1.0) * 0.4 +
        (1.0 - least(4.0 * (len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE /
          greatest(length(text), 1)), 1.0)) * 0.2 +
        least(5.0 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
            t -> list_contains(${TF.EnglishStopwords.map("'" + _ + "'").mkString("[", ",", "]")}, t)))::DOUBLE /
          greatest(len(list_filter(string_split_regex(lower(text), '\\s+'),
            x -> x <> '')), 1)), 1.0) * 0.4,
        4) AS score
        FROM documents ORDER BY doc_id"""))

  private val langId = Q(
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TF.langId(col("text")).as("pred_lang"), col("lang"))
      .orderBy("doc_id"),
    Some {
      // mirrors TF.langId exactly: per-language stopword hit counts over the
      // same tokenization, argmax with Spark's struct-max tie-break (equal
      // scores → lexicographically greatest language), zero evidence → 'und'.
      // Generated from LangProfiles so the two sides cannot drift.
      val langsDesc = TF.LangProfiles.keys.toSeq.sorted.reverse
      val scoreExprs = TF.LangProfiles.toSeq.sortBy(_._1).map { case (l, ws) =>
        s"len(list_filter(toks, t -> list_contains(" +
          ws.map("'" + _ + "'").mkString("[", ",", "]") + s", t))) AS s_$l"
      }.mkString(", ")
      val g = langsDesc.map("s_" + _).mkString("greatest(", ", ", ")")
      val cases = langsDesc.init
        .map(l => s"WHEN s_$l = $g THEN '$l'").mkString(" ")
      s"""WITH s AS (SELECT doc_id, lang, $scoreExprs
          FROM (SELECT doc_id, lang,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
          FROM documents))
          SELECT doc_id,
            CASE WHEN $g = 0 THEN 'und' $cases
                 ELSE '${langsDesc.last}' END AS pred_lang,
            lang
          FROM s ORDER BY doc_id"""
    })

  private val docFingerprint = Q(
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TF.fingerprint(col("text"), 8).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
        CASE WHEN length(text) < 8 THEN md5(text)
             ELSE list_min(list_transform(range(1, length(text) - 6),
               i -> md5(substring(text, i::INT, 8)))) END AS fp
        FROM documents ORDER BY doc_id"""))

  private val multimodalColumns = Q(
    (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast(BinaryType)).cast(LongType).as("blob_len"),
        md5(col("text").cast(BinaryType)).as("blob_md5"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS blob_len,
        md5(text) AS blob_md5 FROM documents ORDER BY doc_id"""))

  /** Read one payload family back from the STORED media table
    * ([[Fixtures.mediaTableDir]], [[graft.sources.MediaTable]]) as
    * MediaRecords: directory-level partition pruning on `kind` (only this
    * family's directory is listed or read), then the binary `payload`
    * column scanned from parquet — the production read shape for every
    * multimodal/perceptual operator below (closing the planted-fixture
    * seam: payloads are no longer synthesized inside the queries).
    */
  private def storedMedia(s: SparkSession, dir: String, kind: String)
    : org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaRecord] = {
    import s.implicits._
    s.read.parquet(Fixtures.mediaTableDir(s, dir))
      .where(col("kind") === kind)
      .select(col("doc_id").as("id"), col("modality").as("kind"),
        col("payload").as("media"),
        lit(0).as("width"), lit(0).as("height"), lit(0).as("sampleRateHz"))
      .as[graft.operators.Multimodal.MediaRecord]
  }

  /** Metadata-only catalog of the STORED media corpus: per (family,
    * modality, container format) row counts read from the media table's
    * plain columns — the payload BINARY column prunes out of the parquet
    * scan entirely (MediaTableSpec asserts the ReadSchema), so at 100 TB
    * this catalog query reads a few KB of column chunks per file while
    * the blobs stay untouched. The oracle restates the whole catalog
    * arithmetically from the documents domain and the generator's
    * closed forms (image rows alternate bmp/png by doc_id parity).
    */
  private val multimodalMediaCatalog = Q(
    (s, dir) =>
      s.read.parquet(Fixtures.mediaTableDir(s, dir))
        .groupBy(col("kind"), col("modality"), col("fmt"))
        .agg(count(lit(1)).as("n"))
        .orderBy("kind", "fmt"),
    Some("""WITH k AS (
          SELECT * FROM (VALUES
            ('img_dims','image'), ('img_resize','image'),
            ('img_phash','image'), ('img_embed','image'),
            ('wav_meta','audio'), ('wav_segment','audio'),
            ('wav_fp','audio'), ('gif_frames','video'),
            ('gif_shots','video'), ('avi_frames','video'),
            ('img_dims_jpeg','image'), ('img_phash_jpeg','image')) AS t(kind, modality)),
        f AS (SELECT d.doc_id, k.kind, k.modality,
            CASE WHEN k.kind LIKE '%_jpeg' THEN 'jpeg'
                 WHEN k.kind = 'avi_frames' THEN 'avi'
                 WHEN k.modality = 'image' THEN
                   (CASE WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END)
                 WHEN k.modality = 'audio' THEN 'wave'
                 ELSE 'gif' END AS fmt
          FROM documents d, k)
        SELECT kind, modality, fmt, count(*)::BIGINT AS n
        FROM f GROUP BY 1, 2, 3 ORDER BY kind, fmt"""))

  /** Live image metadata extraction over the STORED media table, held to
    * a byte-layout oracle: each doc's `img_dims` payload is a 24-bit BMP
    * (even doc_id; bytes built straight from the format spec) or a
    * JDK-encoded PNG (odd doc_id — the compressed-codec rows), dims
    * derived from doc_id. The JDK `javax.imageio` header probe recovers
    * width/height/format WITHOUT decoding rasters, and DuckDB restates
    * dims arithmetically from the same spec — plus total byte length for
    * the spec-assembled BMPs (54 + h·⌈3w/4⌉·4; PNG container length is
    * encoder-dependent, reported as -1 by contract). A probe that
    * misparsed headers — or byte assembly that drifted from the spec —
    * hash-mismatches. Narrow partition-local stage; the only shuffle is
    * the deterministic output ordering.
    */
  private val multimodalImageDims = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.transform(
          storedMedia(s, dir, "img_dims"), new Multimodal.ImageDimensionProbe())
        .map { r =>
          val fmt = Multimodal.ImageIoDecoder.formatName(r.media).getOrElse("")
          (r.id, fmt, r.width, r.height,
            if (fmt == "bmp") r.media.length.toLong else -1L)
        }
        .toDF("doc_id", "fmt", "width", "height", "blob_len")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
          (16 + doc_id % 13)::INT AS width,
          (8 + doc_id % 7)::INT AS height,
          (CASE WHEN doc_id % 2 = 0
            THEN 54 + (8 + doc_id % 7) *
              (((16 + doc_id % 13) * 3 + 3) // 4) * 4
            ELSE -1 END)::BIGINT AS blob_len
        FROM documents ORDER BY doc_id"""))

  /** [[multimodalImageDims]] through the LOSSY codec: the same geometry
    * family stored as JPEG ([[graft.sources.MediaTable]] `img_dims_jpeg`).
    * JPEG pixels are encoder-dependent, but the header geometry is exact
    * — so the dims probe stays a full hash-verified oracle while the
    * raster-content oracles (resize sums, exact dHash bits) deliberately
    * do NOT extend to this family. Container length is encoder-dependent
    * like PNG (-1 by the same contract).
    */
  private val multimodalImageDimsJpeg = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.transform(
          storedMedia(s, dir, "img_dims_jpeg"),
          new Multimodal.ImageDimensionProbe())
        .map { r =>
          val fmt = Multimodal.ImageIoDecoder.formatName(r.media).getOrElse("")
          (r.id, fmt, r.width, r.height, -1L)
        }
        .toDF("doc_id", "fmt", "width", "height", "blob_len")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 'jpeg' AS fmt,
          (16 + doc_id % 13)::INT AS width,
          (8 + doc_id % 7)::INT AS height,
          (-1)::BIGINT AS blob_len
        FROM documents ORDER BY doc_id"""))

  /** Live audio metadata extraction over the STORED media table, the
    * sibling of [[multimodalImageDims]]: each doc's `wav_meta` payload is
    * a spec-assembled 16-bit PCM WAV (rate/channels/frames derived from
    * doc_id, bytes built straight from the RIFF spec — no codec
    * involved), the JDK `javax.sound.sampled` header probe recovers
    * container/rate/channels/frame-count WITHOUT decoding samples, and
    * DuckDB restates every column arithmetically from the same spec
    * (44 + frames·ch·2 bytes; duration = ⌊frames·1000/rate⌋). A reader
    * misparse or assembly drift hash-mismatches. Narrow partition-local
    * stage; the only shuffle is the output ordering.
    */
  private val multimodalAudioMeta = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.transform(
          storedMedia(s, dir, "wav_meta"), new Multimodal.AudioMetadataProbe())
        .map { r =>
          val (rate, ch, frames) =
            Multimodal.AudioSystemDecoder.metadata(r.media)
              .getOrElse((0f, 0, 0L))
          (r.id,
            Multimodal.AudioSystemDecoder.fileType(r.media).getOrElse(""),
            ch, r.sampleRateHz,
            // the probe stamped sampleRateHz; the direct metadata call
            // must agree with it or the row is poisoned to -1
            if (r.sampleRateHz == rate.toInt) frames else -1L,
            if (r.sampleRateHz > 0) frames * 1000L / r.sampleRateHz else -1L,
            r.media.length.toLong)
        }
        .toDF("doc_id", "fmt", "channels", "sample_rate", "frames",
          "duration_ms", "blob_len")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, 'wave' AS fmt,
          (1 + doc_id % 2)::INT AS channels,
          (8000 + (doc_id % 5) * 1000)::INT AS sample_rate,
          (400 + (doc_id % 11) * 40)::BIGINT AS frames,
          ((400 + (doc_id % 11) * 40) * 1000
            // (8000 + (doc_id % 5) * 1000))::BIGINT AS duration_ms,
          (44 + (400 + (doc_id % 11) * 40) * (1 + doc_id % 2) * 2)::BIGINT AS blob_len
        FROM documents ORDER BY doc_id"""))

  /** REAL raster resize over the STORED media table, end-to-end live:
    * gray source rasters (spec-assembled BMP for even doc_id, JDK PNG for
    * odd — the decode side must handle both codecs identically) decode
    * through the JDK reader, resample nearest-neighbor (source pixel for
    * output (x,y) is (x·srcW÷7, y·srcH÷5), integer division), re-encode
    * as 24-bit BMP via the spec assembler, then the RESIZED payload is
    * re-decoded by the JDK reader and its red channel summed — so the
    * oracle's arithmetic restatement of that sum checks both decoders,
    * the resampler and the re-encoder against the format spec in one row
    * (a lossy or shifted PNG decode would poison the sums). Narrow
    * partition-local stage; the only shuffle is the output ordering.
    */
  private val multimodalImageResize = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      val (tw, th) = (7, 5)
      Multimodal.transform(
          storedMedia(s, dir, "img_resize"), new Multimodal.ImageResizer(tw, th))
        .map { r =>
          // re-decode the RESIZED payload with the live reader: a drift in
          // reader, resampler or re-encoder poisons the sum to -1/mismatch
          val redSum = Multimodal.ImageIoDecoder.readImage(r.media) match {
            case Some(img) if img.getWidth == tw && img.getHeight == th =>
              var sum = 0L
              for (y <- 0 until th; x <- 0 until tw)
                sum += (img.getRGB(x, y) >> 16) & 0xFF
              sum
            case _ => -1L
          }
          (r.id,
            Multimodal.ImageIoDecoder.formatName(r.media).getOrElse(""),
            r.width, r.height, r.media.length.toLong, redSum)
        }
        .toDF("doc_id", "fmt", "width", "height", "blob_len", "red_sum")
        .orderBy("doc_id")
    },
    Some("""WITH px AS (
          SELECT d.doc_id,
            (((x.i * (16 + d.doc_id % 13)) // 7) * 7
             + ((y.i * (8 + d.doc_id % 7)) // 5) * 13
             + d.doc_id * 3) % 256 AS g
          FROM documents d, range(0, 7) x(i), range(0, 5) y(i))
        SELECT doc_id, 'bmp' AS fmt, 7::INT AS width, 5::INT AS height,
          174::BIGINT AS blob_len, sum(g)::BIGINT AS red_sum
        FROM px GROUP BY doc_id ORDER BY doc_id"""))

  /** Container-aware audio segmentation over the STORED media table, the
    * audio frame-sampling done with a real codec: stored PCM WAVs are
    * decoded, sliced on frame boundaries into 160-frame chunks, each
    * re-emitted as a VALID standalone WAV; the query re-parses every
    * emitted segment with the JDK reader (rate/channels must survive —
    * checked against the generator's closed forms — and the frame count
    * comes FROM the reader) and the oracle restates segment count,
    * per-segment frames and byte length arithmetically from the RIFF
    * spec. Narrow partition-local flatMap; the only shuffle is the
    * output ordering.
    */
  private val multimodalAudioSegment = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.segmentAudio(
          storedMedia(s, dir, "wav_segment"), segmentFrames = 160)
        .map { fr =>
          val id = fr.mediaId
          val rate = 8000 + (id % 5).toInt * 1000
          val ch = 1 + (id % 2).toInt
          // every emitted segment must re-parse as a WAV carrying the
          // source's rate/channels — a header drift poisons the row
          val segFrames =
            Multimodal.AudioSystemDecoder.metadata(fr.payload) match {
              case Some((r2, c2, f2)) if r2.toInt == rate && c2 == ch => f2
              case _ => -1L
            }
          (id, fr.frameIdx, segFrames, fr.payload.length.toLong)
        }
        .toDF("doc_id", "seg_idx", "seg_frames", "blob_len")
        .orderBy("doc_id", "seg_idx")
    },
    Some("""WITH base AS (
          SELECT doc_id, (1 + doc_id % 2) AS ch,
            (350 + (doc_id % 9) * 25) AS frames
          FROM documents)
        SELECT doc_id, s.i::INT AS seg_idx,
          least(160, frames - s.i * 160)::BIGINT AS seg_frames,
          (44 + least(160, frames - s.i * 160) * ch * 2)::BIGINT AS blob_len
        FROM base, range(0, 8) s(i) WHERE s.i * 160 < frames
        ORDER BY doc_id, seg_idx"""))

  /** REAL multi-frame (video-shaped) frame extraction over the STORED
    * media table: each doc's `gif_frames` payload is an animated GIF (JDK
    * writer over an explicit 256-gray palette, so the stored pixel
    * indices EQUAL the closed-form gray values), the live multi-image
    * reader decodes all frames, every 2nd frame is kept and re-encoded as
    * a standalone spec-assembled BMP, and the query re-decodes each
    * emitted frame summing its red channel — which the oracle restates
    * arithmetically from the per-frame pixel formula. A drift anywhere in
    * GIF read, frame selection, BMP re-encode or re-read poisons the sum.
    * Narrow partition-local stage; the only shuffle is the output
    * ordering.
    */
  private val multimodalVideoFrames = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.extractFrames(storedMedia(s, dir, "gif_frames"), stride = 2)
        .map { fr =>
          val redSum = Multimodal.ImageIoDecoder.readImage(fr.payload) match {
            case Some(img) =>
              var sum = 0L
              for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
                sum += (img.getRGB(x, y) >> 16) & 0xFF
              sum
            case None => -1L
          }
          val (w, h) = Multimodal.ImageIoDecoder.dimensions(fr.payload)
            .getOrElse((-1, -1))
          (fr.mediaId, fr.frameIdx, w, h, fr.payload.length.toLong, redSum)
        }
        .toDF("doc_id", "frame_idx", "width", "height", "blob_len", "red_sum")
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH base AS (
          SELECT doc_id, (6 + doc_id % 5) AS w, (4 + doc_id % 3) AS h,
            (5 + doc_id % 6) AS nf
          FROM documents),
        sel AS (
          SELECT doc_id, w, h, f.i AS frame_idx
          FROM base, range(0, 11) f(i)
          WHERE f.i < nf AND f.i % 2 = 0),
        px AS (
          SELECT doc_id, frame_idx, w, h,
            (frame_idx * 31 + x.i * 7 + y.i * 13 + doc_id) % 256 AS g
          FROM sel, range(0, 10) x(i), range(0, 6) y(i)
          WHERE x.i < w AND y.i < h)
        SELECT doc_id, frame_idx::INT AS frame_idx, w::INT AS width,
          h::INT AS height,
          (54 + h * (((w * 3 + 3) // 4) * 4))::BIGINT AS blob_len,
          sum(g)::BIGINT AS red_sum
        FROM px GROUP BY doc_id, frame_idx, w, h
        ORDER BY doc_id, frame_idx"""))

  /** [[multimodalVideoFrames]] through a REAL video container: each doc's
    * `avi_frames` payload is an MJPEG AVI assembled straight from the
    * RIFF spec ([[graft.operators.Multimodal.AviBytes]] — the container
    * the animated-GIF stand-in was holding a seat for), the SAME
    * [[graft.operators.Multimodal.extractFrames]] operator walks the
    * container (RIFF chunk walk + the existing JPEG decoder per frame)
    * with the same stride-2 selection and BMP re-encode. What
    * hash-compares exactly: per-frame geometry, frame selection and the
    * spec-closed BMP byte length — all container arithmetic. What is
    * certified instead of hashed: frame CONTENT, which rode the lossy
    * codec — each source frame is FLAT at a closed-form luminance, which
    * JPEG reconstructs DC-exact to within the quantization step, so
    * `level_ok` asserts every decoded pixel sits within ±3 of the planted
    * level (JpegBytes' exact-geometry / certified-content contract).
    * Narrow partition-local stage; the only shuffle is the output
    * ordering.
    */
  private val multimodalVideoFramesAvi = Q(
    (s, dir) => {
      import s.implicits._
      import graft.operators.Multimodal
      Multimodal.extractFrames(storedMedia(s, dir, "avi_frames"), stride = 2)
        .map { fr =>
          val (w, h, lvOk) = Multimodal.ImageIoDecoder.readImage(fr.payload) match {
            case Some(img) =>
              val g = (40 + ((fr.mediaId * 31 + fr.frameIdx * 17) % 20).toInt * 8) & 0xFF
              var ok = true
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  val lum = (((rgb >> 16) & 0xFF) * 299 +
                    ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
                  if (math.abs(lum - g) > 3) ok = false
                  x += 1
                }
                y += 1
              }
              (img.getWidth, img.getHeight, ok)
            case None => (-1, -1, false)
          }
          (fr.mediaId, fr.frameIdx, w, h, fr.payload.length.toLong, lvOk)
        }
        .toDF("doc_id", "frame_idx", "width", "height", "blob_len", "level_ok")
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH base AS (
          SELECT doc_id, 16 + (doc_id % 3) * 8 AS w, 8 + (doc_id % 2) * 8 AS h,
            4 + (doc_id % 5) AS nf
          FROM documents),
        sel AS (
          SELECT doc_id, w, h, f.i AS frame_idx
          FROM base, range(0, 8) f(i)
          WHERE f.i < nf AND f.i % 2 = 0)
        SELECT doc_id, frame_idx::INT AS frame_idx, w::INT AS width,
          h::INT AS height,
          (54 + h * (((w * 3 + 3) // 4) * 4))::BIGINT AS blob_len,
          TRUE AS level_ok
        FROM sel ORDER BY doc_id, frame_idx"""))

  /** Perceptual image dedup over live decodes of the STORED media table:
    * every doc carries one of 7 raster patterns at one of 3 brightness
    * grades — the classic photometric near-duplicate — in one of TWO
    * codecs (BMP even doc_id, PNG odd). The dHash gradient bits cancel
    * the brightness term exactly and see only the decoded raster (a
    * lossy or shifted PNG decode would scatter the clusters), so all
    * grades and codecs of a pattern land in one bucket and the cluster
    * label is the pattern's smallest doc_id; the oracle recomputes every
    * grid sample, comparison bit and bucket min arithmetically (hash
    * halves as 32-bit sums, no BIGINT sign games). One hash-partition
    * exchange + the output ordering.
    */
  private val dedupImagePhash = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.imagePHashClusters(storedMedia(s, dir, "img_phash"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH g AS (
          SELECT d.doc_id, x.i AS gx, y.i AS gy,
            (((x.i * (10 + d.doc_id % 7)) // 9) * 7
             + ((y.i * (8 + (d.doc_id % 7) % 3)) // 8) * 13
             + (d.doc_id % 7) * 29) % 200
            + ((d.doc_id // 7) % 3) * 10 AS lum
          FROM documents d, range(0, 9) x(i), range(0, 8) y(i)),
        bits AS (
          SELECT a.doc_id, (a.gy * 8 + a.gx) AS i
          FROM g a JOIN g b
            ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
          WHERE a.gx < 8 AND b.lum > a.lum),
        ph AS (
          SELECT d.doc_id,
            coalesce(sum(CASE WHEN i >= 32 THEN (1::BIGINT << (i - 32)) END), 0)::BIGINT AS ph_hi,
            coalesce(sum(CASE WHEN i < 32 THEN (1::BIGINT << i) END), 0)::BIGINT AS ph_lo
          FROM (SELECT doc_id FROM documents) d
          LEFT JOIN bits ON bits.doc_id = d.doc_id
          GROUP BY d.doc_id)
        SELECT doc_id, ph_hi, ph_lo,
          min(doc_id) OVER (PARTITION BY ph_hi, ph_lo) AS cluster
        FROM ph ORDER BY doc_id"""))

  /** [[dedupImagePhash]] through the LOSSY codec — the cert that the
    * perceptual layer survives a codec that does NOT round-trip
    * bit-exactly. The stored `img_phash_jpeg` family plants 7 block
    * patterns × 3 brightness grades (rationale and measured stability on
    * the closed form in [[graft.sources.MediaTable]]); the SAME dHash
    * clustering operator runs live on the JPEG decodes, and the oracle
    * certifies cluster QUALITY as booleans — pairwise recall (planted
    * near-dup grades still collapse) and precision (distinct material
    * still separates) — instead of hash bits, which are encoder
    * artifacts. Pair counting is the exact combinatorial aggregation
    * over (cluster, pattern) group sizes — ONE grouping-sets pass over
    * the hashed frame (cells + both marginals + total through a single
    * shuffle), so the decode runs once and nothing is quadratic. Exact row count anchors the cert
    * (every payload must decode); thresholds sit at 0.95 against a
    * measured 1.0/1.0 so a genuinely drifting decoder fails while an
    * encoder-version wobble of a few bits does not.
    */
  private val dedupImagePhashJpeg = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      val cl = Multimodal.imagePHashClusters(
          storedMedia(s, dir, "img_phash_jpeg"))
        .withColumn("pattern", col("id") % 7)
      val pairs = (n: Column) => (n * (n - lit(1))) / lit(2)
      // all four pair-count bases from ONE decode pass: grouping sets
      // emit the (cluster, pattern) cells, both marginals and the grand
      // total through a single partial-aggregated shuffle. grouping_id
      // bit i = 1 when groupBy column i is aggregated away, so with
      // column order (cluster, pattern): 0 = cell, 2 = pattern
      // marginal, 1 = cluster marginal, 3 = grand total

      val gs = cl.groupingSets(
          Seq(Seq(col("cluster"), col("pattern")), Seq(col("pattern")),
            Seq(col("cluster")), Seq()),
          col("cluster"), col("pattern"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      gs.agg(
          coalesce(sum(when(col("gid") === 0, pairs(col("n")))), lit(0L))
            .as("tp"),
          coalesce(sum(when(col("gid") === 2, pairs(col("n")))), lit(0L))
            .as("same_pat"),
          coalesce(sum(when(col("gid") === 1, pairs(col("n")))), lit(0L))
            .as("same_cl"),
          coalesce(sum(when(col("gid") === 3, col("n"))), lit(0L))
            .as("n_imgs"))
        .select(col("n_imgs"),
          (col("tp") >= col("same_pat") * 0.95).as("recall_ok"),
          (col("tp") >= col("same_cl") * 0.95).as("precision_ok"))
    },
    Some("""SELECT count(*) AS n_imgs, TRUE AS recall_ok,
          TRUE AS precision_ok FROM documents"""))

  /** The decode→featurize→dedup pipeline end-to-end over the STORED media
    * table: live JDK decodes (BMP and PNG rows alike) produce exact
    * integer luminance-count features that feed the EXISTING
    * embedding-cosine dedup operator unchanged — 8 raster patterns × 3
    * slight brightness grades, where grades of one pattern stay
    * near-parallel (cosine ≥ threshold) and different patterns mostly
    * don't. The oracle recomputes every pixel's bin, every count and
    * every 4-dp cosine arithmetically, so ANY drift in either decoder,
    * the binning or the shared cosine contract hash-mismatches. This row
    * stays BOUNDED to doc_id < 48 by design — it verifies the EXACT
    * all-pairs mode, whose output is quadratic in the class sizes (the
    * scale path is the bucketed [[dedupImagePhash]] / ANN ladder) — but
    * the bound is now a predicate PUSHED INTO the stored-table scan, not
    * a fixture-planting trick. Feature extraction is narrow; the pair
    * scan is the operator's own bounded broadcast product.
    */
  private val dedupMediaEmbedding = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      val media = storedMedia(s, dir, "img_embed")
        .where(col("id") < 48)
      Dedup.embeddingCosinePairsExact(
          Multimodal.imageHistogramFeatures(media, bins = 8),
          "id", "features", threshold = 0.97, maxId = 48)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH px AS (
          SELECT d.doc_id,
            (((x.i * 7 + y.i * 13 + (d.doc_id % 8) * 23) % 240)
             + ((d.doc_id // 8) % 3) * 8) // 32 AS bin
          FROM documents d, range(0, 19) x(i), range(0, 12) y(i)
          WHERE d.doc_id < 48
            AND x.i < 12 + d.doc_id % 8 AND y.i < 9 + (d.doc_id % 8) % 4),
        bins AS (
          SELECT doc_id, b.i AS bin
          FROM (SELECT DISTINCT doc_id FROM px), range(0, 8) b(i)),
        cnt AS (
          SELECT bins.doc_id, bins.bin, count(px.bin)::DOUBLE AS c
          FROM bins LEFT JOIN px
            ON px.doc_id = bins.doc_id AND px.bin = bins.bin
          GROUP BY bins.doc_id, bins.bin),
        feats AS (
          SELECT doc_id, list(c ORDER BY bin) AS v FROM cnt GROUP BY doc_id)
        SELECT id_a, id_b, cosine FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(
              list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cosine
          FROM feats a, feats b WHERE a.doc_id < b.doc_id)
        WHERE cosine >= 0.97 ORDER BY id_a, id_b"""))

  /** The HOG featurizer as a REGISTRY row: Dalal–Triggs descriptors
    * ([[graft.operators.Multimodal.hogDescriptor]]) of live JPEG decodes
    * from the stored `img_phash_jpeg` family drive the UNCHANGED exact
    * cosine-dedup operator, and the planted cluster structure (7 block
    * patterns × brightness grades) must come back EXACTLY: grades of one
    * pattern cohere at cosine 1.0000 through JPEG (gradients and block
    * norms cancel brightness; quantization moves only the DC
    * coefficient), distinct patterns sit ≤ 0.89, so a 0.95 threshold
    * recovers precisely the same-pattern pairs. The oracle restates the
    * full pair combinatorics from the planted closed form — n_pairs and
    * tp hash-compare as EXACT integers (stronger than the
    * recall/precision booleans of dedup_image_phash_jpeg: one missed or
    * spurious pair mismatches), with the decodable-payload count
    * anchoring the decode. Bounded to doc_id < 48 like
    * dedup_media_embedding — this is the exact all-pairs verification
    * mode; the scale ladder is phash buckets / ANN.
    */
  private val dedupMediaHog = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      val feats = Multimodal.imageHogFeatures(
        storedMedia(s, dir, "img_phash_jpeg").where(col("id") < 48))
      val pairs = Dedup.embeddingCosinePairsExact(
        feats, "id", "features", threshold = 0.95, maxId = 48)
      feats.agg(count(lit(1)).as("n_imgs")).crossJoin(
        pairs.agg(
          count(lit(1)).as("n_pairs"),
          coalesce(sum(when(col("id_a") % 7 === col("id_b") % 7, lit(1L))),
            lit(0L)).as("tp")))
    },
    Some("""WITH p AS (
          SELECT count(*)::BIGINT AS n
          FROM range(0, 48) a(i), range(0, 48) b(j)
          WHERE a.i < b.j AND a.i % 7 = b.j % 7)
        SELECT (SELECT count(*) FROM documents WHERE doc_id < 48) AS n_imgs,
          n AS n_pairs, n AS tp FROM p"""))

  /** Perceptual audio dedup over live decodes of the STORED media table:
    * every doc carries one of 6 PCM waveforms at one of 3 volume grades
    * (×1/×2/×4 — the classic re-encode duplicate). Uniform gain scales
    * every window energy equally, so the gradient fingerprint is
    * identical across grades and the cluster label is the waveform's
    * smallest doc_id; the oracle recomputes every |sample|, window
    * energy, comparison bit and bucket min arithmetically from the same
    * closed forms. Frame count is a multiple of 16, so the windowing
    * drops nothing. One hash-partition exchange + the output ordering.
    */
  private val dedupAudioFp = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.audioFPClusters(storedMedia(s, dir, "wav_fp"), windows = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH e AS (
          SELECT d.doc_id, f.i // ((480 + (d.doc_id % 6) * 32) // 16) AS w,
            sum(abs(((f.i * (11 + (d.doc_id % 6) * 6)) % 4096 - 2048)
                    * (1 << ((d.doc_id // 6) % 3)))) AS energy
          FROM documents d, range(0, 640) f(i)
          WHERE f.i < 480 + (d.doc_id % 6) * 32
          GROUP BY 1, 2),
        fp AS (
          SELECT a.doc_id,
            coalesce(sum(CASE WHEN b.energy > a.energy
              THEN (1::BIGINT << a.w) END), 0)::BIGINT AS fp
          FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.w = a.w + 1
          WHERE a.w < 15
          GROUP BY a.doc_id)
        SELECT doc_id, fp,
          min(doc_id) OVER (PARTITION BY fp) AS cluster
        FROM fp ORDER BY doc_id"""))

  /** Shot-boundary detection end-to-end over the STORED media table: each
    * doc's `gif_shots` payload is a two-shot
    * animated GIF — the raster SLOPE changes at the cut frame (different
    * material) while frames within a shot drift only in brightness
    * (which the per-frame dHash cancels) — and the operator must recover
    * exactly the planted segmentation: two rows per doc, [0, cut) and
    * [cut, nf). The oracle states the segmentation closed-form, so a
    * hash collision across the cut, spurious sensitivity to the in-shot
    * drift, or any frame-order drift in the GIF path hash-mismatches.
    * Fully narrow (decode + hash + group are partition-local); the only
    * shuffle is the output ordering.
    */
  private val multimodalShotDetect = Q(
    (s, dir) => {
      import graft.operators.Multimodal
      Multimodal.detectShots(storedMedia(s, dir, "gif_shots"))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "shot_idx")
    },
    Some("""WITH base AS (
          SELECT doc_id, (2 + doc_id % 4) AS cut, (6 + doc_id % 5) AS nf
          FROM documents)
        SELECT doc_id, 0::INT AS shot_idx, 0::INT AS start_frame,
          cut::INT AS n_frames FROM base
        UNION ALL
        SELECT doc_id, 1::INT, cut::INT, (nf - cut)::INT FROM base
        ORDER BY doc_id, shot_idx"""))

  private val multimodalFrameSample = Q(
    (s, dir) => {
      val media = graft.operators.Multimodal.mediaFromDocuments(
        t(s, dir, "documents"))
      graft.operators.Multimodal.frameSample(media, frameBytes = 64, stride = 2)
        .toDF()
        .groupBy("mediaId")
        .agg(count(lit(1)).as("n_frames"),
          sum(octet_length(col("payload"))).as("sampled_bytes"))
        .select(col("mediaId").as("doc_id"), col("n_frames"), col("sampled_bytes"))
        .orderBy("doc_id")
    },
    // the oracle recomputes the slicing arithmetic over UTF-8 byte lengths
    Some("""WITH d AS (
          SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
          WHERE octet_length(encode(text)) > 0),
        f AS (
          SELECT doc_id, blen,
            list_filter(range(0, CAST(ceil(blen / 64.0) AS INT)),
              i -> i % 2 = 0) AS idxs
          FROM d)
        SELECT doc_id, len(idxs)::BIGINT AS n_frames,
          list_sum(list_transform(idxs,
            i -> least(64, blen - i * 64)))::BIGINT AS sampled_bytes
        FROM f ORDER BY doc_id"""))

  // --- training-pipeline operators (TrainPipeline.scala) -------------

  private val textChunk = Q(
    (s, dir) => graft.operators.TrainPipeline.chunk(
        t(s, dir, "documents"), "doc_id", "text", size = 80, stride = 60)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH exploded AS (
        SELECT doc_id,
          unnest(generate_series(0, cast((length(text)-1)//60 AS BIGINT))) AS i,
          text
        FROM documents WHERE length(text) > 0)
        SELECT doc_id, i AS chunk_idx,
          substr(text, cast(i*60+1 AS INT), 80) AS chunk
        FROM exploded ORDER BY doc_id, chunk_idx"""))

  private val sampleStratified = Q(
    (s, dir) => graft.operators.TrainPipeline.sampleStratified(
        t(s, dir, "documents"), "doc_id",
        when(col("lang") === "en", 50).otherwise(10))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source FROM documents
        WHERE ('0x' || substr(md5(cast(doc_id AS VARCHAR)),1,8))::BIGINT % 100 <
          CASE WHEN lang = 'en' THEN 50 ELSE 10 END
        ORDER BY doc_id"""))

  private val sampleUniformN = Q(
    (s, dir) => graft.operators.TrainPipeline.sampleUniformN(
        t(s, dir, "documents"), "doc_id", n = 40)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source FROM (
        SELECT * FROM documents
        ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id LIMIT 40)
        ORDER BY doc_id"""))

  /** The deterministic global shuffle for training export: every document's
    * (shard, within-shard position) from md5(salt ‖ id) — reproducible
    * across engines, runs, and partitionings, so the full assignment is
    * directly oracle-checkable row for row.
    */
  private val shuffleShards = Q(
    (s, dir) => graft.operators.TrainPipeline.shuffleShards(
        t(s, dir, "documents"), "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos"),
    Some("""SELECT doc_id, shard, pos FROM (
        SELECT doc_id, shard, k,
          ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
        FROM (
          SELECT doc_id,
            (('0x' || substr(md5(cast(doc_id AS VARCHAR)),1,8))::BIGINT % 8)::INT
              AS shard,
            md5(cast(doc_id AS VARCHAR)) AS k
          FROM documents))
        ORDER BY shard, pos"""))

  private val piiRedact = Q(
    (s, dir) => {
      // plant deterministic PII shapes so the scrub has work to do; the
      // oracle builds the identical input string
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id").cast(StringType),
        lit("@ex.org ip 10.1.2."), (col("doc_id") % 200).cast(StringType),
        lit(" acct 1234567"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TrainPipeline.redactPii(planted).as("clean"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
          text || ' contact u' || doc_id || '@ex.org ip 10.1.2.' ||
            (doc_id % 200) || ' acct 1234567',
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          '\b[0-9]{7,}\b', '<NUM>', 'g') AS clean
        FROM documents ORDER BY doc_id"""))

  private val packSequences = Q(
    (s, dir) => {
      val withW = t(s, dir, "documents").select(
        col("source"), col("doc_id"),
        TF.tokenCountWs(col("text")).cast(LongType).as("w"))
      graft.operators.TrainPipeline.packGreedy(
          withW, "source", "doc_id", "w", budget = 256L)
        .orderBy("id")
    },
    Some("""WITH RECURSIVE seq AS (
          SELECT source AS grp, doc_id AS id,
            len(list_filter(string_split_regex(lower(text), '\s+'),
              x -> x <> ''))::BIGINT AS w,
            row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents),
        pack(grp, rn, id, w, bin, fill) AS (
          SELECT grp, rn, id, w, 0::BIGINT, w FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.grp, s.rn, s.id, s.w,
            CASE WHEN p.fill + s.w <= 256 THEN p.bin ELSE p.bin + 1 END,
            CASE WHEN p.fill + s.w <= 256 THEN p.fill + s.w ELSE s.w END
          FROM pack p JOIN seq s ON s.grp = p.grp AND s.rn = p.rn + 1)
        SELECT grp, id, w, bin FROM pack ORDER BY id"""))

  /** The exact recursive closure both connected-components formulations
    * are held to: one SQL, two Spark paths ([[Fixtures.clusterPipeline]]
    * and the alternating variant) — the formulations can't silently
    * diverge from each other or from the truth.
    */
  private val clusterClosureSql =
    """WITH RECURSIVE d AS (
          SELECT doc_id, list_distinct(list_filter(
            string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh
          FROM documents WHERE doc_id < 60),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM d a, d b WHERE a.doc_id < b.doc_id
            AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT doc_id, doc_id FROM d
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        SELECT node, min(label) AS cluster FROM reach GROUP BY node
        ORDER BY node"""

  private val dedupCluster = Q(
    (s, dir) => Fixtures.clusterPipeline(s, dir).orderBy("node"),
    Some(clusterClosureSql))

  private val dedupClusterAlt = Q(
    (s, dir) => Fixtures.clusterPipelineAlternating(s, dir).orderBy("node"),
    Some(clusterClosureSql))

  private val textChunkTokens = Q(
    (s, dir) => graft.operators.TrainPipeline.chunkTokens(
        t(s, dir, "documents"), "doc_id", "text",
        sizeTokens = 32, strideTokens = 24)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
            x -> x <> '') AS tk
          FROM documents),
        e AS (
          SELECT doc_id, tk,
            unnest(generate_series(0, cast((len(tk)-1)//24 AS BIGINT))) AS i
          FROM toks WHERE len(tk) > 0)
        SELECT doc_id, i AS chunk_idx,
          array_to_string(list_slice(tk, cast(i*24+1 AS INT),
            cast(i*24+32 AS INT)), ' ') AS chunk,
          least(32, len(tk) - i*24)::BIGINT AS n_tokens
        FROM e ORDER BY doc_id, chunk_idx"""))

  /** Benchmark decontamination over a deterministic corpus/eval split
    * (every 25th doc plays the eval set): corpus docs sharing ≥ 5 distinct
    * word 3-grams with any eval doc. The planted near/exact dups that
    * straddle the split surface as contamination — exactly the leak this
    * step exists to catch.
    */
  // shared by both decontamination variants — their output contract is
  // identical (the bloom prefilter's false positives die in the verify
  // join), so one SQL statement oracles both
  private val decontaminateOracle = """WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS s
          FROM toks WHERE len(t) >= 3),
        corpus AS (SELECT * FROM sh WHERE doc_id % 25 <> 0),
        bench AS (SELECT * FROM sh WHERE doc_id % 25 = 0)
        SELECT c.doc_id AS doc, b.doc_id AS bench,
          len(list_intersect(c.s, b.s))::BIGINT AS overlap
        FROM corpus c, bench b
        WHERE len(list_intersect(c.s, b.s)) >= 5
        ORDER BY doc, bench"""

  private val decontaminate = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TrainPipeline.decontaminate(
          docs.where(col("doc_id") % 25 =!= 0),
          docs.where(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 3, minOverlap = 5)
        .orderBy("doc", "bench")
    },
    Some(decontaminateOracle))

  /** The Bloom-prefiltered decontamination path: same result set as
    * [[decontaminate]] by construction (exact verify join after the
    * bloom), checked against the same oracle — the variant for benchmark
    * shingle sets too large to broadcast as strings.
    */
  private val decontaminateBloom = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TrainPipeline.decontaminateBloom(
          docs.where(col("doc_id") % 25 =!= 0),
          docs.where(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 3, minOverlap = 5)
        .orderBy("doc", "bench")
    },
    Some(decontaminateOracle))

  private val repetitionScore = Q(
    (s, dir) => graft.operators.TextAnalysis.repetitionScore(
        t(s, dir, "documents").where(col("doc_id") < 200), "doc_id", "text")
      .orderBy("doc"),
    Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents WHERE doc_id < 200),
        ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
        words AS (SELECT doc_id AS doc,
          round(1 - len(list_distinct(t))::DOUBLE / len(t), 4) AS word_rep
          FROM ok),
        grams AS (SELECT doc_id AS doc,
          unnest(list_transform(range(len(t) - 1),
            i -> t[i+1] || ' ' || t[i+2])) AS g
          FROM ok),
        gc AS (SELECT doc, g, count(*) AS c FROM grams GROUP BY 1, 2),
        top AS (SELECT doc, round(max(c)::DOUBLE / sum(c), 4) AS top2
          FROM gc GROUP BY doc)
        SELECT doc, word_rep, top2 FROM words JOIN top USING (doc)
        ORDER BY doc"""))

  private val interleaveMix = Q(
    (s, dir) => {
      // domain weighting: 2.5× src0, 0.4× src1, 1× the rest
      val w = when(col("source") === "src0", 250L)
        .when(col("source") === "src1", 40L).otherwise(100L)
      graft.operators.TrainPipeline.interleaveMix(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", w)
        .select(col("doc_id"), col("copy"))
        .orderBy("doc_id", "copy")
    },
    Some("""WITH b AS (
          SELECT doc_id,
            ('0x' || substr(md5(cast(doc_id AS VARCHAR)),1,8))::BIGINT % 100
              AS bucket,
            CASE WHEN source = 'src0' THEN 250
                 WHEN source = 'src1' THEN 40 ELSE 100 END AS w
          FROM documents)
        SELECT doc_id, unnest(generate_series(0,
            w//100 + CASE WHEN bucket < w%100 THEN 1 ELSE 0 END - 1)) AS copy
        FROM b ORDER BY doc_id, copy"""))

  private val dedupSurvivors = Q(
    (s, dir) =>
      // the derivation half of the near-dup pipeline: clusters (computed
      // once, Fixtures.clusters — dedup_cluster times the propagation
      // itself) → one canonical doc (the min id) per cluster + size
      Fixtures.clusters(s, dir)
        .groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
        .select(col("cluster").as("doc_id"), col("cluster_size"))
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE d AS (
          SELECT doc_id, list_distinct(list_filter(
            string_split_regex(lower(text), '\s+'), x -> x <> '')) AS sh
          FROM documents WHERE doc_id < 60),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM d a, d b WHERE a.doc_id < b.doc_id
            AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT doc_id, doc_id FROM d
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        labels AS (
          SELECT node, min(label) AS cluster FROM reach GROUP BY node)
        SELECT cluster AS doc_id, count(*)::BIGINT AS cluster_size
        FROM labels GROUP BY cluster ORDER BY doc_id"""))

  /** Quality-priority survivor selection: each near-dup cluster keeps its
    * best-scoring member, ties to the smallest id. The Spark side is one
    * `max(struct(score, -id))` partial aggregate; the oracle states the
    * same arg-max as a rank window over the exact recursive closure —
    * agreement across the two formulations (and two cluster derivations)
    * is the check.
    */
  private val dedupSurvivorsQuality = Q(
    (s, dir) => {
      val scored = t(s, dir, "documents").where(col("doc_id") < 60)
        .select(col("doc_id"), TF.qualityScore(col("text")).as("score"))
      graft.operators.TrainPipeline.survivorsByQuality(
          Fixtures.clusters(s, dir).withColumnRenamed("node", "doc_id")
            .join(scored, "doc_id"),
          "doc_id", "cluster", "score")
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE d AS (
          SELECT doc_id, text, list_distinct(list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS sh
          FROM documents WHERE doc_id < 60),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM d a, d b WHERE a.doc_id < b.doc_id
            AND round(len(list_intersect(a.sh, b.sh))::DOUBLE /
              len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE, 4) >= 0.8),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT doc_id, doc_id FROM d
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        labels AS (
          SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        q AS (SELECT doc_id, round(
          least(length(text) / 500.0, 1.0) * 0.4 +
          (1.0 - least(4.0 * (len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]'))::DOUBLE /
            greatest(length(text), 1)), 1.0)) * 0.2 +
          least(5.0 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
              t -> list_contains(${TF.EnglishStopwords.map("'" + _ + "'").mkString("[", ",", "]")}, t)))::DOUBLE /
            greatest(len(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x <> '')), 1)), 1.0) * 0.4,
          4) AS score FROM d),
        ranked AS (SELECT l.cluster, l.node AS doc_id, q.score,
            row_number() OVER (PARTITION BY l.cluster
              ORDER BY q.score DESC, l.node) AS rk,
            count(*) OVER (PARTITION BY l.cluster) AS cluster_size
          FROM labels l JOIN q ON q.doc_id = l.node)
        SELECT cluster, doc_id, score, cluster_size
        FROM ranked WHERE rk = 1 ORDER BY cluster"""))

  /** Explicit runtime bloom-pruned join ([[graft.operators.BloomJoin]]):
    * the filtered dim's keys fold into one partial-aggregated bloom that
    * pre-filters the fact side at its scan, so only can-match rows reach
    * the join. False positives are removed by the exact join, so the
    * result — and therefore the oracle — is the plain join's.
    */
  private val joinBloomPruned = Q(
    (s, dir) => {
      val pruned = graft.operators.BloomJoin.bloomPrunedJoin(
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part").where(col("p_size") <= 2), "p_partkey",
        "inner", expectedNdv = 1L << 16)
      // revenue as EXACT integer cents (per-item half-away round, long
      // sum): a double sum rounded at the end is addition-order-sensitive
      // in its last ulp, and at sf1 magnitudes (~3e8) that flipped the
      // 2-decimal rounding vs the oracle's sequential sum
      pruned.groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(r((col("l_extendedprice") * (lit(1) - col("l_discount"))) *
              lit(100), 0).cast(LongType))
            .as("revenue_cents"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand, count(*) AS cnt,
        sum(round((l_extendedprice * (1 - l_discount)) * 100)::BIGINT)::BIGINT
          AS revenue_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 2 GROUP BY 1 ORDER BY p_brand"""))

  /** The Morton arithmetic of [[graft.operators.ZOrder]] restated as a
    * DuckDB CTE chain: scale both dimensions to 16 bits against the
    * min/max bounds (`m`), spread each through the four mask-shift
    * steps, interleave, and keep the top 6 bits — yielding `z(event_id,
    * user_id, ts, zbucket)` for the two z-order oracles. Bit-for-bit the
    * engine's expression (same IEEE double scaling, same masks), so the
    * clustered LAYOUT is hash-verified, not just row counts.
    */
  private val zorderSqlCte: String =
    """WITH m AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
          min(epoch_ms(ts)) AS tmin, max(epoch_ms(ts)) AS tmax FROM events),
      s0 AS (SELECT event_id, user_id, ts,
          floor((user_id - umin) * 65535.0 / (umax - umin))::BIGINT AS x0,
          floor((epoch_ms(ts) - tmin) * 65535.0 / (tmax - tmin))::BIGINT AS y0
        FROM events, m),
      s1 AS (SELECT event_id, user_id, ts,
          (x0 | (x0 << 8)) & 16711935 AS x1,
          (y0 | (y0 << 8)) & 16711935 AS y1 FROM s0),
      s2 AS (SELECT event_id, user_id, ts,
          (x1 | (x1 << 4)) & 252645135 AS x2,
          (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
      s3 AS (SELECT event_id, user_id, ts,
          (x2 | (x2 << 2)) & 858993459 AS x3,
          (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
      s4 AS (SELECT event_id, user_id, ts,
          (x3 | (x3 << 1)) & 1431655765 AS x4,
          (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
      z AS (SELECT event_id, user_id, ts,
          (x4 | (y4 << 1)) >> 26 AS zbucket FROM s4)"""

  /** Content proof for the Z-order rewrite: per-cell counts + checksums
    * of the CLUSTERED table must equal the oracle recomputing the full
    * Morton arithmetic from raw events — the layout rewrite lost nothing
    * and the cell math is bit-exact.
    */
  private val maintenanceZorder = Q(
    (s, dir) => {
      val (zdir, _) = Fixtures.zorderedEventsDir(s, dir)
      s.read.parquet(zdir)
        .groupBy(col("zbucket").cast(LongType).as("zbucket"))
        .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("checksum"))
        .orderBy("zbucket")
    },
    Some(s"""$zorderSqlCte
        SELECT zbucket, count(*) AS cnt, sum(event_id)::BIGINT AS checksum
        FROM z GROUP BY 1 ORDER BY zbucket"""))

  /** The pruning win the clustering exists for: a box covering ~10% of
    * each dimension touches at most a 2×2 block of the 8×8 Morton grid —
    * `buckets_touched` (≤ 4 cells, certified ≤ 8) instead of the ~64 a
    * row-shuffled layout would hit, and since each cell is a partition
    * directory, that IS the file-level scan bound (ZOrderSpec pins the
    * files-touched equality). Box bounds derive from the same min/max
    * statistics the oracle's `m` CTE recomputes, by integer arithmetic
    * exact on both engines.
    */
  private val maintenanceZorderPrune = Q(
    (s, dir) => {
      val (zdir, (umin, umax, tmin, tmax)) = Fixtures.zorderedEventsDir(s, dir)
      val ulo = umin + (umax - umin) * 3 / 10
      val uhi = umin + (umax - umin) * 4 / 10
      val tlo = tmin + (tmax - tmin) * 45 / 100
      val thi = tmin + (tmax - tmin) * 55 / 100
      s.read.parquet(zdir)
        .where(col("user_id").between(ulo, uhi) &&
          col("ts_ms").between(tlo, thi))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("checksum"),
          count_distinct(col("zbucket")).as("buckets_touched"))
        .withColumn("locality_ok", col("buckets_touched") <= lit(8L))
    },
    Some(s"""$zorderSqlCte
        SELECT count(*) AS n_rows, sum(event_id)::BIGINT AS checksum,
          count(DISTINCT zbucket) AS buckets_touched,
          count(DISTINCT zbucket) <= 8 AS locality_ok
        FROM z, m
        WHERE user_id >= umin + ((umax - umin) * 3) // 10
          AND user_id <= umin + ((umax - umin) * 4) // 10
          AND epoch_ms(ts) >= tmin + ((tmax - tmin) * 45) // 100
          AND epoch_ms(ts) <= tmin + ((tmax - tmin) * 55) // 100"""))

  /** Numeric range scan through the min/max zone-map sidecar
    * ([[graft.model.ZoneMapIndex]] — ClickHouse `minmax` skip-index
    * analogue) over the z-clustered table: the index shrinks the file
    * list before any data file is opened, the exact predicate re-applies
    * on the survivors, so the result — and the oracle — is the plain
    * range filter's. ZoneMapSpec pins the pruning itself (candidates ≪
    * live files, staleness, vacuum); this row pins content equivalence.
    */
  private val filterRangeZonemap = Q(
    (s, dir) => {
      val (zdir, (umin, umax, _, _)) = Fixtures.zorderedIndexedEventsDir(s, dir)
      val ulo = umin + (umax - umin) * 3 / 10
      val uhi = umin + (umax - umin) * 4 / 10
      // ONE fused probe + one table listing for both ranges (rangeScans):
      // the clean range over user_id, and the same range over the
      // NaN-poisoned `metric` (== user_id except the event_id % 97 rows,
      // which are NaN — fixture scaladoc): the scan must keep every
      // file's non-NaN in-range rows while both engines agree NaN itself
      // never matches a range; a NaN-poisoned max that pruned whole
      // files would zero these columns
      val Seq(cleanScan, poisonedScan) = graft.model.ZoneMapIndex.rangeScans(
        s, zdir, Seq(("user_id", ulo.toDouble, uhi.toDouble),
          ("metric", ulo.toDouble, uhi.toDouble)))
      val clean = cleanScan
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("checksum"))
      val poisoned = poisonedScan
        .agg(count(lit(1)).as("n_rows_nanpoisoned"),
          sum(col("event_id")).as("checksum_nanpoisoned"))
      clean.crossJoin(poisoned)
    },
    Some("""WITH m AS (SELECT min(user_id) AS umin, max(user_id) AS umax
          FROM events),
        b AS (SELECT umin + ((umax - umin) * 3) // 10 AS ulo,
              umin + ((umax - umin) * 4) // 10 AS uhi FROM m),
        ev AS (SELECT event_id, user_id,
            CASE WHEN event_id % 97 = 0 THEN 'NaN'::DOUBLE
                 ELSE user_id::DOUBLE END AS metric FROM events)
        SELECT
          (SELECT count(*) FROM ev, b
            WHERE user_id >= ulo AND user_id <= uhi) AS n_rows,
          (SELECT sum(event_id)::BIGINT FROM ev, b
            WHERE user_id >= ulo AND user_id <= uhi) AS checksum,
          (SELECT count(*) FROM ev, b
            WHERE metric >= ulo AND metric <= uhi) AS n_rows_nanpoisoned,
          (SELECT sum(event_id)::BIGINT FROM ev, b
            WHERE metric >= ulo AND metric <= uhi) AS checksum_nanpoisoned"""))

  private val maintenanceCompact = Q(
    // read side of the compacted fixture: per-day counts + a distinct
    // metadata rollup must equal the source table's, proving the
    // merge+swap preserved every row and column
    (s, dir) =>
      LogSchema.readLogs(s, Fixtures.compactedLogTableDir(s, dir))
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("cnt"),
          count_distinct(col("pod_name")).as("pods"))
        .orderBy("day"),
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
        count(DISTINCT 'pod-' || user_id::VARCHAR) AS pods
        FROM events GROUP BY 1 ORDER BY day"""))

  private val maintenanceRetention = Q(
    // read side of the TTL-enforced fixture: surviving days must be
    // exactly the newest 7 of the source table, with per-day content
    // intact (the drop is directory-level — nothing inside a surviving
    // partition may change)
    (s, dir) =>
      LogSchema.readLogs(s, Fixtures.retainedLogTableDir(s, dir))
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("cnt"),
          count_distinct(col("pod_name")).as("pods"))
        .orderBy("day"),
    Some("""WITH mx AS (SELECT max(ts::DATE) AS m FROM events)
        SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
          count(DISTINCT 'pod-' || user_id::VARCHAR) AS pods
        FROM events, mx WHERE ts::DATE >= m - INTERVAL 6 DAY
        GROUP BY 1 ORDER BY day"""))

  private val tokenBpe = Q(
    // learned-subword tokenization: merges come from the per-session
    // trained fixture (Fixtures.bpeMerges — the amortized index-build
    // half); this times the narrow encode. Engine-specific merge list →
    // no SQL oracle; training parity with a reference implementation,
    // reconstruction, and determinism are pinned in BpeSpec.
    // agg_approx_distinct-pattern certification since the continuation
    // session: the doc count hash-compares, `all_reconstruct_ok` certifies
    // every doc's subword concatenation restores its whitespace-normalized
    // text, and `all_compress_ok` certifies the learned merges beat
    // character-level tokenization on every non-empty doc
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // BPE encode is the heavy per-row step — spread its input (gated)
      val enc = graft.operators.Bpe.encode(
        Spread.maybe(docs, col("doc_id")), "doc_id", "text",
        Fixtures.bpeMerges(s, dir))
      val joined = enc.join(docs, enc("doc") === docs("doc_id"))
        .select(
          concat_ws("", col("tokens")).as("rebuilt"),
          regexp_replace(lower(col("text")), "\\s+", "").as("norm"),
          col("n_tokens"))
      // compression certs, scale-robust: tokenization can never EXPAND a
      // doc (structural BPE guarantee — certified for every doc), while
      // "the learned merges actually shrink it" is a corpus-statistics
      // claim — outlier docs whose character mix the merge table never
      // saw legitimately stay character-level as the corpus grows (the
      // sf1 soak caught the every-doc form failing), so it is certified
      // on ≥ 95% of docs
      joined.agg(
        count(lit(1)).as("n_docs"),
        (count(when(col("rebuilt") === col("norm"), 1)) === count(lit(1)))
          .as("all_reconstruct_ok"),
        (count(when(
          when(length(col("norm")) === 0, col("n_tokens") === 0)
            .otherwise(col("n_tokens") <= length(col("norm"))), 1)) ===
          count(lit(1))).as("none_expand_ok"),
        (count(when(col("n_tokens") < length(col("norm")), 1)) >=
          count(lit(1)) * 0.95).as("compress_95_ok"))
    },
    Some("""SELECT count(*) AS n_docs, TRUE AS all_reconstruct_ok,
        TRUE AS none_expand_ok, TRUE AS compress_95_ok FROM documents"""))

  /** Deflate bytes are engine-specific, but the quality SIGNAL is
    * certifiable (agg_approx_distinct pattern): the doc count and total
    * raw UTF-8 bytes hash-compare against SQL (the byte-accounting
    * contract), `all_in_range_ok` certifies every ratio lands in (0, 1.1]
    * (deflate overhead can exceed 1 only slightly on tiny docs), and
    * `ordering_ok` certifies the signal points the right way on two
    * planted extremes — a pure repetition must compress far below a
    * hex-entropy chain.
    */
  private val textCompressionRatio = Q(
    (s, dir) => {
      import s.implicits._
      val md = java.security.MessageDigest.getInstance("MD5")
      val hexChain = (0 until 20).map { i =>
        md.digest(s"graft-$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.mkString
      val planted = Seq((-1L, "ab" * 500), (-2L, hexChain))
        .toDF("doc_id", "text")
      val base = graft.operators.TextAnalysis.compressionRatio(
        t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
      val pr = graft.operators.TextAnalysis.compressionRatio(
          planted, "doc_id", "text")
        .select(col("doc"), col("ratio"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      base.agg(
        count(lit(1)).as("n_docs"),
        sum(col("raw_bytes")).as("total_raw_bytes"),
        (count(when(col("ratio") > 0.0 && col("ratio") <= 1.1, 1)) ===
          count(lit(1))).as("all_in_range_ok"))
        .withColumn("ordering_ok", lit(pr(-1L) < pr(-2L) * 0.5))
    },
    Some("""SELECT count(*) AS n_docs,
        sum(octet_length(encode(text)))::BIGINT AS total_raw_bytes,
        TRUE AS all_in_range_ok, TRUE AS ordering_ok
        FROM documents"""))

  private val maintenanceRollup = Q(
    // read side of the incrementally-refreshed rollup (built in two
    // ingest batches with a refresh each — Fixtures.rollupDirs proves the
    // second refresh re-aggregated exactly the one changed day): summing
    // the per-(day, hour, cluster, namespace, app) rollup rows back to
    // (day, namespace) must reproduce the aggregate computed directly
    // over ALL the raw events — i.e. the materialized view lost nothing
    // across incremental maintenance.
    (s, dir) =>
      graft.model.Rollup.readRollup(s, Fixtures.rollupDirs(s, dir)._2)
        .groupBy(col("date").cast(StringType).as("day"), col("namespace"))
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("err_cnt")).as("err_cnt"),
          sum(col("bytes")).as("bytes"))
        .orderBy("day", "namespace"),
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type AS namespace,
        count(*) AS cnt,
        coalesce(count(*) FILTER (WHERE event_type = 'error'), 0) AS err_cnt,
        sum(length(concat_ws(' ', event_type, props)))::BIGINT AS bytes
        FROM events GROUP BY 1, 2 ORDER BY day, namespace"""))

  private val maintenanceRollupPods = Q(
    // the uniqMerge read path: per-day distinct pods estimated by
    // unioning the rollup's HLL sketches across (hour, cluster,
    // namespace, app) groups, then checked in-tolerance against the
    // exact distinct computed from the raw log table — the
    // agg_approx_distinct oracle pattern (exact value + TRUE flag).
    (s, dir) => {
      val (src, roll) = Fixtures.rollupDirs(s, dir)
      val est = graft.model.Rollup.readRollup(s, roll)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(graft.model.Rollup.mergedDistinctPods(col("pods_hll")).as("est"))
      val exact = LogSchema.readLogs(s, src)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(count_distinct(col("pod_name")).as("exact_pods"))
      est.join(exact, "day")
        .select(col("day"), col("exact_pods"),
          (abs(col("est") - col("exact_pods")) <=
            greatest(col("exact_pods") * 0.05, lit(2.0))).as("pods_ok"))
        .orderBy("day")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day,
        count(DISTINCT 'pod-' || user_id::VARCHAR) AS exact_pods,
        true AS pods_ok
        FROM events GROUP BY 1 ORDER BY day"""))

  private val maintenanceRollupQuantiles = Q(
    // the quantileMerge read path: per-day metric percentiles answered by
    // merging the rollup's per-row KLL sketches, certified RANK-wise
    // against the raw table — the estimate for p50 must land between the
    // exact p40 and p60 (p90 between p85/p95), a 10×/3× looser band than
    // KLL's ~1.65% rank-error guarantee, stated as booleans the oracle
    // declares TRUE (the agg_approx_distinct pattern). The exact p50/p90
    // values themselves hash-compare directly.
    (s, dir) => {
      val (src, roll) = Fixtures.rollupDirs(s, dir)
      val est = graft.model.Rollup.readRollup(s, roll)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(
          graft.model.Rollup.mergedQuantile(col("m_event_value_kll"), 0.5)
            .as("est_p50"),
          graft.model.Rollup.mergedQuantile(col("m_event_value_kll"), 0.9)
            .as("est_p90"))
      val exact = LogSchema.readLogs(s, src)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(
          expr("percentile(try_element_at(fields_number, 'event.value'), " +
            "array(0.4, 0.5, 0.6, 0.85, 0.9, 0.95))").as("ps"))
      est.join(exact, "day")
        .select(col("day"),
          r(element_at(col("ps"), 2), 2).as("p50"),
          r(element_at(col("ps"), 5), 2).as("p90"),
          (col("est_p50") >= element_at(col("ps"), 1) &&
            col("est_p50") <= element_at(col("ps"), 3)).as("p50_ok"),
          (col("est_p90") >= element_at(col("ps"), 4) &&
            col("est_p90") <= element_at(col("ps"), 6)).as("p90_ok"))
        .orderBy("day")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day,
        round(quantile_cont(value, 0.5), 2) AS p50,
        round(quantile_cont(value, 0.9), 2) AS p90,
        true AS p50_ok, true AS p90_ok
        FROM events GROUP BY 1 ORDER BY day"""))

  /** view → click → purchase conversion depth per user, 6-hour window
    * (chosen for level spread on this data: ~32/107/11 across 1/2/3).
    * Exists-chain semantics make the oracle a pair of EXISTS joins rather
    * than a replay of the engine's greedy fold — the two formulations
    * agreeing IS the correctness claim (the fold's exactness argument
    * lives in Funnel.scala's scaladoc, its unit cases in FunnelSpec).
    */
  /** Set ALGEBRA over the MV's theta states (ClickHouse `uniqTheta*`):
    * per adjacent-day pair, how many pods appear in BOTH days and how many
    * churned (day1 \ day2) — answered entirely from the rollup's sketches.
    * Exact split-size columns hash-compare; the estimates are certified by
    * tolerance booleans (the pod domain sits far under the sketch's
    * retained-entry budget at oracle SF, so they are in fact exact there).
    */
  /** Equal-width value histogram per event type — the distribution chart
    * next to the percentile tiles; one partial-aggregated shuffle on
    * (type, bin), bin count bounded by the width choice.
    */
  private val aggHistogram = Q(
    (s, dir) => t(s, dir, "events")
      .where(col("value").isNotNull)
      .groupBy(col("event_type"),
        floor(col("value") / 50.0).cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "bin"),
    Some("""SELECT event_type, floor(value / 50.0)::INT AS bin,
        count(*) AS cnt FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2 ORDER BY event_type, bin"""))

  /** Percentiles READ FROM the histogram buckets (PromQL
    * `histogram_quantile`): the dashboard path that never rescans raw
    * values. Both engines replay the identical rank/interpolation
    * arithmetic over the same exact integer buckets.
    */
  private val fnHistogramQuantile = Q(
    (s, dir) => {
      val buckets = t(s, dir, "events")
        .where(col("value").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 50.0).cast(IntegerType).as("bin"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Histogram.histogramQuantile(buckets,
          Seq("event_type"), "bin", "cnt", width = 50.0,
          qs = Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "q")
    },
    Some("""WITH b AS (SELECT event_type, floor(value / 50.0)::INT AS bin,
            count(*) AS cnt FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2),
        c AS (SELECT event_type, bin, cnt,
            sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
              ROWS UNBOUNDED PRECEDING) AS cum,
            sum(cnt) OVER (PARTITION BY event_type) AS total
          FROM b),
        e AS (SELECT event_type, bin, cnt, cum, total, q.q AS q
          FROM c, (SELECT unnest([0.5, 0.9, 0.99]) AS q) q),
        x AS (SELECT event_type, q,
            bin::DOUBLE * 50.0 + 50.0 *
              ((q * total::DOUBLE) - (cum - cnt)::DOUBLE) / cnt::DOUBLE
              AS raw,
            row_number() OVER (PARTITION BY event_type, q ORDER BY bin)
              AS rk
          FROM e WHERE cum::DOUBLE >= q * total::DOUBLE)
        SELECT event_type, q, round(raw, 4) AS est FROM x WHERE rk = 1
        ORDER BY event_type, q"""))

  /** Template mining over the log lines (the masked-variables "what does
    * this service print" clustering view); the planted `pid=` suffix
    * exercises every mask class on otherwise low-variance synthetic lines.
    */
  private val logTemplatesQ = Q(
    (s, dir) => {
      // plant hex/ip/uuid-shaped variability the synthetic lines lack;
      // template mining is 4 regexes per line — spread the under-split scan
      val planted = logsSpread(s, dir).withColumn("log",
        concat(col("log"), lit(" pid="), col("id"),
          lit(" ip=10.0."), (col("id") % 8).cast(StringType),
          lit("."), (col("id") % 250).cast(StringType)))
      graft.operators.TextAnalysis.logTemplates(planted, "log")
        .orderBy("template")
    },
    Some("""WITH lines AS (
          SELECT event_type || ' ' || props ||
            ' pid=' || event_id::VARCHAR ||
            ' ip=10.0.' || (event_id % 8)::VARCHAR ||
            '.' || (event_id % 250)::VARCHAR AS line
          FROM events),
        t AS (SELECT
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(line,
                  '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
                  '<UUID>', 'g'),
                '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                '<IP>', 'g'),
              '\b(?:0x[0-9a-fA-F]+|[0-9a-fA-F]{8,})\b', '<HEX>', 'g'),
            '-?[0-9]+(?:\.[0-9]+)?', '<N>', 'g') AS template,
          line FROM lines)
        SELECT template, count(*) AS cnt, min(line) AS example
        FROM t GROUP BY 1 ORDER BY template"""))

  /** New-behavior detection over the log stream: templates first seen in
    * the last two days. The synthetic lines print the same shapes all
    * month, so the fixture plants a rollout marker on post-cutoff error
    * lines — those templates (one per error props shape) are the expected
    * novels, and pre-existing shapes must NOT appear however their volume
    * moved.
    */
  private val anomalyNewTemplates = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      val cutoff = ev
        .agg(expr("date_trunc('DAY', max(ts)) - INTERVAL 1 DAY"))
        .head().getTimestamp(0)
      val lg = logsSpread(s, dir).withColumn("log",
        concat(col("log"),
          when(col("timestamp") >= lit(cutoff) &&
              col("namespace") === "error",
            lit(" phase=rollout")).otherwise(lit(""))))
      graft.operators.TextAnalysis.novelTemplates(
          lg, "log", "timestamp", lit(cutoff))
        .orderBy("template")
    },
    Some("""WITH c AS (SELECT date_trunc('day', max(ts)) - INTERVAL 1 DAY
            AS cutoff FROM events),
        lines AS (
          SELECT event_type || ' ' || props ||
            CASE WHEN ts >= cutoff AND event_type = 'error'
              THEN ' phase=rollout' ELSE '' END AS line,
            epoch_ms(ts) AS ts_ms
          FROM events, c),
        t AS (SELECT
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(line,
                  '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
                  '<UUID>', 'g'),
                '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                '<IP>', 'g'),
              '\b(?:0x[0-9a-fA-F]+|[0-9a-fA-F]{8,})\b', '<HEX>', 'g'),
            '-?[0-9]+(?:\.[0-9]+)?', '<N>', 'g') AS template,
          line, ts_ms FROM lines)
        SELECT template, min(ts_ms) AS first_seen_ms,
          count(*) AS cnt, min(line) AS example
        FROM t GROUP BY 1
        HAVING min(ts_ms) >= (SELECT epoch_ms(cutoff) FROM c)
        ORDER BY template"""))

  private val maintenanceRollupTheta = Q(
    (s, dir) => {
      val (_, roll) = Fixtures.rollupDirs(s, dir)
      val days = graft.model.Rollup.readRollup(s, roll)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(graft.model.Rollup.mergedTheta(col("pods_theta")).as("th"))
      val a = days.select(col("day").as("day1"), col("th").as("th1"))
      val b = days.select(col("day").as("day2"), col("th").as("th2"))
      val est = a.join(b, date_add(col("day1").cast("date"), 1) ===
          col("day2").cast("date"))
        .select(col("day1"), col("day2"),
          graft.model.Rollup.podsOverlap(col("th1"), col("th2")).as("est_both"),
          graft.model.Rollup.podsChurned(col("th1"), col("th2")).as("est_gone"))
      val exact = Fixtures.podDayTruth(s, dir)
      // tolerance scales with the OPERAND set (day-1's pod population =
      // n_both + n_gone), not the result: a sketch intersection or
      // difference carries the sketches' error, which is relative to the
      // sets being combined — a small n_gone out of a large population
      // legitimately has error proportional to the population (the sf1
      // soak caught the result-relative bound failing exactly there)
      est.join(exact, "day1")
        .select(col("day1"), col("day2"), col("n_both"), col("n_gone"),
          (abs(col("est_both") - col("n_both")) <=
            greatest((col("n_both") + col("n_gone")) * 0.05, lit(2.0)))
            .as("both_ok"),
          (abs(col("est_gone") - col("n_gone")) <=
            greatest((col("n_both") + col("n_gone")) * 0.05, lit(2.0)))
            .as("gone_ok"))
        .orderBy("day1")
    },
    Some("""WITH dp AS (
          SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
            'pod-' || user_id::VARCHAR AS pod
          FROM events WHERE user_id IS NOT NULL),
        pairs AS (
          SELECT x.day AS day1,
            strftime((x.day::DATE + INTERVAL 1 DAY), '%Y-%m-%d') AS day2,
            count(y.pod) AS n_both,
            count(CASE WHEN y.pod IS NULL THEN 1 END) AS n_gone
          FROM dp x LEFT JOIN dp y
            ON y.day::DATE = x.day::DATE + INTERVAL 1 DAY AND y.pod = x.pod
          GROUP BY 1, 2)
        SELECT day1, day2, n_both, n_gone, TRUE AS both_ok, TRUE AS gone_ok
        FROM pairs WHERE n_both > 0 ORDER BY day1"""))

  private val fnWindowFunnel = Q(
    (s, dir) => graft.operators.Funnel.windowFunnel(
        t(s, dir, "events"), "user_id", "ts", windowMs = 21600000L,
        conds = Seq(col("event_type") === "view",
          col("event_type") === "click",
          col("event_type") === "purchase"))
      .orderBy("user"),
    // Oracle restated (round 10) as an O(n log n) window-function replay:
    // the original EXISTS self-joins (view×click, view×click×purchase per
    // user) exhausted DuckDB's temp disk at sf1 (SCALING.md). Same
    // semantics, derived: a level-3 chain exists through click t2 iff the
    // LATEST view ≤ t2 and the EARLIEST purchase ≥ t2 are ≤ window apart
    // (max view / min purchase are jointly optimal since both constraints
    // are monotone in them); RANGE frames include same-ms peers, matching
    // the joins' `>=` tie semantics. Verified row-identical to the
    // self-join form at sf0.01 and sf0.1.
    Some("""WITH e AS (
          SELECT user_id u, epoch_ms(ts) AS ms, event_type t FROM events
          WHERE user_id IS NOT NULL
            AND event_type IN ('view', 'click', 'purchase')),
        w AS (SELECT u, ms, t,
            max(CASE WHEN t = 'view' THEN ms END) OVER
              (PARTITION BY u ORDER BY ms
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lastview,
            min(CASE WHEN t = 'purchase' THEN ms END) OVER
              (PARTITION BY u ORDER BY ms
               RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nextpur
          FROM e)
        SELECT u AS "user",
          max(CASE
            WHEN t = 'click' AND lastview IS NOT NULL AND nextpur IS NOT NULL
              AND nextpur - lastview <= 21600000 THEN 3
            WHEN t = 'click' AND lastview IS NOT NULL
              AND ms - lastview <= 21600000 THEN 2
            WHEN t = 'view' THEN 1
            ELSE 0 END) AS level
        FROM w GROUP BY u ORDER BY "user""""))

  private val fnRetention = Q(
    (s, dir) => graft.operators.Funnel.retention(
        t(s, dir, "events"), "user_id", "ts",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "purchase" && col("value") >= 250,
          col("event_type") === "error" && col("value") >= 250))
      .orderBy("user"),
    Some("""SELECT user_id AS "user",
        min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
          IS NOT NULL AS r1,
        coalesce(
          min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) <=
          max(CASE WHEN event_type = 'purchase' AND value >= 250 THEN epoch_ms(ts) END),
          FALSE) AS r2,
        coalesce(
          min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) <=
          max(CASE WHEN event_type = 'error' AND value >= 250 THEN epoch_ms(ts) END),
          FALSE) AS r3
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1 ORDER BY "user""""))

  /** Non-overlapping sequence count (ClickHouse `sequenceCount`): the
    * greedy fold vs the oracle's recursive-CTE nested-earliest-min replay
    * of the same greedy — two formulations, one semantics.
    */
  private val fnSequenceCount = Q(
    (s, dir) => graft.operators.Funnel.sequenceCount(
        t(s, dir, "events"), "user_id", "ts",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "purchase" && col("value") >= 300))
      .orderBy("user"),
    Some("""WITH RECURSIVE q AS (SELECT user_id AS u, epoch_ms(ts) AS ts,
            event_type, value FROM events WHERE user_id IS NOT NULL),
        chains(u, end_ts, n) AS (
          SELECT DISTINCT u, CAST(NULL AS BIGINT), 0 FROM q
          WHERE event_type = 'signup'
            OR (event_type = 'purchase' AND value >= 300)
          UNION ALL
          SELECT c.u,
            (SELECT min(b.ts) FROM q b WHERE b.u = c.u
              AND b.event_type = 'purchase' AND b.value >= 300
              AND b.ts > (SELECT min(a.ts) FROM q a WHERE a.u = c.u
                AND a.event_type = 'signup'
                AND a.ts > coalesce(c.end_ts, -9223372036854775808))),
            c.n + 1
          FROM chains c
          WHERE (SELECT min(b.ts) FROM q b WHERE b.u = c.u
              AND b.event_type = 'purchase' AND b.value >= 300
              AND b.ts > (SELECT min(a.ts) FROM q a WHERE a.u = c.u
                AND a.event_type = 'signup'
                AND a.ts > coalesce(c.end_ts, -9223372036854775808)))
            IS NOT NULL)
        SELECT u AS "user", max(n) AS n_chains FROM chains
        GROUP BY 1 ORDER BY "user""""))

  /** Interval-lookup join: every event tagged with its value band(s) —
    * ten disjoint tiers plus one overlapping "hot" band, so multi-match
    * semantics are exercised. The Spark side is the BUCKETED equi-join
    * ([[graft.operators.IntervalJoin]]); the oracle is the naive BETWEEN
    * theta join — identical output, wildly different plan, which is the
    * point.
    */
  private val joinIntervalLookup = Q(
    (s, dir) => {
      val tiers = s.range(0, 10).select(
          (col("id") * 50.0).as("lo"), ((col("id") + 1) * 50.0).as("hi"),
          concat(lit("band_"), col("id").cast(StringType)).as("tier"))
        .unionByName(s.range(0, 1).select(lit(100.0).as("lo"),
          lit(300.0).as("hi"), lit("hot").as("tier")))
      graft.operators.IntervalJoin.lookupJoin(
          t(s, dir, "events").select("event_id", "value"),
          col("value"), tiers, "lo", "hi", width = 50, joinType = "left")
        .select("event_id", "value", "tier", "lo", "hi")
        .orderBy("event_id", "tier")
    },
    Some("""WITH tiers AS (
          SELECT i * 50.0 AS lo, (i + 1) * 50.0 AS hi,
            'band_' || i::VARCHAR AS tier FROM range(10) t(i)
          UNION ALL SELECT 100.0, 300.0, 'hot')
        SELECT e.event_id, e.value, t.tier, t.lo, t.hi
        FROM events e LEFT JOIN tiers t
          ON e.value >= t.lo AND e.value < t.hi
        ORDER BY event_id, tier"""))

  /** Sequence-pattern match (ClickHouse `sequenceMatch('(?1).*(?2).*(?3)')`)
    * — the greedy strictly-increasing fold vs the oracle's declarative
    * nested-earliest-min formulation; their agreement is the check (the
    * fn_window_funnel pattern). Both sides compare at millisecond
    * precision (`unix_millis` / `epoch_ms`) so strictness agrees.
    */
  private val fnSequenceMatch = Q(
    (s, dir) => graft.operators.Funnel.sequenceMatch(
        t(s, dir, "events"), "user_id", "ts",
        conds = Seq(col("event_type") === "signup",
          col("event_type") === "purchase" && col("value") >= 300,
          col("event_type") === "error" && col("value") >= 400))
      .orderBy("user"),
    Some("""WITH q AS (SELECT user_id, epoch_ms(ts) AS ts, event_type, value
            FROM events WHERE user_id IS NOT NULL),
        m1 AS (SELECT user_id, min(ts) AS t FROM q
            WHERE event_type = 'signup' GROUP BY 1),
        m2 AS (SELECT q.user_id, min(q.ts) AS t FROM q
            JOIN m1 ON q.user_id = m1.user_id
            WHERE q.event_type = 'purchase' AND q.value >= 300
              AND q.ts > m1.t GROUP BY 1),
        m3 AS (SELECT q.user_id, min(q.ts) AS t FROM q
            JOIN m2 ON q.user_id = m2.user_id
            WHERE q.event_type = 'error' AND q.value >= 400
              AND q.ts > m2.t GROUP BY 1),
        u AS (SELECT DISTINCT user_id FROM q
            WHERE event_type = 'signup'
              OR (event_type = 'purchase' AND value >= 300)
              OR (event_type = 'error' AND value >= 400))
        SELECT u.user_id AS "user",
          CASE WHEN m3.t IS NOT NULL THEN 3
            WHEN m2.t IS NOT NULL THEN 2
            WHEN m1.t IS NOT NULL THEN 1 ELSE 0 END AS depth,
          m3.t IS NOT NULL AS matched
        FROM u LEFT JOIN m1 USING (user_id) LEFT JOIN m2 USING (user_id)
          LEFT JOIN m3 USING (user_id)
        ORDER BY "user""""))

  /** Per-day Shannon entropy of the event-type mix — a collapse to one
    * type (or an explosion of new ones) moves this before volume moves.
    * Both engines sum the same p·ln p terms and round half-away at 4.
    */
  private val aggEntropy = Q(
    (s, dir) => graft.operators.Anomaly.entropy(
        t(s, dir, "events").withColumn("day",
          date_trunc("DAY", col("ts")).cast("date")),
        Seq("day"), col("event_type"))
      .withColumn("day", col("day").cast(StringType))
      .orderBy("day"),
    Some("""WITH c AS (SELECT date_trunc('day', ts)::DATE AS day,
            event_type, count(*) AS c FROM events GROUP BY 1, 2),
        t AS (SELECT day, event_type, c,
            sum(c) OVER (PARTITION BY day) AS total FROM c)
        SELECT day::VARCHAR AS day, max(total)::BIGINT AS n,
          count(*) AS n_distinct,
          round(-sum((c::DOUBLE / total) * ln(c::DOUBLE / total)), 4)
            AS entropy,
          round(CASE WHEN count(*) > 1 THEN
            -sum((c::DOUBLE / total) * ln(c::DOUBLE / total))
              / ln(count(*)::DOUBLE) ELSE 0.0 END, 4) AS entropy_norm
        FROM t GROUP BY 1 ORDER BY day"""))

  /** Gap-based session reconstruction (batch twin of
    * `stream_session_window`): 6-hour inactivity gap over each user's
    * event timeline; the oracle replays the identical lag/running-sum
    * window arithmetic at millisecond precision.
    */
  private val winSessionize = Q(
    (s, dir) => graft.operators.Funnel.sessionize(
        t(s, dir, "events"), "user_id", "ts", gapMs = 6L * 3600 * 1000)
      .orderBy("user", "session"),
    Some("""WITH e AS (SELECT user_id AS u, epoch_ms(ts) AS ts
            FROM events WHERE user_id IS NOT NULL),
        w AS (SELECT u, ts, CASE WHEN
              lag(ts) OVER (PARTITION BY u ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY u ORDER BY ts) > 21600000
            THEN 1 ELSE 0 END AS brk FROM e),
        s AS (SELECT u, ts, sum(brk) OVER (PARTITION BY u ORDER BY ts
            ROWS UNBOUNDED PRECEDING)::BIGINT AS session FROM w)
        SELECT u AS "user", session, min(ts) AS start_ms,
          max(ts) AS end_ms, count(*) AS n_events
        FROM s GROUP BY 1, 2 ORDER BY "user", session"""))

  /** Exact-size per-group sampling: 20 docs per language, deterministic in
    * the salt — the balanced-eval-slice draw. The md5 rank arithmetic is
    * identical in both engines, so rows match exactly.
    */
  private val sampleGroupN = Q(
    (s, dir) => graft.operators.TrainPipeline.sampleGroupN(
        t(s, dir, "documents"), Seq("lang"), "doc_id", n = 20, salt = "s7")
      .select("doc_id", "lang", "source")
      .orderBy("lang", "doc_id"),
    Some("""SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source, row_number() OVER (
            PARTITION BY lang
            ORDER BY md5('s7' || doc_id::VARCHAR), doc_id) AS rk
          FROM documents)
        WHERE rk <= 20 ORDER BY lang, doc_id"""))

  /** Sign-random-projection fidelity cert (the agg_approx_distinct
    * pattern: SQL-anchored count + in-engine quality booleans). Over all
    * bounded pairs, the 32-dim projection must (a) keep mean |Δcosine|
    * under 0.2 and (b) beat the 8-dim projection — the JL monotonicity a
    * broken matrix/scaling would violate.
    */
  private val embeddingProject = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 150)
      def meanDelta(outDim: Int) = {
        val p = graft.operators.Similarity.signProject(
          emb, "vec_id", "embedding", outDim, salt = "jl7")
        val both = emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .join(p, "vec_id")
        both.as("a").crossJoin(both.as("b"))
          .where(col("a.vec_id") < col("b.vec_id"))
          .select(abs(
            graft.expressions.VectorExprs.cosine(col("a.v"), col("b.v")) -
            graft.expressions.VectorExprs.cosine(col("a.proj"), col("b.proj")))
            .as("d"))
          .agg(avg(col("d")).as("m"))
      }
      val m32 = meanDelta(32).select(col("m").as("m32"))
      val m8 = meanDelta(8).select(col("m").as("m8"))
      emb.agg(count(lit(1)).as("n_vectors"))
        .crossJoin(m32).crossJoin(m8)
        .select(col("n_vectors"),
          (col("m32") <= 0.2).as("fidelity_ok"),
          (col("m32") < col("m8")).as("monotone_ok"))
    },
    Some("""SELECT count(*) AS n_vectors, TRUE AS fidelity_ok,
        TRUE AS monotone_ok FROM embeddings WHERE vec_id < 150"""))

  /** Volume anomaly detection: hourly counts per event type scored against
    * each type's trailing-24-bucket baseline. Variance comes from exact
    * integer window sums (see [[graft.operators.Anomaly.volumeAnomalies]]),
    * so every double — and the `is_anomaly` threshold decision — is the
    * same deterministic expression in both engines.
    */
  private val anomalyVolume = Q(
    (s, dir) => graft.operators.Anomaly.volumeAnomalies(
        t(s, dir, "events"), col("ts"), dims = Seq("event_type"),
        bucket = "hour", lookback = 24, minSigma = 3.0)
      .orderBy("event_type", "bucket_ms"),
    Some("""WITH c AS (
          SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        w AS (SELECT event_type, b, cnt,
            count(*) OVER win AS n_base,
            sum(cnt) OVER win AS s1,
            sum(cnt * cnt) OVER win AS s2
          FROM c WINDOW win AS (PARTITION BY event_type ORDER BY b
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        sc AS (SELECT event_type, b, cnt,
            s1::DOUBLE / n_base::DOUBLE AS mu,
            (s2::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n_base::DOUBLE))
              / (n_base::DOUBLE - 1) AS variance
          FROM w WHERE n_base = 24),
        sd AS (SELECT event_type, b, cnt, mu,
            greatest(sqrt(variance), sqrt(mu)) AS sd_eff FROM sc)
        SELECT event_type, epoch_ms(b) AS bucket_ms, cnt,
          round(mu, 4) AS mu, round(sd_eff, 4) AS sd,
          round((cnt::DOUBLE - mu) / sd_eff, 4) AS z,
          (cnt::DOUBLE - mu) / sd_eff >= 3.0 AS is_anomaly
        FROM sd ORDER BY event_type, bucket_ms"""))

  /** Spike attribution: which event type drove the last two days' volume
    * vs all history before. The pivot is derived from the data's own max
    * day so the query is deterministic at any SF and any wall-clock time.
    */
  private val drilldownContributors = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      val pivot = ev
        .agg(expr("date_trunc('DAY', max(ts)) - INTERVAL 1 DAY"))
        .head().getTimestamp(0)
      graft.operators.Anomaly.contributors(ev, col("ts"),
          dims = Seq("event_type"),
          spikeFrom = lit(pivot), spikeTo = lit("9999-01-01").cast("timestamp"),
          baseFrom = lit("1900-01-01").cast("timestamp"), baseTo = lit(pivot))
        .orderBy(desc("delta_share"), col("event_type"))
    },
    Some("""WITH p AS (SELECT date_trunc('day', max(ts)) - INTERVAL 1 DAY
            AS cutoff FROM events),
        d AS (SELECT event_type,
            count(CASE WHEN ts >= cutoff THEN 1 END) AS cnt_spike,
            count(CASE WHEN ts < cutoff THEN 1 END) AS cnt_base
          FROM events, p GROUP BY 1),
        tt AS (SELECT sum(cnt_spike) AS total_spike,
            sum(cnt_base) AS total_base FROM d)
        SELECT event_type, cnt_spike, cnt_base,
          round(cnt_spike::DOUBLE / total_spike, 4) AS share_spike,
          round(cnt_base::DOUBLE / total_base, 4) AS share_base,
          round(cnt_spike::DOUBLE / total_spike
            - cnt_base::DOUBLE / total_base, 4) AS delta_share,
          round(CASE WHEN cnt_base > 0 THEN
            (cnt_spike::DOUBLE * total_base) / (cnt_base::DOUBLE * total_spike)
            END, 4) AS lift
        FROM d, tt
        ORDER BY delta_share DESC, event_type"""))

  private val maintenanceRollupTopk = Q(
    // the topKMerge read path: per-day host frequencies answered by
    // combining the rollup's frequent-items sketch states. The host
    // domain (5 values) is far under the sketch's tracked-item budget, so
    // the combined estimate is EXACT and the full (day, host, cnt)
    // breakdown hash-compares against SQL — certifying state, combine,
    // and estimate end-to-end, not just a tolerance.
    (s, dir) => {
      val (_, roll) = Fixtures.rollupDirs(s, dir)
      graft.model.Rollup.readRollup(s, roll)
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(graft.model.Rollup.mergedTopHosts(col("hosts_topk"), 10)
          .as("top"))
        .select(col("day"), explode(col("top")).as("t"))
        .select(col("day"), col("t.item").as("host"),
          col("t.count").as("cnt"))
        .orderBy("day", "host")
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day,
        'host-' || (user_id % 5)::VARCHAR AS host, count(*) AS cnt
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2 ORDER BY day, host"""))

  private val maintenanceParts = Q(
    // the system.parts surface: per-day file/byte/row stats from parquet
    // footers only. Rows are oracle-checkable against the source events;
    // files/bytes are filesystem facts asserted in LogSchemaSpec.
    (s, dir) =>
      LogSchema.partitionStats(s, Fixtures.logTableDir(s, dir))
        .select(col("day"), col("rows")),
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS "rows"
        FROM events GROUP BY 1 ORDER BY day"""))

  private val maintenanceMaterialize = Q(
    // read side of the MATERIALIZE COLUMN backfill: the query uses the
    // promoted columns DIRECTLY (they exist only if the partition rewrite
    // actually happened — the table was first written without them), and
    // the aggregate must match the raw source.
    (s, dir) =>
      LogSchema.readLogs(s, Fixtures.materializedLogTableDir(s, dir))
        .where(col("promoted_event_type") === "click")
        .groupBy(col("date").cast(StringType).as("day"))
        .agg(count(lit(1)).as("cnt"),
          r(sum(col("promoted_event_value")), 2).as("sum_value"))
        .orderBy("day"),
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
        FROM events WHERE event_type = 'click' GROUP BY 1 ORDER BY day"""))

  private val dedupExactSubstring = Q(
    (s, dir) => Dedup.exactSubstringStats(t(s, dir, "documents"), "doc_id",
        "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id"),
    Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
            i -> array_to_string(t[i:i+7], ' '))) AS w
          FROM tk WHERE len(t) >= 8),
        dups AS (SELECT w FROM wins GROUP BY w
          HAVING count(DISTINCT doc_id) >= 2),
        per AS (SELECT doc_id, count(*) AS dup_windows FROM wins
          WHERE w IN (SELECT w FROM dups) GROUP BY doc_id)
        SELECT tk.doc_id,
          greatest(len(tk.t) - 7, 0)::BIGINT AS windows,
          coalesce(per.dup_windows, 0)::BIGINT AS dup_windows,
          round(coalesce(per.dup_windows, 0)::DOUBLE /
            greatest(len(tk.t) - 7, 1), 4) AS dup_frac
        FROM tk LEFT JOIN per USING (doc_id) ORDER BY doc_id"""))

  private val dedupExactSubstringRemove = Q(
    // the ACTION to dedup_exact_substring's measurement: duplicated
    // 8-token spans removed corpus-wide, first occurrence kept
    (s, dir) => Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id",
        "text", k = 8)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id"),
    Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents),
        wins AS (
          SELECT doc_id, u.pos AS pos, u.w AS w FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
              i -> struct_pack(pos := i,
                w := array_to_string(t[i:i+7], ' ')))) AS u
            FROM tk WHERE len(t) >= 8)),
        ranked AS (
          SELECT doc_id, pos,
            row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
          FROM wins),
        cov AS (
          SELECT DISTINCT doc_id, i FROM (
            SELECT doc_id, unnest(range(pos, pos + 8)) AS i
            FROM ranked WHERE rn > 1)),
        toksr AS (
          SELECT doc_id, u.i AS i, u.w AS w FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
              i -> struct_pack(i := i, w := t[i]))) AS u
            FROM tk)),
        agg AS (
          SELECT tr.doc_id,
            count(*) AS n_toks,
            count(c.i) AS n_removed,
            coalesce(string_agg(tr.w, ' ' ORDER BY tr.i)
              FILTER (WHERE c.i IS NULL), '') AS text_dedup
          FROM toksr tr LEFT JOIN cov c
            ON tr.doc_id = c.doc_id AND tr.i = c.i
          GROUP BY tr.doc_id)
        SELECT tk.doc_id,
          coalesce(agg.n_toks, 0)::BIGINT AS n_toks,
          coalesce(agg.n_removed, 0)::BIGINT AS n_removed,
          coalesce(agg.text_dedup, '') AS text_dedup
        FROM tk LEFT JOIN agg USING (doc_id) ORDER BY tk.doc_id"""))

  private val dedupSegment = Q(
    (s, dir) => Dedup.dedupSegments(t(s, dir, "documents"), "doc_id", "text",
        segTokens = 20)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id"),
    Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents),
        segs AS (
          SELECT doc_id, u.seg AS seg, u.segtext AS segtext FROM (
            SELECT doc_id, unnest(list_transform(range((len(t) + 19) // 20),
              i -> struct_pack(seg := i,
                segtext := array_to_string(t[i*20+1:i*20+20], ' ')))) AS u
            FROM tk WHERE len(t) >= 1)),
        ranked AS (
          SELECT doc_id, seg, segtext,
            row_number() OVER (PARTITION BY segtext
              ORDER BY doc_id, seg) AS rn
          FROM segs)
        SELECT doc_id,
          count(*)::BIGINT AS n_seg,
          (count(*) FILTER (WHERE rn = 1))::BIGINT AS n_kept,
          coalesce(string_agg(segtext, ' ' ORDER BY seg)
            FILTER (WHERE rn = 1), '') AS text_dedup
        FROM ranked GROUP BY doc_id ORDER BY doc_id"""))

  private val lmPerplexity = Q(
    // stupid-backoff bigram LM: train on docs < 50, score docs 50..249 —
    // the split keeps unseen bigrams in play so BOTH scoring branches
    // (seen ratio, backoff) are exercised and oracle-checked
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.LanguageModel.perplexityAgainst(
          docs.where(col("doc_id") < 50),
          docs.where(col("doc_id") >= 50 && col("doc_id") < 250),
          "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH tk AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
            x -> x <> '') AS t
          FROM documents),
        big AS (
          SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
              i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS u
            FROM tk WHERE len(t) >= 2)),
        u AS (SELECT w, count(*) AS c
          FROM (SELECT unnest(t) AS w FROM tk WHERE doc_id < 50) GROUP BY w),
        bc AS (SELECT w1, w2, count(*) AS c FROM big
          WHERE doc_id < 50 GROUP BY 1, 2),
        n AS (SELECT sum(c)::DOUBLE AS n FROM u),
        sc AS (
          SELECT big.doc_id,
            CASE WHEN bc.c IS NOT NULL THEN ln(bc.c::DOUBLE / u1.c)
                 ELSE ln(0.4 * coalesce(u2.c, 0.5)::DOUBLE / n.n) END AS logp
          FROM big
          LEFT JOIN bc USING (w1, w2)
          LEFT JOIN u u1 ON big.w1 = u1.w
          LEFT JOIN u u2 ON big.w2 = u2.w, n
          WHERE big.doc_id >= 50 AND big.doc_id < 250)
        SELECT doc_id, count(*)::BIGINT AS n_big,
          round(exp(-avg(logp)), 4) AS ppl
        FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** SemDeDup certified by independent-formulation parity (the
    * fn_window_funnel pattern): the operator's cell-equi-join path must
    * agree flag-for-flag with a bounded crossJoin restatement of the same
    * rule ("a lower-id vector in MY cell within cosine threshold") —
    * different join strategy, shuffle shape, and dedup mechanics, same
    * declarative definition. The vector count is the SQL anchor; cell
    * assignments themselves are engine-specific (k-means), which is exactly
    * why the parity must be computed in-engine.
    */
  private val dedupSemantic = Q(
    // Consumes the shared IVF fixture (the real pipeline clusters once and
    // derives both ANN search and semantic dedup from the same assignment)
    (s, dir) => {
      val bucketed = Fixtures.ivfIndex(s, dir).bucketed
      val out = Dedup.semDedupFromCells(bucketed, threshold = 0.4)
      val cells = bucketed.select(col("nid"), col("cell"),
        col("nv").cast("array<double>").as("v"))
      val brute = cells.as("a").crossJoin(cells.as("b"))
        .where(col("a.cell") === col("b.cell") &&
          col("b.nid") < col("a.nid") &&
          graft.expressions.VectorExprs.cosine(col("a.v"), col("b.v")) >= 0.4)
        .select(col("a.nid").as("id")).distinct()
        .withColumn("brute_dup", lit(true))
      val joined = out.join(brute, Seq("id"), "left")
        .select(col("id"),
          (col("is_dup") === coalesce(col("brute_dup"), lit(false)))
            .as("agree"))
      joined.agg(count(lit(1)).as("n_vectors"),
        (count(when(col("agree"), 1)) === count(lit(1))).as("parity_ok"))
    },
    Some("""SELECT count(*) AS n_vectors, TRUE AS parity_ok
        FROM embeddings"""))

  private val embeddingQuantize = Q(
    // `q` is serialized to a CSV string for the dump: the driver's compare
    // sorts result rows with pandas, which cannot order/hash array cells —
    // an array column in the output fails the WHOLE oracle row (r6
    // `embedding_quantize` err), so the codes travel as a scalar digest
    // that still pins every element exactly.
    (s, dir) => graft.operators.TrainPipeline.quantizeInt8(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      .withColumnRenamed("id", "vec_id")
      .withColumn("q", concat_ws(",", transform(col("q"), _.cast("string"))))
      .orderBy("vec_id"),
    Some("""WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        sc AS (SELECT vec_id, v,
          list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM v),
        q AS (SELECT vec_id, v, scale,
          CASE WHEN scale = 0 THEN list_transform(v, x -> 0::INTEGER)
            ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
              floor(x / scale + 0.5))) AS INTEGER)) END AS q
          FROM sc)
        SELECT vec_id, round(scale, 6) AS scale,
          array_to_string(q, ',') AS q,
          CASE WHEN scale = 0 THEN NULL ELSE
            round(list_sum(list_transform(list_zip(v, q),
              p -> p[1] * p[2]::DOUBLE)) /
            (sqrt(list_sum(list_transform(v, x -> x * x))) *
             sqrt(list_sum(list_transform(q, x -> x::DOUBLE * x::DOUBLE)))), 4)
          END AS cos_fidelity
        FROM q ORDER BY vec_id"""))

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  val registry: Map[String, Q] = Map(
    "scan_parquet" -> scanParquet,
    "source_ts_extract" -> sourceTsExtract,
    "source_stream_decode" -> sourceStreamDecode,
    "project_columns" -> projectColumns,
    "filter_metadata_eq" -> filterMetadataEq,
    "filter_time_range" -> filterTimeRange,
    "filter_map_string_eq" -> filterMapStringEq,
    "filter_map_number_cmp" -> filterMapNumberCmp,
    "filter_field_exists" -> filterFieldExists,
    "filter_log_contains" -> filterLogContains,
    "query_language" -> queryLanguage,
    "query_language_agg" -> queryLanguageAgg,
    "query_language_agg_percentile" -> queryLanguageAggPercentile,
    "query_language_series" -> queryLanguageSeries,
    "query_language_rollup" -> queryLanguageRollupVolume,
    "query_language_page2" -> queryLanguagePage2,
    "query_language_logs" -> queryLanguageLogs,
    "project_promoted_column" -> projectPromotedColumn,
    "filter_null_elision" -> filterNullElision,
    "flatten_nested" -> flattenNested,
    "flatten_static" -> flattenStatic,
    "type_dispatch" -> typeDispatch,
    "route_wellknown_keys" -> routeWellknownKeys,
    "key_force_underscores" -> keyForceUnderscores,
    "coerce_force_number" -> coerceForceNumber,
    "map_build_split" -> mapBuildSplit,
    "agg_count" -> aggCount,
    "agg_group_metadata" -> aggGroupMetadata,
    "agg_time_bucket" -> aggTimeBucket,
    "agg_numeric_field_stats" -> aggNumericFieldStats,
    "agg_distinct" -> aggDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_minhash_group" -> aggMinhashGroup,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_field_key_histogram" -> aggFieldKeyHistogram,
    "join_broadcast" -> joinBroadcast,
    "join_shuffle_hash" -> joinShuffleHash,
    "join_semi_anti" -> joinSemiAnti,
    "join_outer" -> joinOuter,
    "join_range_asof" -> joinRangeAsof,
    "win_topk_per_group" -> winTopkPerGroup,
    "win_lag_interarrival" -> winLagInterarrival,
    "win_running_frame" -> winRunningFrame,
    "sort_by_time" -> sortByTime,
    "limit_n" -> limitN,
    "set_union" -> setUnion,
    "set_intersect_except" -> setIntersectExcept,
    "dedup_exact" -> dedupExact,
    "fn_map_access" -> fnMapAccess,
    "fn_date" -> fnDate,
    "fn_string" -> fnString,
    "fn_key_rewrite" -> fnKeyRewrite,
    "fn_numeric_parse" -> fnNumericParse,
    "fn_math" -> fnMath,
    "fn_json" -> fnJson,
    "fn_array" -> fnArray,
    "stream_tumbling_counts" -> streamTumblingCounts,
    "stream_sliding_counts" -> streamSlidingCounts,
    "stream_session_window" -> streamSessionWindow,
    "sink_partitioned_write" -> sinkPartitionedWrite,
    "agg_quantiles" -> aggQuantiles,
    "join_skew_salted" -> joinSkewSalted,
    "dedup_minhash" -> dedupMinhash,
    "dedup_incremental" -> dedupIncremental,
    "anomaly_volume" -> anomalyVolume,
    "fn_sequence_match" -> fnSequenceMatch,
    "join_interval_lookup" -> joinIntervalLookup,
    "fn_sequence_count" -> fnSequenceCount,
    "drilldown_contributors" -> drilldownContributors,
    "anomaly_new_templates" -> anomalyNewTemplates,
    "win_sessionize" -> winSessionize,
    "agg_entropy" -> aggEntropy,
    "fn_histogram_quantile" -> fnHistogramQuantile,
    "sample_group_n" -> sampleGroupN,
    "embedding_project" -> embeddingProject,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "sim_search_topk" -> simSearchTopk,
    "sim_search_lsh" -> simSearchLsh,
    "sim_search_ivf" -> simSearchIvf,
    "sim_search_pq" -> simSearchPq,
    "sim_search_ivfpq" -> simSearchIvfPq,
    "quality_classifier" -> qualityClassifier,
    "knn_join" -> knnJoin,
    "knn_join_ann" -> knnJoinAnn,
    "knn_join_ann_clustered" -> knnJoinAnnClustered,
    "shuffle_shards" -> shuffleShards,
    "sample_uniform_n" -> sampleUniformN,
    "text_analyze" -> textAnalyze,
    "text_tfidf" -> textTfidf,
    "token_count" -> tokenCount,
    "quality_score" -> qualityScore,
    "lang_id" -> langId,
    "doc_fingerprint" -> docFingerprint,
    "multimodal_columns" -> multimodalColumns,
    "multimodal_media_catalog" -> multimodalMediaCatalog,
    "multimodal_image_dims" -> multimodalImageDims,
    "multimodal_image_dims_jpeg" -> multimodalImageDimsJpeg,
    "multimodal_audio_meta" -> multimodalAudioMeta,
    "multimodal_image_resize" -> multimodalImageResize,
    "multimodal_audio_segment" -> multimodalAudioSegment,
    "multimodal_video_frames" -> multimodalVideoFrames,
    "multimodal_video_frames_avi" -> multimodalVideoFramesAvi,
    "multimodal_shot_detect" -> multimodalShotDetect,
    "dedup_image_phash" -> dedupImagePhash,
    "dedup_image_phash_jpeg" -> dedupImagePhashJpeg,
    "dedup_media_embedding" -> dedupMediaEmbedding,
    "dedup_media_hog" -> dedupMediaHog,
    "dedup_audio_fp" -> dedupAudioFp,
    "multimodal_frame_sample" -> multimodalFrameSample,
    "text_chunk" -> textChunk,
    "sample_stratified" -> sampleStratified,
    "pii_redact" -> piiRedact,
    "pack_sequences" -> packSequences,
    "dedup_cluster" -> dedupCluster,
    "dedup_cluster_altcc" -> dedupClusterAlt,
    "interleave_mix" -> interleaveMix,
    "dedup_survivors" -> dedupSurvivors,
    "dedup_survivors_quality" -> dedupSurvivorsQuality,
    "text_chunk_tokens" -> textChunkTokens,
    "decontaminate" -> decontaminate,
    "decontaminate_bloom" -> decontaminateBloom,
    "repetition_score" -> repetitionScore,
    "text_compression_ratio" -> textCompressionRatio,
    "token_bpe" -> tokenBpe,
    "dedup_exact_substring" -> dedupExactSubstring,
    "dedup_semantic" -> dedupSemantic,
    "dedup_segment" -> dedupSegment,
    "dedup_exact_substring_remove" -> dedupExactSubstringRemove,
    "lm_perplexity" -> lmPerplexity,
    "embedding_quantize" -> embeddingQuantize,
    "maintenance_compact" -> maintenanceCompact,
    "maintenance_retention" -> maintenanceRetention,
    "maintenance_rollup" -> maintenanceRollup,
    "maintenance_materialize" -> maintenanceMaterialize,
    "maintenance_parts" -> maintenanceParts,
    "maintenance_rollup_pods" -> maintenanceRollupPods,
    "maintenance_rollup_quantiles" -> maintenanceRollupQuantiles,
    "maintenance_rollup_topk" -> maintenanceRollupTopk,
    "maintenance_rollup_theta" -> maintenanceRollupTheta,
    "log_templates" -> logTemplatesQ,
    "agg_histogram" -> aggHistogram,
    "fn_window_funnel" -> fnWindowFunnel,
    "fn_retention" -> fnRetention,
    "filter_log_contains_indexed" -> filterLogContainsIndexed,
    "query_language_indexed" -> queryLanguageIndexed,
    "query_language_indexed_range" -> queryLanguageIndexedRange,
    "join_bloom_pruned" -> joinBloomPruned,
    "maintenance_zorder" -> maintenanceZorder,
    "maintenance_zorder_prune" -> maintenanceZorderPrune,
    "win_time_range_frame" -> winTimeRangeFrame,
    "filter_range_zonemap" -> filterRangeZonemap,
  )
}
