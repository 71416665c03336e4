package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Ingest configuration, mirroring the reference plugin's knobs
  * (/root/reference/main.go:207-215):
  *   - `forceNumberFields`: keys whose string values are parsed to double,
  *     falling back to the string map when unparsable (main.go:339-345).
  *     NB the reference tests membership on the ORIGINAL key but stores
  *     under the FORMATTED (underscored) key (main.go:337-339) — replicated.
  *   - `forceUnderscores`: rewrite `.`→`_` in non-routed keys
  *     (main.go:331-334).
  */
case class IngestConfig(
    forceNumberFields: Seq[String] = Nil,
    forceUnderscores: Boolean = false,
) extends Serializable

/** One ingested record: the spine metadata routed out of the flat map plus
  * the two typed dynamic maps (/root/reference/pkg/clickhouse/clickhouse.go:16-27).
  */
case class IngestedRecord(
    cluster: String,
    namespace: String,
    app: String,
    pod_name: String,
    container_name: String,
    host: String,
    log: String,
    fields_string: Map[String, String],
    fields_number: Map[String, Double],
)

/** The klogs record dataflow re-expressed for Spark: recursive flatten of
  * arbitrarily nested records (/root/reference/pkg/flatten/flatten.go:11-66),
  * per-value dynamic typing into string-or-double
  * (/root/reference/main.go:262-310), well-known-key routing to spine
  * columns (main.go:313-329), and the force-underscores / force-number
  * rewrites (main.go:331-349).
  *
  * Two execution paths:
  *  1. [[ingestJson]] — a Scala UDF over a raw JSON string column, for
  *     truly dynamic schemas (unknown keys/depth). One UDF call per record,
  *     no shuffle; the pipeline stays narrow so it scales linearly with
  *     input splits.
  *  2. [[flattenStruct]] — a pure-Column expression expansion for records
  *     whose nested schema IS known to Spark (a `StructType` column):
  *     the flatten recursion runs at plan time and emits codegen-friendly
  *     built-in expressions only (no UDF, no serialization wall). Preferred
  *     at scale whenever the source schema is stable.
  */
object Ingest {

  /** Flatten-key composition (/root/reference/pkg/flatten/flatten.go:56-66):
    * top level unprefixed, nested joined with `_`, array elements keyed by
    * index.
    */
  private def enkey(top: Boolean, prefix: String, subkey: String): String =
    if (top) prefix + subkey else prefix + "_" + subkey

  /** A flattened leaf after type dispatch (main.go:262-310): every JSON
    * number (the Go side collapses all int/uint/float widths, main.go:276-307)
    * becomes Double; strings stay strings; null is elided (main.go:269-270,
    * 312); anything else (bool) renders like Go `fmt.Sprintf("%v")`
    * (main.go:308-309).
    */
  private sealed trait Leaf
  private final case class StrLeaf(v: String) extends Leaf
  private final case class NumLeaf(v: Double) extends Leaf

  private val mapperHolder = new ThreadLocal[ObjectMapper] {
    override def initialValue(): ObjectMapper = new ObjectMapper()
  }

  /** Flatten one parsed JSON tree into ordered (key → Leaf) pairs.
    * Mirrors flatten.go:22-54; non-container roots raise, like
    * flatten.go:47-51 ("invalid input: must be a map or slice").
    */
  private def flattenNode(
      out: mutable.LinkedHashMap[String, Leaf],
      node: JsonNode,
      top: Boolean,
      prefix: String): Unit = {
    def assign(key: String, v: JsonNode): Unit =
      if (v.isObject || v.isArray) flattenNode(out, v, top = false, key)
      else if (v.isNull) () // nil elision, main.go:269-270,312
      else if (v.isNumber) out(key) = NumLeaf(v.asDouble())
      else if (v.isTextual) out(key) = StrLeaf(v.asText())
      else out(key) = StrLeaf(v.asText()) // bool → "true"/"false", Go %v

    if (node.isObject) {
      node.properties().asScala.foreach { e =>
        assign(enkey(top, prefix, e.getKey), e.getValue)
      }
    } else if (node.isArray) {
      var i = 0
      val it = node.elements()
      while (it.hasNext) { assign(enkey(top, prefix, i.toString), it.next()); i += 1 }
    } else {
      throw new IllegalArgumentException("invalid input: must be a map or slice")
    }
  }

  /** Full record processing: flatten → route → force rewrites → split maps.
    * Returns null (→ SQL NULL row) on malformed JSON, mirroring the
    * reference's skip-the-chunk-on-error stance (main.go:251-254) in a
    * per-record form the caller can filter or count.
    */
  def processRecord(json: String, cfg: IngestConfig): IngestedRecord = {
    if (json == null) return null
    val root =
      try mapperHolder.get().readTree(json)
      catch { case _: Exception => return null }
    if (root == null || !(root.isObject || root.isArray)) return null

    val flat = mutable.LinkedHashMap.empty[String, Leaf]
    flattenNode(flat, root, top = true, "")

    var cluster = ""; var namespace = ""; var pod = ""
    var container = ""; var host = ""; var logLine = ""
    var appFromApp: String = null; var appFromK8sApp: String = null
    val fs = mutable.LinkedHashMap.empty[String, String]
    val fn = mutable.LinkedHashMap.empty[String, Double]

    flat.foreach { case (k, leaf) =>
      // Routing uses the *string* rendering; a numeric value under a routed
      // key routes as "" exactly as the reference's unset stringValue does
      // (main.go:262-329).
      val stringValue = leaf match {
        case StrLeaf(s) => s
        case NumLeaf(_) => ""
      }
      k match {
        case "cluster"                    => cluster = stringValue
        case "kubernetes_namespace_name"  => namespace = stringValue
        // The reference assigns App from both label keys in Go map-iteration
        // order (nondeterministic, main.go:318-321); we fix the documented
        // deterministic precedence: `kubernetes_labels_app` wins.
        case "kubernetes_labels_k8s-app"  => appFromK8sApp = stringValue
        case "kubernetes_labels_app"      => appFromApp = stringValue
        case "kubernetes_pod_name"        => pod = stringValue
        case "kubernetes_container_name"  => container = stringValue
        case "kubernetes_host"            => host = stringValue
        case "log"                        => logLine = stringValue
        case _ =>
          val formattedKey =
            if (cfg.forceUnderscores) k.replace(".", "_") else k
          leaf match {
            case NumLeaf(d) => fn(formattedKey) = d
            case StrLeaf(s) =>
              // membership on original key, storage under formatted key
              // (main.go:337-345)
              if (cfg.forceNumberFields.contains(k)) {
                s.toDoubleOption match {
                  case Some(d) => fn(formattedKey) = d
                  case None    => fs(formattedKey) = s
                }
              } else fs(formattedKey) = s
          }
      }
    }

    val app = if (appFromApp != null) appFromApp
              else if (appFromK8sApp != null) appFromK8sApp else ""
    IngestedRecord(cluster, namespace, app, pod, container, host, logLine,
      fs.toMap, fn.toMap)
  }

  /** Timestamp coercion (/root/reference/main.go:85-103): native timestamp,
    * else epoch seconds (ANY uint64, main.go:90-91 — not just 9-10 digit
    * values), else recurse on element 0 of the Fluent Bit ≥ v2.1 nested
    * event form `[[TIMESTAMP, METADATA], MESSAGE]` (main.go:92-99), else the
    * injected fallback (the reference falls back to `now()`; tests inject a
    * fixed clock). The v2.1 descent is two `$[0]` hops — the documented
    * nesting is exactly `[[ts, meta], msg] → [ts, meta] → ts`; ISO strings
    * are additionally accepted (a superset of the reference, which only ever
    * sees binary FLBTime/uint64).
    */
  def coerceTimestamp(c: Column, fallback: Column = current_timestamp()): Column = {
    val s0 = c.cast(StringType)
    val s1 = when(s0.rlike("^\\s*\\["), get_json_object(s0, "$[0]")).otherwise(s0)
    val s2 = when(s1.rlike("^\\s*\\["), get_json_object(s1, "$[0]")).otherwise(s1)
    // double → timestamp casts interpret the value as (fractional) epoch
    // seconds; try_cast → NULL on overflow so garbage falls through to the
    // fallback like the reference's default branch
    val fromEpoch = when(s2.rlike("^[0-9]+(\\.[0-9]+)?$"),
      s2.try_cast(DoubleType).try_cast(TimestampType))
    val fromString = try_to_timestamp(s2)
    coalesce(fromEpoch, fromString, fallback)
  }

  /** The full ingest pipeline over a DataFrame with a raw JSON column and a
    * timestamp column: one narrow projection — decode, flatten, type, route
    * — exactly the reference's per-record loop (main.go:237-354) as a single
    * Catalyst-planned map stage. Uses the native
    * [[graft.expressions.JsonIngest]] expression, which materializes
    * [[processRecord]]'s result straight into Catalyst's row format.
    */
  def ingestJson(
      df: DataFrame,
      jsonCol: Column,
      tsCol: Column,
      cfg: IngestConfig = IngestConfig()): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(df.sparkSession)
    val ing = call_function("graft_ingest", jsonCol,
      typedLit(cfg.forceNumberFields), lit(cfg.forceUnderscores))
    // inline() is a generator: the ingest expression evaluates exactly ONCE
    // per row (struct-subfield projection would inline the expression into
    // every extracted column — nine JSON parses per record)
    df.select(tsCol.cast(TimestampType).as("timestamp"), inline(array(ing)))
      // a rejected record surfaces as an all-null struct row: valid records
      // always carry a non-null (possibly empty) map
      .where(col("fields_string").isNotNull)
      .select(
        col("timestamp"), col("cluster"), col("namespace"), col("app"),
        col("pod_name"), col("container_name"), col("host"),
        col("fields_string"), col("fields_number"), col("log"))
  }

  // ---------------------------------------------------------------------
  // Expression-only path for known StructType schemas (the scale path).
  // ---------------------------------------------------------------------

  /** Plan-time flatten of a struct column with known schema: emits one
    * `(flatKey, Column, DataType)` triple per leaf, applying the
    * flatten.go:56-66 key rules. Arrays of known element type are expanded
    * positionally via `element_at` up to `maxArray` elements (index keys,
    * flatten.go:42-46); absent tail elements yield nulls which the map
    * assembly elides — matching the dynamic path on any array up to that
    * length.
    */
  def flattenStructLeaves(
      c: Column,
      dt: DataType,
      top: Boolean,
      prefix: String,
      maxArray: Int = 8): Seq[(String, Column, DataType)] = dt match {
    case st: StructType =>
      st.fields.toSeq.flatMap { f =>
        flattenStructLeaves(c.getField(f.name), f.dataType,
          top = false, enkey(top, prefix, f.name), maxArray)
      }
    case ArrayType(et, _) =>
      (0 until maxArray).flatMap { i =>
        flattenStructLeaves(element_at(c, i + 1), et,
          top = false, enkey(top, prefix, i.toString), maxArray)
      }
    case MapType(_, _, _) =>
      // Dynamic keys inside a static schema can't be expanded at plan time;
      // such sources should use the dynamic [[ingestJson]] path instead.
      Seq.empty
    case other => Seq((prefix, c, other))
  }

  /** Assemble `fields_string` / `fields_number` from a known-schema struct
    * column with pure built-in expressions (no UDF, no higher-order
    * functions — `when`/`map`/`map_concat` all participate in whole-stage
    * codegen, keeping this in the scan stage at 100 TB; the earlier
    * `filter`-over-array form was CodegenFallback and re-evaluated every
    * entry per element). `try_cast` keeps the force-number fallback
    * semantics ANSI-safe.
    *
    * Collision semantics match the dynamic path: flat-key collisions
    * (e.g. struct `a.b` vs field `a_b`) resolve LAST-WINS at plan time —
    * the dynamic path's LinkedHashMap overwrite — instead of tripping
    * Spark's DUPLICATE_MAP_KEY runtime error. Timestamp/date and any other
    * atomic leaf renders into the string map via cast-to-string (the JSON
    * path would have carried them as strings).
    */
  def flattenStruct(structCol: Column, schema: StructType, cfg: IngestConfig = IngestConfig(),
      maxArray: Int = 8): (Column, Column) = {
    val rawLeaves = flattenStructLeaves(structCol, schema, top = true, "", maxArray)
    // flatten-level last-wins on the composed key (flatten.go overwrite via
    // Go map assignment; our dynamic path's LinkedHashMap does the same)
    val lastIdxByKey = rawLeaves.zipWithIndex
      .map { case ((k, _, _), i) => k -> i }.toMap // toMap keeps the last index
    val leaves = rawLeaves.zipWithIndex
      .collect { case (l, i) if lastIdxByKey(l._1) == i => l }
    def fmtKey(k: String): String =
      if (cfg.forceUnderscores) k.replace(".", "_") else k
    val numEntries: Seq[(String, Column)] = leaves.collect {
      case (k, c, dt) if dt.isInstanceOf[NumericType] =>
        fmtKey(k) -> c.cast(DoubleType)
      case (k, c, StringType) if cfg.forceNumberFields.contains(k) =>
        fmtKey(k) -> c.try_cast(DoubleType)
    }
    val strEntries: Seq[(String, Column)] = leaves.collect {
      case (k, c, StringType) if !cfg.forceNumberFields.contains(k) =>
        fmtKey(k) -> c
      case (k, c, BooleanType) =>
        fmtKey(k) -> c.cast(StringType)
      case (k, c, StringType) if cfg.forceNumberFields.contains(k) =>
        // unparsable force-number values fall back to the string map
        fmtKey(k) -> when(c.try_cast(DoubleType).isNull, c)
      case (k, c, dt) if !dt.isInstanceOf[NumericType] &&
          dt != StringType && dt != BooleanType =>
        // remaining leaf types (timestamp/date/binary/...) — flattenStructLeaves
        // never emits struct/array/map, so string rendering is always defined
        fmtKey(k) -> c.cast(StringType)
    }
    // per-map last-wins on the FORMATTED key (underscore rewrites can
    // collide post-formatting; the dynamic path overwrites per map)
    def dedupe(entries: Seq[(String, Column)]): Seq[(String, Column)] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Column]
      entries.foreach { case (k, v) => m(k) = v }
      m.toSeq
    }
    // null elision without a higher-order function: each entry becomes a
    // conditional singleton map; ONE variadic map_concat fuses them (keys
    // are distinct after the plan-time dedupe, so the dedup policy never
    // fires). A fold of binary map_concats would copy accumulated entries
    // at every level — O(n²) per row — and nest the expression tree
    // n deep; the flat call is a single O(n) merge.
    def buildMap(entries: Seq[(String, Column)], empty: Column): Column = {
      val singletons = dedupe(entries).map { case (k, v) =>
        when(v.isNotNull, map(lit(k), v)).otherwise(empty)
      }
      if (singletons.isEmpty) empty else map_concat(singletons: _*)
    }
    (buildMap(strEntries, typedLit(Map.empty[String, String])),
     buildMap(numEntries, typedLit(Map.empty[String, Double])))
  }
}
