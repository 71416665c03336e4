package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-pruned equi-join: a runtime semi-join filter built from the
  * build side's keys, applied as a narrow pre-filter on the probe side
  * BEFORE the join moves any probe rows.
  *
  * This is the pattern behind Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` injection (and ClickHouse's
  * set-index pruning; cf. /root/reference/schema.sql:15-19's skip
  * indexes): at 100 TB the probe side dominates every cost — the bloom
  * drops non-matching probe rows at the scan, so the join's
  * shuffle/broadcast hash only ever sees rows that can match. False
  * positives cost nothing but wasted transport: the exact join that
  * follows removes them, so the result is bit-identical to the plain
  * join (the oracle's check).
  *
  * Mechanics: the build side's keys are hashed (`xxhash64`) and folded
  * into ONE bloom via Spark's [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
  * — a partial-combined aggregate, so each build task ships one compact
  * bloom, never key rows. The merged bloom (a few MB, same order as a
  * broadcast side) is injected into the probe as a foldable literal
  * feeding [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]],
  * which codegens into the probe's scan stage — one narrow, whole-stage
  * compiled filter, no shuffle, no driver-side row movement (only the
  * merged bloom itself returns to the driver, exactly like a broadcast
  * relation build).
  *
  * Only probe-row-DROPPING join types are sound: `inner` and `left_semi`
  * need every emitted probe row to have a build match, so pre-dropping
  * bloom-negative rows is a no-op on the result. `left_outer`/`left_anti`
  * must EMIT unmatched probe rows and are rejected.
  *
  * Boundary vs the optimizer's own injection (measured, ProbeRuntimeFilter@4f2207e
  * on the lineitem⋈σ(part) shape): InjectRuntimeFilter fires only when the
  * probe scan exceeds `runtime.bloomFilter.applicationSideScanSizeThreshold`
  * (10 GB default — so it DOES cover plain shuffle joins at warehouse
  * scale) AND the join isn't broadcast-planned. The explicit operator is
  * for what that leaves: broadcast-planned joins where scan-level pruning
  * still pays (rows die before flowing through downstream operators),
  * derived/computed join keys, and semi-filters against frames the
  * heuristic can't see through.
  */
object BloomJoin {

  /** Picks numBits for ~2% fpp at the expected cardinality, capped at
    * 8 MiB (2^26 bits) — past that the literal's task-binary cost beats
    * the pruning win and the caller should reconsider the ndv estimate.
    */
  def defaultNumBits(expectedNdv: Long): Long =
    math.min(math.max(expectedNdv * 8L, 1L << 10), 1L << 26)

  def bloomPrunedJoin(
      probe: DataFrame,
      probeKey: String,
      build: DataFrame,
      buildKey: String,
      joinType: String = "inner",
      expectedNdv: Long = 1L << 20,
      numBits: Option[Long] = None): DataFrame = {
    val allowed = Set("inner", "left_semi", "leftsemi", "semi")
    require(allowed.contains(joinType.toLowerCase.replace(" ", "")),
      s"bloomPrunedJoin supports inner/left_semi only, got '$joinType': " +
        "outer/anti variants must emit probe rows the bloom would drop")
    // xxhash64 is TYPE-sensitive (an INT 5 and a BIGINT 5 hash differently)
    // while the exact join coerces both sides to a common type before
    // comparing — hashing the raw columns would bloom-drop every true
    // match across an int/long key pair. Equal-typed keys hash raw;
    // mixed NUMERIC keys hash through a double cast, which is
    // CONSERVATIVE: join-equal values cast to the same double (no false
    // negatives), distinct values that collide in double are mere bloom
    // false positives the exact join removes. Anything else must match.
    val (pt, bt) = (probe.schema(probeKey).dataType, build.schema(buildKey).dataType)
    val (probeHashIn, buildHashIn) =
      if (pt == bt) (col(probeKey), col(buildKey))
      else {
        require(pt.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          bt.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"bloomPrunedJoin keys must share a type or both be numeric, got $pt vs $bt")
        (col(probeKey).cast("double"), col(buildKey).cast("double"))
      }
    graft.expressions.GraftFunctions.registerAll(probe.sparkSession)
    val bits = numBits.getOrElse(defaultNumBits(expectedNdv))
    // one tiny job over the build side; the row carries only the merged
    // bloom bytes (null when the build side is empty — handled below)
    val bloomRow = build
      .select(call_function("graft_bloom_agg",
        xxhash64(buildHashIn), lit(expectedNdv), lit(bits)).as("bf"))
      .head()
    val bloomBytes =
      if (bloomRow.isNullAt(0)) null else bloomRow.getAs[Array[Byte]](0)
    // empty build: might_contain(NULL, h) is NULL → the filter drops every
    // probe row, which IS the inner/semi result for an empty build side
    val pruned = probe.where(call_function("graft_might_contain",
      lit(bloomBytes), xxhash64(probeHashIn)))
    // dataset-qualified keys: same AMBIGUOUS_REFERENCE hazard SkewJoin
    // documents when both sides share the key name
    pruned.join(build, pruned(probeKey) === build(buildKey), joinType)
  }
}
