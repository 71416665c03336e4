package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Gated compute-spread for UNDER-SPLIT scans feeding CPU-heavy per-row
  * work (JSON round-trips, regex template mining, BPE encode, vector
  * scoring). A single-row-group parquet file is one Spark task however
  * many cores the session has — byte-range splits cannot parallelize
  * inside a row group — so per-row compute on such a scan runs 1-core
  * while the rest of the machine idles. The fix is an explicit hash
  * exchange of the NARROW pre-compute columns; the gate below makes sure
  * it only ever fires where it can win:
  *
  *  1. a frame whose plan already contains a shuffle-inducing operator is
  *     NEVER probed or spread — its partitioning is the shuffle's
  *     (≥ spark.sql.shuffle.partitions), and probing `.rdd` under AQE
  *     would MATERIALIZE those stages just to read a count;
  *  2. `inputFiles` (logical-plan file listing only) proves a many-file
  *     scan parallel without planning anything — the 100 TB case exits
  *     here and never pays an exchange;
  *  3. only a FEW-file narrow scan pays the `.rdd` planning pass (no jobs
  *     run for a shuffle-free plan), which also sees block-level splitting
  *     of large files.
  *
  * Spread is hash-on-key, NOT round-robin: RoundRobinPartitioning locally
  * sorts every row before the exchange (retry determinism,
  * SPARK-23207), which costs more than it buys on wide payload rows.
  *
  * Verdicts are cached per (session identity, canonicalized plan): the
  * probe is driver-side and constant-cost, but not free — a plan walk, a
  * file listing, possibly an `.rdd` planning pass — and query registries
  * re-ask it for the SAME source on every build. Canonicalized-plan
  * equality is exactly "same source, same partitioning inputs"; the
  * session is part of the key because the file-split confs
  * (maxPartitionBytes) that shape the verdict are per-session. Bounded +
  * access-ordered: an evicted (or, with files appended to a directory
  * mid-session, stale) entry only re-runs the probe / costs an
  * unnecessary-but-correct spread.
  */
object Spread {

  private val verdicts = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(Int, LogicalPlan), java.lang.Boolean](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, LogicalPlan), java.lang.Boolean]): Boolean =
        size() > 256
    })

  /** How many gate calls paid the `.rdd` planning pass (tier 3), for
    * specs that pin which sources reach it. */
  private[graft] val rddProbes = new java.util.concurrent.atomic.AtomicLong

  /** Should `sel` be hash-spread to `parallelism` before per-row compute?
    * See the object scaladoc for the tiered gate and caching contract.
    */
  private[graft] def needsSpread(
      spark: SparkSession, sel: DataFrame, parallelism: Int): Boolean = {
    val key = (System.identityHashCode(spark),
      sel.queryExecution.optimizedPlan.canonicalized)
    val cached = verdicts.get(key)
    if (cached != null) return cached.booleanValue()
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Join, RepartitionOperation, Sort, Window => LWindow}
    val derived = sel.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Distinct | _: Sort |
        _: LWindow | _: RepartitionOperation) => p
    }.isDefined
    val manyFiles =
      try sel.inputFiles.length >= parallelism catch { case _: Exception => true }
    val verdict = !derived && !manyFiles && {
      rddProbes.incrementAndGet()
      sel.rdd.getNumPartitions < parallelism
    }
    verdicts.put(key, java.lang.Boolean.valueOf(verdict))
    verdict
  }

  /** `df` hash-spread on `keys` to the session's parallelism when the
    * gate says an under-split scan is about to feed heavy per-row work;
    * `df` unchanged otherwise. Result-identity: a hash exchange permutes
    * row order only, so any downstream aggregate / join / final sort is
    * unaffected; callers feeding order-SENSITIVE operators (window without
    * a total order, first/last aggregates) must not use this.
    *
    * `keys` must take at least `parallelism` distinct values over `df`:
    * the hash exchange puts each key's rows in one partition, so with
    * fewer distinct keys some of the `parallelism` partitions stay empty
    * and their cores idle (a low-cardinality key such as a namespace or
    * a flag spreads a single-file scan to as many tasks as it has
    * values, no more). An id column is the usual choice.
    */
  def maybe(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    if (needsSpread(spark, df, parallelism))
      df.repartition(parallelism, keys: _*)
    else df
  }
}
