package graft

import graft.operators.Spread
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

/** The tiered gate of [[Spread.maybe]]: a many-file scan exits at the file
  * listing, a single-file scan is spread to the session's parallelism.
  */
class SpreadSpec extends SparkTestBase {

  private def scan(files: Int): DataFrame = {
    val dir = tmp("spread")
    spark.range(0, 4000, 1, files).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def spreads(df: DataFrame): Seq[RepartitionByExpression] =
    df.queryExecution.analyzed.collect { case r: RepartitionByExpression => r }

  test("Spread.maybe never fires on a many-file source: no exchange and no .rdd planning pass") {
    val parallelism = spark.sparkContext.defaultParallelism
    val src = scan(files = 2 * parallelism)
    assert(src.inputFiles.length >= parallelism)
    val probes = Spread.rddProbes.get()
    val out = Spread.maybe(src, col("id"))
    assert(spreads(out).isEmpty)
    assert(Spread.rddProbes.get() == probes, "a many-file scan must exit before tier 3")
    assert(out.count() == 4000L)
  }

  test("Spread.maybe fires on a single-file source, once per source") {
    val parallelism = spark.sparkContext.defaultParallelism
    val src = scan(files = 1)
    assert(src.inputFiles.length == 1 && src.rdd.getNumPartitions < parallelism)
    val probes = Spread.rddProbes.get()
    val out = Spread.maybe(src, col("id"))
    assert(spreads(out).map(_.numPartitions) == Seq(parallelism))
    assert(Spread.rddProbes.get() == probes + 1)
    assert(out.rdd.getNumPartitions == parallelism)
    assert(out.agg(sum("id")).head().getLong(0) == (0L until 4000L).sum)
    // the verdict is cached: asking again for the same source plans nothing
    assert(spreads(Spread.maybe(src, col("id"))).nonEmpty)
    assert(Spread.rddProbes.get() == probes + 1)
  }
}
