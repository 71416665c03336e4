package graft

/** The conf set every entry point inherits from [[GraftSession.create]]. */
class GraftSessionSpec extends SparkTestBase {

  test("factory session: UTC, one shuffle partition per core, AQE on, codegen cache sized for the registry") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("factory session: graft functions resolve without any registry call") {
    assert(spark.sql("SELECT graft_round(CAST(2.5 AS DOUBLE), 0) AS v")
      .head().getDouble(0) == 3.0)
  }
}
