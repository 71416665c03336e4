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

  test("factory session: a call that cannot get its own context fails and leaves the running session as it was") {
    assert(spark.sparkContext.master == "local[4]") // the shared context is up first
    val e = intercept[IllegalStateException](GraftSession.create(cores = 2))
    assert(e.getMessage.contains("local[2]") && e.getMessage.contains("local[4]"))
    // the refused call set no runtime conf on the shared session
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.range(10).where("id % 2 = 0").count() == 5)
  }
}
