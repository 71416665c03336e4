package graft

import graft.expressions.GraftFunctions
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured. Bench, Verify,
  * Tools, the generators and the test base all start here, so the conf
  * set a recorded number was measured under is the conf set every other
  * entry point runs.
  */
object GraftSession {

  /** Whole-stage-codegen compiled-class cache size. The default is 100
    * entries; the registry generates ~1,400 distinct codegen units, so at
    * the default every "warm" pass Janino-recompiles ~1,280 of them
    * (measured r14: 52-62 s/pass thrashing vs 33 s/pass with 0 recompiles
    * once sized to hold the working set). Scale-neutral: the same per-JVM
    * cache backs every executor. Memory cost is tens of MB of classes.
    */
  val CodegenCacheEntries = 4096

  /** Local cores: `SPARK_GRAFT_CPUS` (the driver's contract), default 4. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).getOrElse(4)

  /** A `local[cores]` session with one shuffle partition per core, AQE on,
    * UTC, no UI, WARN logging and every graft function registered.
    * `extra` confs are applied on top (ScaleGen's parquet-read confs).
    */
  def create(cores: Int = envCores, extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    spark
  }
}
