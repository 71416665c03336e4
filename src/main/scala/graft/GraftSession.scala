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
    *
    * `getOrCreate` hands back a session on an already running
    * SparkContext, where the master and the static codegen-cache conf
    * cannot change. A context that differs in either fails with
    * `IllegalStateException`; a running session is checked before the
    * builder touches it, so a refused call leaves its runtime confs as
    * they were.
    */
  def create(cores: Int = envCores, extra: Seq[(String, String)] = Nil): SparkSession = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(requireContext(_, cores))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    requireContext(spark, cores)
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    spark
  }

  private def requireContext(spark: SparkSession, cores: Int): Unit = {
    val master = spark.sparkContext.master
    if (master != s"local[$cores]")
      throw new IllegalStateException(
        s"requested master local[$cores], but the running SparkContext is $master")
    val key = "spark.sql.codegen.cache.maxEntries"
    val cache = spark.conf.get(key)
    if (cache != CodegenCacheEntries.toString)
      throw new IllegalStateException(
        s"requested $key=$CodegenCacheEntries, but the running SparkContext has $cache")
  }
}
