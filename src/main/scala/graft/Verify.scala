package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional trailing query names: dump only those (local spot-checks;
    // the driver always calls with exactly two args = full dump)
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    // main.go:125-126 parity: announce what build is producing the dump
    System.err.println(BuildInfo.describe)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failed += name
        // a reused outDir must NOT keep the previous run's dump for a now-
        // failing query — the compare would read stale data and report the
        // regression as green
        Fixtures.deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
    }
    // deletion alone would let the failure vanish from a dump-enumerating
    // compare ("green by omission") — record it machine-readably too.
    // A FILTERED run (non-empty `only`) must MERGE with the previous run's
    // record, not clobber it: keep prior failures for queries not re-run,
    // drop the ones just re-run (they either passed now or re-appear in
    // `failed`). Query names are plain identifiers, so the simple-quoted
    // regex below parses everything this file ever writes.
    val failedPath = Paths.get(s"$outDir/_failed.json")
    val prior: Set[String] =
      if (only.nonEmpty && Files.exists(failedPath))
        "\"([^\"]+)\"".r.findAllMatchIn(Files.readString(failedPath))
          .map(_.group(1)).toSet
      else Set.empty
    val allFailed = ((prior -- only) ++ failed).toSeq.sorted
    Files.writeString(failedPath,
      allFailed.map("\"" + _ + "\"").mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
