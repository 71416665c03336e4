package graft

/** One-off generator for the stored binary-media corpus
  * ([[graft.sources.MediaTable]]) into an EXISTING testdata dir:
  * `MediaGen <documentsParquet> <mediaOut>` — what [[ScaleGen]] now does
  * inline for fresh scale dirs, runnable standalone for dirs generated
  * before the media table existed.
  */
object MediaGen {
  def main(args: Array[String]): Unit = {
    val docs = args(0)
    val out = args(1)
    val spark = GraftSession.create()
    graft.sources.MediaTable.write(spark.read.parquet(docs), out)
    val n = spark.read.parquet(out).count()
    System.err.println(s"[mediagen] $out: $n rows")
    spark.stop()
  }
}
