package graft.operators

import graft.functions.{Rounding, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level text analytics (SURVEY §2.10 text_analyze): term
  * frequencies, document frequencies, tf-idf.
  *
  * Scale shape: tokenization is a narrow generate stage; tf and df are
  * partial-aggregated before their shuffles; the document count joins in
  * as a broadcast single-row frame (no driver-side collect in the plan).
  */
object TextAnalysis {

  /** (doc, term, tf, tfidf) with tfidf = tf * ln(N / df). */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    val toks = docs.select(col(idCol).as("doc"),
      explode(TF.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    // df as a WINDOW over tf — tf has one row per (doc, term), so
    // count(*) over (partition by term) == countDistinct(doc) over toks.
    // The old join-with-a-second-aggregation evaluated the tokenize+explode
    // subtree twice (Catalyst prunes the count from the df branch, so the
    // two exchanges never canonicalize equal and nothing is reused): one
    // scan + 3 exchanges + a broadcast → one scan + 2 exchanges (r15,
    // guide §2.4).
    val df = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("term"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.withColumn("df", df)
      .crossJoin(broadcast(n))
      .select(col("doc"), col("term"), col("tf"),
        Rounding.r4(col("tf") * log(col("n").cast("double") / col("df")))
          .as("tfidf"))
  }

  /** Repetition quality signals per document (the Gopher-rules family):
    * `word_rep` = 1 − distinct/total words (how much of the doc is
    * repeated vocabulary) and `top2` = the most frequent word 2-gram's
    * share of all 2-grams (boilerplate/template detector). Docs with
    * fewer than 2 tokens are dropped (no 2-grams to measure).
    *
    * Scale shape: `word_rep` is a pure narrow column expression; `top2`
    * is two map-side-combined aggregations ((doc, gram) count, then
    * max/sum per doc) — exploded rows carry (id, gram) only.
    */
  def repetitionScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.expressions.GraftFunctions.registerAll(docs.sparkSession)
    val toks = TF.tokens(col(textCol))
    val words = docs
      .where(size(toks) >= 2)
      .select(col(idCol).as("doc"),
        Rounding.r4(lit(1.0) -
          size(array_distinct(toks)).cast("double") / size(toks)).as("word_rep"))
    val grams = docs.where(size(toks) >= 2)
      .select(col(idCol).as("doc"), explode(TF.shingles(col(textCol), 2)).as("g"))
    val top = grams.groupBy("doc", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc")
      .agg(Rounding.r4(max(col("c")).cast("double") / sum(col("c"))).as("top2"))
    words.join(top, "doc")
  }

  /** Compression-ratio quality signal: deflate each document and report
    * `comp_bytes / raw_bytes` — the corpus-curation filter that catches
    * what token statistics miss (boilerplate, templated spam, and
    * character-level repetition compress far below prose; binary-ish or
    * encrypted junk compresses far above it). Used alongside
    * [[repetitionScore]]: that one measures WORD-level repetition, this
    * one measures information density at the byte level.
    *
    * Scale shape: narrow mapPartitions — one reused Deflater per
    * partition (allocation and native-buffer setup amortized across the
    * partition's rows), no shuffle, output is three scalars per doc.
    * Deflate at a fixed level is deterministic for a given input, so the
    * signal is reproducible across runs and executors.
    */
  def compressionRatio(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level, true)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val bytes = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, bytes.length.toLong, n)
        }
      }
      .toDF("doc", "raw_bytes", "comp_bytes")
      .withColumn("ratio", Rounding.r4(col("comp_bytes").cast("double") /
        greatest(col("raw_bytes"), lit(1L)).cast("double")))
  }

  /** Drain-lite log template mining: mask the variable fragments of a log
    * line (UUIDs, IPv4s, long hex ids, numeric runs — in that order, so a
    * UUID is one `<UUID>` and not four `<HEX>`-`<N>` shards) and group by
    * the surviving TEMPLATE — the "what kinds of lines is this service
    * printing" view log tooling builds its clustering on. The masking is a
    * narrow codegen'd regexp chain (RE2-compatible patterns, so the same
    * rules run in other engines for cross-checking); the only shuffle is
    * the map-side-combined count per template. Template cardinality is
    * bounded by the service's format strings — thousands, not rows — so
    * the aggregate is small however large the scan.
    */
  /** The Drain-lite mask chain shared by [[logTemplates]] and
    * [[novelTemplates]]: UUID → IP → hex → number, in precedence order
    * (a UUID is hex-and-number-shaped; masking it first keeps one token).
    */
  def templateOf(line: Column): Column = {
    val uuid = "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val hex = "\\b(?:0x[0-9a-fA-F]+|[0-9a-fA-F]{8,})\\b"
    val num = "-?[0-9]+(?:\\.[0-9]+)?"
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(line, uuid, "<UUID>"),
          ipv4, "<IP>"),
        hex, "<HEX>"),
      num, "<N>")
  }

  def logTemplates(logs: DataFrame, logCol: String): DataFrame =
    logs.select(templateOf(col(logCol)).as("template"), col(logCol).as("line"))
      .groupBy("template")
      .agg(count(lit(1)).as("cnt"), min(col("line")).as("example"))

  /** New-behavior detection: templates whose FIRST occurrence is at or
    * after `windowStart` — "what new line shapes did this service start
    * printing", the question after a deploy or during an incident. A
    * template the service has always printed never appears, no matter how
    * much its volume moved ([[graft.operators.Anomaly.volumeAnomalies]]
    * covers that axis).
    *
    * Same scale shape as [[logTemplates]]: narrow codegen mask chain, ONE
    * map-side-combined aggregate over (template); the novelty test is a
    * HAVING on that aggregate's min-timestamp — no self-join of the two
    * time ranges.
    */
  def novelTemplates(
      logs: DataFrame,
      logCol: String,
      tsCol: String,
      windowStart: Column): DataFrame =
    logs.select(templateOf(col(logCol)).as("template"), col(logCol).as("line"),
        unix_millis(col(tsCol)).as("ts_ms"))
      .groupBy("template")
      .agg(min(col("ts_ms")).as("first_seen_ms"),
        count(lit(1)).as("cnt"), min(col("line")).as("example"))
      .where(col("first_seen_ms") >= unix_millis(windowStart))
}
