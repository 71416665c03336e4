package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column functions for the training-data pipeline surface:
  * tokenization, token counting (whitespace + BPE-ish regex), quality
  * scoring, n-gram shingling, document fingerprinting, and an n-gram /
  * stopword-profile language heuristic. All pure built-in expressions —
  * they stay inside whole-stage codegen and scale linearly with input
  * splits (no shuffle, no UDF).
  */
object TextFunctions {

  /** Lowercased whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word unit count: runs of word chars count one per
    * 4-char chunk (≈ GPT-style ~4 chars/token) plus one per standalone
    * punctuation mark.
    */
  def tokenCountBpe(text: Column): Column =
    (regexp_count(text, lit("[\\p{L}\\p{N}]{1,4}")) +
      regexp_count(text, lit("[^\\p{L}\\p{N}\\s]"))).cast(LongType)

  /** Quality-score ingredients (ratios in [0,1]). */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^\\p{L}\\p{N}\\s]")).cast(DoubleType) /
      greatest(length(text).cast(DoubleType), lit(1.0))

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be")

  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = tokens(text)
    size(filter(toks, t => array_contains(lit(stopwords.toArray), t))).cast(DoubleType) /
      greatest(size(toks).cast(DoubleType), lit(1.0))
  }

  /** Composite document quality score in [0,1]: rewards mid-length docs,
    * moderate punctuation, and a natural-language stopword rate. The exact
    * formula is arbitrary but deterministic and SQL-mirrorable (oracle).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(4.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    Rounding.r4(lenScore * lit(0.4) + (lit(1.0) - punctPenalty) * lit(0.2) +
      stopScore * lit(0.4))
  }

  /** Word n-gram shingles: `n` consecutive tokens joined with a space.
    * Documents shorter than `n` tokens yield a single shingle of the whole
    * text so they still participate in dedup. Native fused expression
    * ([[graft.expressions.WordShingles]]) — the higher-order-function
    * formulation re-tokenizes per window position when interpreted.
    */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n))

  /** Winnowing-style document fingerprint: the minimum of hashes over a
    * sliding character window — stable under small appends, cheap, and
    * SQL-mirrorable. Returns a hex md5 string.
    */
  def fingerprint(text: Column, window: Int = 8): Column =
    when(length(text) < window, md5(text))
      .otherwise(array_min(transform(
        sequence(lit(1), length(text) - (window - 1)),
        i => md5(text.substr(i, lit(window))))))

  /** Stopword profiles for the language-ID heuristic. Function words are
    * the highest-frequency, most language-distinctive tokens, so a tiny
    * profile per language gives a serviceable n-gram-style classifier
    * without any model artifact.
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "you"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "que", "une", "dans", "pour", "je"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "ich", "zu", "den"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "que", "una", "en", "por", "se"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "他", "也", "就"),
  )

  /** Predicted language: argmax over per-language stopword hit counts;
    * zero evidence resolves to "und" (undetermined). A score TIE resolves
    * deterministically to the lexicographically greatest tied language
    * (struct array_max ordering) — mirrored exactly by the lang_id DuckDB
    * oracle, so callers needing tie→und must compare scores themselves.
    * Pure columns — one pass over the token array per language.
    */
  def langId(text: Column, profiles: Map[String, Seq[String]] = LangProfiles): Column = {
    val toks = tokens(text)
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => array_contains(lit(words.toArray), t))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
