package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines: shingling, token counting, quality signals, language ID,
  * fingerprinting.
  *
  * Everything here is built from `org.apache.spark.sql.functions`
  * higher-order functions over arrays — no UDFs — so every expression
  * stays inside whole-stage codegen and is evaluated columnar-batch at a
  * time on executors. That is the property that matters at 100 TB: a
  * Scala UDF would force per-row serialization boundaries in the hot
  * path of a trillion-row scan.
  */
object TextFunctions {

  /** Whitespace tokens (the reference's texts are single-space-joined). */
  def words(text: Column): Column = split(text, " ")

  /** Distinct word k-shingles: `"a b c d"` → `["a b c", "b c d"]` for k=3.
    * Empty array when the document has fewer than k words (guarded — the
    * `sequence` bounds would otherwise invert).
    */
  def wordShingles(text: Column, k: Int): Column = {
    val ws = words(text)
    val starts = sequence(lit(1), size(ws) - lit(k - 1))
    val grams = transform(
      starts,
      i => concat_ws(" ", (0 until k).map(off => element_at(ws, i + lit(off))): _*),
    )
    when(size(ws) >= k, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text)).cast("long")

  /** BPE-ish pre-tokenizer count: runs of letters, runs of digits, or
    * single other non-space characters — the classic GPT-2-style
    * pre-tokenization shape, counted via a codegen'd regexp.
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Ratio of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      round(length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / length(text), 4))
      .otherwise(lit(0.0))

  /** Ratio of tokens found in a stopword list (quality signal: natural
    * prose has a stable stopword mass; keyword spam / boilerplate does
    * not).
    */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ws = words(text)
    val hits = size(filter(ws, w => w.isInCollection(stopwords)))
    when(size(ws) > 0, round(hits.cast("double") / size(ws), 4)).otherwise(lit(0.0))
  }

  /** Mean word length over whitespace tokens. */
  def avgWordLen(text: Column): Column = {
    val ws = words(text)
    when(size(ws) > 0,
      round(aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws), 4))
      .otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: rewards prose-like stopword mass
    * and mid-length words, penalizes punctuation load. Deterministic,
    * engine-local; thresholds are conventional (C4/Gopher-style rules).
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val sw = stopwordRatio(text, stopwords)
    val awl = avgWordLen(text)
    val punct = punctRatio(text)
    val swScore = when(sw.between(0.01, 0.6), lit(1.0)).otherwise(lit(0.0))
    val awlScore = when(awl.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
    val punctScore = when(punct <= 0.2, lit(1.0)).otherwise(lit(0.0))
    round((swScore + awlScore + punctScore) / 3.0, 4)
  }

  /** Stable content fingerprint: md5 of the first `k` lowercased words.
    * Pair with [[tokenCountWs]]/length for cheap exact-prefix dedup before
    * any expensive near-dup pass.
    */
  def prefixFingerprint(text: Column, k: Int): Column =
    md5(concat_ws(" ", slice(split(lower(text), " "), 1, k)))

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Public, conventional closed-class words.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en", "que", "por", "como"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
  )

  /** Heuristic language ID: score = stopword hits per language profile
    * (zh scored on character containment since it doesn't
    * whitespace-tokenize), argmax wins, `und` (undetermined) when no
    * profile scores. One pass, pure column expressions.
    */
  def langId(text: Column): Column = {
    val ws = words(lower(text))
    def score(lang: String): Column =
      if (lang == "zh")
        langProfiles(lang).map(c => when(text.contains(c), 1).otherwise(0)).reduce(_ + _)
      else size(filter(ws, w => w.isInCollection(langProfiles(lang))))
    // Deterministic argmax: fold over languages in fixed order, strict >
    // keeps the earlier language on ties.
    val ordered = Seq("en", "de", "fr", "es", "zh")
    val best = ordered.tail.foldLeft((lit("en"), score("en"))) { case ((bl, bs), lang) =>
      val sc = score(lang)
      (when(sc > bs, lit(lang)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }
}
