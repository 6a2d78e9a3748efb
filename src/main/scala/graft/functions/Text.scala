package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis column functions for the large-scale training-data
  * pipeline operators (language ID, quality scoring, token counting,
  * fingerprinting, shingling). Pure `Column` compositions — codegen'd by
  * Catalyst, no UDFs — so they stay inside whole-stage codegen at 100 TB.
  */
object Text {

  /** Whitespace tokenization (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token count: word runs + isolated non-word non-space chars. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("\\w+|[^\\w\\s]")).cast(LongType)

  /** Distinct word-level n-gram shingles (default trigram) — the unit for
    * Jaccard / MinHash dedup. Deterministic order-independent set. Native
    * ([[org.apache.spark.sql.graftx.ShingleArray]]); TextSpec pins it to
    * the composable-built-ins reference form.
    */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graftx.ShingleArray.shinglesNative(text, n)

  /** Canonical document fingerprint: md5 of the sorted token multiset —
    * catches reordered-but-identical-content duplicates.
    */
  def sortedTokenFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(text))))

  /** Number of tokens contained in a fixed word list (total hits, not
    * distinct) — the building block for stopword-based language scoring.
    * Native; TextSpec pins it bit-for-bit to the composable reference
    * form.
    */
  def wordListHits(toks: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graftx.WordSetHits.hitsNative(toks, words)

  /** Fraction of characters in the CJK unified ideograph block — a cheap,
    * deterministic signal for zh/ja text where stopword lists don't apply.
    */
  def cjkRatio(text: Column): Column =
    when(length(text) > 0,
      regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")).cast(DoubleType) /
        length(text).cast(DoubleType))
      .otherwise(lit(0.0))

  /** Stopword profiles for the n-gram-heuristic language ID. Order of this
    * list is the deterministic tie-break (first wins).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "que", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "sur"))

  /** Per-language stopword-hit ratio columns, name → score. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val n    = greatest(size(toks), lit(1)).cast(DoubleType)
    langProfiles.map { case (lang, words) =>
      lang -> (wordListHits(toks, words).cast(DoubleType) / n)
    }
  }

  /** Language-ID decision: CJK ratio dominates, else argmax of stopword
    * ratios with profile order as tie-break; "und" (undetermined) when no
    * profile scores at all.
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.foldLeft(lit(null).cast("string") -> lit(-1.0)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         when(score > bestScore, score).otherwise(bestScore)) }
    when(cjkRatio(text) > 0.05, lit("zh"))
      .when(best._2 > 0.0, best._1)
      .otherwise(lit("und"))
  }
}
