package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline surface: language
  * ID (marker-word heuristic), quality scoring, token counting, document
  * fingerprinting. All pure `functions._` compositions (codegen'd, narrow —
  * no shuffle, no UDF), so they cost one projection at any scale.
  *
  * Every formula here is deliberately expressible in ANSI-ish SQL so the
  * DuckDB oracle can replicate it exactly (integer/double arithmetic with a
  * fixed evaluation order).
  */
object TextFunctions {

  /** whitespace tokens (the documents corpus is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  // ---- language ID ---------------------------------------------------------

  /** Marker words per language, fixed order = deterministic argmax tiebreak.
    * (n-gram-heuristic langid: score = marker-token occurrences). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "a", "of", "to"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "de", "que", "y"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3"))

  /** Occurrences of `word` in the token array. */
  def tokenOccurrences(toks: Column, word: String): Column =
    size(filter(toks, t => t === lit(word)))

  def langScore(toks: Column, markers: Seq[String]): Column =
    markers.map(m => tokenOccurrences(toks, m)).reduce(_ + _)

  /** Predicted language = argmax of marker scores; ties go to the earlier
    * entry in [[LangMarkers]]. `toks` should be a materialized token column
    * (filter() is an interpreted higher-order function — an inlined split
    * would re-run per marker). */
  def langIdFromTokens(toks: Column): Column = {
    val scored = LangMarkers.map { case (l, ms) => (l, langScore(toks, ms)) }
    // nested CASE: lang_i wins if score_i >= max(score_j, j>i) — earlier
    // languages win ties

    def pick(rest: Seq[(String, Column)]): Column = rest match {
      case (l, _) +: Nil => lit(l)
      case (l, s) +: tail =>
        val maxTail = tail.map(_._2).reduce((a, b) => greatest(a, b))
        when(s >= maxTail, lit(l)).otherwise(pick(tail))
      case _ => lit(null)
    }
    pick(scored)
  }

  // ---- quality scoring -----------------------------------------------------

  /** Quality features: length, token count, mean token length, stopword
    * ratio. Single projection, fixed arithmetic order; `toks` should be a
    * materialized token column. */
  def qualityScoreFromTokens(toks: Column, text: Column): Column = {
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val stop = langScore(toks, LangMarkers.head._2).cast("double")
    val meanTokLen = (nChar - (nTok - lit(1.0))) / nTok // chars minus separators
    // weights fixed; all ops deterministic double arithmetic
    (stop / nTok) * lit(0.25) +
      least(meanTokLen / lit(10.0), lit(1.0)) * lit(0.25) +
      least(nTok / lit(100.0), lit(1.0)) * lit(0.5)
  }

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-unit count: alpha runs, digit runs, and single
    * punctuation marks each count as one unit (a common pre-tokenizer
    * shape). */
  val BpeUnitPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeUnitCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeUnitPattern), lit(0)))

  // ---- fingerprinting ------------------------------------------------------

  /** Canonical content fingerprint: md5 of normalized text (lowercase,
    * collapse whitespace, strip leading/trailing) — the oracle-checkable
    * variant. */
  def fingerprintMd5(text: Column): Column =
    md5(normalizeText(text))

  /** Rolling-hash fingerprint via the custom codegen'd [[PolyHash]]
    * expression — the scale path (no md5 hex string materialization). */
  def fingerprintPoly(text: Column): Column =
    GraftFunctions.poly_hash(normalizeText(text))

  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  // ---- PII scrubbing -------------------------------------------------------

  /** PII patterns → replacement tags, applied in order (SSN before the
    * phone pattern so the more specific shape wins). Patterns stick to the
    * regex subset with identical semantics in Java regex and RE2 so the
    * oracle can replay them. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "[SSN]",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "[PHONE]",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "[IP]")

  /** Redact PII spans in place — one chained regexp_replace projection
    * (codegen'd, narrow; the pre-training scrub pass). */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, tag)) =>
      regexp_replace(c, p, tag)
    }
}
