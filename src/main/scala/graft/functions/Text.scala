package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-Column text utilities for the LLM-data operators.
  *
  * Everything here is built from `org.apache.spark.sql.functions`
  * (codegen'd, null-safe) — no UDFs, so whole-stage codegen spans are
  * unbroken and a 100 TB scan stays CPU-bound, not boxing-bound.
  */
object Text {

  /** Whitespace tokens of trimmed text. Trim first so engines that
    * keep/drop boundary empties agree (Java split drops trailing
    * empties; other engines keep them). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word k-shingles (k consecutive tokens joined by a single space),
    * distinct. Empty array when fewer than k tokens. */
  def shingles(text: Column, k: Int): Column = {
    val t = tokens(text)
    val n = size(t)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(1), n - lit(k - 1)),
          i => concat_ws(" ", slice(t, i, lit(k)))))
        .otherwise(array().cast("array<string>")))
  }

  /** Canonical form for fingerprinting: collapse whitespace, lowercase. */
  def canonicalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** 128-bit content fingerprint of the canonical form. */
  def fingerprint(text: Column): Column = md5(canonicalize(text).cast("binary"))

  /** English-ish stopword list used by quality scoring. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Fraction of tokens that are stopwords, as double. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, tok => tok.isin(stopwords.map(s => s: Any): _*))) /
      size(t).cast("double")
  }

  /** Mean token length: non-whitespace chars / token count. */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")) / tokenCount(text).cast("double")

  /** PII-style redaction patterns (kept RE2-compatible so the oracle
    * engine matches byte-for-byte). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val numberPattern = "[0-9]+"

  /** Redact emails then number runs with typed placeholders — the
    * single-pass scrub a training corpus gets before packing. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      numberPattern, "<NUM>")

  /** Tiny per-language stopword dictionaries for the lang-id
    * heuristic. Broadcast-as-literal: the dict lives in the plan, no
    * shuffle, no lookup join. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** Unicode-script profile: per-script character counts over
    * EXPLICIT BMP codepoint ranges — spelled as ranges (not \p{Is...}
    * classes) so Spark's java.util.regex and the oracle's RE2 count
    * the identical character sets regardless of their Unicode table
    * versions. The langid complement: langid asks "which language",
    * this asks "which writing system" — the first-pass router of a
    * multilingual crawl (script decides tokenizer + langid model
    * family before any model runs). Latin excludes × (U+00D7) and ÷
    * (U+00F7), the two non-letters inside Latin-1's letter block. */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\u00C0-\\u00D6\\u00D8-\\u00F6\\u00F8-\\u00FF",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "cjk" -> "\\u4E00-\\u9FFF",
    "kana" -> "\\u3040-\\u30FF",
    "hangul" -> "\\uAC00-\\uD7AF")

  /** (script, count) columns for [[scriptRanges]]: one negated-class
    * regexp_replace + length per script (all-BMP ranges, so char
    * counts agree across engines). */
  def scriptCounts(text: Column): Seq[(String, Column)] =
    scriptRanges.map { case (name, cls) =>
      name -> length(regexp_replace(text, s"[^$cls]", ""))
    }

  /** Heuristic language ID: argmax of stopword hits per language;
    * "und" (undetermined) when no dictionary hits at all. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isin(words.map(w => w: Any): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
