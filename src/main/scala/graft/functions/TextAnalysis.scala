package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a pure Catalyst column expression (whole-stage
  * codegen, no UDFs), so a 100 TB corpus pays one projection pass —
  * no Python/JVM serialization boundary, no per-row closures.
  */
object TextAnalysis {

  /** Whitespace-delimited token count. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish token count: alpha runs, digit runs, and single
    * non-alphanumeric symbols — a cheap proxy for subword tokenizers. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]"))

  /** Number of alphabetic characters. */
  def alphaChars(text: Column): Column = regexp_count(text, lit("[A-Za-z]"))

  /** Number of ASCII punctuation marks. */
  def punctChars(text: Column): Column = regexp_count(text, lit("[.,;:!?]"))

  /** English stopword hits (small fixed profile). */
  def stopwordHits(text: Column): Column =
    regexp_count(lower(text), lit("\\b(the|and|of|to|a|in|is|was)\\b"))

  /** Mean alphabetic word length; null when the text has no words. */
  def avgWordLen(text: Column): Column = {
    val words = regexp_count(text, lit("[A-Za-z]+"))
    when(words > 0, alphaChars(text).cast("double") / words.cast("double"))
  }

  /** Heuristic quality score in [0,1]: length signal + low punctuation
    * density + stopword presence (the classic cheap pre-filter before
    * expensive model-based scoring). */
  def qualityScore(text: Column): Column = {
    val toks = tokenCount(text).cast("double")
    val lengthSignal = least(toks / lit(100.0), lit(1.0))
    val punctRatio = punctChars(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val stopSignal = least(stopwordHits(text).cast("double") / lit(10.0), lit(1.0))
    lit(0.3) * lengthSignal + lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.4) * stopSignal
  }

  /** N-gram heuristic language ID over a tiny per-language marker profile
    * plus a CJK-codepoint counter. Deterministic argmax with a fixed
    * tie-break order (en, zh, es, fr, de). */
  def langId(text: Column): Column = {
    val lo = lower(text)
    val en = regexp_count(lo, lit("\\b(the|and|of|to|a|in|is)\\b"))
    val es = regexp_count(lo, lit("\\b(el|la|de|que|y|en|los)\\b"))
    val fr = regexp_count(lo, lit("\\b(le|les|de|et|un|une|dans)\\b"))
    val de = regexp_count(lo, lit("\\b(der|die|das|und|ist|ein)\\b"))
    val zh = regexp_count(text, lit("[\\u4e00-\\u9fff]"))
    // null text propagates as null — every `when` condition is null on
    // null counts, so without the guard control would fall through to
    // otherwise("de") and misclassify null documents as German
    when(text.isNotNull,
      when(en >= greatest(es, fr, de, zh), "en")
        .when(zh >= greatest(es, fr, de), "zh")
        .when(es >= greatest(fr, de), "es")
        .when(fr >= de, "fr")
        .otherwise("de"))
  }

  /** 64-bit content fingerprint (xxhash64 of the raw text). */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** PII masking patterns, applied in order (most-specific first so a
    * span is claimed by its own class before a looser pattern can eat
    * part of it: IPv6 before IPv4, SSN/card before phone). All patterns
    * stay inside the regex subset whose semantics agree between engines
    * (char classes, bounded repeats, non-capturing groups, `\b` — no
    * lookaround or backreferences, which RE2 lacks), so the DuckDB
    * oracle replays them verbatim.
    *
    * Known shape limits, chosen over lookaround tricks: IPv6 covers the
    * full 8-group and `a::b`-compressed forms but not leading/trailing
    * `::`; cards cover the major IIN prefixes (Visa/MC/Amex/Discover) in
    * ungrouped or 4-4-4-4 layouts (grouped Amex 4-6-5 is missed); the
    * card pattern is shape-only — compose with [[luhnValid]] when digit
    * runs must verify before masking. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    ("\\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\\b" +
      "|\\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\\b") -> "<IP>",
    ("\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}" +
      "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b") -> "<IP>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<SSN>",
    "\\b[A-CEGHJ-PR-TW-Z]{2}[0-9]{6}[A-D]\\b" -> "<NID>",
    ("\\b(?:4[0-9]{3}|5[1-5][0-9]{2}|3[47][0-9]{2}|6(?:011|5[0-9]{2}))" +
      "(?:[ -]?[0-9]{4}){2}(?:[ -]?[0-9]{1,4})?\\b") -> "<CC>",
    "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b" -> "<PHONE>")

  /** Mask obvious PII spans: emails → `<EMAIL>`, IPv4/IPv6 → `<IP>`,
    * US SSNs → `<SSN>`, UK national-insurance numbers → `<NID>`,
    * major-brand card numbers → `<CC>`, NANP-style phone numbers →
    * `<PHONE>`. See [[piiPatterns]] for ordering and shape contracts. */
  def scrubPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, lit(re), lit(tag))
    }

  /** Deterministic synthetic-PII decoration: appends one span of each
    * [[piiPatterns]] class (email, IPv4, SSN, NANP phone, card number),
    * derived arithmetically from `id`, to `text`. The synthetic corpus
    * carries no PII of its own (lowercase word soup — no digits or
    * `@`), so the redaction gate decorates first and masks second; the
    * decoration is plain integer-modulus string building that the SQL
    * oracle replays verbatim, making the masked output exactly
    * comparable across engines. */
  def decorateSyntheticPii(text: Column, id: Column): Column = {
    val d = id.cast("long")
    def s(c: Column): Column = c.cast("string")
    concat(text,
      lit(" contact user"), s(d), lit("@mail.example.com ip 10."),
      s(d % 200), lit("."), s(d % 250), lit("."), s(d % 100),
      lit(" ssn "), s(d % 900 + 100), lit("-"), s(d % 90 + 10),
      lit("-"), s(d % 9000 + 1000),
      lit(" call 415-555-"), lpad(s(d % 10000), 4, "0"),
      lit(" card 4111 1111 1111 1111"))
  }

  /** Luhn checksum validity of the digits in `number` (non-digits are
    * ignored, so grouped card layouts check directly). Null for null
    * input; false when fewer than 2 digits. Pure `transform`/`aggregate`
    * arithmetic — engine-portable and codegen-friendly, no UDF. */
  def luhnValid(number: Column): Column = {
    val ds = reverse(filter(split(regexp_replace(number,
      lit("[^0-9]"), lit("")), ""), d => d =!= ""))
    val total = aggregate(
      transform(ds, (d, i) => {
        val v = d.cast("int")
        when(i % 2 === 1,
          when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)).otherwise(v)
      }),
      lit(0), (a, x) => a + x)
    when(size(ds) >= 2, total % 10 === 0)
      .otherwise(when(number.isNotNull, false))
  }

  private val StopwordRe = "\\b(a|an|the|and|of|to|in|is)\\b"

  /** Count of removable stopword tokens (the spans
    * [[normalizeText]] drops). */
  def stopwordRemovals(text: Column): Column =
    regexp_count(text, lit(StopwordRe))

  /** Cheap normalization pass: drop a small stopword profile and
    * collapse the whitespace runs that removal (or the source) left
    * behind. Composed after [[scrubPii]] this is the standard
    * pre-tokenization cleanup projection. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, lit(StopwordRe), lit("")),
      lit("\\s+"), lit(" ")))

  /** Repetition signals (Gopher-style quality filters): the duplicate
    * fraction among whitespace tokens and among character n-grams —
    * heavily repeated content scores high on both. Null for null text;
    * 0 when there is nothing to repeat. */
  def dupWordFraction(text: Column): Column = {
    // array_remove drops the empty strings split() keeps at whitespace
    // edges (trim() strips only 0x20, so "foo\n" would otherwise count
    // a phantom token and diverge from the oracle's \S+ extraction)
    val words = array_remove(split(text, "\\s+"), "")
    val nw = size(words)
    when(nw > 0,
      round((nw - size(array_distinct(words))).cast("double") /
        nw.cast("double"), 6))
      .otherwise(when(text.isNotNull, 0.0))
  }

  /** Duplicate fraction among character n-grams (with duplicates):
    * 1 − distinct/total. */
  def dupGramFraction(text: Column, n: Int = 3): Column = {
    val total = greatest(length(text) - (n - 1), lit(0))
    val distinctN = when(length(text) >= n,
      size(ShingleExprs.shingleSetChars(text, n))).otherwise(0)
    when(total > 0,
      round((total - distinctN).cast("double") / total.cast("double"), 6))
      .otherwise(when(text.isNotNull, 0.0))
  }

  /** Whole-text polynomial content fingerprint — same information as
    * [[fingerprint]] but on an oracle-replayable hash (code-point fold,
    * base 131 mod 1e9+7) that any SQL engine can recompute exactly, so
    * the correctness gate can hash-compare it against DuckDB. */
  def polyFingerprint(text: Column): Column =
    ShingleExprs.polyFingerprint(text)

  /** Rolling fingerprint on the oracle-replayable polynomial hash: min
    * fold over k-code-point windows. Null for texts under k code
    * points. */
  def rollingPolyFingerprint(text: Column, k: Int = 8): Column =
    ShingleExprs.rollingPolyMin(text, k)
}
