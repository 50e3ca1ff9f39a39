package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column functions re-expressing the reference's row-wise Python
  * helpers as codegen-friendly Spark built-in compositions (SURVEY.md §2.8).
  * No UDFs: every function here stays inside whole-stage codegen.
  */
object TextFunctions {

  /** `'NULL'`-literal scrub (reference `Download.py:148`): the string
    * literal "NULL" means missing. */
  def scrubNullLiteral(c: Column): Column = nullif(c, lit("NULL"))

  /** Null-as-blank string canonicalizer (reference `Compare.py:45-48`):
    * null -> "", else trimmed string form. Makes all diff comparisons
    * string-typed with null ≡ blank. */
  def toStr(c: Column): Column = coalesce(trim(c.cast("string")), lit(""))

  /** Date coerce+format (reference `Download.py:130-136`):
    * invalid -> null (pandas errors='coerce'), format `%m-%d-%Y`.
    * Input may be string or timestamp; output is the display string.
    */
  def dateMdY(c: Column): Column =
    date_format(try_to_timestamp(c.cast("string")), "MM-dd-yyyy")

  /** Percent presentation (reference `Download.py:146-155`): numeric x ->
    * `f"{x*100:.0f}%"`; null passes through as null. HALF_UP rounding
    * matches Python's `:.0f` closely enough for the synthetic fractions
    * (multiples of 0.01). */
  def percent(c: Column): Column =
    when(c.isNotNull, concat(round(c * 100, 0).cast("long").cast("string"), lit("%")))

  /** Filename-token sanitizer (reference `Upload.py:105-107`):
    * `\/:*?"<>|` each replaced by `_`. */
  def safeFnameToken(c: Column): Column =
    translate(c, "\\/:*?\"<>|", "_________")

  /** Header normalizer, Upload variant (reference `Upload.py:137-145`):
    * NBSP/CR/LF -> space, trim, lower, collapse `[\s_]+` -> single space,
    * drop all but `[a-z0-9 ]`. */
  def normHeaderSpace(c: Column): Column = {
    val cleaned = translate(c, " \r\n", "   ")
    val lowered = lower(trim(cleaned))
    val collapsed = regexp_replace(lowered, "[\\s_]+", " ")
    trim(regexp_replace(collapsed, "[^a-z0-9 ]", ""))
  }

  /** Header normalizer, Compare variant (reference `Compare.py:34-39`):
    * collapse whitespace, trim, lower, non-alnum runs -> `_`, strip `_`. */
  def normHeaderSnake(c: Column): Column = {
    val lowered = lower(trim(regexp_replace(c, "\\s+", " ")))
    regexp_replace(regexp_replace(lowered, "[^a-z0-9]+", "_"), "^_+|_+$", "")
  }

  /** Whitespace tokens of a trimmed string; empty string -> empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword token estimate: word tokens plus an extra token per
    * 4 characters beyond the first 4 of each word (a public rule-of-thumb
    * approximation of byte-pair tokenizers; deterministic, codegen'd). */
  def tokenEstimate(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / lit(4.0)).cast("long")))

  private val StopWords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Stopword ratio over whitespace tokens (quality-scoring feature). */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    val stops = filter(toks, t => t.isin(StopWords: _*))
    when(size(toks) > 0, size(stops).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Punctuation-character ratio (quality-scoring feature). */
  def punctRatio(c: Column): Column = {
    val total = length(c)
    val noPunct = length(regexp_replace(c, "[\\p{Punct}]", ""))
    when(total > 0, (total - noPunct).cast("double") / total.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean word length over whitespace tokens. */
  def meanWordLen(c: Column): Column = {
    val toks = tokens(c)
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    when(size(toks) > 0, totalLen.cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Composite document quality score in [0,1]: rewards mid-range length,
    * low punctuation, presence of stopwords (heuristics from public
    * web-corpus filtering recipes, e.g. C4/Gopher rules). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lengthOk = when(nTok >= 10 && nTok <= 1000, lit(1.0)).otherwise(lit(0.3))
    val punctOk = lit(1.0) - least(punctRatio(c) * 5, lit(1.0))
    val stopOk = least(stopwordRatio(c) * 10, lit(1.0))
    round((lengthOk + punctOk + stopOk) / 3, 4)
  }

  /** Polynomial rolling-hash fingerprint of the token sequence:
    * h = fold(tokens, 0, (h, t) -> (h * 31 + code(t)) mod 2^31) with
    * code(t) = len(t) * 31 + ascii(first char). Order-sensitive: permuted
    * documents fingerprint differently. The token code is deliberately
    * built from portable primitives (length/ascii) so the DuckDB oracle
    * can replicate it exactly — see SparkEntry.oracleSql("q_fingerprint"). */
  def fingerprint(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, t) =>
        pmod(acc * 31 + length(t).cast("long") * 31 + ascii(substring(t, 1, 1)),
          lit(2147483648L)))

  /** Word n-gram shingles (distinct) of a text column: contiguous n-token
    * windows joined by a single space. Used by MinHash / Jaccard dedup. */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    // sequence(0, -1) would count DOWN in Spark, so guard short docs.
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }
}
