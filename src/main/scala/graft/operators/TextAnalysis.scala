package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines, over a
 * `documents(doc_id, text, lang, source, n_chars)` table. All are
 * single-pass, row-local column expressions (built-in functions only —
 * whole-stage-codegen'd, no UDF boxing in the hot path), so at 100 TB they
 * run as one narrow scan stage with full predicate/column pushdown.
 */
object TextAnalysis {

  /** Whitespace token count (cheap) — split on runs of whitespace.
    * Guarded for degenerate inputs: split("", ...) yields [""] (a phantom
    * token that would count 1), and size(null) is -1 — both must read as
    * zero tokens. */
  def tokenCount(text: Column): Column =
    when(text.isNull || length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Stopword ratio over a fixed small english stopword set. */
  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "was", "it", "for", "on", "with", "as", "at", "by")

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => t.isin(stopwords.map(lit(_)): _*))
    when(size(toks) > 0, size(stops).cast("double") / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length (chars). */
  def meanTokenLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
        / size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /**
   * Language ID via character n-gram + stopword voting: per language a
   * tiny profile of high-frequency function words; score = matched
   * profile-word count, argmax with deterministic tiebreak (profile
   * order). A heuristic — the real signal at scale is a proper model, but
   * the plumbing (one narrow projection) is identical.
   */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "was", "it", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "je", "un", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  /** token -> bitmask of the profiles containing it (profile i = bit i);
    * a word can sit in several profiles ("la"/"un" are French AND
    * Spanish), so membership is a mask, not a single index. */
  private val profileWordBits: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    langProfiles.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue) | (1 << i)))
      }
    }
    m
  }
  private val maxProfileWordLen = langProfiles.flatMap(_._2).map(_.length).max
  private val langUtf8: Array[org.apache.spark.unsafe.types.UTF8String] =
    (langProfiles.map(_._1) :+ "und")
      .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  /** Single-pass JVM twin of the old HOF scoring chain, called via
    * StaticInvoke on the ALREADY-LOWERED text (so `lower()` semantics
    * stay Spark's own). Tokens are maximal runs of non-`\s` chars —
    * exactly `split(lowered, "\\s+")`'s pieces (Java regex `\s` =
    * `[ \t\n\x0B\f\r]`, NOT Unicode whitespace; split's empty leading/
    * trailing pieces can never match a profile word). Score = per-profile
    * matched-token count; argmax keeps the EARLIER profile on ties (the
    * old struct-max prio field); score 0 (and null text, whose HOF chain
    * fell through the CASE to the otherwise branch) -> "und". */
  def langIdFromLowered(lowered: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (lowered == null) return langUtf8(langProfiles.length)
    val s = lowered.toString
    val counts = new Array[Int](langProfiles.length)
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
          c == '\r') {
        i += 1
      } else {
        var j = i + 1
        while (j < n && {
          val d = s.charAt(j)
          !(d == ' ' || d == '\t' || d == '\n' || d == '\u000B' ||
            d == '\f' || d == '\r')
        }) j += 1
        if (j - i <= maxProfileWordLen) { // longer tokens can't match
          val bits = profileWordBits.get(s.substring(i, j))
          if (bits != null) {
            var b = bits.intValue
            while (b != 0) {
              counts(java.lang.Integer.numberOfTrailingZeros(b)) += 1
              b &= b - 1
            }
          }
        }
        i = j
      }
    }
    var best = -1
    var bestIdx = 0
    var k = 0
    while (k < counts.length) {
      if (counts(k) > best) { best = counts(k); bestIdx = k }
      k += 1
    }
    if (best > 0) langUtf8(bestIdx) else langUtf8(langProfiles.length)
  }

  /** r06: was 5 interpreted `filter`+`isin` HOF passes over a re-split
    * token array plus a struct `array_max` (HOFs are CodegenFallback and
    * defeat subexpression elimination, so the regex split ran per
    * profile); now ONE codegen'd StaticInvoke over `lower(text)` —
    * [[langIdFromLowered]] pins the equivalence quirks. propagateNull
    * off: the old chain mapped null text to "und", not null. */
  def langId(text: Column): Column = {
    import org.apache.spark.sql.GraftShims.{toColumn, toExpression}
    toColumn(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      TextAnalysis.getClass,
      org.apache.spark.sql.types.StringType, "langIdFromLowered",
      Seq(toExpression(lower(text))), Nil,
      propagateNull = false, returnNullable = false))
  }

  /** Deterministic document fingerprint: md5 of whitespace-normalized
    * lowercased text (the exact-dedup key; DuckDB-checkable). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))
}
