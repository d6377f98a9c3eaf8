package graft.functions

import graft.Schemas.Token

/**
 * Python-string-semantics text primitives, pinned to the reference's
 * behavior by golden fixtures (see TokenizerSpec / PyTextSpec).
 *
 * Why these exist: the reference's extraction core is defined in terms of
 * CPython string semantics (str.isspace / str.title,
 * codepoint indexing), which differ from the JVM defaults in edge cases
 * (NBSP, \x1c-\x1f, titlecasing after digits, astral-plane indexing).
 * Everything here is pure, allocation-light, and safe to call per-row
 * inside whole-stage-codegen'd projections or mapPartitions.
 *
 * Reference semantics: src/tokenizer/TokenizerCustom.py:7-28 (tokenizer),
 * src/prod.py:20-24 + src/data/database.py:67-75 (UTF-16<->codepoint),
 * src/prod.py:143 (str.title).
 */
object PyText {

  /** The reference tokenizer's word pattern (TokenizerCustom.py:9):
    * CJK ideographs / hiragana / katakana+prolonged / fullwidth latin+digits /
    * iteration marks / ASCII digits / combining (han)dakuten / Hungarian
    * accented vowels — as one alternative — or plain ASCII alnum; either
    * followed by any run of '.' or '!'. */
  private val classA = "一-龠ぁ-ゔァ-ヴーａ-ｚＡ-Ｚ０-９々〆〤0-9゙゚" +
    "áíóöőüúűéÁÍÚÜŰÓÖŐÉ"
  private val wordPattern = java.util.regex.Pattern.compile(
    s"([$classA]+|[a-zA-Z0-9]+)[.!]*")

  /** BMP membership tables for the scanner form of the tokenizer,
    * GENERATED from the regex character classes themselves (single source
    * of truth — no hand-transcribed ranges to get wrong; equivalence with
    * the regex form is additionally property-tested on random unicode).
    * The classes contain no astral characters, so any surrogate is
    * out-of-class, exactly as in the regex. */
  private val inA: Array[Boolean] = {
    val p = java.util.regex.Pattern.compile(s"[$classA]")
    Array.tabulate(65536) { c =>
      !Character.isSurrogate(c.toChar) &&
        p.matcher(String.valueOf(c.toChar)).matches()
    }
  }
  @inline private def inB(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** CPython str.isspace for a single codepoint: Unicode categories
    * Zs/Zl/Zp plus the bidirectional-WS/B/S control chars. */
  def pyIsSpaceCp(cp: Int): Boolean = cp match {
    case 0x09 | 0x0a | 0x0b | 0x0c | 0x0d | 0x1c | 0x1d | 0x1e | 0x1f | 0x85 => true
    case _ =>
      val t = Character.getType(cp)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
  }

  /** CPython str.isspace: non-empty and all codepoints are space. */
  def pyIsSpace(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!pyIsSpaceCp(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }

  private def isCased(cp: Int): Boolean =
    Character.isUpperCase(cp) || Character.isLowerCase(cp) || Character.isTitleCase(cp)

  /** CPython str.title: titlecase the first cased char of every cased run,
    * lowercase the rest (boundary = ANY uncased char, unlike Spark initcap
    * which only splits on whitespace). Reference use: src/prod.py:143. */
  def pyTitle(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val thisCased = isCased(cp)
      val out =
        if (thisCased && !prevCased) Character.toTitleCase(cp)
        else if (thisCased) Character.toLowerCase(cp)
        else cp
      sb.appendCodePoint(out)
      prevCased = thisCased
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Codepoint index -> UTF-16 code-unit index (src/prod.py:20-24).
    * Java strings are UTF-16 natively so this is offsetByCodePoints. */
  def cpToUtf16(text: String, cpIndex: Int): Int =
    text.offsetByCodePoints(0, cpIndex)

  /** UTF-16 code-unit index -> codepoint index (src/data/database.py:67-75). */
  def utf16ToCp(text: String, u16Index: Int): Int =
    text.codePointCount(0, u16Index)

  /** [[tokenizeWithOffsets]] with offsets converted to CODEPOINT indices
    * in ONE forward walk (calling [[utf16ToCp]] per boundary would be
    * O(n^2) over a long document). The plain form emits UTF-16 unit
    * offsets — the slicing space of every JVM-internal consumer; spans
    * sourced from the REFERENCE's records (Python len()/slice semantics)
    * are codepoint-indexed, so joins against them must use this form or
    * every offset after the first astral character is off. */
  def tokenizeWithOffsetsCp(text: String): Array[graft.Schemas.Token] = {
    val toks = tokenizeWithOffsets(text)
    var u = 0 // UTF-16 cursor
    var cp = 0 // codepoint cursor
    @inline def advanceTo(target: Int): Int = {
      while (u < target) {
        // token boundaries never split a surrogate pair, so stepping by
        // codePointAt's char count stays aligned
        u += Character.charCount(text.codePointAt(u))
        cp += 1
      }
      cp
    }
    toks.map(t => graft.Schemas.Token(t.tok, advanceTo(t.start), advanceTo(t.end)))
  }

  /**
   * The reference custom tokenizer (TokenizerCustom.py:7-28), with the
   * offsets the Python version discards (we need them for span arithmetic):
   * a view over [[tokenizeOffsetsPacked]]'s scanner.
   *
   * Algorithm parity:
   *  - regex word matches are kept whole;
   *  - gaps between matches are exploded to single CODEPOINTS (Python
   *    list(str) iterates codepoints — a surrogate pair must stay one
   *    token);
   *  - whitespace tokens are dropped except a literal "\n".
   *
   * Offsets are UTF-16 code-unit indices into `text` (substring-ready).
   */
  def tokenizeWithOffsets(text: String): Array[Token] =
    tokenizeOffsetsPacked(text).map { o =>
      val s = (o >>> 32).toInt; val e = o.toInt
      Token(text.substring(s, e), s, e)
    }

  /**
   * [[tokenizeWithOffsets]]' boundaries, packed start<<32|end into a
   * primitive long array — the fused extraction path never reads the
   * token substrings (the detector aligns on boundaries, the decoder
   * slices the original text), so the per-turn kernel allocates no Token
   * objects or substrings.
   *
   * Implemented as a table-driven scanner, not a regex find() loop: this
   * runs once per turn of a 10^12-turn corpus and the regex engine was
   * the single largest per-turn cost (measured ~25% end-to-end via
   * graft.Micro). The scanner is EXACTLY the pattern's semantics — at
   * each position try [classA]+ first, else [a-zA-Z0-9]+, then swallow
   * the [.!]* suffix; unmatched codepoints explode as single tokens —
   * with class membership read from tables generated from the regex
   * classes themselves. [[tokenizeWithOffsetsRegex]] keeps the direct
   * regex form; PropertySpec pins scanner == regex on random unicode.
   */
  def tokenizeOffsetsPacked(text: String): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(text.length / 4 + 4)
    val n = text.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      var j = -1
      if (inA(c)) {
        j = i + 1
        while (j < n && inA(text.charAt(j))) j += 1
      } else if (inB(c)) {
        j = i + 1
        while (j < n && inB(text.charAt(j))) j += 1
      }
      if (j > 0) {
        // word match: swallow the [.!]* suffix; class chars are never
        // whitespace so the match always survives the whitespace filter
        while (j < n && { val s = text.charAt(j); s == '.' || s == '!' }) j += 1
        out += (i.toLong << 32) | j.toLong
        i = j
      } else {
        // gap: one codepoint, dropped iff whitespace other than "\n"
        val cp = text.codePointAt(i)
        val w = Character.charCount(cp)
        if (cp == '\n' || !pyIsSpaceCp(cp))
          out += (i.toLong << 32) | (i + w).toLong
        i += w
      }
    }
    out.result()
  }

  /** The direct regex form of [[tokenizeWithOffsets]], off the hot path.
    * Test reference for the table-driven scanner (PropertySpec). */
  private[graft] def tokenizeWithOffsetsRegex(text: String): Array[Token] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Token]
    def explodeGap(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val cp = text.codePointAt(i)
        val n = Character.charCount(cp)
        val t = text.substring(i, i + n)
        if (t == "\n" || !pyIsSpace(t)) out += Token(t, i, i + n)
        i += n
      }
    }
    val m = wordPattern.matcher(text)
    var cur = 0
    while (m.find()) {
      if (cur < m.start) explodeGap(cur, m.start)
      val t = text.substring(m.start, m.end)
      if (t == "\n" || !pyIsSpace(t)) out += Token(t, m.start, m.end)
      cur = m.end
    }
    if (cur < text.length) explodeGap(cur, text.length)
    out.toArray
  }

  /** Token strings only (the Python encode() return shape). */
  def tokenize(text: String): Array[String] = tokenizeWithOffsets(text).map(_.tok)
}
