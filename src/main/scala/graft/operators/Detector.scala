package graft.operators

import graft.Gazetteer
import graft.Schemas._

/**
 * Mention detection (SURVEY.md §2.8 M1): the deterministic replacement for
 * the reference's ONNX token classifier (src/model/ModelWrapper.py:128-139;
 * argmax at src/prod.py:38).
 *
 * Physical shape — the scale-critical part:
 *  - the Aho-Corasick automaton over all gazetteer surfaces is built ONCE
 *    per JVM, on first use, as [[model]] (the analog of per-process model
 *    load + warmup, src/prod.py:14-15): it is a pure function of the
 *    compiled-in gazetteer, so each executor builds its own and nothing is
 *    broadcast;
 *  - detection runs per turn inside [[graft.Pipeline.turnEntities]] under
 *    a `mapPartitions` (model read once per partition) — a NARROW
 *    transformation, so the detect→decode→dedup→triple core needs NO
 *    shuffle;
 *  - matching is case-insensitive (text and surfaces lowercased per code
 *    point, so offsets in the lowered text are offsets in the turn) and
 *    token-aligned: a hit must start on a token start and end on a token
 *    end (or the token's word-core end, before its `[.!]*` suffix), which
 *    reproduces "the model tags whole words";
 *  - overlaps resolve leftmost-longest: patterns are distinct lowercased
 *    surfaces, so a (start, length) pair names exactly one pattern and the
 *    order needs no tie-break — fully deterministic under any partitioning.
 */
object Detector {

  /** Detector state: the automaton over the distinct lowercased surfaces
    * and each pattern's tag, chosen at build time by gazetteer priority. */
  final case class Model(ac: AhoCorasick, tags: Array[String]) extends Serializable

  /** The model over the compiled-in gazetteer, built once per JVM — on
    * the driver and on every executor alike. Task closures read it here;
    * a model over other entries comes from [[buildModel]]. */
  lazy val model: Model = buildModel()

  def buildModel(entries: Seq[Gazetteer.Entry] = Gazetteer.entries): Model = {
    // one automaton pattern per distinct lowercased surface; tag of a
    // surface = the entry with min (priority, gazetteer order) — same
    // deterministic rule as Gazetteer.linkIndex.
    val byLower = scala.collection.mutable.LinkedHashMap
      .empty[String, Gazetteer.Entry]
    entries.sortBy(_.priority).foreach { e =>
      val k = lower(e.surface)
      if (!byLower.contains(k)) byLower(k) = e
    }
    Model(AhoCorasick.build(byLower.keys.toArray),
      byLower.values.map(_.tag).toArray)
  }

  /** Lowercase per code point (`Character.toLowerCase(int)`). Unlike
    * `String.toLowerCase`, it never changes a code point's char count
    * (U+0130 'İ' becomes one char, not two), so an offset into the result
    * is the same offset into `s`. */
  private[graft] def lower(s: String): String = {
    val out = new Array[Char](s.length)
    var i = 0
    while (i < s.length) {
      val cp = Character.toLowerCase(s.codePointAt(i))
      i += Character.toChars(cp, out, i)
    }
    new String(out)
  }

  /** Tag one turn's tokens. Returns the per-token tag array ("O" default).
    * Object form: the test reference for [[tagTokensPacked]], which the
    * per-turn kernel runs.
    *
    * Allocation discipline: this runs for EVERY turn of a 10^12-turn
    * corpus; the workload is allocation-rate bound (measured: per-thread
    * throughput halves from 8 to 32 threads with boxed collections), so
    * token alignment uses sorted primitive arrays + binary search and the
    * automaton returns packed longs — no boxing on the per-turn path. */
  def tagTokens(model: Model, text: String, toks: Array[Token]): Array[String] = {
    val starts = new Array[Int](toks.length)
    val ends = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) {
      starts(i) = toks(i).start; ends(i) = toks(i).end; i += 1
    }
    tagTokensCore(model, text, starts, ends)
  }

  /** [[tagTokens]] over packed start<<32|end offsets
    * ([[graft.functions.PyText.tokenizeOffsetsPacked]]) — the per-turn
    * kernel's form: no Token objects anywhere. */
  def tagTokensPacked(model: Model, text: String, offs: Array[Long]): Array[String] = {
    val starts = new Array[Int](offs.length)
    val ends = new Array[Int](offs.length)
    var i = 0
    while (i < offs.length) {
      starts(i) = (offs(i) >>> 32).toInt; ends(i) = offs(i).toInt; i += 1
    }
    tagTokensCore(model, text, starts, ends)
  }

  private def tagTokensCore(model: Model, text: String,
      starts: Array[Int], ends: Array[Int]): Array[String] = {
    val nToks = starts.length
    val tags = Array.fill(nToks)("O")
    if (nToks == 0) return tags
    // boundary arrays for token alignment (token starts/ends are sorted)
    val coreEnds = new Array[Int](nToks) // ends minus [.!]* suffix
    var i = 0
    while (i < nToks) {
      var e = ends(i)
      while (e > starts(i) &&
          (text.charAt(e - 1) == '.' || text.charAt(e - 1) == '!')) e -= 1
      coreEnds(i) = e
      i += 1
    }
    // the longest aligned match per token start, as a pattern id (-1 none);
    // allocated only when the turn has an aligned match
    val pats = model.ac.patterns
    var longest: Array[Int] = null
    val raw = model.ac.findAllPacked(lower(text))
    var r = 0
    while (r < raw.length) {
      val pid = (raw(r) >>> 32).toInt
      val end = (raw(r) & 0xffffffffL).toInt
      val k = java.util.Arrays.binarySearch(starts, end - pats(pid).length)
      if (k >= 0 && (java.util.Arrays.binarySearch(ends, end) >= 0 ||
          java.util.Arrays.binarySearch(coreEnds, end) >= 0)) {
        if (longest == null) longest = Array.fill(nToks)(-1)
        if (longest(k) < 0 || pats(longest(k)).length < pats(pid).length)
          longest(k) = pid
      }
      r += 1
    }
    if (longest == null) return tags
    // leftmost-longest sweep: a match claims its tokens unless an earlier
    // claimed match still covers its start
    var occupiedUntil = -1
    var k = 0
    while (k < nToks) {
      val pid = longest(k)
      val s = starts(k)
      if (pid >= 0 && s >= occupiedUntil) {
        val e = s + pats(pid).length
        occupiedUntil = e
        val tag = model.tags(pid)
        var j = k
        while (j < nToks && ends(j) <= e) { tags(j) = tag; j += 1 }
        // a token whose word-core end == e (match ends before its [.!]*
        // suffix) is still fully claimed by the match
        if (j < nToks && starts(j) < e) tags(j) = tag
      }
      k += 1
    }
    tags
  }

  private val quotedSpan = java.util.regex.Pattern.compile(
    "[\"“]([^\"“”]{2,64})[\"”]")

  /**
   * Regex mention source (SURVEY.md §7.2: mention sources are UNIONED —
   * gazetteer hits ∪ regex hits): a quoted span that is not already a
   * gazetteer hit is an ALT_TITLE candidate (quoting is how transcripts
   * introduce unknown titles). Lower confidence (0.6) than gazetteer
   * mentions; row-local.
   */
  def regexMentions(model: Model, convId: String, turnIdx: Int,
      text: String): Seq[Mention] = {
    if (text == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    val m = quotedSpan.matcher(text)
    while (m.find()) {
      // bounds track the TRIMMED surface (String.trim's rule: <= ' '), so
      // the invariant every mention source keeps — text == slice(start,
      // end) — holds for padded quotes like "he said \" Ghost Rule \""
      // too; group bounds over the padding would make offset consumers
      // (evidence slicing, span-identity dedup) see a different surface
      // than Mention.text
      var s = m.start(1); var e = m.end(1)
      while (s < e && text.charAt(s) <= ' ') s += 1
      while (e > s && text.charAt(e - 1) <= ' ') e -= 1
      val inner = text.substring(s, e)
      val innerLower = lower(inner)
      // skip spans the gazetteer already covers (union, not duplicate)
      val known = model.ac.findAllPacked(innerLower).exists { p =>
        model.ac.patterns((p >>> 32).toInt) == innerLower
      }
      if (inner.nonEmpty && !known) {
        out += Mention(convId, turnIdx, "ALT_TITLE", inner, s, e,
          "regex:quoted", 0.6)
      }
    }
    out.toSeq
  }
}
