package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Schemas._
import graft.Gazetteer

/**
 * Span decode (SURVEY.md §2.8 D1) — exact semantics of the reference's
 * decode loop (src/prod.py:52-117):
 *
 *  - walk tokens in order; a non-"O" tag opens an entity (or continues the
 *    open one if the tag is equal — QUIRK: adjacent same-tag *distinct*
 *    entities merge into one span, there is no B-/I- distinction);
 *  - a tag change closes the open entity and opens a new one;
 *  - an "O" closes the open entity;
 *  - while open, `end` extends to the end of the current word (the HF
 *    subword cursor scan at src/prod.py:100-105; our tokens are whole
 *    words, so end = token.end);
 *  - a trailing open entity is flushed (src/prod.py:109-117);
 *  - entity text = text[start:end] of the ORIGINAL (uncased) turn text
 *    (src/prod.py:74-79).
 *
 * Then me-substitution (D3, src/prod.py:119-125): an entity whose lowercased
 * text is in {me, myself, i} is replaced by the speaker — the reference uses
 * channel_name; the transcript analog is the turn's `role` (the seed of
 * speaker coreference, SURVEY.md §2.2 P8). Runs BEFORE dedup, same order as
 * the reference.
 *
 * The implementation is row-local (tokens are a nested array — no
 * shuffle). The window/gaps-and-islands form of the same span merge (A8)
 * is the `q_segments` driver gate.
 */
object Decode {

  /** Exact imperative decode of one turn (order = token order). Object
    * form: the test reference for [[decodeEntitiesPacked]], which the
    * per-turn kernel runs. Hot-path note: the output buffer is allocated
    * LAZILY — the majority of turns in a real corpus are all-"O" and must
    * not pay a buffer + copy per turn. */
  def decodeEntities(text: String, toks: IndexedSeq[Token],
      tags: IndexedSeq[String]): Seq[Entity] = {
    var out: scala.collection.mutable.ArrayBuffer[Entity] = null
    @inline def push(e: Entity): Unit = {
      if (out == null) out = new scala.collection.mutable.ArrayBuffer[Entity](4)
      out += e
    }
    var curTag: String = null
    var curStart = 0
    var curEnd = 0
    var i = 0
    while (i < toks.length) {
      val tag = tags(i)
      if (tag != "O") {
        if (curTag == null || tag != curTag) {
          if (curTag != null)
            push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
          curTag = tag; curStart = toks(i).start; curEnd = toks(i).end
        } else {
          curEnd = toks(i).end // continue: extend to this word's end
        }
      } else if (curTag != null) {
        push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
        curTag = null
      }
      i += 1
    }
    if (curTag != null)
      push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
    if (out == null) Seq.empty
    // ArraySeq wrap, not .toSeq (r06): ArrayBuffer.toSeq delegates to
    // List.from — one cons cell per entity on the per-turn hot path;
    // allocation rate is the measured scaling limiter
    else scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
  }

  /** [[decodeEntities]] over packed start<<32|end token offsets — the
    * per-turn kernel's form (no Token objects; equivalence pinned by
    * PropertySpec packed == object decode). */
  def decodeEntitiesPacked(text: String, offs: Array[Long],
      tags: Array[String]): Seq[Entity] = {
    var out: scala.collection.mutable.ArrayBuffer[Entity] = null
    @inline def push(e: Entity): Unit = {
      if (out == null) out = new scala.collection.mutable.ArrayBuffer[Entity](4)
      out += e
    }
    var curTag: String = null
    var curStart = 0
    var curEnd = 0
    var i = 0
    while (i < offs.length) {
      val tag = tags(i)
      if (tag != "O") {
        if (curTag == null || tag != curTag) {
          if (curTag != null)
            push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
          curTag = tag
          curStart = (offs(i) >>> 32).toInt
          curEnd = offs(i).toInt
        } else {
          curEnd = offs(i).toInt // continue: extend to this word's end
        }
      } else if (curTag != null) {
        push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
        curTag = null
      }
      i += 1
    }
    if (curTag != null)
      push(Entity(curTag, text.substring(curStart, curEnd), curStart, curEnd))
    if (out == null) Seq.empty
    else scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray) // see decodeEntities
  }

  /**
   * Subword-accurate decode (reference src/prod.py:52-117 over REAL HF
   * word_ids/offsets): the engine's native tokens are whole words (so
   * [[decodeEntities]] suffices internally), but a user replaying
   * reference fixtures has WordPiece subtokens where one word spans
   * several subtokens and special tokens carry word_id = None. Exact
   * reference semantics:
   *
   *  - subtokens with word_id = None ([CLS]/[SEP]/pad) are SKIPPED
   *    (prod.py:56-57); encode None as -1 here;
   *  - only the FIRST subtoken of each word is consulted for its tag
   *    (prod.py:59, `word_idx != previous_word_idx`);
   *  - while an entity is open, its end extends to the end of the
   *    CURRENT WORD — the forward cursor scan over the remaining
   *    subtokens of the same word (prod.py:100-105), NOT just the first
   *    subtoken's end;
   *  - same open/extend/close quirks as [[decodeEntities]] (adjacent
   *    same-tag entities merge; trailing entity flushed).
   *
   * @param wordIds  per-subtoken word index, -1 for None
   * @param starts   per-subtoken char start offsets
   * @param ends     per-subtoken char end offsets
   * @param tags     per-subtoken predicted tag strings ("O" default;
   *                 only first-subtoken tags are ever read)
   */
  def decodeSubword(text: String, wordIds: Array[Int], starts: Array[Int],
      ends: Array[Int], tags: Array[String]): Seq[Entity] = {
    var out: scala.collection.mutable.ArrayBuffer[Entity] = null
    @inline def push(tag: String, s: Int, e: Int): Unit = {
      if (out == null) out = new scala.collection.mutable.ArrayBuffer[Entity](4)
      out += Entity(tag, text.substring(s, e), s, e)
    }
    var curTag: String = null
    var curStart = 0
    var curEnd = 0
    var prevWord = Int.MinValue // previous word_id INCLUDING -1 rounds skipped
    var i = 0
    while (i < wordIds.length) {
      val w = wordIds(i)
      if (w != -1) {
        if (w != prevWord) {
          val tag = tags(i)
          if (tag != "O") {
            if (curTag == null || tag != curTag) {
              if (curTag != null) push(curTag, curStart, curEnd)
              curTag = tag; curStart = starts(i); curEnd = ends(i)
            }
            // same tag: entity continues; end set by the word-end scan below
          } else if (curTag != null) {
            push(curTag, curStart, curEnd)
            curTag = null
          }
          if (curTag != null) {
            // word-end extension (prod.py:100-105): cursor to the last
            // subtoken of THIS word; the open entity ends there
            var cursor = i
            while (cursor + 1 < wordIds.length && wordIds(cursor + 1) == w)
              cursor += 1
            curEnd = ends(cursor)
          }
        }
        prevWord = w
      }
      i += 1
    }
    if (curTag != null) push(curTag, curStart, curEnd)
    if (out == null) Seq.empty else out.toSeq
  }

  /** Me-substitution (D3): first-person mention -> speaker.
    *
    * r06 hot-path form: copy-on-write — the overwhelming majority of
    * turns contain no first-person mention, and the unconditional .map
    * rebuilt the whole entity seq (plus one lowercase alloc PER entity)
    * every turn. The length pre-filter is sound: toLowerCase(ROOT) never
    * shortens a string (special casing only expands, e.g. İ), so a text
    * longer than the longest stop word cannot lower into the set. */
  private val MeStopMaxLen = Gazetteer.MeStopWords.map(_.length).max
  @inline private def isMe(e: Entity): Boolean =
    e.text.length <= MeStopMaxLen &&
      Gazetteer.MeStopWords.contains(e.text.toLowerCase(java.util.Locale.ROOT))
  def meSubstitute(entities: Seq[Entity], speaker: String): Seq[Entity] = {
    // iterator, not indexed access: callers may pass a List, where
    // length/apply would be O(n)/O(i)
    val it = entities.iterator
    var any = false
    while (it.hasNext && !any) if (isMe(it.next())) any = true
    if (!any) entities
    else entities.map(e => if (isMe(e)) e.copy(text = speaker) else e)
  }

  /** One decoded turn's gazetteer mentions (FIXTURES.md §3 `mentions`
    * schema). */
  def gazetteerMentions(d: DecodedTurn): Seq[Mention] =
    d.entities.map(e => Mention(d.conv_id, d.turn_idx, e.tag, e.text,
      e.start, e.end, "gazetteer:ac", 1.0))

  /** Long-format gazetteer mentions view of decoded turns. */
  def mentions(spark: SparkSession, decoded: Dataset[DecodedTurn]): Dataset[Mention] = {
    import spark.implicits._
    decoded.flatMap(gazetteerMentions)
  }
}
