package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Gazetteer
import graft.Schemas._
import graft.functions.PyText

/**
 * Structured-result assembly + triple emission (SURVEY.md §2.8 D4-D7,
 * FIXTURES.md §3 deterministic triple rule).
 *
 * Per turn (the analog of the reference's per-document structured result,
 * src/prod.py:127-143):
 *  1. per-tag greedy dedup, exact reference order semantics
 *     ([[GreedyDedup.filterUniqueEntities]], src/prod.py:178-213);
 *  2. MODIFIER list lemmatized (src/config/config.py:23-28) then
 *     Python-titlecased (src/prod.py:139-143, [[PyText.pyTitle]]);
 *  3. triples: ∀ TITLE t (post-dedup order):
 *       (t, performed_by, x) ∀x∈ORIGINAL_AUTHOR; (t, featuring, x)
 *       ∀x∈FEATURING; (t, vocal_by, x) ∀x∈VOCALIST∪VOCALOID;
 *       (t, on_album, x) ∀x∈ALBUM; (t, modifier, x) ∀x∈MODIFIER;
 *       (t, alt_title, x) ∀x∈ALT_TITLE;
 *     plus (doc_key, mentions_person, x) ∀x∈MISC_PERSON,
 *     doc_key = "<conv_id>#<turn_idx>".
 *
 * Everything is row-local (entity lists are tiny, per-turn) — the triple
 * stage adds NO shuffle; at 10^12 turns it pipelines inside the same
 * narrow stage as detection.
 */
object Triples {

  private val resultTags = Seq("ORIGINAL_AUTHOR", "TITLE", "FEATURING",
    "MODIFIER", "VOCALOID", "MISC_PERSON", "VOCALIST", "ALT_TITLE", "ALBUM")
  // fixed tag positions for the array-indexed hot path
  private val resultTagArr = resultTags.toArray
  private final val IOrig = 0; private final val ITitle = 1
  private final val IFeat = 2; private final val IMod = 3
  private final val IVocaloid = 4; private final val IMisc = 5
  private final val IVocalist = 6; private final val IAlt = 7
  private final val IAlbum = 8
  @inline private def tagIdx(tag: String): Int = tag match {
    case "ORIGINAL_AUTHOR" => IOrig
    case "TITLE" => ITitle
    case "FEATURING" => IFeat
    case "MODIFIER" => IMod
    case "VOCALOID" => IVocaloid
    case "MISC_PERSON" => IMisc
    case "VOCALIST" => IVocalist
    case "ALT_TITLE" => IAlt
    case "ALBUM" => IAlbum
    case _ => -1 // non-result tags are dropped (reference reads only these 9)
  }

  /** Per-tag dedup + modifier normalization: the reference's structured
    * result as a Map(tag -> entity list), reference order preserved.
    *
    * Hot-path note: this runs once per turn of a 10^12-turn corpus, so
    * entities are grouped in ONE pass (the reference filters the list 9
    * times, src/prod.py:128-137 — same result, per-tag order preserved
    * either way since grouping keeps encounter order). */
  private val emptyResult: Map[String, Seq[String]] =
    resultTags.map(_ -> Seq.empty[String]).toMap

  def structuredResult(entities: Seq[Entity]): Map[String, Seq[String]] = {
    // fast path: most turns of a real corpus carry no entities at all —
    // share one immutable empty result instead of rebuilding it per turn
    if (entities.isEmpty) return emptyResult
    val arr = structuredArraysShared(entities)
    resultTags.zipWithIndex.map { case (t, i) => t -> arr(i) }.toMap
  }

  private val emptyArrays: Array[Seq[String]] =
    Array.fill(9)(Seq.empty[String])

  /** The array-indexed form of [[structuredResult]] (index = fixed
    * position of the tag in the reference's 9-tag result, see tagIdx) —
    * the fused hot path's form: one pass, no per-turn Map/HashMap. The
    * Map form above delegates here, so there is one dedup/normalize
    * implementation. Callers MUST NOT mutate the result (the empty case
    * is a shared instance); its consumers ([[emitArrays]] and the Map
    * form) never do. */
  private[graft] def structuredArraysShared(entities: Seq[Entity]): Array[Seq[String]] = {
    if (entities.isEmpty) return emptyArrays
    val grouped = new Array[scala.collection.mutable.ArrayBuffer[String]](9)
    entities.foreach { e =>
      val i = tagIdx(e.tag)
      if (i >= 0) {
        var b = grouped(i)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[String](4)
          grouped(i) = b
        }
        b += e.text
      }
    }
    val out = new Array[Seq[String]](9)
    var i = 0
    while (i < 9) {
      out(i) = if (grouped(i) == null) Seq.empty[String]
        // ArraySeq wrap, not .toSeq (List.from) — hot path, see Decode
        else GreedyDedup.filterUniqueEntities(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(
            grouped(i).toArray))
      i += 1
    }
    if (out(IMod).nonEmpty)
      out(IMod) = out(IMod)
        .map(m => Gazetteer.ModifierLemmas.getOrElse(
          m.toLowerCase(java.util.Locale.ROOT),
          m.toLowerCase(java.util.Locale.ROOT)))
        .map(PyText.pyTitle)
    out
  }

  /** FIXTURES.md §3 triple rule over one turn's structured result.
    * Test reference for [[emitArrays]] (ScaleSpec). */
  def emit(convId: String, turnIdx: Int, result: Map[String, Seq[String]],
      evidence: String): Seq[Triple] = {
    val arr = new Array[Seq[String]](9)
    var i = 0
    while (i < 9) { arr(i) = result(resultTagArr(i)); i += 1 }
    emitArrays(convId, turnIdx, arr, evidence)
  }

  /** [[emit]] over the array-indexed structured result (hot-path form;
    * the Map form delegates here). */
  def emitArrays(convId: String, turnIdx: Int, result: Array[Seq[String]],
      evidence: String): Seq[Triple] = {
    // every triple hangs off a TITLE subject or a MISC_PERSON object —
    // the (majority) turns with neither emit nothing: skip all allocation
    if (result(ITitle).isEmpty && result(IMisc).isEmpty)
      return Seq.empty
    def tr(s: String, p: String, o: String) =
      Triple(s, p, o, convId, turnIdx, evidence)
    val out = scala.collection.mutable.ArrayBuffer.empty[Triple]
    result(ITitle).foreach { t =>
      result(IOrig).foreach(x => out += tr(t, "performed_by", x))
      result(IFeat).foreach(x => out += tr(t, "featuring", x))
      result(IVocalist).foreach(x => out += tr(t, "vocal_by", x))
      result(IVocaloid).foreach(x => out += tr(t, "vocal_by", x))
      result(IAlbum).foreach(x => out += tr(t, "on_album", x))
      result(IMod).foreach(x => out += tr(t, "modifier", x))
      result(IAlt).foreach(x => out += tr(t, "alt_title", x))
    }
    if (result(IMisc).nonEmpty) {
      val docKey = s"$convId#$turnIdx"
      result(IMisc).foreach(x => out += tr(docKey, "mentions_person", x))
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray) // not List.from
  }

  /** decoded turns -> triples (narrow, row-local). */
  def triples(spark: SparkSession, decoded: Dataset[DecodedTurn]): Dataset[Triple] = {
    import spark.implicits._
    decoded.flatMap { d =>
      emitArrays(d.conv_id, d.turn_idx, structuredArraysShared(d.entities),
        "gazetteer:ac")
    }
  }
}
