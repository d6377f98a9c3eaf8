package graft.operators

/**
 * Per-document order-sensitive entity dedup — exact semantics of the
 * reference's `filter_unique_entities` (src/prod.py:178-213):
 *
 *  1. char-level TF-IDF cosine pass: for every pair (i, j) with i < j, if
 *     cosine > 0.5 the LATER entity j is dropped (earlier wins); marks are
 *     taken on the original matrix, so a dropped entity still drops later
 *     ones;
 *  2. greedy Levenshtein pass over the survivors in order: keep an entity
 *     iff its distance to every already-kept entity is > 3.
 *
 * Both tests run the alias graph's one kernel in [[Canonicalize]]: the
 * char idf of `charDf`/`idfWeight`, one `Key` (code-point tf-idf vector)
 * per lowercased entity, and the code-point Levenshtein `jvmLev` over the
 * original strings. With the idf over the turn's own entity list this is
 * sklearn TfidfVectorizer(analyzer="char", lowercase=True) +
 * cosine_similarity: tf = raw char count, smooth idf =
 * ln((1+n)/(1+df)) + 1, vector L2-normalized, cosine = dot product.
 * Python iterates a str by code points, so an astral char (an emoji in a
 * title) is one char and one edit in both passes.
 *
 * sklearn raises on an empty vocabulary (all entities empty strings); the
 * reference then falls back to `list(set(entities))` whose order is
 * nondeterministic in Python — we pin the deterministic choice
 * "first-occurrence order" and document the divergence (SURVEY.md §2.6 O5).
 *
 * This runs ROW-LOCAL (entity lists are per-turn and tiny) — no shuffle,
 * no distributed linear algebra; at 100 TB it rides inside the same
 * narrow stage as detection and decode.
 */
object GreedyDedup {

  /** The exact two-pass dedup. Input order = decode order (must be stable). */
  def filterUniqueEntities(entities: Seq[String]): Seq[String] = {
    if (entities.isEmpty) return Seq.empty
    // fast path: a single entity passes both passes unchanged (the common
    // case at corpus scale — skips all TF-IDF/Levenshtein allocation)
    if (entities.lengthCompare(1) == 0) return entities
    val afterTfidf: Seq[String] =
      if (!entities.exists(_.nonEmpty)) {
        // sklearn "empty vocabulary" error path -> reference falls back to
        // list(set(...)); we pin first-occurrence order (deterministic).
        entities.distinct
      } else {
        val lowered = entities.map(_.toLowerCase(java.util.Locale.ROOT))
        // sklearn's n counts empty documents; charDf's own n skips them
        val idf = Canonicalize.idfWeight(entities.length,
          Canonicalize.charDf(lowered.iterator)._2)
        val keys = lowered.map(Canonicalize.key(_, idf)).toArray
        entities.indices.filterNot(j =>
          (0 until j).exists(i => keys(i).cosine(keys(j)) > 0.5))
          .map(entities)
      }
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Int])]
    afterTfidf.foreach { e =>
      val cps = e.codePoints().toArray
      if (kept.forall(k => Canonicalize.jvmLev(cps, k._2) > 3)) kept += ((e, cps))
    }
    kept.map(_._1).toSeq
  }
}
