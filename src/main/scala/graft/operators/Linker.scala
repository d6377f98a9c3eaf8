package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Gazetteer
import graft.Schemas._

/**
 * Entity linking (north rule: "dictionary + context scored linking per
 * mention") — the corpus-scale generalization of the reference's
 * dictionary-lookup join (src/prod.py:27-29, SURVEY.md §2.3 J4).
 *
 * Deterministic scoring ladder, broadcast dictionary, ROW-LOCAL (no
 * shuffle — the dictionary is the small side and lives in a broadcast,
 * the degenerate broadcast-hash join):
 *   1.0  exact lowercased gazetteer surface match
 *   0.9  speaker mention (first-person substituted by D3 -> role name)
 *   0.7  normalized match (strip non-alnum) against normalized gazetteer
 *   0.5  unlinked surface form -> stable surface id "sf:<tag>:<norm>"
 *        (canonicalization later merges these via alias resolution)
 */
object Linker {

  final case class Dict(exact: Map[String, String],
      normalized: Map[String, String]) extends Serializable

  /** Normalization for the 0.7 lookup rung and the sf: surface ids:
    * lowercase (Locale.ROOT), then strip every CODEPOINT outside
    * \p{L}\p{N} — the same character rule as Canonicalize.normKeyJvm, so
    * a pair of surfaces canonicalization merges under one normalized key
    * cannot carry two different sf: ids. Regex, not a per-Char filter:
    * Char.isLetterOrDigit strips astral-plane letters (each surrogate
    * half fails it) and misses \p{Nl}/\p{No} numerals. Documented
    * remaining divergence: normKeyJvm lowers through Spark's own Lower
    * expression (ICU, Final_Sigma) where this uses JDK lowercasing. */
  private val nonAlnum = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]")
  def norm(s: String): String =
    nonAlnum.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll("")

  def buildDict(entries: Seq[Gazetteer.Entry] = Gazetteer.entries): Dict = {
    val exact = Gazetteer.linkIndex
    val normalized = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      entries.sortBy(_.priority).foreach { e =>
        val k = norm(e.surface)
        if (k.nonEmpty && !m.contains(k)) m(k) = e.entityId
      }
      m.toMap
    }
    Dict(exact, normalized)
  }

  def linkOne(dict: Dict, m: Mention, speakerRoles: Set[String]): LinkedMention = {
    val lower = m.text.toLowerCase(java.util.Locale.ROOT)
    val (eid, score) =
      dict.exact.get(lower).map((_, 1.0))
        .orElse(if (speakerRoles.contains(lower)) Some((s"speaker:$lower", 0.9)) else None)
        .orElse(dict.normalized.get(norm(m.text)).map((_, 0.7)))
        .getOrElse((s"sf:${m.tag}:${norm(m.text)}", 0.5))
    LinkedMention(m.conv_id, m.turn_idx, m.tag, m.text, m.start, m.end,
      m.detector, m.score, eid, score)
  }

  private val roles = Set("user", "assistant", "system", "tool")

  /** mentions -> linked mentions; narrow (broadcast dictionary). */
  def link(spark: SparkSession, mentions: Dataset[Mention],
      bc: Broadcast[Dict]): Dataset[LinkedMention] = {
    import spark.implicits._
    mentions.mapPartitions { it =>
      val d = bc.value
      it.map(m => linkOne(d, m, roles))
    }
  }
}
