package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Schemas._

/**
 * Window coreference within each conversation (north rule: "window-based
 * coreference within each conv_id ordered by turn_idx") — the corpus
 * generalization of the reference's first-person substitution
 * (src/prod.py:119-125; D3 already handles me/myself/i row-locally).
 *
 * Semantics: a turn that contains an anaphor token ("it" / "that" +
 * "song|track|tune") and has NO title entity of its own refers to the
 * most recent TITLE entity within the previous `window` turns of the same
 * conversation. Emits (doc_key, refers_to, title) triples.
 *
 * The semantics live HERE, once: [[row]] is the one titles+anaphor
 * projection and [[step]] the one recency state machine. Every path runs
 * them — [[resolve]] and [[SkewSalting.corefSalted]] through
 * [[resolveRows]], `StatefulCoref.resolveStream` inside
 * `flatMapGroupsWithState`.
 *
 * Physical shape — the scale-critical part: this is the pipeline's ONE
 * intentional wide stage over turns. Instead of groupByKey (which would
 * materialize whole conversations — unbounded for hot convs), we
 *   repartition(conv_id, chunk) + sortWithinPartitions(conv_id, chunk,
 *   turn_idx) + mapPartitions over [[step]]
 * holding only the last `window` titles — O(window) memory per task no
 * matter how hot the conversation (SURVEY.md §4.3 skew note; W5 stable
 * turn ordering).
 */
object Coref {

  private val anaphor = java.util.regex.Pattern.compile(
    "(?i)\\b(it|that (song|track|tune))\\b")

  final case class CorefLink(conv_id: String, turn_idx: Int,
      antecedent: String, antecedent_turn: Int)

  /** The PRUNED record the coref shuffle carries: coref reads only the
    * titles and whether the turn is an anaphoric reference, so the
    * anaphor regex is evaluated on the NARROW side and `text`, `role`,
    * `tool` and non-TITLE entities never cross the exchange — the
    * shuffle ships a boolean and a (usually empty) title list per turn
    * instead of the full nested DecodedTurn (~10x payload cut; the regex
    * work also lands in the embarrassingly-parallel stage). `chunk` and
    * `is_ctx` are the salting key and context flag of
    * [[SkewSalting.corefSalted]], which chunks every conversation by
    * turn_idx; [[resolve]]'s rows all carry chunk 0 (one chunk per
    * conversation). */
  final case class CorefRow(conv_id: String, chunk: Int, is_ctx: Boolean,
      turn_idx: Int, anaphor: Boolean, titles: Seq[String])

  /** The one projection: a decoded turn as an unsalted [[CorefRow]]. */
  private[graft] def row(d: DecodedTurn): CorefRow = {
    val titles = d.entities.collect { case e if e.tag == "TITLE" => e.text }
    CorefRow(d.conv_id, 0, is_ctx = false, d.turn_idx,
      titles.isEmpty && d.text != null && anaphor.matcher(d.text).find(),
      titles)
  }

  /** The one recency step: resolve `r` against `recent` — (turn_idx,
    * title) pairs of the conversation, most recent first, at most
    * `window + 1` — and return the link (if any) and the new `recent`.
    * Context rows (`is_ctx`) update `recent` and emit nothing; state is
    * updated AFTER resolving, so a turn is never its own antecedent.
    *
    * Two rules make the step safe on out-of-order input (the streaming
    * path, across micro-batches): the antecedent must PRECEDE the
    * anaphor (ti < turn_idx), and a back-filled old title is inserted in
    * recency order rather than masking newer ones. On input sorted by
    * turn_idx both are no-ops except for a duplicate (conv_id,
    * turn_idx), whose result already depends on sort ties. */
  private[graft] def step(recent: List[(Int, String)], r: CorefRow,
      window: Int): (Option[CorefLink], List[(Int, String)]) = {
    val link =
      if (r.is_ctx || !r.anaphor) None
      else recent.find { case (ti, _) =>
        ti < r.turn_idx && r.turn_idx - ti <= window
      }.map { case (ti, t) => CorefLink(r.conv_id, r.turn_idx, t, ti) }
    val next = r.titles.foldLeft(recent) { (acc, t) =>
      val (newer, older) = acc.span(_._1 > r.turn_idx)
      (newer ::: (r.turn_idx, t) :: older).take(window + 1)
    }
    (link, next)
  }

  /** The one batch pipeline over projected (and possibly salted) rows:
    * repartition(conv_id, chunk) → sortWithinPartitions(conv_id, chunk,
    * turn_idx) → [[step]] per (conv_id, chunk), `recent` reset at each
    * key change. */
  private[operators] def resolveRows(spark: SparkSession,
      rows: Dataset[CorefRow], window: Int): Dataset[CorefLink] = {
    import spark.implicits._
    rows
      .repartition(col("conv_id"), col("chunk"))
      .sortWithinPartitions(col("conv_id"), col("chunk"), col("turn_idx"))
      .mapPartitions { it =>
        var conv: String = null
        var chunk = 0
        var recent = List.empty[(Int, String)]
        it.flatMap { r =>
          if (r.conv_id != conv || r.chunk != chunk) {
            conv = r.conv_id; chunk = r.chunk; recent = Nil
          }
          val (link, next) = step(recent, r, window)
          recent = next
          link
        }
      }
  }

  /** Unsalted coref: every conversation is one chunk. */
  def resolve(spark: SparkSession, decoded: Dataset[DecodedTurn],
      window: Int = 5): Dataset[CorefLink] = {
    import spark.implicits._
    resolveRows(spark, decoded.map(row), window)
  }

  /** Coref links as refers_to triples (distinct predicate — excluded from
    * the reference-parity gate by construction, FIXTURES.md §3). */
  def triples(spark: SparkSession, links: Dataset[CorefLink]): Dataset[Triple] = {
    import spark.implicits._
    links.map(l => Triple(s"${l.conv_id}#${l.turn_idx}", "refers_to",
      l.antecedent, l.conv_id, l.turn_idx, s"coref:recency@${l.antecedent_turn}"))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
