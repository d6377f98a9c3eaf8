package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Schemas._
import graft.operators.Coref

/**
 * Stateful streaming coreference: the cross-batch generalization of
 * [[graft.operators.Coref]] using `flatMapGroupsWithState` — per-conv_id
 * state holds the last `window` TITLE mentions, so an anaphor arriving in
 * a LATER micro-batch still resolves to an antecedent seen earlier (the
 * batch version can only look within one pass).
 *
 * State is bounded: O(window) (turn_idx, title) pairs per live
 * conversation — the same memory discipline as the batch state machine,
 * enforced by construction rather than by watermark eviction (conversations
 * are finite; production would add a state TTL via
 * GroupStateTimeout.ProcessingTimeTimeout).
 *
 * Out-of-order delivery: within a micro-batch, turns sort by turn_idx;
 * ACROSS micro-batches a late turn resolves only against antecedents
 * that PRECEDE it (ti < turn_idx — in-order input can never present a
 * future antecedent, so the guard is a no-op there), and a back-filled
 * old title inserts into `recent` in recency order rather than masking
 * newer ones. What stays irrecoverable by design (two cases, ADVICE r5):
 * an anaphor processed before its antecedent's turn ARRIVES emits
 * nothing (append mode — no retraction); and a late anaphor whose valid
 * antecedent DID arrive but was already EVICTED from the bounded
 * `recent` list (window+1 titles, max-turn_idx retained) also emits
 * nothing — the batch path, which sees whole conversations, would have
 * resolved it. Both diverge from batch only under cross-batch
 * out-of-order delivery; if late-anaphor parity matters, retain titles
 * by turn-distance horizon (turn_idx >= lastSeen - window) instead of a
 * fixed count — bounded as long as per-conv turn numbering is dense.
 */
object StatefulCoref {

  final case class ConvState(recent: List[(Int, String)], lastSeen: Int)

  private val anaphor = java.util.regex.Pattern.compile(
    "(?i)\\b(it|that (song|track|tune))\\b")

  def resolveStream(spark: SparkSession, turns: Dataset[Turn],
      window: Int = 5): Dataset[Coref.CorefLink] = {
    import spark.implicits._
    graft.Pipeline.decodeTurns(spark, turns).groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (conv: String, it: Iterator[DecodedTurn], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(Nil, -1))
          var recent = prev.recent
          var last = prev.lastSeen
          val out = scala.collection.mutable.ArrayBuffer.empty[Coref.CorefLink]
          // Prune BEFORE buffering (the batch path's exchange-pruning
          // lesson, PLANS.md §9): a hot conversation's micro-batch share
          // is buffered to sort by turn_idx — as (turn_idx, titles,
          // anaphor?) records, not whole DecodedTurns, so the per-group
          // working set is bounded by mention counts, not text size.
          it.map { d =>
            val titles = d.entities.collect {
              case e if e.tag == "TITLE" => e.text
            }
            (d.turn_idx, titles,
              titles.isEmpty && d.text != null &&
                anaphor.matcher(d.text).find())
          }.toSeq.sortBy(_._1).foreach { case (turnIdx, titles, ana) =>
            if (ana) {
              // antecedent must PRECEDE the anaphor: a late-arriving
              // earlier turn (cross-batch out-of-order delivery) may
              // resolve against `recent` entries from FUTURE turns the
              // in-order batch path could never have seen yet
              recent.find { case (ti, _) =>
                ti < turnIdx && turnIdx - ti <= window
              }.foreach { case (ti, t) =>
                out += Coref.CorefLink(conv, turnIdx, t, ti)
              }
            }
            titles.foreach { t =>
              // keep `recent` in strict recency (descending turn_idx)
              // order even when a late turn back-fills an old title —
              // stable sort preserves the batch path's within-turn order
              recent = (((turnIdx, t)) :: recent)
                .sortBy(-_._1).take(window + 1)
            }
            last = math.max(last, turnIdx)
          }
          state.update(ConvState(recent, last))
          out.iterator
      }
  }
}
