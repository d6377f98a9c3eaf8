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
 * batch version can only look within one pass). It runs the batch
 * paths' own projection and recency step, `Coref.row` and `Coref.step`.
 *
 * State is bounded: O(window) (turn_idx, title) pairs per live
 * conversation — the same memory discipline as the batch state machine,
 * enforced by construction rather than by watermark eviction (conversations
 * are finite; production would add a state TTL via
 * GroupStateTimeout.ProcessingTimeTimeout).
 *
 * Out-of-order delivery: within a micro-batch, turns sort by turn_idx;
 * ACROSS micro-batches `Coref.step`'s two out-of-order rules apply: a
 * late turn resolves only against antecedents that PRECEDE it, and a
 * back-filled old title inserts into `recent` in recency order rather
 * than masking newer ones. What stays irrecoverable by design (two cases, ADVICE r5):
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

  def resolveStream(spark: SparkSession, turns: Dataset[Turn],
      window: Int = 5): Dataset[Coref.CorefLink] = {
    import spark.implicits._
    graft.Pipeline.decodeTurns(spark, turns).groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[DecodedTurn], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(Nil, -1))
          var recent = prev.recent
          var last = prev.lastSeen
          val out = scala.collection.mutable.ArrayBuffer.empty[Coref.CorefLink]
          // Prune BEFORE buffering (the batch path's exchange-pruning
          // lesson, PLANS.md §9): a hot conversation's micro-batch share
          // is buffered to sort by turn_idx — as Coref.row projections,
          // not whole DecodedTurns, so the per-group working set is
          // bounded by mention counts, not text size.
          it.map(Coref.row).toSeq.sortBy(_.turn_idx).foreach { r =>
            val (link, next) = Coref.step(recent, r, window)
            out ++= link
            recent = next
            last = math.max(last, r.turn_idx)
          }
          state.update(ConvState(recent, last))
          out.iterator
      }
  }
}
