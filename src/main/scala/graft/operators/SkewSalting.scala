package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.Schemas._

/**
 * Hot-conversation skew handling for the ORDER-DEPENDENT coref stage
 * (SURVEY.md §4.3): transcripts are Zipf-skewed in conv_id, so a plain
 * repartition(conv_id) gives one task the 10^7-turn conversation while
 * its siblings finish in seconds.
 *
 * Strategy: every conversation is split into chunks of `chunkSize` turn
 * indices under the salted key (conv_id, chunk = turn_idx / chunkSize),
 * so a hot conversation fans out over `size/chunkSize` tasks. A row whose
 * index falls in the last `window` indices of its chunk is ALSO emitted
 * as a CONTEXT row (is_ctx=true) of the next chunk, so the recency window
 * sees exactly the predecessors it would see unsalted; context rows
 * produce no output (a context row in an otherwise empty chunk is inert).
 * No pre-pass decides which conversations to salt: the rule is per row.
 *
 * Cost bound: at most one extra row per `chunkSize` turn indices per
 * conversation, times `window` — and NONE for a conversation whose
 * indices all lie below `chunkSize - window`.
 *
 * Equivalence: the coref recency window reads at most `window` preceding
 * turn indices, so salted output == unsalted output. Pinned by ScaleSpec.
 */
object SkewSalting {

  /** Coref over salted chunks: [[Coref.resolve]]'s projection, pipeline
    * and recency step, with the wide stage keyed on (conv_id, chunk).
    * Building the plan runs no Spark job and no driver-side state. */
  def corefSalted(spark: SparkSession, decoded: Dataset[DecodedTurn],
      window: Int = 5, chunkSize: Int = 1000): Dataset[Coref.CorefLink] = {
    import spark.implicits._
    require(chunkSize > 0 && window <= chunkSize,
      "chunkSize must be positive and the overlap must fit in a chunk")
    Coref.resolveRows(spark, decoded.flatMap { d =>
      // floor division: chunks stay contiguous index ranges for any sign
      val own = Math.floorDiv(d.turn_idx, chunkSize)
      val r = Coref.row(d).copy(chunk = own)
      // also serve as context for the NEXT chunk if in its overlap window
      if (Math.floorMod(d.turn_idx, chunkSize) >= chunkSize - window)
        Seq(r, r.copy(chunk = own + 1, is_ctx = true))
      else Seq(r)
    }, window)
  }
}
