package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Schemas._

/**
 * Hot-conversation skew handling for the ORDER-DEPENDENT coref stage
 * (SURVEY.md §4.3): transcripts are Zipf-skewed in conv_id, so a plain
 * repartition(conv_id) gives one task the 10^7-turn conversation while
 * its siblings finish in seconds.
 *
 * Strategy (two-level):
 *  1. a cheap pre-pass `groupBy(conv_id).count()` finds conversations above
 *     `chunkSize` turns — at Zipf skew that's a tiny set, collected and
 *     broadcast as a map;
 *  2. hot conversations are split into chunks of `chunkSize` turns with a
 *     salted key (conv_id, chunk); each chunk carries the last `window`
 *     turns of its predecessor as CONTEXT rows (is_ctx=true) so the
 *     recency window sees exactly the same predecessors it would see
 *     unsalted; context rows produce no output;
 *  3. cold conversations flow through with chunk 0 and no duplication.
 *
 * Equivalence: the coref recency window reads at most `window` preceding
 * turns, so salted output == unsalted output. Pinned by ScaleSpec.
 */
object SkewSalting {

  /** Coref over salted chunks: [[Coref.resolve]]'s projection, pipeline
    * and recency step, with the wide stage keyed on (conv_id, chunk) —
    * hot conversations fan out over `size/chunkSize` tasks instead of one.
    *
    * `maxHotConvs` ENFORCES the Zipf assumption the broadcast rests on:
    * the hot-conversation map is collected to the driver, which is safe
    * only while few conversations exceed `chunkSize`. A corpus where that
    * set is large (uniformly long conversations, or a chunkSize far below
    * the typical length) would silently bloat the driver + broadcast —
    * instead the guard FAILS with the actionable fixes (raise chunkSize,
    * raise maxHotConvs, or pre-chunk by (conv_id, turn_idx range)
    * upstream). The take() is bounded, so the driver never materializes
    * an oversized map even on the failing path. */
  def corefSalted(spark: SparkSession, decoded: Dataset[DecodedTurn],
      window: Int = 5, chunkSize: Int = 1000,
      maxHotConvs: Int = 100000): Dataset[Coref.CorefLink] = {
    import spark.implicits._
    require(window <= chunkSize, "overlap must fit in a chunk")
    // pre-pass: conversations that need salting (tiny under Zipf). The
    // map value is the conversation's MAX turn_idx, not its row count:
    // the context-row rule below asks "does any turn exist at or beyond
    // the next chunk's start INDEX", and for a sparse/filtered turn_idx
    // space the count under-states that (equal only when indices are
    // contiguous from 0), silently suppressing overlap rows and losing
    // links near chunk boundaries.
    val hotRows = decoded.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), max("turn_idx").as("max_idx"))
      .where(col("n") > chunkSize)
      .select("conv_id", "max_idx")
      .take(maxHotConvs + 1)
    if (hotRows.length > maxHotConvs)
      throw new IllegalStateException(
        s"corefSalted: more than $maxHotConvs conversations exceed " +
          s"chunkSize=$chunkSize — the corpus is not Zipf-skewed enough for " +
          "a driver-collected hot map. Raise chunkSize (so only true " +
          "outliers salt), raise maxHotConvs if the driver can hold the " +
          "map, or pre-chunk the input by (conv_id, turn range) instead.")
    val hotMaxIdx: Map[String, Int] =
      hotRows.map(r => r.getString(0) -> r.getInt(1)).toMap
    val hotB = spark.sparkContext.broadcast(hotMaxIdx)
    Coref.resolveRows(spark, decoded.flatMap { d =>
      val r = Coref.row(d)
      if (!hotB.value.contains(d.conv_id)) Seq(r)
      else {
        val own = d.turn_idx / chunkSize
        val base = Seq(r.copy(chunk = own))
        // also serve as context for the NEXT chunk if in its overlap window
        val nextStart = (own + 1) * chunkSize
        if (d.turn_idx >= nextStart - window && nextStart <= hotB.value(d.conv_id))
          base :+ r.copy(chunk = own + 1, is_ctx = true)
        else base
      }
    }, window)
  }
}
