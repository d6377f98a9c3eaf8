package kgbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Schemas.Turn

/** Seeded input generation. Every workload's turns are written once to
  * parquet before anything is timed; the timed code reads only that
  * parquet. */
object Inputs {

  /** splitmix64 step: the seeded PRNG for everything drawn here. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  }

  /** Novel titles for `alias_heavy`: `groups` groups of `familiesPerGroup`
    * families, each a base title plus `variants` spelling variants.
    *
    * Canopies stay bounded by construction. Alias blocking keys on the
    * first and last two characters of the normalized surface, and a
    * canopy can only grow along shared blocks. Every family of a group
    * starts with the group's own 2-letter prefix and ends with one of the
    * group's own 2-letter suffixes, and variants edit only the interior,
    * so no block spans two groups and no canopy exceeds one group's
    * `familiesPerGroup * (variants + 1)` forms. Without that, random
    * titles chain through shared blocks into one corpus-wide canopy. */
  def aliasTitles(seed: Long, groups: Int, familiesPerGroup: Int,
      variants: Int): Array[Array[String]] = {
    val r = new Rng(seed ^ 0x5EEDA11A5L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val codes = for (a <- letters; b <- letters) yield s"$a$b"
    def shuffled = codes.map(c => (r.nextLong(), c)).sortBy(_._1).map(_._2)
    val prefixes = shuffled
    val suffixes = shuffled
    require(groups <= prefixes.size && 2 * groups <= suffixes.size)
    val cons = "bdfghklmnprstvz"; val vows = "aeiou"
    def syl = s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}"
    def word(n: Int) = (0 until n).map(_ => syl).mkString
    (0 until groups).flatMap { g =>
      (0 until familiesPerGroup).map { f =>
        val base = (prefixes(g) + word(2)).capitalize + " " +
          word(2 + r.nextInt(2)).capitalize + " " +
          (word(2) + suffixes(2 * g + f % 2)).capitalize
        // interior edits only: the first and last words are untouched
        val mid = base.indexOf(' ') + 2
        val edits: Seq[String => String] = Seq(
          _.toLowerCase(java.util.Locale.ROOT),
          _ + "!",
          s => s.substring(0, mid) + s.substring(mid + 1),
          s => s.substring(0, mid) + s.charAt(mid + 1) + s.charAt(mid) +
            s.substring(mid + 2),
          s => s.substring(0, mid + 1) + s.substring(mid),
          _.toUpperCase(java.util.Locale.ROOT))
        val picked = edits.map(e => (r.nextLong(), e)).sortBy(_._1)
          .map(_._2).take(variants)
        (base +: picked.map(_(base))).distinct.toArray
      }
    }.toArray
  }

  private val aliasTemplates = Array(
    "have you heard \"%s\" yet", "\"%s\" is stuck in my head",
    "the cover of \"%s\" was great", "play \"%s\" next please",
    "I keep looping \"%s\" today")

  /** `convs` conversations of `turnsPerConv` turns, each quoting one title
    * variant (the regex ALT_TITLE source picks the quotes up). Base titles
    * are drawn twice as often as any single variant. */
  def aliasTurns(spark: SparkSession, titles: Array[Array[String]],
      convs: Int, turnsPerConv: Int, seed: Long): Dataset[Turn] = {
    import spark.implicits._
    val epochMs = 1767225600000L
    spark.range(0, convs, 1, spark.sparkContext.defaultParallelism)
      .flatMap { c =>
        (0 until turnsPerConv).map { i =>
          val r = new Rng(seed ^ (c * 1000003L + i))
          val fam = titles(r.nextInt(titles.length))
          val v = r.nextInt(fam.length + 1)
          val title = fam(if (v >= fam.length) 0 else v)
          val text = aliasTemplates(r.nextInt(aliasTemplates.length))
            .format(title)
          Turn(f"alias$c%08d", i, if (i % 2 == 0) "user" else "assistant",
            text, null, new Timestamp(epochMs + c * 3600000L + i * 30000L))
        }
      }
  }

  /** Write `turns` under `path` and read it back as the typed input. */
  def materialize(spark: SparkSession, turns: Dataset[Turn],
      path: String): Dataset[Turn] = {
    import spark.implicits._
    turns.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[Turn]
  }

  /** Whole-conversation batches `dir/batch_<i>`: conversation index
    * ranges split evenly, in order. */
  def batches(spark: SparkSession, turns: Dataset[Turn], convs: Int,
      n: Int, dir: String): Unit =
    (0 until n).foreach { b =>
      val (lo, hi) = (convs.toLong * b / n, convs.toLong * (b + 1) / n)
      turns.where(col("conv_id") >= f"conv$lo%08d" &&
          col("conv_id") < f"conv$hi%08d")
        .write.mode("overwrite").parquet(s"$dir/batch_$b")
    }
}
