package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PyText

/**
 * The reference's OFFLINE pipeline stages over its own record shape
 * (SURVEY.md §3.2) — so a user of the reference can run their existing
 * fetch/split/preprocess/tokenize flow on this engine directly:
 *
 *  videos(yt_id, language, title, description, channel_name,
 *         ner array<struct<start int, end int, source string,
 *                          entry string, type string>>)
 *
 * Stage parity:
 *  - P1 projection/rename (src/data/database.py:46-57) = a `select`;
 *  - P2 text concat `title || ' [SEP] ' || description`
 *    (src/data/preprocess.py:53-54) with description-sourced NER spans
 *    shifted by length(title) + 7 (preprocess.py:56-61; 7 = len(" [SEP] ")
 *    — the reference hard-codes the shift, so spans sourced from the
 *    title are NOT shifted);
 *  - F1 tokenize-with-offsets via [[tokenRows]];
 *  - D8 label alignment via [[LabelAlign.align]];
 *  - O1 split = Spark's own seeded `randomSplit`.
 */
object VideoPipeline {

  /** P2 + preprocess stage: doc text + shifted NER spans. Spans with
    * source = 'description' shift by length(title) + 7; others keep their
    * offsets (they index into the title, which is the doc prefix). */
  def preprocess(videos: DataFrame): DataFrame = {
    val shift = length(col("title")) + lit(7)
    videos
      .withColumn("text",
        concat(col("title"), lit(" [SEP] "), col("description")))
      .withColumn("ner", transform(col("ner"), n =>
        struct(
          (n.getField("start") + when(n.getField("source") === "description",
            shift).otherwise(lit(0))).as("start"),
          (n.getField("end") + when(n.getField("source") === "description",
            shift).otherwise(lit(0))).as("end"),
          n.getField("source").as("source"),
          n.getField("entry").as("entry"),
          n.getField("type").as("type"))))
  }

  /** Long-format token rows ready for [[LabelAlign.align]]: with our
    * whole-word tokenizer, word_id == pos. Offsets are CODEPOINT indices
    * (PyText.tokenizeWithOffsetsCp): the NER spans these rows join
    * against come from the reference's records, whose start/end are
    * Python string indices — and `preprocess`'s shift (Spark
    * `length(title)`) counts codepoints too. UTF-16 token offsets here
    * would silently mislabel every token after the first astral
    * character in a title or description. */
  def tokenRows(spark: SparkSession, docs: DataFrame, docKey: String): DataFrame = {
    val tokCp = udf((text: String) => PyText.tokenizeWithOffsetsCp(text))
    docs.withColumn("tokens", tokCp(col("text")))
      .select(col(docKey).as("doc"), posexplode(col("tokens")))
      .select(col("doc"), col("pos"), col("pos").as("word_id"),
        col("col.start").as("tok_start"), col("col.end").as("tok_end"))
  }

  /** Spans in LabelAlign shape; `ner_idx` preserves the NER list order
    * (the reference's first-match-wins tiebreak, tokenize.py:27-34). */
  def spanRows(docs: DataFrame, docKey: String): DataFrame =
    docs.select(col(docKey).as("doc"), posexplode(col("ner")))
      .select(col("doc"), col("pos").as("ner_idx"),
        col("col.start").as("ner_start"),
        col("col.end").as("ner_end"), col("col.type").as("tag"))

  /**
   * Fetch-stage span validation (reference src/data/database.py:103-118
   * `validate_ner_indices`): every NER span must slice its source text
   * (title if source == 'title', else description) to exactly `entry`.
   * Returns the VIOLATION rows
   * `(yt_id, ner_idx, source, start, end, expected, got)` — empty on a
   * clean corpus; callers log/alert on `count() > 0` (the reference
   * logs a warning per mismatch). Entirely row-local (explode + substring)
   * — no shuffle, runs at fetch-scan parallelism.
   */
  def validateSpans(videos: DataFrame): DataFrame =
    videos
      .select(col("yt_id"), col("title"), col("description"),
        posexplode(col("ner")))
      .select(col("yt_id"), col("pos").as("ner_idx"),
        col("col.source").as("source"),
        col("col.start").as("start"), col("col.end").as("end"),
        col("col.entry").as("expected"),
        // substr() is 1-based and length-bound, matching Python's
        // source[start:end] for 0 <= start <= end <= len(source)
        when(col("col.source") === "title", col("title"))
          .otherwise(col("description"))
          .substr(col("col.start") + 1, col("col.end") - col("col.start"))
          .as("got"))
      .where(col("got").isNull || col("got") =!= col("expected"))

  /** Full training-prep: preprocess -> tokenize -> label align (D8). */
  def prepare(spark: SparkSession, videos: DataFrame): DataFrame = {
    val docs = preprocess(videos)
    LabelAlign.align(spark, tokenRows(spark, docs, "yt_id"),
      spanRows(docs, "yt_id"))
  }

  /**
   * The serving-path equivalent (`POST /predict`, src/prod.py:220-237) as
   * one batch DataFrame op: for each video, detect -> decode ->
   * channel-name me-substitution (src/prod.py:119-125 — the reference
   * substitutes `channel_name`, which maps onto the speaker slot of the
   * turn decode) -> per-tag greedy dedup -> modifier normalize. Returns
   * the structured result in long format
   * `(yt_id, tag, entity)` — the scalable shape of the reference's
   * per-tag dict (src/prod.py:127-143) — entirely row-local (no shuffle).
   */
  def predict(spark: SparkSession, videos: DataFrame): DataFrame = {
    import spark.implicits._
    val docs = videos.select(col("yt_id"),
      concat(col("title"), lit(" [SEP] "), col("description")).as("text"),
      col("channel_name"))
    docs.select("yt_id", "text", "channel_name")
      .as[(String, String, String)]
      .mapPartitions { it =>
        val model = Detector.model
        it.flatMap { case (id, text, channel) =>
          val ents = graft.Pipeline.turnEntities(model, text, channel)
          Triples.structuredResult(ents).toSeq.flatMap { case (tag, es) =>
            es.map(e => (id, tag, e))
          }
        }
      }
      .toDF("yt_id", "tag", "entity")
  }
}
