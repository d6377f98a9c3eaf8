package graft

/** The D8 label-alignment join (SURVEY.md §2.8) against hand-built
  * subtoken fixtures. */
class FeaturesSpec extends SparkSuite {

  test("D8 label alignment: interval join + first-subtoken sentinel") {
    import spark.implicits._
    // doc d1: words [Sen, ##bon] (word 0), [by] (word 1), [Miku] (word 2)
    val tokens = Seq(
      ("d1", 0, 0, 0, 3), ("d1", 1, 0, 3, 6), // two subtokens of word 0
      ("d1", 2, 1, 7, 9), ("d1", 3, 2, 10, 14))
      .toDF("doc", "pos", "word_id", "tok_start", "tok_end")
    val spans = Seq(("d1", 0, 6, "TITLE"), ("d1", 10, 14, "VOCALOID"))
      .toDF("doc", "ner_start", "ner_end", "tag")
    val got = graft.operators.LabelAlign.align(spark, tokens, spans)
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    // TITLE=2, VOCALOID=4 (src/config/config.py:1-12); word 0's second
    // subtoken gets -100; the O word gets 0
    assert(got == Seq((0, 2), (1, -100), (2, 0), (3, 4)))
  }
}
