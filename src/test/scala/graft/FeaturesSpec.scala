package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFeatures

/** The reference's own unit fixtures ported VERBATIM
  * (test/test_feature_extraction.py:8-48, FIXTURES.md §5), plus the
  * quote/paren window-state pins and the D8 label-alignment join. */
class FeaturesSpec extends SparkSuite {

  test("channel-name containment: [hello, world] x 'hello' -> [1, 0]") {
    assert(TextFeatures.tokensContainingChannelName(
      Array("hello", "world"), "hello").toSeq == Seq(1, 0))
  }

  test("occurrence count: [hello, world, hello] in 'hello world world' -> [1, 2, 1]") {
    assert(TextFeatures.countTokenOccurrences(
      Array("hello", "world", "hello"), "hello world world").toSeq == Seq(1, 2, 1))
  }

  test("occurrence count, empty text -> [0, 0]") {
    assert(TextFeatures.countTokenOccurrences(
      Array("hello", "world"), "").toSeq == Seq(0, 0))
  }

  test("batched containment: [[hello,world],[foo,bar]] x [hello, foo] -> [[1,0],[1,0]]") {
    val got = TextFeatures.batch(
      (t: Array[String], c: String) => TextFeatures.tokensContainingChannelName(t, c).toSeq,
      Seq(Array("hello", "world"), Array("foo", "bar")), Seq("hello", "foo"))
    assert(got == Seq(Seq(1, 0), Seq(1, 0)))
  }

  test("batched count: -> [[1,2],[2,1]]") {
    val got = TextFeatures.batch(
      (t: Array[String], d: String) => TextFeatures.countTokenOccurrences(t, d).toSeq,
      Seq(Array("hello", "world"), Array("foo", "bar")),
      Seq("hello world world", "foo bar foo"))
    assert(got == Seq(Seq(1, 2), Seq(2, 1)))
  }

  test("quote flag marks the opening quote itself (W1 quirk)") {
    assert(TextFeatures.markTokensInsideQuotes(
      Array("a", "\"", "b", "\"", "c")).toSeq == Seq(0, 1, 1, 0, 0))
  }

  test("paren state is non-nesting; openers 1, closers 0 (W2 quirk)") {
    assert(TextFeatures.markTokensInsideParentheses(
      Array("a", "(", "b", "(", "c", ")", "d")).toSeq ==
      Seq(0, 1, 1, 1, 1, 0, 0))
  }

  test("hashtags/links membership, title mark, caps, verbal, distance") {
    assert(TextFeatures.tokenAppearsInHashtags(
      Array("miku", "rin"), "great #miku song").toSeq == Seq(1, 0))
    assert(TextFeatures.tokenAppearsInLinks(
      Array("https://x.co/a", "b"), "see https://x.co/a").toSeq == Seq(1, 0))
    assert(TextFeatures.markTitleTokens(
      Array("a", "b", "c"), Array("a", "b")).toSeq == Seq(1, 1, 0))
    assert(TextFeatures.tokenCapitalization(
      Array("ABC", "abc", "Abc", "AbC")).toSeq == Seq(0, 1, 2, 3))
    assert(TextFeatures.isTokenVerbal(Array("hello", "42", "!")).toSeq ==
      Seq(1, 0, 0))
    assert(TextFeatures.tokenDistanceFromStart(
      Array("x", "y", "z")).toSeq == Seq(0, 1, 2))
    assert(TextFeatures.encodeLanguage("ja-JP") == 4)
    assert(TextFeatures.encodeLanguage("en") == 3)
    assert(TextFeatures.encodeLanguage(null) == 1)
    assert(TextFeatures.maskTokens(Array("a", "b"), Set("a")).toSeq ==
      Seq("a", "<oov>"))
  }

  test("Column variants agree with the Scala versions") {
    import spark.implicits._
    val df = Seq((Seq("hello", "world", "hello"), "hello world world", "hello"))
      .toDF("tokens", "text", "channel")
    val row = df.select(
      TextFeatures.countOccurrencesCol(col("tokens"), col("text")).as("cnt"),
      TextFeatures.channelContainCol(col("tokens"), col("channel")).as("ch"),
      TextFeatures.hashtagsCol(lit("x #miku y #rin")).as("tags"),
      TextFeatures.linksCol(lit("see HTTPS://Vocaloid.example/Melt or http://b.example"))
        .as("links"),
      transform(col("tokens"), t => length(t)).as("lens")).head
    assert(row.getSeq[Int](0) == Seq(1, 2, 1))
    assert(row.getSeq[Int](1) == Seq(1, 0, 1))
    assert(row.getSeq[String](2) == Seq("miku", "rin"))
    assert(row.getSeq[String](3) ==
      Seq("https://vocaloid.example/melt", "http://b.example"))
    assert(TextFeatures.lengthOfTokens(Array("hello", "world", "hello")).toSeq ==
      row.getSeq[Int](4))
  }

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
