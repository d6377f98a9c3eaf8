package graft

import graft.Schemas.Token
import graft.operators.{Decode, Detector}
import graft.functions.PyText

class DecodeSpec extends SparkSuite {

  private def toks(words: (String, Int, Int)*): IndexedSeq[Token] =
    words.map { case (t, s, e) => Token(t, s, e) }.toIndexedSeq

  test("decode merges adjacent same-tag words into one span (reference quirk)") {
    val text = "Hatsune Miku sings"
    val tk = toks(("Hatsune", 0, 7), ("Miku", 8, 12), ("sings", 13, 18))
    val ents = Decode.decodeEntities(text, tk, IndexedSeq("VOCALOID", "VOCALOID", "O"))
    assert(ents == Seq(Schemas.Entity("VOCALOID", "Hatsune Miku", 0, 12)))
  }

  test("tag change closes and reopens; trailing entity flushed") {
    val text = "Melt Hachi"
    val tk = toks(("Melt", 0, 4), ("Hachi", 5, 10))
    val ents = Decode.decodeEntities(text, tk,
      IndexedSeq("TITLE", "ORIGINAL_AUTHOR"))
    assert(ents == Seq(
      Schemas.Entity("TITLE", "Melt", 0, 4),
      Schemas.Entity("ORIGINAL_AUTHOR", "Hachi", 5, 10)))
  }

  test("me-substitution replaces first-person with speaker, before dedup") {
    val ents = Seq(Schemas.Entity("ORIGINAL_AUTHOR", "me", 0, 2))
    assert(Decode.meSubstitute(ents, "assistant").head.text == "assistant")
    val mixed = Seq(Schemas.Entity("ORIGINAL_AUTHOR", "I", 0, 1),
      Schemas.Entity("TITLE", "Imagine", 2, 9))
    val out = Decode.meSubstitute(mixed, "user")
    assert(out.map(_.text) == Seq("user", "Imagine"))
  }

  test("me-substitution keeps a dotted capital I, as the reference does") {
    // The detector tags "İ" ORIGINAL_AUTHOR: it lowers to the pronoun
    // "i". The reference's str.lower() maps it to "i̇" (two code points),
    // which is no first-person word, so src/prod.py:119-125 keeps it.
    val model = Detector.buildModel()
    def engine(text: String) = Pipeline.extractTurn(model, "c", 0, "user", text)
      .map(t => (t.subj, t.pred, t.obj)).toSet
    def reference(text: String) = {
      val tk = PyText.tokenizeWithOffsets(text)
      ReferenceOracle.extract("c", 0, "user", text, tk.toIndexedSeq,
        Detector.tagTokens(model, text, tk).toIndexedSeq).toSet
    }
    val dotted = "\u0130 love Senbonzakura"
    assert(engine(dotted).contains(("Senbonzakura", "performed_by", "\u0130")))
    assert(engine(dotted) == reference(dotted))
    assert(engine("I love Senbonzakura")
      .contains(("Senbonzakura", "performed_by", "user")))
  }

  test("detector: token-aligned, leftmost-longest, case-insensitive") {
    val model = Detector.buildModel()
    val text = "check out Senbonzakura covered by Hatsune Miku"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = Detector.tagTokens(model, text, tk)
    val byTok = tk.map(_.tok).zip(tags).toMap
    assert(byTok("Senbonzakura") == "TITLE")
    assert(byTok("covered") == "MODIFIER")
    assert(byTok("Hatsune") == "VOCALOID" && byTok("Miku") == "VOCALOID")
    assert(byTok("check") == "O" && byTok("by") == "O")
  }

  test("detector does not match inside tokens (substring guard)") {
    val model = Detector.buildModel()
    // "me" (pronoun) must not fire inside "Melt"; "i" not inside "is"
    val text = "Melt is nice"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = Detector.tagTokens(model, text, tk)
    assert(tk.map(_.tok).zip(tags).toMap.apply("is") == "O")
    assert(tags.count(_ != "O") == 1) // only Melt as TITLE
  }

  test("detector matches across the token's [.!]* suffix boundary") {
    val model = Detector.buildModel()
    val text = "listening to Melt. great song"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = Detector.tagTokens(model, text, tk)
    // token is "Melt." — gazetteer "melt" ends at its word-core end
    val idx = tk.indexWhere(_.tok == "Melt.")
    assert(idx >= 0 && tags(idx) == "TITLE")
  }

  test("detector rule on a hand-built model: longest, then leftmost, then priority") {
    def e(surface: String, tag: String, priority: Int) =
      Gazetteer.Entry(surface, tag, surface, "en", priority)
    val model = Detector.buildModel(Seq(
      e("hatsune", "MISC_PERSON", 0), e("Hatsune Miku", "VOCALOID", 5),
      e("red blue", "ALBUM", 9), e("blue green yellow", "TITLE", 0),
      e("Melt", "TITLE", 3), e("MELT", "ALBUM", 1),
      e("Ghost", "TITLE", 2), e("ghost", "ALBUM", 2)))
    def tagged(text: String): Seq[(String, String)] = {
      val tk = PyText.tokenizeWithOffsets(text)
      tk.map(_.tok).toSeq.zip(Detector.tagTokens(model, text, tk))
    }
    // a longer surface beats a shorter, better-priority one at its start
    assert(tagged("Hatsune Miku sings") ==
      Seq("Hatsune" -> "VOCALOID", "Miku" -> "VOCALOID", "sings" -> "O"))
    // of two overlapping matches the leftmost wins, even when shorter
    assert(tagged("red blue green yellow") == Seq("red" -> "ALBUM",
      "blue" -> "ALBUM", "green" -> "O", "yellow" -> "O"))
    // entries with the same lowercase surface share one pattern, tagged
    // by the better priority, then by gazetteer order
    assert(tagged("melt ghost") == Seq("melt" -> "ALBUM", "ghost" -> "TITLE"))
  }

  test("detector offsets survive a lowercase that changes length (U+0130)") {
    val model = Detector.buildModel()
    def tags(text: String): Seq[String] =
      Detector.tagTokens(model, text, PyText.tokenizeWithOffsets(text)).toSeq
    // String.toLowerCase(ROOT) turns İ into two chars, which shifted
    // every later automaton offset off its token boundaries
    val plain = tags("I Senbonzakura by Hatsune Miku")
    assert(plain.count(_ != "O") == 4)
    assert(tags("\u0130 Senbonzakura by Hatsune Miku") == plain)
    val ist = "\u0130stanbul loves Senbonzakura"
    val tk = PyText.tokenizeWithOffsets(ist)
    assert(tk.map(_.tok).zip(Detector.tagTokens(model, ist, tk)).toMap
      .apply("Senbonzakura") == "TITLE")
  }

  test("detector lowercase keeps every code point's char count") {
    assert(Detector.lower("\u0130stanbul") == "istanbul")
    val changed = (0 to Character.MAX_CODE_POINT).filter { cp =>
      val s = new String(Character.toChars(cp))
      Detector.lower(s).length != s.length
    }
    assert(changed.isEmpty, changed.take(5).map(c => f"U+$c%04X"))
  }

  test("window/gaps-and-islands decode agrees with row-local decode") {
    import spark.implicits._
    // one tag sequence per document, as (doc, [(tag, start, end)]);
    // q_segments runs over it as events(user_id, event_id, event_type)
    val seqs = Seq(
      1L -> Seq(("O", 0, 3), ("TITLE", 4, 8), ("TITLE", 9, 12),
        ("O", 13, 15), ("VOCALOID", 16, 20)),
      2L -> Seq(("ALBUM", 0, 5), ("O", 6, 8), ("ALBUM", 9, 14)))
    val dir = java.nio.file.Files.createTempDirectory("segments").toString
    seqs.flatMap { case (doc, ws) =>
      ws.zipWithIndex.map { case ((tag, _, _), pos) => (doc, pos.toLong, tag) }
    }.toDF("user_id", "event_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val offs = seqs.toMap
    // window form: islands of equal event_type, "O" islands dropped,
    // event ids mapped back to the first word's start / last word's end
    val windowed = SparkEntry.queries("q_segments")(spark, dir)
      .where($"event_type" =!= "O").collect().map { r =>
        val doc = r.getAs[Long]("user_id")
        (doc, r.getAs[String]("event_type"),
          offs(doc)(r.getAs[Long]("min_event").toInt)._2,
          offs(doc)(r.getAs[Long]("max_event").toInt)._3)
      }.toSet
    // row-local form: the span decode over the same words
    val rowLocal = seqs.flatMap { case (doc, ws) =>
      val text = " " * ws.map(_._3).max
      Decode.decodeEntities(text,
        toks(ws.map { case (_, s, e) => ("w", s, e) }: _*),
        ws.map(_._1).toIndexedSeq).map(e => (doc, e.tag, e.start, e.end))
    }.toSet
    assert(windowed == rowLocal)
    assert(windowed == Set(
      (1L, "TITLE", 4, 12), (1L, "VOCALOID", 16, 20),
      (2L, "ALBUM", 0, 5), (2L, "ALBUM", 9, 14)))
  }

  test("subword decode: multi-subtoken words, word-end extension, -100-path (prod.py:52-117)") {
    // "Senbonzakura by Hatsune Miku" as HF-style subtokens:
    // [CLS] Senbon zakura by Hat sune Mi ku [SEP]
    val text = "Senbonzakura by Hatsune Miku"
    val wordIds = Array(-1, 0, 0, 1, 2, 2, 3, 3, -1)
    val starts = Array(0, 0, 6, 13, 16, 19, 24, 26, 0)
    val ends = Array(0, 6, 12, 15, 19, 23, 26, 28, 0)
    // only FIRST-subtoken tags are consulted; the continuation subtoken
    // 'zakura' deliberately carries a non-O tag that must be IGNORED
    val tags = Array("O", "TITLE", "ALBUM", "O", "VOCALIST", "O",
      "VOCALIST", "O", "O")
    val ents = Decode.decodeSubword(text, wordIds, starts, ends, tags)
    // TITLE opens at Senbon[0,6) and extends to the WORD end (12), not
    // the subtoken end; VOCALIST spans two words (adjacent same-tag
    // merge), each extended to its word end -> [16,28)
    assert(ents == Seq(
      Schemas.Entity("TITLE", "Senbonzakura", 0, 12),
      Schemas.Entity("VOCALIST", "Hatsune Miku", 16, 28)))
  }

  test("subword decode: entity closed by O on a later word's first subtoken") {
    val text = "Melt now"
    // Melt = Me/lt (word 0), now (word 1, tag O)
    val ents = Decode.decodeSubword(text,
      Array(0, 0, 1), Array(0, 2, 5), Array(2, 4, 8),
      Array("TITLE", "O", "O"))
    assert(ents == Seq(Schemas.Entity("TITLE", "Melt", 0, 4)))
  }

  test("subword decode == whole-word decode when every word is one subtoken") {
    val model = Detector.buildModel()
    (0L until 30L).flatMap(c => graft.synth.TranscriptGen.turnsOfConv(42L, c, 8))
      .foreach { t =>
        val tk = PyText.tokenizeWithOffsets(t.text)
        val tags = Detector.tagTokens(model, t.text, tk)
        val whole = Decode.decodeEntities(t.text, tk.toIndexedSeq, tags.toIndexedSeq)
        val sub = Decode.decodeSubword(t.text,
          Array.tabulate(tk.length)(identity),
          tk.map(_.start), tk.map(_.end), tags)
        assert(sub == whole, s"diverged on: ${t.text}")
      }
  }
}
