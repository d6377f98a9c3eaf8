package graft

import graft.Schemas.Token

/**
 * TEST-ONLY independent transcription of the reference's extraction
 * semantics (src/prod.py:32-213), used as the parity oracle for the
 * P/R >= 0.95 gate (north rule). Deliberately written as a direct
 * imperative port — separate code path from the engine's operators —
 * so the two implementations double-check each other.
 */
object ReferenceOracle {

  /** src/prod.py:52-117, with word_ids == token indices (whole-word tokens). */
  def decode(text: String, toks: IndexedSeq[Token],
      tags: IndexedSeq[String]): List[(String, String, Int, Int)] = {
    var entities = List.empty[(String, String, Int, Int)]
    var currentTag: Option[String] = None
    var curStart = 0; var curEnd = 0
    for (idx <- toks.indices) {
      val tag = tags(idx)
      val (tokenStart, tokenEnd) = (toks(idx).start, toks(idx).end)
      if (tag != "O") {
        if (currentTag.isDefined && tag == currentTag.get) {
          // pass — same tag continues the open entity
        } else {
          currentTag.foreach { ct =>
            entities :+= ((ct, text.substring(curStart, curEnd), curStart, curEnd))
          }
          currentTag = Some(tag); curStart = tokenStart; curEnd = tokenEnd
        }
      } else {
        currentTag.foreach { ct =>
          entities :+= ((ct, text.substring(curStart, curEnd), curStart, curEnd))
        }
        currentTag = None
      }
      // cursor scan (src/prod.py:100-105): extend to end of current word
      if (currentTag.isDefined) curEnd = tokenEnd
    }
    currentTag.foreach { ct =>
      entities :+= ((ct, text.substring(curStart, curEnd), curStart, curEnd))
    }
    entities
  }

  /** src/prod.py:119-125 (channel_name := speaker/role for transcripts). */
  def meSubstitute(ents: List[(String, String, Int, Int)],
      speaker: String): List[(String, String, Int, Int)] =
    ents.map { case (tag, t, s, e) =>
      if (Set("me", "myself", "i").contains(t.toLowerCase)) (tag, speaker, s, e)
      else (tag, t, s, e)
    }

  /** Independent sklearn TfidfVectorizer(analyzer=char) transcription. */
  private def tfidfMatrix(ents: List[String]): Array[Array[Double]] = {
    val low = ents.map(_.toLowerCase)
    val vocab = low.flatMap(s => s.codePoints().toArray.toSeq).distinct.sorted
    val n = ents.length
    val tf = Array.ofDim[Double](n, vocab.length)
    for (i <- low.indices) {
      val cps = low(i).codePoints().toArray
      for (c <- cps) tf(i)(vocab.indexOf(c)) += 1.0
    }
    val df = vocab.indices.map(j => (0 until n).count(i => tf(i)(j) > 0))
    val idf = df.map(d => math.log((1.0 + n) / (1.0 + d)) + 1.0)
    val v = Array.tabulate(n, vocab.length)((i, j) => tf(i)(j) * idf(j))
    val sims = Array.ofDim[Double](n, n)
    def norm(x: Array[Double]) = math.sqrt(x.map(y => y * y).sum)
    for (i <- 0 until n; j <- 0 until n) {
      val ni = norm(v(i)); val nj = norm(v(j))
      sims(i)(j) =
        if (ni == 0 || nj == 0) 0.0
        else v(i).zip(v(j)).map { case (x, y) => x * y }.sum / (ni * nj)
    }
    sims
  }

  /** src/prod.py:158-175. Python iterates a str by code points, so the DP
    * runs over code points: an astral char is one edit. */
  private def lev(a: String, b: String): Int = {
    if (a.codePointCount(0, a.length) < b.codePointCount(0, b.length))
      return lev(b, a)
    val s1 = a.codePoints().toArray
    val s2 = b.codePoints().toArray
    if (s2.isEmpty) return s1.length
    var prev = (0 to s2.length).toArray
    for (i <- s1.indices) {
      val cur = Array(i + 1) ++ new Array[Int](s2.length)
      for (j <- s2.indices) {
        cur(j + 1) = math.min(math.min(prev(j + 1) + 1, cur(j) + 1),
          prev(j) + (if (s1(i) != s2(j)) 1 else 0))
      }
      prev = cur
    }
    prev(s2.length)
  }

  /** src/prod.py:178-213. */
  def filterUnique(decoded: List[(String, String, Int, Int)],
      tagToFilter: String): List[String] = {
    val entities = decoded.collect { case (t, e, _, _) if t == tagToFilter => e }
    if (entities.isEmpty) return Nil
    val afterTfidf: List[String] =
      if (entities.forall(_.isEmpty)) entities.distinct // sklearn raise path
      else {
        val sims = tfidfMatrix(entities)
        val toRemove = scala.collection.mutable.Set.empty[Int]
        for (i <- entities.indices; j <- i + 1 until entities.length)
          if (sims(i)(j) > 0.5) toRemove += j
        entities.zipWithIndex.collect { case (e, i) if !toRemove(i) => e }
      }
    var filtered = List.empty[String]
    for (e <- afterTfidf)
      if (filtered.forall(o => lev(e, o) > 3)) filtered :+= e
    filtered
  }

  private val lemmas = Map("covered" -> "cover", "remixed" -> "remix",
    "arranged" -> "arrange", "rearranged" -> "rearrange")

  /** src/prod.py:127-143: structured result incl. modifier lemma+title. */
  def structuredResult(filtered: List[(String, String, Int, Int)])
      : Map[String, List[String]] = {
    val tags = List("ORIGINAL_AUTHOR", "TITLE", "FEATURING", "MODIFIER",
      "VOCALOID", "MISC_PERSON", "VOCALIST", "ALT_TITLE", "ALBUM")
    val base = tags.map(t => t -> filterUnique(filtered, t)).toMap
    base.updated("MODIFIER",
      base("MODIFIER").map(m => lemmas.getOrElse(m.toLowerCase, m.toLowerCase))
        .map(graft.functions.PyText.pyTitle))
  }

  /** FIXTURES.md §3 deterministic triple rule. */
  def triples(convId: String, turnIdx: Int,
      result: Map[String, List[String]]): List[(String, String, String)] = {
    val docKey = s"$convId#$turnIdx"
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, String)]
    for (t <- result("TITLE")) {
      result("ORIGINAL_AUTHOR").foreach(x => out += ((t, "performed_by", x)))
      result("FEATURING").foreach(x => out += ((t, "featuring", x)))
      (result("VOCALIST") ++ result("VOCALOID")).foreach(x => out += ((t, "vocal_by", x)))
      result("ALBUM").foreach(x => out += ((t, "on_album", x)))
      result("MODIFIER").foreach(x => out += ((t, "modifier", x)))
      result("ALT_TITLE").foreach(x => out += ((t, "alt_title", x)))
    }
    result("MISC_PERSON").foreach(x => out += ((docKey, "mentions_person", x)))
    out.toList
  }

  /** Full per-turn oracle: tags -> reference triples. */
  def extract(convId: String, turnIdx: Int, role: String, text: String,
      toks: IndexedSeq[Token], tags: IndexedSeq[String])
      : List[(String, String, String)] = {
    val ents = meSubstitute(decode(text, toks, tags), if (role == null) "" else role)
    triples(convId, turnIdx, structuredResult(ents))
  }
}
