package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Canonicalize, GreedyDedup}

/** Pins the sklearn TfidfVectorizer(analyzer="char") formula and the exact
  * two-pass greedy dedup order semantics (src/prod.py:178-213). Golden
  * cosines generated from an independent NumPy transcription of the
  * documented sklearn formula. */
class DedupSpec extends AnyFunSuite {

  /** The dedup's cosine: the kernel's `Key`s of the lowercased entities
    * under the list's own idf (sklearn's n counts every entity). */
  private def cos(corpus: Seq[String], i: Int, j: Int): Double = {
    val low = corpus.map(_.toLowerCase(java.util.Locale.ROOT))
    val idf = Canonicalize.idfWeight(corpus.length,
      Canonicalize.charDf(low.iterator)._2)
    Canonicalize.key(low(i), idf).cosine(Canonicalize.key(low(j), idf))
  }

  private val corpus =
    Seq("Senbonzakura", "Senbonzakura!", "Melt", "World is Mine", "Hatsune Miku")

  test("char TF-IDF cosine matches sklearn formula (golden, 1e-9)") {
    val expected = Map(
      (0, 1) -> 0.932843651, (0, 2) -> 0.0623621385, (0, 3) -> 0.2527546394,
      (0, 4) -> 0.5011494749, (1, 2) -> 0.058174125, (1, 3) -> 0.2357805606,
      (1, 4) -> 0.4674941058, (2, 3) -> 0.2973272153, (2, 4) -> 0.3577105883,
      (3, 4) -> 0.4678216702)
    expected.foreach { case ((i, j), e) =>
      assert(math.abs(cos(corpus, i, j) - e) < 1e-9, s"pair ($i,$j)")
    }
  }

  test("TF-IDF pass drops the LATER of a >0.5 pair; earlier wins") {
    // cosine(Senbonzakura, Senbonzakura!) = 0.93 > 0.5 -> the later dropped;
    // cosine(Senbonzakura, Hatsune Miku) = 0.5011 > 0.5 -> dropped too;
    // then greedy Levenshtein keeps Melt, World is Mine (distance > 3).
    assert(GreedyDedup.filterUniqueEntities(corpus) ==
      Seq("Senbonzakura", "Melt", "World is Mine"))
  }

  test("Levenshtein pass keeps entity iff distance > 3 from ALL kept") {
    // "Meltt" vs "Melt" distance 1 <= 3 -> dropped even though TF-IDF
    // cosine may pass; order is greedy over the tfidf survivors.
    val in = Seq("Melt", "World is Mine", "Meltt")
    val out = GreedyDedup.filterUniqueEntities(in)
    assert(!out.contains("Meltt") && out.contains("Melt"))
  }

  test("removal marks are computed on the ORIGINAL matrix (i kept even if removed)") {
    // reference: for i<j pairs, j is marked even when i itself was marked.
    // a~b (drop b), b~c but a!~c -> c must still be dropped (marked via b).
    val a = "abcdefgh"; val b = "abcdefgx"; val c = "defgxxxx"
    val vs = Seq(a, b, c)
    assert(cos(vs, 0, 1) > 0.5, "a~b must be similar for this fixture")
    assert(cos(vs, 1, 2) > 0.5, "b~c must be similar for this fixture")
    val out = GreedyDedup.filterUniqueEntities(vs)
    assert(out.head == a)
    assert(!out.contains(b)) // marked via pair (a,b)
    assert(!out.contains(c)) // marked via pair (b,c) even though b removed
  }

  test("Levenshtein counts code points: two emoji are two edits") {
    // By hand, over code points (Python's str): n = 2, df(a) = df(b) = 2,
    // df(😀) = 1, so idf(a) = idf(b) = 1 and idf(😀) = ln(3/2) + 1 = 1.4055.
    // cosine = (1 + 1) / (sqrt(2) * sqrt((2 * 1.4055)^2 + 1 + 1)) = 0.449,
    // not > 0.5, so pass 1 keeps both. The DP from "ab" to "😀😀ab"
    // inserts two code points: distance 2 <= 3, so pass 2 drops the later
    // entity. Counted in UTF-16 units the distance would be 4 and both
    // would stay.
    val in = Seq("ab", "😀😀ab")
    assert(math.abs(cos(in, 0, 1) - 0.449) < 1e-3)
    assert(GreedyDedup.filterUniqueEntities(in) == Seq("ab"))
    assert(ReferenceOracle.filterUnique(
      in.toList.map(e => ("TITLE", e, 0, 0)), "TITLE") == Seq("ab"))
  }

  test("empty entities fall back to first-occurrence distinct") {
    assert(GreedyDedup.filterUniqueEntities(Seq("", "", "")) == Seq(""))
    assert(GreedyDedup.filterUniqueEntities(Nil) == Nil)
  }
}
