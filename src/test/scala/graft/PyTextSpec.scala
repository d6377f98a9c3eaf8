package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PyText

/** Golden pins of CPython string semantics (generated from CPython 3.11;
  * see SURVEY.md §2.7 F1/F2/F9 for why JVM defaults differ). */
class PyTextSpec extends AnyFunSuite {

  test("tokenizer golden cases (TokenizerCustom.py:7-28)") {
    assert(PyText.tokenize("Hello, world!").toSeq == Seq("Hello", ",", "world!"))
    assert(PyText.tokenize("夜に駆ける feat. YOASOBI").toSeq ==
      Seq("夜に駆ける", "feat.", "YOASOBI"))
    // accented vowels are in the FIRST regex alternative, ASCII letters in
    // the second -> mixed words split (CPython-verified)
    assert(PyText.tokenize("Tavaszi Szél vizet áraszt").toSeq ==
      Seq("Tavaszi", "Sz", "é", "l", "vizet", "á", "raszt"))
    // \n survives the whitespace filter; other whitespace dropped
    assert(PyText.tokenize("a\nb  c").toSeq == Seq("a", "\n", "b", "c"))
    // astral-plane char stays ONE token (codepoint explosion, not UTF-16)
    assert(PyText.tokenize("🎵 Melt (cover) 【MV】").toSeq ==
      Seq("🎵", "Melt", "(", "cover", ")", "【", "MV", "】"))
    // halfwidth katakana is NOT in the pattern (only fullwidth) -> per-char;
    // fullwidth digits and trailing [.!]* runs are kept
    assert(PyText.tokenize("ｾﾝﾎﾞﾝｻﾞｸﾗ ０１２ test42!!").toSeq ==
      Seq("ｾ", "ﾝ", "ﾎ", "ﾞ", "ﾝ", "ｻ", "ﾞ", "ｸ", "ﾗ", "０１２", "test42!!"))
  }

  test("tokenizer offsets reconstruct the text slices") {
    val text = "🎵 Melt (cover) 【MV】 feat. Szél"
    PyText.tokenizeWithOffsets(text).foreach { t =>
      assert(text.substring(t.start, t.end) == t.tok)
    }
  }

  test("pyIsSpace matches CPython str.isspace") {
    assert(PyText.pyIsSpace("\u001c")) // FS control: Python-space, not Java
    assert(PyText.pyIsSpace("\u0085")) // NEL
    assert(PyText.pyIsSpace("\u00a0")) // NBSP: Java isWhitespace=false
    assert(PyText.pyIsSpace("\u3000")) // ideographic space
    assert(PyText.pyIsSpace("\n"))
    assert(!PyText.pyIsSpace("a"))
    assert(!PyText.pyIsSpace("")) // empty string is NOT space in Python
  }

  test("pyTitle matches CPython str.title (boundary = any uncased char)") {
    assert(PyText.pyTitle("hello world") == "Hello World")
    assert(PyText.pyTitle("hello-world") == "Hello-World")
    assert(PyText.pyTitle("o'neill's SONG") == "O'Neill'S Song")
    assert(PyText.pyTitle("3d print") == "3D Print")
    assert(PyText.pyTitle("miku's") == "Miku'S")
    assert(PyText.pyTitle("日本語 test") == "日本語 Test")
    assert(PyText.pyTitle("") == "")
  }

  test("UTF-16 <-> codepoint index conversion (src/prod.py:20-24)") {
    val s = "a🎵b" // 🎵 = 2 UTF-16 units, 1 codepoint
    assert(PyText.cpToUtf16(s, 0) == 0)
    assert(PyText.cpToUtf16(s, 1) == 1)
    assert(PyText.cpToUtf16(s, 2) == 3) // +2 for the astral char
    assert(PyText.utf16ToCp(s, 3) == 2)
    assert(PyText.utf16ToCp(s, 4) == 3)
  }

  test("levenshtein matches the reference DP (src/prod.py:158-175)") {
    def lev(a: String, b: String) = graft.operators.Canonicalize.jvmLev(
      a.codePoints().toArray, b.codePoints().toArray)
    assert(lev("kitten", "sitting") == 3)
    assert(lev("", "abc") == 3)
    assert(lev("abc", "abc") == 0)
    assert(lev("Melt", "Melt!") == 1)
    // Python's DP walks code points: two emoji are 2 edits, not 4 units
    assert(lev("ab", "😀😀ab") == 2)
  }

}
