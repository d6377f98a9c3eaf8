package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.PyText
import graft.operators.{Canonicalize, Decode, Detector, GreedyDedup}
import graft.Schemas.Token

/** Property tests (SURVEY.md §5.2-3): invariants over random inputs,
  * including astral-plane and CJK codepoints. */
class PropertySpec extends AnyFunSuite {

  /** Deterministic scalacheck sampling (no scalatestplus bridge in the
    * offline cache): 200 seeded samples per property. */
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(t => f(t._1, t._2))

  // text generator mixing ASCII, CJK, Hungarian accents, astral chars, ws
  private val charGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\n", "\t", "　"),
    1 -> Gen.oneOf("夜", "駆", "á", "ő", "ﾞ", "【", "】", "(", ")", "\""),
    1 -> Gen.oneOf("🎵", "🎸", "𝄞"),
    1 -> Gen.oneOf(".", "!", ",", "#", "/"))
  private val textGen: Gen[String] =
    Gen.listOf(charGen).map(_.mkString).map(_.take(200))

  test("tokenizer: offsets slice back to tokens; tokens ordered, non-overlapping") {
    forAll(textGen) { text =>
      val toks = PyText.tokenizeWithOffsets(text)
      toks.foreach(t => assert(text.substring(t.start, t.end) == t.tok))
      toks.sliding(2).foreach {
        case Array(a, b) => assert(a.end <= b.start)
        case _ =>
      }
      // filter semantics: no token is pure whitespace except "\n"
      toks.foreach(t => assert(t.tok == "\n" || !PyText.pyIsSpace(t.tok)))
    }
  }

  test("tokenizer: concatenation of tokens + dropped whitespace = original") {
    forAll(textGen) { text =>
      // every non-space codepoint of the input appears in some token
      val tokChars = PyText.tokenizeWithOffsets(text)
        .flatMap(t => (t.start until t.end)).toSet
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        val s = text.substring(i, i + Character.charCount(cp))
        if (!(s == "\n" || PyText.pyIsSpace(s)) || s == "\n") {
          // "\n" is kept; other whitespace dropped; everything else kept
        }
        if (!PyText.pyIsSpace(s) || s == "\n")
          assert((i until i + Character.charCount(cp)).forall(tokChars.contains),
            s"codepoint at $i ($s) lost")
        i += Character.charCount(cp)
      }
    }
  }

  test("UTF-16 <-> codepoint index bijection on random unicode") {
    forAll(textGen) { text =>
      val nCp = text.codePointCount(0, text.length)
      (0 to nCp).foreach { cp =>
        val u16 = PyText.cpToUtf16(text, cp)
        assert(PyText.utf16ToCp(text, u16) == cp)
      }
    }
  }

  test("decode: spans non-overlapping, ordered, never tagged O, text slices match") {
    val tagGen = Gen.listOf(Gen.oneOf("O", "O", "TITLE", "VOCALOID", "ALBUM"))
    forAll2(textGen, tagGen) { (text, rawTags) =>
      val toks = PyText.tokenizeWithOffsets(text).toIndexedSeq
      val tags = toks.indices.map(i =>
        if (i < rawTags.length) rawTags(i) else "O")
      val ents = Decode.decodeEntities(text, toks, tags)
      ents.foreach { e =>
        assert(e.tag != "O")
        assert(e.text == text.substring(e.start, e.end))
      }
      ents.sliding(2).foreach {
        case Seq(a, b) => assert(a.end <= b.start || a.start <= b.start)
        case _ =>
      }
      // count parity: entities == number of maximal non-O same-tag runs
      val runs = tags.foldLeft(List.empty[String]) {
        case (acc, t) if t == "O" => if (acc.headOption.contains("O")) acc else "O" :: acc
        case (acc, t) => if (acc.headOption.contains(t)) acc else t :: acc
      }.count(_ != "O")
      assert(ents.size == runs)
    }
  }

  test("dedup: output subset of input, order preserved, pairwise lev > 3 (post-tfidf)") {
    val entGen = Gen.listOf(Gen.oneOf("Senbonzakura", "Senbonzakura!",
      "Melt", "Meltt", "World is Mine", "Ghost Rule", "xx", "😀😀xx", ""))
    forAll(entGen) { ents =>
      val out = GreedyDedup.filterUniqueEntities(ents)
      // subset + order preserved
      assert(out.toSet.subsetOf(ents.toSet))
      val positions = out.map(ents.indexOf)
      assert(positions == positions.sorted)
      // pairwise Levenshtein (over code points) > 3 among kept
      for (i <- out.indices; j <- i + 1 until out.size)
        assert(Canonicalize.jvmLev(out(i).codePoints().toArray,
          out(j).codePoints().toArray) > 3, s"${out(i)} ~ ${out(j)}")
    }
  }

  /** Test reference for [[GreedyDedup.filterUniqueEntities]]: the dedup's
    * former standalone kernel (its own tf-idf vectors, dot product and
    * Levenshtein), copied verbatim except that the Levenshtein walks code
    * points, as the reference's Python DP does, not UTF-16 units. */
  private object DedupReference {
    def tfidfVectors(corpus: Seq[String]): Array[Map[Int, Double]] = {
      val lowered = corpus.map(_.toLowerCase(java.util.Locale.ROOT))
      val counts: Array[Map[Int, Int]] = lowered.map { s =>
        val m = scala.collection.mutable.Map.empty[Int, Int]
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          m(cp) = m.getOrElse(cp, 0) + 1
          i += Character.charCount(cp)
        }
        m.toMap
      }.toArray
      val n = corpus.length
      val df = scala.collection.mutable.Map.empty[Int, Int]
      counts.foreach(_.keys.foreach(c => df(c) = df.getOrElse(c, 0) + 1))
      val idf: Map[Int, Double] =
        df.map { case (c, d) => c -> (math.log((1.0 + n) / (1.0 + d)) + 1.0) }.toMap
      counts.map { m =>
        val v = m.map { case (c, tf) => c -> tf * idf(c) }
        val norm = math.sqrt(v.values.map(x => x * x).sum)
        if (norm == 0.0) v else v.map { case (c, x) => c -> x / norm }
      }
    }

    private def dot(a: Map[Int, Double], b: Map[Int, Double]): Double = {
      val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
      small.iterator.map { case (k, v) => v * big.getOrElse(k, 0.0) }.sum
    }

    def levenshtein(a0: String, b0: String): Int = {
      val (a, b) = (a0.codePoints().toArray, b0.codePoints().toArray)
      if (a.length < b.length) return levenshtein(b0, a0)
      if (b.isEmpty) return a.length
      var prev = Array.tabulate(b.length + 1)(identity)
      var i = 0
      while (i < a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i + 1
        var j = 0
        while (j < b.length) {
          val ins = prev(j + 1) + 1
          val del = cur(j) + 1
          val sub = prev(j) + (if (a(i) != b(j)) 1 else 0)
          cur(j + 1) = math.min(ins, math.min(del, sub))
          j += 1
        }
        prev = cur
        i += 1
      }
      prev(b.length)
    }

    def filterUniqueEntities(entities: Seq[String]): Seq[String] = {
      if (entities.isEmpty) return Seq.empty
      if (entities.lengthCompare(1) == 0) return entities
      val nonEmptyVocab = entities.exists(_.nonEmpty)
      val afterTfidf: Seq[String] =
        if (!nonEmptyVocab) {
          entities.distinct
        } else {
          val vecs = tfidfVectors(entities)
          val toRemove = scala.collection.mutable.Set.empty[Int]
          var i = 0
          while (i < entities.length) {
            var j = i + 1
            while (j < entities.length) {
              if (dot(vecs(i), vecs(j)) > 0.5) toRemove += j
              j += 1
            }
            i += 1
          }
          entities.zipWithIndex.collect { case (e, idx) if !toRemove(idx) => e }
        }
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      afterTfidf.foreach { e =>
        if (kept.forall(other => levenshtein(e, other) > 3)) kept += e
      }
      kept.toSeq
    }
  }

  test("dedup: the kernel's decisions equal the standalone reference (BMP + astral)") {
    // near-duplicate lists: each entity is one of a few base strings with
    // up to two chars added, replaced or dropped, or empty
    def listGen(alphabet: Seq[String]): Gen[List[String]] = {
      val word = Gen.chooseNum(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(alphabet)))
      for {
        bases <- Gen.listOfN(2, word)
        n <- Gen.chooseNum(0, 6)
        ents <- Gen.listOfN(n, Gen.frequency(
          1 -> Gen.const(""),
          6 -> (for {
            base <- Gen.oneOf(bases)
            edits <- Gen.listOfN(2, Gen.zip(Gen.chooseNum(0, 3),
              Gen.chooseNum(0, 8), Gen.oneOf(alphabet)))
          } yield edits.foldLeft(base) { case (w, (op, at, c)) =>
            val k = math.min(at, w.length)
            op match {
              case 0 => w.patch(k, Seq(c), 0) // add
              case 1 => w.patch(k, Seq(c), 1) // replace
              case 2 => w.patch(k, Nil, 1) // drop
              case _ => w
            }
          }.mkString)))
      } yield ents
    }
    val bmp = Seq("a", "b", "e", "M", "n", "s", "z", "İ", "Σ", "ς", "σ", "夜",
      "駆", "に", " ", "!", "0")
    val astral = bmp ++ Seq("😀", "🎵", "𝄞")
    var astralLists = 0
    for (alphabet <- Seq(bmp, astral))
      forAll(listGen(alphabet), n = 2000) { ents =>
        if (ents.exists(e => e.length != e.codePointCount(0, e.length)))
          astralLists += 1
        assert(GreedyDedup.filterUniqueEntities(ents) ==
          DedupReference.filterUniqueEntities(ents), s"diverged on $ents")
      }
    assert(astralLists > 500, s"only $astralLists lists hold astral chars")
  }

  test("detector tags are deterministic and independent of prior calls") {
    val model = Detector.buildModel()
    forAll(textGen) { text =>
      val toks = PyText.tokenizeWithOffsets(text)
      val a = Detector.tagTokens(model, text, toks).toSeq
      val b = Detector.tagTokens(model, text, toks).toSeq
      assert(a == b)
      assert(a.length == toks.length)
    }
  }

  test("packed hot path == object forms: tokenizer offsets, tagger, decoder") {
    val model = Detector.buildModel()
    forAll(textGen, n = 400) { text =>
      val toks = PyText.tokenizeWithOffsets(text)
      val packed = PyText.tokenizeOffsetsPacked(text)
      assert(packed.toSeq ==
        toks.toSeq.map(t => (t.start.toLong << 32) | t.end.toLong),
        s"offsets diverged on: $text")
      val tags = Detector.tagTokens(model, text, toks)
      val tagsP = Detector.tagTokensPacked(model, text, packed)
      assert(tags.toSeq == tagsP.toSeq, s"tags diverged on: $text")
      assert(Decode.decodeEntitiesPacked(text, packed, tagsP) ==
        Decode.decodeEntities(text, toks.toIndexedSeq, tags.toIndexedSeq),
        s"decode diverged on: $text")
    }
  }

  test("tokenizer scanner == regex form on random unicode (incl. astral/CJK)") {
    forAll(textGen, n = 400) { text =>
      val a = PyText.tokenizeWithOffsets(text).toSeq
      val b = PyText.tokenizeWithOffsetsRegex(text).toSeq
      assert(a == b, s"scanner/regex divergence on ${text.take(80)}")
    }
  }

  test("OSA distance: identity, symmetry, bounded by levenshtein, swap costs 1") {
    val keyGen = Gen.listOfN(12, Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf("夜", "駆", "á"),
      1 -> Gen.oneOf("🎵", "𝄞"))).map(_.mkString)
    def cp(s: String) = s.codePoints().toArray
    forAll2(keyGen, keyGen) { (a, b) =>
      assert(Canonicalize.jvmOsa(cp(a), cp(a)) == 0)
      val d = Canonicalize.jvmOsa(cp(a), cp(b))
      assert(d == Canonicalize.jvmOsa(cp(b), cp(a))) // symmetric
      assert(d <= Canonicalize.jvmLev(cp(a), cp(b))) // transpositions only help
      // lev counts a transposition as 2; OSA never saves more than half
      assert(Canonicalize.jvmLev(cp(a), cp(b)) <= 2 * d)
    }
    // swapping two adjacent DISTINCT code points costs exactly 1
    forAll(keyGen.suchThat(_.nonEmpty)) { a =>
      val cps = a.codePoints().toArray
      val i = cps.length / 2
      if (i + 1 < cps.length && cps(i) != cps(i + 1)) {
        val swapped = cps.clone()
        val t = swapped(i); swapped(i) = swapped(i + 1); swapped(i + 1) = t
        val b = new String(swapped, 0, swapped.length)
        assert(Canonicalize.jvmOsa(cp(a), cp(b)) == 1, s"swap in '$a' -> '$b'")
      }
    }
  }

  /** The reference for [[Canonicalize.Key]]'s cosine: the per-pair form,
    * which builds both tf-idf vectors from their strings on every call
    * (copied verbatim from the kernel it replaced). */
  private def tfidfCosine(ka: String, kb: String,
      idf: Map[String, Double]): Double = {
    def vec(s: String): collection.Map[String, Double] = {
      val counts = scala.collection.mutable.HashMap.empty[String, Double]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val k = new String(Character.toChars(cp))
        counts.update(k, counts.getOrElse(k, 0.0) + 1.0)
        i += Character.charCount(cp)
      }
      var norm2 = 0.0
      counts.mapValuesInPlace { (c, tf) =>
        val w = tf * idf.getOrElse(c, 1.0); norm2 += w * w; w
      }
      val n = math.sqrt(norm2)
      if (n == 0) counts else counts.mapValuesInPlace((_, x) => x / n)
    }
    val (va, vb) = (vec(ka), vec(kb))
    va.iterator.map { case (c, x) => x * vb.getOrElse(c, 0.0) }.sum
  }

  @inline private def hasSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** The reference for the code-point Levenshtein: the two-loop form
    * (chars for surrogate-free strings, code points otherwise), copied
    * verbatim. */
  private def jvmLev(a: String, b: String): Int = {
    // BMP fast path: this runs per member-leader pair in the refinement
    // inner loop (allocation rate is the measured scaling limiter);
    // surrogate-free strings — the overwhelming majority of normalized
    // keys — compare chars directly with only the dp row allocated. The
    // codepoint form below keeps astral chars at one edit each.
    if (!hasSurrogate(a) && !hasSurrogate(b)) {
      val dp = Array.tabulate(b.length + 1)(identity)
      var i = 1
      while (i <= a.length) {
        var prevDiag = dp(0); dp(0) = i
        var j = 1
        while (j <= b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prevDiag + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
          prevDiag = t
          j += 1
        }
        i += 1
      }
      return dp(b.length)
    }
    val ca = a.codePoints().toArray
    val cb = b.codePoints().toArray
    val dp = Array.tabulate(cb.length + 1)(identity)
    var i = 1
    while (i <= ca.length) {
      var prevDiag = dp(0); dp(0) = i
      var j = 1
      while (j <= cb.length) {
        val t = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prevDiag + (if (ca(i - 1) == cb(j - 1)) 0 else 1))
        prevDiag = t
        j += 1
      }
      i += 1
    }
    dp(cb.length)
  }

  test("alias-test keys: cosine bits and levenshtein equal the per-pair reference") {
    val alphabet = Seq("a", "b", "e", "n", "s", "z", "á", "ő", "夜", "駆",
      "に", "α", "β", "ς", "σ", "0", "7", "🎵", "𝄞", "😀")
    val keyGen = Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    // a random idf over a random subset of the alphabet; the others fall
    // back to weight 1.0, as in the kernel
    val idfGen = Gen.someOf(alphabet).flatMap(cs =>
      Gen.listOfN(cs.size, Gen.chooseNum(1.0, 9.0))
        .map(ws => cs.zip(ws).toMap))
    forAll(for { idf <- idfGen; a <- keyGen; b <- keyGen } yield (idf, a, b),
        n = 2000) { case (idf, a, b) =>
      val (ka, kb) = (Canonicalize.key(a, idf), Canonicalize.key(b, idf))
      for ((x, y, kx, ky) <- Seq((a, b, ka, kb), (b, a, kb, ka), (a, a, ka, ka)))
        assert(java.lang.Double.doubleToRawLongBits(kx.cosine(ky)) ==
          java.lang.Double.doubleToRawLongBits(tfidfCosine(x, y, idf)),
          s"cosine bits differ on '$x' / '$y'")
      assert(Canonicalize.jvmLev(ka.cps, kb.cps) == jvmLev(a, b),
        s"levenshtein differs on '$a' / '$b'")
    }
  }

  test("sortedJaccard merge == set-based jaccard on random long arrays") {
    // pin the UDF's merge against the obvious set formula (the DocDedup
    // verification path depends on this merge being exact)
    val arrGen = Gen.listOf(Gen.chooseNum(-50L, 50L))
      .map(_.distinct.sorted.toArray)
    forAll2(arrGen, arrGen) { (a, b) =>
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val merge =
        if (a.isEmpty && b.isEmpty) 0.0
        else inter.toDouble / (a.length + b.length - inter)
      val expected =
        if (a.isEmpty && b.isEmpty) 0.0
        else {
          val (sa, sb) = (a.toSet, b.toSet)
          sa.intersect(sb).size.toDouble / sa.union(sb).size
        }
      assert(math.abs(merge - expected) < 1e-12)
    }
  }

  test("minhash signature: deterministic, bounded, min monotone under shingle superset") {
    import graft.operators.DocDedup
    import org.apache.spark.sql.functions.lit
    def sig(text: String): Seq[Long] = SharedSpark.spark.range(1)
      .select(DocDedup.minhashSignature(lit(text), numHashes = 32))
      .head.getSeq[Long](0)
    val base = "the quick brown fox jumps the lazy dog"
    val sh = sig(base)
    assert(sh.length == 32)
    assert(sh.forall(v => v >= 0 && v <= 2147483647L))
    assert(sig(base) == sh) // deterministic across evaluations
    // the extended text's shingle set is a SUPERSET of the base's (same
    // leading tokens), so every permutation-min can only stay or drop
    val sh2 = sig(base + " and then some more text")
    sh.zip(sh2).foreach { case (a, b) => assert(b <= a) }
  }

  test("surfaceForms is distributive: k-way RANDOM row splits merge to the full aggregate") {
    // the incremental design's load-bearing algebra — and a stronger
    // claim than the conversation-split equality in KgStagesSpec: rows
    // are split arbitrarily (a surface's mentions scattered over ALL
    // parts), and folding mergeForms over per-part aggregates must
    // reproduce the one-shot aggregate exactly
    import org.apache.spark.sql.functions.{col, pmod, crc32, concat_ws, lit}
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val tags = Array("TITLE", "VOCALOID", "ORIGINAL_AUTHOR")
    val surfaces = Array("Melt", "melt", "Senbonzakura", "夜に駆ける",
      "DECO*27", "Hatsune Miku", "  padded  ", "🎵 clef")
    val rows = (0 until 3000).map { i =>
      (tags(rnd.nextInt(tags.length)), surfaces(rnd.nextInt(surfaces.length)), i)
    }
    val mentions = rows.toDF("tag", "text", "i")
    val full = graft.operators.Canonicalize.surfaceForms(mentions)
      .collect().map(_.toString).sorted.toSeq
    for (k <- Seq(2, 5)) {
      val parts = (0 until k).map(p => mentions.where(
        pmod(crc32(concat_ws("#", col("i").cast("string"), lit(k))), lit(k)) === p))
      // every row lands in exactly one part
      assert(parts.map(_.count()).sum == 3000)
      val merged = parts.map(graft.operators.Canonicalize.surfaceForms)
        .reduce(graft.operators.Canonicalize.mergeForms)
        .collect().map(_.toString).sorted.toSeq
      assert(merged == full, s"k=$k merge diverged")
    }
  }
}
