package graft

import org.apache.spark.sql.functions._
import graft.operators.{Coref, Decode, Detector, SkewSalting, Triples}
import graft.functions.PyText
import graft.synth.TranscriptGen

/** Scale-machinery specs: skew salting equivalence, plan-shape audits
  * (shuffle budget, pushdown), Catalyst expression parity, streaming. */
class ScaleSpec extends SparkSuite {

  /** Decoded turns for hand-built coref fixtures: a TITLE turn ("Melt")
    * or an anaphor turn ("it"), per (conv_id, turn_idx, isTitle). */
  private def corefTurns(rows: Seq[(String, Int, Boolean)]) = {
    import spark.implicits._
    rows.map { case (c, i, title) =>
      if (title) Schemas.DecodedTurn(c, i, "user", null, s"Melt $i",
        Seq(Schemas.Entity("TITLE", s"Melt $i", 0, 4)))
      else Schemas.DecodedTurn(c, i, "user", null, "it", Nil)
    }.toDS()
  }

  /** Salted coref must equal [[Coref.resolve]] link for link (as a
    * multiset) and the fixture must produce links. */
  private def assertSaltedEqualsPlain(decoded: org.apache.spark.sql.Dataset[
      Schemas.DecodedTurn], window: Int, chunkSize: Int, what: String): Unit = {
    def sorted(ls: Array[Coref.CorefLink]) =
      ls.toSeq.sortBy(l => (l.conv_id, l.turn_idx, l.antecedent_turn, l.antecedent))
    val plain = sorted(Coref.resolve(spark, decoded, window).collect())
    val salted = sorted(SkewSalting.corefSalted(spark, decoded,
      window = window, chunkSize = chunkSize).collect())
    assert(plain.nonEmpty, s"$what: fixture must exercise coref")
    assert(salted == plain,
      s"$what (window=$window, chunkSize=$chunkSize): salted coref diverged")
  }

  test("salted coref == unsalted coref (overlap-context equivalence)") {
    // conv 0 is the hot conversation (320 turns) -> spans several chunks
    val turns = TranscriptGen.generate(spark, 25L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    assertSaltedEqualsPlain(decoded, 5, 50, "TranscriptGen corpus")
    // SPARSE turn indices: chunks are index ranges, not row counts — an
    // upstream filter leaving every other turn must not shift the
    // context rows at chunk boundaries
    assertSaltedEqualsPlain(decoded.filter(d => d.turn_idx % 2 == 0), 5, 50,
      "sparse turn_idx")
    // boundary: the last turn_idx (8) lies in [chunkSize - window,
    // chunkSize), so context rows go into an EMPTY next chunk
    assertSaltedEqualsPlain(corefTurns(
      (0 to 8).map(i => ("b", i, i % 2 == 0))), 3, 10, "boundary")
    // spanning: a few-row conversation whose indices span several chunks,
    // with links across every chunk boundary (and one just out of reach)
    assertSaltedEqualsPlain(corefTurns(Seq(("s", 0, true), ("s", 9, true),
      ("s", 10, false), ("s", 19, true), ("s", 21, false), ("s", 26, true),
      ("s", 30, false), ("s", 45, true), ("s", 50, false),
      // negative indices: chunks are floor-divided index ranges
      ("n", -11, true), ("n", -9, false))), 3, 10, "spanning")
    // 12 conversations x 8 turns at chunkSize 2: every conversation is
    // cut into 4 chunks and every link crosses from a context row
    assertSaltedEqualsPlain(corefTurns(for (c <- 0 until 12; i <- 0 until 8)
      yield (s"conv$c", i, i % 2 == 0)), 1, 2, "12 x 8")
    // seeded fuzz over small chunk/window pairs
    val rnd = new scala.util.Random(20261017L)
    for (round <- 0 until 12) {
      val chunkSize = 1 + rnd.nextInt(6)
      val window = 1 + rnd.nextInt(chunkSize)
      // sparse, duplicated turn indices; at most one TITLE row per
      // (conv, turn_idx), so the links do not depend on sort ties
      val rows = (0 until 4).flatMap { c =>
        val idx = (0 until 3 + rnd.nextInt(10)).map(_ => rnd.nextInt(30))
        idx.distinct.flatMap { i =>
          val title = rnd.nextInt(3) == 0
          val dups = idx.count(_ == i) - 1
          (s"f$c", i, title) +: Seq.fill(dups)((s"f$c", i, false))
        }
      } ++ Seq(("anchor", 0, true), ("anchor", 1, false))
      assertSaltedEqualsPlain(corefTurns(rows), window, chunkSize,
        s"fuzz round $round")
    }
  }

  test("corefSalted builds its plan without running a Spark job") {
    val decoded = Pipeline.decodeTurns(spark, TranscriptGen.generate(spark, 25L))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SkewSalting.corefSalted(spark, decoded, window = 5, chunkSize = 50)
      Thread.sleep(500) // let the listener bus drain (private in Spark 4)
      assert(jobs == 0, s"corefSalted ran $jobs job(s) before any action")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("extraction core is a single narrow stage: NO shuffle exchange") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 5L)
    val plan = Pipeline.extract(spark, turns).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"extract() must stay narrow (detect/decode/dedup/triples are row-local); got:\n$plan")
  }

  /** The object-form per-turn reference for the packed kernel
    * ([[Pipeline.turnEntities]]): Token objects end to end, tokenize →
    * tag → decode → me-substitute, run locally per turn. */
  private def refEntities(model: Detector.Model, text: String,
      speaker: String): Seq[Schemas.Entity] = {
    val toks = PyText.tokenizeWithOffsets(text)
    val tags = Detector.tagTokens(model, text, toks)
    Decode.meSubstitute(
      Decode.decodeEntities(text, toks.toIndexedSeq, tags.toIndexedSeq),
      if (speaker == null) "" else speaker)
  }

  test("fused packed extract == staged detect->decode->triples pipeline") {
    val turns = TranscriptGen.generate(spark, 40L)
    def key(t: Schemas.Triple) = (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)
    val fused = Pipeline.extract(spark, turns).collect().map(key).sorted.toSeq
    val model = Detector.buildModel()
    val staged = turns.collect().toSeq.flatMap { t =>
      Triples.emit(t.conv_id, t.turn_idx,
        Triples.structuredResult(refEntities(model, t.text, t.role)),
        "gazetteer:ac")
    }.map(key).sorted
    assert(fused.nonEmpty && fused == staged)
  }

  test("decodeTurns == object-form reference on corpus, fixtures and edge turns") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    val edge = Seq(
      Schemas.Turn("zedge", 0, null, null, null, ts), // null text and role
      Schemas.Turn("zedge", 1, "user", "", "search", ts), // empty text
      Schemas.Turn("zedge", 2, null, "Melt remixed by me", null, ts),
      Schemas.Turn("zedge", 3, "user",
        "press play on \" Neon Cascade Drift \" when it loads", null, ts))
    val turns = TranscriptGen.generate(spark, 40L).collect().toSeq ++
      SparkEntry.mentionFixtureTurns ++ SparkEntry.linkerFixtureTurns ++ edge
    val model = Detector.buildModel()
    def byKey(ds: Seq[Schemas.DecodedTurn]) =
      ds.sortBy(d => (d.conv_id, d.turn_idx))
    val expected = byKey(turns.map(t => Schemas.DecodedTurn(t.conv_id,
      t.turn_idx, t.role, t.tool, t.text, refEntities(model, t.text, t.role))))
    val got = byKey(Pipeline.decodeTurns(spark, turns.toDS()).collect().toSeq)
    assert(expected.exists(_.entities.exists(_.text == "")),
      "fixture must exercise me-substitution with a null speaker")
    assert(got == expected)
  }

  test("parquet scan prunes columns and pushes filters") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .where(col("l_orderkey") < 100)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"),
      s"filter must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema") &&
      plan.contains("struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan must read only 2 columns:\n$plan")
  }

  test("join/agg queries use whole-stage codegen and broadcast the dim side") {
    val q = SparkEntry.queries("q_join_revenue_by_nation")
    val df = q(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // whole-stage codegen renders as "*(n)" stage markers in toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
  }

  /** (BroadcastExchange, ReusedExchange) node counts in a collected
    * query's FINAL adaptive plan — `executedPlan.toString` prints the
    * initial plan as well, and a ReusedExchange's line names the exchange
    * it reuses, so string counts would over-count. */
  private def finalBroadcasts(df: org.apache.spark.sql.Dataset[_]): (Int, Int) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ReusedExchangeExec}
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    (helper.collect(plan) { case b: BroadcastExchangeExec => b }.size,
      helper.collect(plan) { case r: ReusedExchangeExec => r }.size)
  }

  test("edges join broadcasts the canonical maps: triples stream never shuffles") {
    import spark.implicits._
    import graft.operators.{Canonicalize, Triples}
    val turns = TranscriptGen.generate(spark, 25L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    // materialize the map first (as runCheckpointed/canonPrefix do) so
    // the inspected plan is the EDGES stage alone, not the map build
    val canon = Canonicalize.canonicalMap(spark,
      graft.operators.Decode.mentions(spark, decoded).toDF()).localCheckpoint()
    val e = Canonicalize.edges(spark, Triples.triples(spark, decoded), canon)
    e.collect() // finalize adaptive plan
    val plan = e.queryExecution.executedPlan.toString
    // all three map joins must be broadcast — a sort-merge/shuffled-hash
    // join here would re-shuffle the (huge) triple stream on a skewed
    // surface key. (The canonMap build inside the broadcast subtrees has
    // its own joins, so assert >= 3 BHJ and ZERO shuffle-side joins
    // anywhere rather than an exact count.)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected the 3 map joins to broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"triples side must not shuffle:\n$plan")
    // ONE broadcast of the canonical map, read by the other two lookups
    // through ReusedExchange
    assert(finalBroadcasts(e) == (1, 2),
      s"expected 1 BroadcastExchange + 2 ReusedExchange:\n$plan")
  }

  test("incremental edge re-map over UNIONED snapshots keeps the no-shuffle plan") {
    import spark.implicits._
    import graft.operators.{Canonicalize, Triples}
    // the runIncremental edge stage reads a UNION of per-batch parquet
    // snapshots — the union must stay on the narrow side (parquet scans
    // concatenate; no exchange is needed to union), so the re-map pass
    // keeps the exact plan shape the single-snapshot path pins above
    val turns = TranscriptGen.generate(spark, 20L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    val dir = java.nio.file.Files.createTempDirectory("edges_union").toString
    val t = Triples.triples(spark, decoded).toDF()
    t.where(col("turn_idx") % 2 === 0).write.parquet(s"$dir/b0")
    t.where(col("turn_idx") % 2 === 1).write.parquet(s"$dir/b1")
    val unioned = spark.read.parquet(s"$dir/b0")
      .unionByName(spark.read.parquet(s"$dir/b1"))
    val canon = Canonicalize.canonicalMap(spark,
      graft.operators.Decode.mentions(spark, decoded).toDF()).localCheckpoint()
    val e = Canonicalize.edges(spark,
      unioned.as[Schemas.Triple], canon)
    e.collect()
    val plan = e.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"unioned-snapshot re-map must broadcast the maps:\n$plan")
    // same criterion as the single-snapshot pin above: a shuffle-side
    // join anywhere would mean the triple stream re-partitioned (the
    // broadcast subtrees legitimately contain their own exchanges)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"unioned triple snapshots must not shuffle:\n$plan")
    assert(finalBroadcasts(e) == (1, 2),
      s"expected 1 BroadcastExchange + 2 ReusedExchange:\n$plan")
  }

  test("batch >= 1 forms merge is one aggregate: one shuffle over snapshot + mention rows") {
    import graft.operators.Canonicalize
    import graft.sources.IcebergishTable
    // runIncremental's surface_forms_b<i> plan for i >= 1: the previous
    // committed forms snapshot plus the batch's committed linked mentions
    // as unit-count form rows, summed by ONE aggregate. Aggregating the
    // batch on its own first would add a second shuffle.
    val mentions = Decode.mentions(spark,
      Pipeline.decodeTurns(spark, TranscriptGen.generate(spark, 30L))).toDF()
    val root = java.nio.file.Files.createTempDirectory("forms_merge").toString
    IcebergishTable.commit(spark, Canonicalize.surfaceForms(
      mentions.where(crc32(col("conv_id")) % 2 === 0)), root, "forms", "tag")
    IcebergishTable.commit(spark,
      mentions.where(crc32(col("conv_id")) % 2 === 1), root, "linked", "conv_id")
    val prev = IcebergishTable.read(spark, root, "forms")
    val batch = IcebergishTable.read(spark, root, "linked")
    val merged = Canonicalize.mergeForms(prev, Canonicalize.mentionForms(batch))
    val rows = merged.collect().map(_.toString).sorted.toSeq // final plan
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val plan = merged.queryExecution.executedPlan
    val shuffles = helper.collect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size == 1, s"expected one shuffle:\n$plan")
    val reference = Canonicalize.mergeForms(prev,
      Canonicalize.surfaceForms(batch)).collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty && rows == reference)
  }

  test("top-K plans TakeOrderedAndProject; ranked queries carry no global window") {
    import graft.operators.TopK
    val rev = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val plan = TopK.top(rev, 10,
      Seq(col("revenue").desc, col("o_custkey").asc))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must plan TakeOrderedAndProject:\n$plan")
    // assert the PRE-collect plan for the vocab query's distributed part
    // too (TopK.ranked collects then re-parallelizes, so inspecting the
    // final ranked DataFrame would be vacuous — it is just a scan of
    // driver-local rows regardless of how the top-K was computed)
    val words = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val vocabPlan = TopK.top(words, 20,
      Seq(col("cnt").desc, col("word").asc))
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject") &&
      !vocabPlan.contains("Window"),
      s"vocab top-K must plan TakeOrderedAndProject, no window:\n$vocabPlan")
  }

  test("levenshtein pair query is a blocked equi-join, not a cartesian product") {
    val df = SparkEntry.queries("q_word_pairs_lev")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"self-join must be length-blocked:\n$p")
  }

  test("Catalyst StaticInvoke/doGenCode expressions match the Scala semantics") {
    import spark.implicits._
    val exp = Seq("o'neill's SONG", "miku's", "日本語 test", "Tavaszi Szél")
    // through the SQL surface GraftExtensions registers: py_title,
    // cp_to_utf16 and utf16_to_cp are StaticInvokes, normalize_ascii the
    // doGenCode Expression
    GraftExtensions.register(spark)
    val got = exp.toDF("s").selectExpr("py_title(s)", "cp_to_utf16(s, 2)",
      "utf16_to_cp(s, 2)", "normalize_ascii(s)").collect()
    got.zip(exp).foreach { case (r, s) =>
      assert(r.getString(0) == graft.functions.PyText.pyTitle(s))
      assert(r.getInt(1) == graft.functions.PyText.cpToUtf16(s, 2))
      assert(r.getInt(2) == graft.functions.PyText.utf16ToCp(s, 2))
    }
    // NFKD fold strips the accent
    assert(got.last.getString(3) == "Tavaszi Szel")
  }

  test("normalizeAscii transliterates Greek/Cyrillic/Kana (unidecode analog)") {
    import spark.implicits._
    val cases = Seq(
      ("Αθήνα", "Athina"), // Greek incl. accented eta (mark stripped first)
      ("Чайковский", "Chaikovskii"), // Cyrillic, BGN-like
      ("Москва 1812", "Moskva 1812"),
      ("はつねみく", "hatsunemiku"), // hiragana
      ("ハツネ ミク", "hatsune miku"), // katakana
      ("きゃりー", "kyarii"), // digraph + long-vowel mark
      ("しゃちょう", "shachou"), // sha digraph (not shya)
      ("じゃがいも", "jagaimo"), // ja digraph
      ("きっと", "kitto"), // sokuon gemination
      ("ひゃく", "hyaku"), // hi+small-ya keeps the y (not "haku")
      ("にゅう", "nyuu"), // ni+small-yu
      ("ヴォーカロイド", "vookaroido"), // vu + small vowel + long mark
      ("がぎぐげご", "gagigugego"), // voicing marks survive the NFKD strip
      ("あっ", "atsu"), // trailing sokuon emits its standalone reading
      ("まって初音", "matte初音"), // geminating sokuon before unmapped Han
      ("あっ初音", "atsu初音"), // unconsumed sokuon before unmapped Han
      ("っお", "tsuo"), // sokuon before a vowel-initial syllable
      ("一ヶ月", "一ke月"), // small ke (counter) now mapped
      ("初音ミク", "初音miku"), // Han passes through (documented divergence)
      ("Tavaszi Szél", "Tavaszi Szel"), // Latin accents still fold
      ("ｆｕｌｌｗｉｄｔｈ１２３", "fullwidth123")) // NFKD compatibility
    GraftExtensions.register(spark)
    val got = cases.map(_._1).toDF("s")
      .selectExpr("normalize_ascii(s)").collect()
      .map(_.getString(0)).toSeq
    assert(got == cases.map(_._2),
      got.zip(cases).filter(p => p._1 != p._2._2).mkString("; "))
  }

  test("driver graph-stage column twins == Spark expressions (incl. astral)") {
    import spark.implicits._
    import graft.operators.Canonicalize
    // normKeyJvm/substrCp/reverseCp (the normalized key and the block keys
    // of both canonicalization paths) must keep Spark's semantics, which
    // the SQL oracle re-derives — pin them against the REAL Spark
    // expressions on hostile strings (astral clefs/notes, combining
    // marks, fullwidth, CJK, mixed case)
    val rnd = new scala.util.Random(77L)
    val pool = Array("a", "B", "z", "0", "9", "!", "-", " ", "夜", "駆",
      "á", "Ő", "ß", "Σ", "σ", "ς", "🎵", "𝄞", "　", "ﾞ", "１", "Ｋ", ".")
    val strings = (0 until 120).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } :+ "" :+ "🎵𝄞🎵" :+ "𝄞abc"
    val df = strings.toDF("s").select(col("s"),
      regexp_replace(lower(col("s")), "[^\\p{L}\\p{N}]", "").as("nk"),
      substring(col("s"), 1, 2).as("sub2"),
      reverse(col("s")).as("rev"))
    df.collect().foreach { r =>
      val in = r.getString(0)
      assert(Canonicalize.normKeyJvm(in) == r.getString(1),
        s"normKey twin diverged on '$in'")
      assert(Canonicalize.substrCp(in, 2) == r.getString(2),
        s"substr twin diverged on '$in'")
      assert(Canonicalize.reverseCp(in) == r.getString(3),
        s"reverse twin diverged on '$in'")
    }
  }

  test("streaming ingestion: same triples as batch, duplicates dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batchTurns = TranscriptGen.turnsOfConv(42L, 3L, 8)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Schemas.Turn]
    mem.addData(batchTurns)
    mem.addData(batchTurns.take(3)) // duplicates — must be dropped
    val triples = graft.streaming.StreamingIngest.tripleStream(spark, mem.toDS())
    val q = triples.writeStream.format("memory").queryName("t_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_out").as[Schemas.Triple].collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    val expected = Pipeline.extract(spark, batchTurns.toDS()).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    assert(got == expected)
  }
}
