package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.Schemas._
import graft.operators._
import graft.synth.TranscriptGen

class KgStagesSpec extends SparkSuite {

  test("linker: exact gazetteer match, speaker, surface fallback") {
    val dict = Linker.buildDict()
    def m(tag: String, text: String) =
      Mention("c1", 0, tag, text, 0, 1, "t", 1.0)
    assert(Linker.linkOne(dict, m("TITLE", "senbonzakura"), Set("user")).entity_id == "t1")
    assert(Linker.linkOne(dict, m("TITLE", "Senbonzakura"), Set("user")).link_score == 1.0)
    val sp = Linker.linkOne(dict, m("ORIGINAL_AUTHOR", "user"), Set("user"))
    assert(sp.entity_id == "speaker:user" && sp.link_score == 0.9)
    val sf = Linker.linkOne(dict, m("TITLE", "Unknown Song 99"), Set("user"))
    assert(sf.entity_id == "sf:TITLE:unknownsong99" && sf.link_score == 0.5)
    // normalized match: punctuation-stripped surface still links
    val nm = Linker.linkOne(dict, m("ORIGINAL_AUTHOR", "deco 27"), Set("user"))
    assert(nm.entity_id == Gazetteer.linkIndex("deco*27") && nm.link_score == 0.7)
    // codepoint-aware normalization (same character rule as
    // Canonicalize.normKeyJvm): astral-plane letters and non-decimal
    // numerals survive — a per-Char isLetterOrDigit filter strips both
    val dd = new String(Character.toChars(0x1D544)) // MATH DOUBLE-STRUCK M
    assert(Linker.norm(s"${dd}elt!") == s"${dd}elt")
    assert(Linker.norm("Chapter Ⅻ") == "chapterⅻ") // Ⅻ -> ⅻ (Nl)
  }

  test("coref: anaphor resolves to most recent TITLE within window") {
    import spark.implicits._
    def turn(c: String, i: Int, text: String, ents: Seq[Entity]) =
      DecodedTurn(c, i, "user", null, text, ents)
    val decoded = Seq(
      turn("c1", 0, "Melt is great", Seq(Entity("TITLE", "Melt", 0, 4))),
      turn("c1", 1, "honestly it deserves an award", Nil),
      turn("c1", 9, "it keeps looping in my head", Nil), // outside window of 5
      turn("c2", 0, "it came out of nowhere", Nil) // no antecedent
    ).toDS()
    val links = Coref.resolve(spark, decoded, window = 5).collect()
    assert(links.toSeq == Seq(Coref.CorefLink("c1", 1, "Melt", 0)))
    val triples = Coref.triples(spark,
      Coref.resolve(spark, decoded, window = 5)).collect()
    assert(triples.head.pred == "refers_to" && triples.head.subj == "c1#1")
  }

  test("connected components: min-label, deterministic") {
    import spark.implicits._
    val verts = Seq("a", "b", "c", "d", "e", "f").toDF("id")
    val edges = Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("src", "dst")
    val expected = Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "f")
    val cc = Canonicalize.connectedComponents(spark, verts, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == expected)
  }

  test("connected components: 60-node chain converges (shortcutting), short budget throws") {
    import spark.implicits._
    // a chain's diameter (59) exceeds the old 20-round propagation
    // budget, which returned WRONG components silently; pointer jumping
    // converges in O(log n) rounds and non-convergence now throws.
    val n = 60
    val verts = (0 until n).map(i => f"v$i%03d").toDF("id")
    val edges = (0 until n - 1).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
      .toDF("src", "dst")
    val comps = Canonicalize.connectedComponents(spark, verts, edges)
      .select("component").distinct().collect().map(_.getString(0)).toSeq
    assert(comps == Seq("v000"))
    assertThrows[IllegalStateException] {
      Canonicalize.connectedComponents(spark, verts, edges, maxIter = 2)
    }
  }

  test("canonicalization merges near-alias surfaces; rep by freq/len/lex") {
    import spark.implicits._
    val mentions = Seq(
      ("TITLE", "Senbonzakura"), ("TITLE", "Senbonzakura"),
      ("TITLE", "Senbonzakura!"), ("TITLE", "Senbonzakura!!"),
      ("TITLE", "Melt"), ("VOCALOID", "Hatsune Miku"))
      .toDF("tag", "text")
    val cm = Canonicalize.canonicalMap(spark, mentions)
    val rows = cm.collect().map(r =>
      (r.getAs[String]("tag"), r.getAs[String]("surface"),
        r.getAs[String]("canonical"))).toSet
    // all three Senbonzakura variants share the canonical (most frequent)
    assert(rows.contains(("TITLE", "Senbonzakura", "Senbonzakura")))
    assert(rows.contains(("TITLE", "Senbonzakura!", "Senbonzakura")))
    assert(rows.contains(("TITLE", "Senbonzakura!!", "Senbonzakura")))
    assert(rows.contains(("TITLE", "Melt", "Melt")))
    // different tag never merges with titles
    assert(rows.contains(("VOCALOID", "Hatsune Miku", "Hatsune Miku")))
    val nodes = Canonicalize.nodes(spark, cm).collect()
    val senbo = nodes.find(_.canonical == "Senbonzakura").get
    assert(senbo.n_mentions == 4 && senbo.aliases.size == 3)
  }

  test("equal-length distinct entities (Rin/Len shape) do not conflate; typos still merge") {
    import spark.implicits._
    // "Kagamine Rin" vs "Kagamine Len": equal-codepoint-length keys, two
    // substitutions apart, char distributions near-identical — the old
    // length-relative lev cap (and the cosine rung) merged them. The
    // equal-length rule (OSA <= 1) keeps them separate while still
    // merging the real typo classes: one extra char (unequal length,
    // lev 1) and one adjacent transposition (equal length, OSA 1).
    val mentions = (Seq.fill(4)(("VOCALOID", "Kagamine Rin")) ++
      Seq.fill(3)(("VOCALOID", "Kagamine Len")) ++
      Seq(("VOCALOID", "Kagamine Rinn"), ("VOCALOID", "Kagamine Rni")))
      .toDF("tag", "text")
    val canon = Canonicalize.canonicalMap(spark, mentions).collect()
      .map(r => r.getAs[String]("surface") -> r.getAs[String]("canonical"))
      .toMap
    assert(canon("Kagamine Rin") == "Kagamine Rin")
    assert(canon("Kagamine Len") == "Kagamine Len", s"Rin/Len conflated: $canon")
    assert(canon("Kagamine Rinn") == "Kagamine Rin") // 1-edit typo merges
    assert(canon("Kagamine Rni") == "Kagamine Rin") // transposition merges
  }

  test("canopy refinement: a bridge surface does NOT chain unrelated titles") {
    import spark.implicits._
    // "aaaa" and "bbb" are unrelated titles; "aaaa bbb" is the
    // concatenated two-title surface the decode same-tag-merge quirk
    // produces. Candidate edges connect all three into ONE canopy
    // (aaaa—aaaabbb via lev<=3 on the shared prefix block, aaaabbb—bbb
    // via cosine on the shared suffix block), so pre-refinement CC gave
    // one component — and transitive closure would emit ONE node.
    // Refinement must keep three: neither title matches the other (or
    // the bridge) under the tight member-vs-leader criterion.
    val mentions = (Seq.fill(5)(("TITLE", "aaaa")) ++
      Seq.fill(3)(("TITLE", "bbb")) ++ Seq(("TITLE", "aaaa bbb")))
      .toDF("tag", "text")
    val cm = Canonicalize.canonicalMap(spark, mentions)
    val canon = cm.collect().map(r =>
      r.getAs[String]("surface") -> r.getAs[String]("canonical")).toMap
    assert(canon == Map("aaaa" -> "aaaa", "bbb" -> "bbb",
      "aaaa bbb" -> "aaaa bbb"), s"chain collapsed: $canon")
    // sanity: the canopy WAS connected (the guard is refinement, not
    // blocking) — all three share one CC component
    val forms = Canonicalize.surfaceForms(mentions)
    val edges = Canonicalize.aliasEdges(spark, forms)
    assert(edges.count() >= 2, "fixture must actually form a bridged canopy")
  }

  test("mention-source union: quoted unknown spans become regex ALT_TITLE") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    val turns = Seq(
      Turn("c1", 0, "user", "check \"Totally New Song\" tonight", null, ts),
      Turn("c1", 1, "user", "also \"Senbonzakura\" of course", null, ts)).toDS()
    val ms = Pipeline.mentionsAll(spark, turns).collect()
    val rex = ms.filter(_.detector == "regex:quoted")
    assert(rex.map(m => (m.tag, m.text)).toSeq ==
      Seq(("ALT_TITLE", "Totally New Song"))) // known title NOT duplicated
    assert(ms.exists(m => m.detector == "gazetteer:ac" &&
      m.text == "Senbonzakura"))
    // PADDED quotes: bounds must track the trimmed surface so
    // text == slice(start, end) holds for every mention source
    val padded = Seq(Turn("c2", 0, "user",
      "press play on \" Neon Cascade Drift \" when it loads", null, ts)).toDS()
    val pm = Pipeline.mentionsAll(spark, padded).collect()
      .filter(_.detector == "regex:quoted")
    assert(pm.length == 1 && pm.head.text == "Neon Cascade Drift")
    val src = "press play on \" Neon Cascade Drift \" when it loads"
    assert(src.substring(pm.head.start, pm.head.end) == pm.head.text,
      s"span (${pm.head.start},${pm.head.end}) does not slice the surface")
  }

  test("mentionsFromDecoded over a committed decoded snapshot == mentionsAll") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    // the mentions stage's only input is `decoded`: reading it back from
    // parquet (no raw turns anywhere in reach) must give every source's
    // mentions, regex ones included
    val root = Files.createTempDirectory("men_snap").toString
    val turns = TranscriptGen.generate(spark, 60L).unionByName(
      (SparkEntry.mentionFixtureTurns ++ SparkEntry.linkerFixtureTurns).toDS())
    IcebergishTable.commit(spark, Pipeline.decodeTurns(spark, turns).toDF(),
      root, "decoded", "conv_id")
    val decoded = IcebergishTable.read(spark, root, "decoded").as[DecodedTurn]
    val fromSnapshot = Pipeline.mentionsFromDecoded(spark, decoded).collect()
      .map(_.toString).sorted.toSeq
    val direct = Pipeline.mentionsAll(spark, turns).collect()
      .map(_.toString).sorted.toSeq
    assert(fromSnapshot.exists(_.contains("regex:quoted")) &&
      fromSnapshot.exists(_.contains("gazetteer:ac")))
    assert(fromSnapshot == direct)
  }

  test("stage wall_ms covers eager driver work done while building the frame") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    val root = Files.createTempDirectory("wall").toString
    def wallMs(stage: String): Long = "\"wall_ms\":(\\d+)".r
      .findFirstMatchIn(Files.readString(java.nio.file.Paths.get(
        IcebergishTable.manifestPath(root, stage)))).get.group(1).toLong
    // a warm-up commit first, so a cold first write alone cannot reach
    // the 300 ms the eager build must contribute
    IcebergishTable.stage(spark, root, "warm", "k", "none")(Seq(1).toDF("k"))
    IcebergishTable.stage(spark, root, "slow", "k", "warm") {
      Thread.sleep(300) // eager driver work, like canonicalMap's collects
      Seq(1, 2, 3).toDF("k")
    }
    info(s"wall_ms: warm=${wallMs("warm")} slow=${wallMs("slow")}")
    assert(wallMs("slow") >= 300, "wall_ms missed the eager build")
  }

  test("nulls and empties flow through extract without errors") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    val turns = Seq(
      Turn("c1", 0, null, null, null, ts), // null text AND role
      Turn("c1", 1, "user", "", null, ts), // empty text
      Turn("c1", 2, null, "Melt remixed by me", null, ts), // me-sub w/ null role
      Turn("c1", 3, "user", "Melt by Hachi", null, ts)).toDS()
    val triples = Pipeline.extract(spark, turns).collect()
    assert(triples.exists(t => t.subj == "Melt" && t.obj == "Hachi"))
    // null-role me-sub resolves to empty speaker, not a crash
    assert(triples.forall(_.obj != null))
  }

  test("canopy-size guard: a giant canopy throws; hotCanopies names it") {
    import spark.implicits._
    // 60 surfaces that are ALL pairwise lev<=2 on their normalized keys
    // ("zq00xk".."zq59xk") share one prefix AND one suffix block, so the
    // candidate join connects them into a single 60-member canopy. With
    // maxCanopySize=20 the O(m^2) refinement must refuse to run.
    val giant = (0 until 60).map(i => ("TITLE", f"zq$i%02dxk"))
    val mentions = (giant ++ giant).toDF("tag", "text") // n_mentions=2 each
    val e = intercept[Exception] {
      Canonicalize.canonicalMap(spark, mentions, maxCanopySize = 20).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("maxCanopySize")), s"wrong failure: $e")
    // the audit diagnostic reports exactly that component and its size
    val hot = Canonicalize.hotCanopies(spark, mentions, maxCanopySize = 20)
      .collect()
    assert(hot.length == 1 && hot.head.getLong(1) == 60L, hot.toSeq)
    // at the default bound the same corpus refines fine
    assert(Canonicalize.canonicalMap(spark, mentions).count() == 60L)
  }

  test("connected components: pinned labels at 2000 vertices") {
    import spark.implicits._
    // chains of 40 (diameter stress for the pointer jumping), 20-spoke
    // stars, and isolates — ≥10^3 vertices so the iterative rounds run
    // at a scaled surface universe, not just gate-sized graphs. The
    // construction fixes every label: a chain's min member is its v00, a
    // star's is its hub ("h" < "p"), and an isolate labels itself.
    val chains = (0 until 25).flatMap { c =>
      (0 until 39).map(i => (f"c$c%02d_v$i%02d", f"c$c%02d_v${i + 1}%02d"))
    }
    val stars = (0 until 25).flatMap { s =>
      (1 until 20).map(i => (f"s$s%02d_hub", f"s$s%02d_p$i%02d"))
    }
    val vertIds = (chains ++ stars).flatMap(e => Seq(e._1, e._2)).distinct ++
      (0 until 100).map(i => f"iso$i%03d")
    assert(vertIds.length >= 1500)
    val expected = vertIds.map { v =>
      v -> (if (v.startsWith("c")) v.take(3) + "_v00"
        else if (v.startsWith("s")) v.take(3) + "_hub"
        else v)
    }.toMap
    val t0 = System.nanoTime()
    val cc = Canonicalize.connectedComponents(spark, vertIds.toDF("id"),
        (chains ++ stars).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == expected)
    assert(cc.values.toSet.size == 25 + 25 + 100)
    info(f"2000-vertex CC wall: ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  test("hybrid canonicalization: forced-iterative CC == driver on a real corpus") {
    import spark.implicits._
    // same REAL alias graph (300-conv corpus mentions), both CC paths
    val mentions = operators.Decode.mentions(spark,
      Pipeline.decodeTurns(spark, TranscriptGen.generate(spark, 300L))).toDF()
    def run(dmv: Long) = Canonicalize.canonicalMap(spark, mentions,
        driverMaxVertices = dmv)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
    val viaDriver = run(200000L)
    val viaIterative = run(0L)
    assert(viaDriver == viaIterative,
      "canonical map differs between CC paths on the real alias graph")
    assert(viaDriver.size > 100)
  }

  test("whole-stage hybrid: driver graph path == distributed on random corpora") {
    import spark.implicits._
    // seeded random surface universes (typos, transpositions, punctuation
    // variants, concatenations, CJK) — the driver fast path and the full
    // distributed path must agree beyond the pinned organic corpus
    val rnd = new scala.util.Random(4242)
    val bases = Seq("Senbonzakura", "World is Mine", "Ghost Rule",
      "夜に駆ける", "Hollow Cathedral", "Neon Genesis Lament", "Melt",
      "Kagamine Rin", "Kagamine Len", "Tavaszi Szél")
    def perturb(w: String): String = rnd.nextInt(5) match {
      case 0 => w + "!"
      case 1 => w + "!!"
      case 2 if w.length > 4 => // substitution typo
        val i = 1 + rnd.nextInt(w.length - 2); w.updated(i, 'x')
      case 3 if w.length > 4 => // adjacent transposition
        val i = 1 + rnd.nextInt(w.length - 3)
        w.substring(0, i) + w.charAt(i + 1) + w.charAt(i) + w.substring(i + 2)
      case _ => w + " " + bases(rnd.nextInt(bases.size)) // concat bridge
    }
    (0 until 3).foreach { trial =>
      val surfaces = bases ++ (0 until 30).map(_ => perturb(bases(rnd.nextInt(bases.size))))
      val mentions = surfaces.zipWithIndex
        .flatMap { case (sf, i) => Seq.fill(1 + i % 3)(("TITLE", sf)) }
        .toDF("tag", "text")
      def run(dmv: Long) = Canonicalize.canonicalMap(spark, mentions,
          driverMaxVertices = dmv)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getString(4))).sortBy(t => (t._1, t._2)).toSeq
      val fast = run(200000L)
      val distributed = run(0L)
      assert(fast == distributed, s"trial $trial diverged")
      assert(fast.size == surfaces.distinct.size)
    }
  }

  test("driver graph path runs O(1) Spark jobs, and handles an empty corpus") {
    import spark.implicits._
    val mentions = Seq(("TITLE", "Senbonzakura"), ("TITLE", "Senbonzakura!"),
      ("TITLE", "Melt"), ("VOCALOID", "Hatsune Miku"))
      .flatMap(Seq.fill(3)(_)).toDF("tag", "text")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = Canonicalize.canonicalMap(spark, mentions).collect()
      Thread.sleep(500) // let the listener bus drain (private in Spark 4)
      assert(rows.length == 4)
      // the whole graph stage below surfaceForms is ONE collect: budget =
      // localCheckpoint + count + collect + the final consumer collect
      // (+1 slack for AQE). The old distributed chain ran ~12 jobs here;
      // a regression reintroducing per-substage jobs must fail this.
      assert(jobs <= 5, s"driver graph path ran $jobs jobs (expected <= 5)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // empty corpus flows through (Demo 0 path)
    val empty = Seq.empty[(String, String)].toDF("tag", "text")
    assert(Canonicalize.canonicalMap(spark, empty).collect().isEmpty)
  }

  test("driver graph path: jobs over a committed multi-file forms snapshot") {
    // The incremental pipeline's shape: canonicalMapFromForms reads the
    // committed surface_forms snapshot back, and a snapshot written by
    // several tasks is several files. The forms limit-collect is then not
    // one job: Spark's incremental take scans one partition, then the rest.
    import graft.sources.IcebergishTable
    val mentions = operators.Decode.mentions(spark,
      Pipeline.decodeTurns(spark, TranscriptGen.generate(spark, 60L))).toDF()
    val root = Files.createTempDirectory("forms_jobs").toString
    val m = IcebergishTable.commit(spark,
      Canonicalize.surfaceForms(mentions).repartition(4), root, "forms", "tag")
    assert(m.partitions.size == 4, m.partitions)
    val forms = IcebergishTable.read(spark, root, "forms")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val cm = try {
      val cm = Canonicalize.canonicalMapFromForms(spark, forms)
      Thread.sleep(500) // let the listener bus drain (private in Spark 4)
      cm
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"driver graph path jobs over 4 forms files: $jobs")
    assert(jobs == 2, s"driver graph path ran $jobs jobs")
    assert(cm.count() == m.rows)
  }

  test("alias-edge hot-block guard drops oversized blocks, keeps the rest") {
    import spark.implicits._
    // 300 surfaces sharing prefix+suffix ("xx...yy") -> one hot block pair;
    // plus a small genuine alias pair elsewhere
    val hot = (0 until 300).map(i => ("TITLE", f"xx$i%03dyy"))
    val smallPair = Seq(("TITLE", "Senbonzakura"), ("TITLE", "Senbonzakura!"))
    val forms = (hot ++ smallPair).toDF("tag", "surface")
      .withColumn("n_mentions", org.apache.spark.sql.functions.lit(1L))
    val distinctForms = forms.select(col("tag"), col("surface"))
      .groupBy("tag", "surface").agg(count(lit(1)).as("n_mentions"))
    val edges = Canonicalize.aliasEdges(spark, distinctForms, maxBlockSize = 100)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // the audit companion names exactly the two dropped blocks
    val dropped = Canonicalize.hotAliasBlocks(spark, distinctForms,
      maxBlockSize = 100).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dropped.toSet == Set(("p:TITLE:xx", 300L), ("s:TITLE:yy", 300L)),
      dropped.toSeq)
    // hot block dropped: no xx...yy pairs despite lev <= 3 between many
    assert(!edges.exists(_._1.contains("xx")), s"hot block leaked: ${edges.take(3).toSeq}")
    // the small block still pairs
    assert(edges.exists(e => e._1.contains("Senbonzakura") &&
      e._2.contains("Senbonzakura")))
  }

  test("checkpointed run is resumable and idempotent") {
    import spark.implicits._
    val root = Files.createTempDirectory("ckpt").toString
    val turns = TranscriptGen.generate(spark, 30L)
    val (t1, n1, e1) = Pipeline.runCheckpointed(spark, turns, root)
    val triples1 = t1.collect().map(_.toString).sorted.toSeq
    val nodes1 = n1.collect().map(_.toString).sorted.toSeq
    val edges1 = e1.collect().map(_.toString).sorted.toSeq
    // simulate kill+restart: truncate the LAST stage's manifest, re-run
    Files.deleteIfExists(java.nio.file.Paths.get(
      graft.sources.IcebergishTable.manifestPath(root, "edges")))
    val (t2, n2, e2) = Pipeline.runCheckpointed(spark, turns, root)
    assert(t2.collect().map(_.toString).sorted.toSeq == triples1)
    assert(n2.collect().map(_.toString).sorted.toSeq == nodes1)
    assert(e2.collect().map(_.toString).sorted.toSeq == edges1)
    assert(edges1.nonEmpty)
    // manifest carries per-partition lineage
    val manifest = Files.readString(java.nio.file.Paths.get(
      graft.sources.IcebergishTable.manifestPath(root, "triples")))
    assert(manifest.contains("\"committed\":true") &&
      manifest.contains("key_min") && manifest.contains("parent_snapshot"))
  }

  test("incremental maintenance == full recompute (2 appended batches)") {
    import spark.implicits._
    // split a corpus on the CONVERSATION boundary (the documented batch
    // contract) and verify that batch-wise runIncremental reproduces the
    // one-shot runCheckpointed output EXACTLY: triples, nodes and edges.
    // This pins the two load-bearing claims: surfaceForms is distributive
    // under mergeForms, and the edge re-map over unioned triple snapshots
    // equals edges over the full corpus.
    val turns = TranscriptGen.generate(spark, 40L).persist()
    val convs = turns.select("conv_id").distinct()
      .as[String].collect().sorted
    val cut = convs(convs.length / 2)
    val batch0 = turns.filter(col("conv_id") < cut)
    val batch1 = turns.filter(col("conv_id") >= cut)
    assert(batch0.count() > 0 && batch1.count() > 0)

    val fullRoot = Files.createTempDirectory("inc_full").toString
    val incRoot = Files.createTempDirectory("inc_inc").toString
    val (ft, fn, fe) = Pipeline.runCheckpointed(spark, turns, fullRoot)
    Pipeline.runIncremental(spark, batch0, incRoot, batchId = 0)
    val (it, in, ie) = Pipeline.runIncremental(spark, batch1, incRoot,
      batchId = 1, checkDisjointConvs = true)

    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(sortedRows(it) == sortedRows(ft), "triples diverged")
    assert(sortedRows(in) == sortedRows(fn), "nodes diverged")
    assert(sortedRows(ie) == sortedRows(fe), "edges diverged")
    assert(fn.count() > 0 && fe.count() > 0)

    // the running surface_forms aggregate equals the full-corpus aggregate
    // (distributivity, the property the whole design rests on)
    val formsInc = graft.sources.IcebergishTable
      .read(spark, incRoot, "surface_forms_b1")
    val formsFull = Canonicalize.surfaceForms(
      graft.sources.IcebergishTable.read(spark, fullRoot, "linked"))
    assert(sortedRows(formsInc) == sortedRows(formsFull), "forms diverged")
    turns.unpersist()
  }

  test("incremental batches: resume skips committed stages; guards fire") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 12L).persist()
    val root = Files.createTempDirectory("inc_resume").toString
    val (t1, n1, e1) = Pipeline.runIncremental(spark, turns, root, batchId = 0)
    val (nodes1, edges1) = (n1.collect().map(_.toString).sorted.toSeq,
      e1.collect().map(_.toString).sorted.toSeq)
    assert(t1.count() > 0 && nodes1.nonEmpty)
    // kill+restart mid-batch: drop the LAST stage's manifest, re-invoke —
    // committed prefix stages are reused, only edges_b0 recomputes
    Files.deleteIfExists(java.nio.file.Paths.get(
      graft.sources.IcebergishTable.manifestPath(root, "edges_b0")))
    val (_, n2, e2) = Pipeline.runIncremental(spark, turns, root, batchId = 0)
    assert(n2.collect().map(_.toString).sorted.toSeq == nodes1)
    assert(e2.collect().map(_.toString).sorted.toSeq == edges1)
    // out-of-order batch: b2 without a committed b1 must fail loudly
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, turns, root, batchId = 2)
    }
    assert(ex.getMessage.contains("batch 1 has not completed"))
    // overlapping conversations: the whole-conversation contract guard
    val ex2 = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, turns, root, batchId = 1,
        checkDisjointConvs = true)
    }
    assert(ex2.getMessage.contains("whole conversations"))
    turns.unpersist()
  }

  test("a failing stage joins its concurrent branches, then rethrows its own error") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    val turns = TranscriptGen.generate(spark, 12L).persist()
    // `text` throws when evaluated: convs_b prunes the column, so its
    // branch commits, while decode reads it and fails
    val bad = turns.withColumn("text",
      raise_error(lit("unreadable turn text")).cast("string")).as[Turn]
    val root = Files.createTempDirectory("inc_fail").toString
    val e = intercept[Exception](Pipeline.runIncremental(spark, bad, root, 0))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage)
      .contains("unreadable turn text")), e.toString)
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e.toString)
    assert(IcebergishTable.isCommitted(root, "convs_b0"),
      "the convs_b0 branch was not joined before the throw")
    assert(!IcebergishTable.isCommitted(root, "decoded_b0"))
    def listing(): Seq[String] = {
      val walk = Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.toString).toSeq.sorted
      } finally walk.close()
    }
    val atReturn = listing()
    Thread.sleep(1500)
    assert(listing() == atReturn, "a branch kept writing after the throw")
    // resume with readable turns == a clean run
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (rt, rn, re) = Pipeline.runIncremental(spark, turns, root, 0)
    val clean = Files.createTempDirectory("inc_clean").toString
    val (ct, cn, ce) = Pipeline.runIncremental(spark, turns, clean, 0)
    assert(sortedRows(rt) == sortedRows(ct))
    assert(sortedRows(rn) == sortedRows(cn))
    assert(sortedRows(re) == sortedRows(ce))
    assert(ce.count() > 0)
    turns.unpersist()
  }

  test("snapshots read back with their recorded schema and run no Spark job") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    val turns = TranscriptGen.generate(spark, 12L).persist()
    val full = Files.createTempDirectory("schema_full").toString
    Pipeline.runCheckpointed(spark, turns, full)
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val cut = convs(convs.length / 2)
    val inc = Files.createTempDirectory("schema_inc").toString
    Pipeline.runIncremental(spark, turns.filter(col("conv_id") < cut), inc, 0)
    Pipeline.runIncremental(spark, turns.filter(col("conv_id") >= cut), inc, 1)
    def manifest(root: String, stage: String) = java.nio.file.Paths.get(
      IcebergishTable.manifestPath(root, stage))
    def stages(root: String): Seq[String] = {
      val names = Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        names.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      } finally names.close()
    }
    assert(stages(full).size == 7 && stages(inc).size == 18)
    for (root <- Seq(full, inc); s <- stages(root)) {
      assert(Files.readString(manifest(root, s)).contains("\"schema\":{"), s)
      assert(IcebergishTable.read(spark, root, s).schema ==
        spark.read.parquet(IcebergishTable.dataPath(root, s)).schema, s)
    }
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def jobsOf(body: => Unit): Int = {
      jobs = 0
      body
      Thread.sleep(500) // let the listener bus drain (private in Spark 4)
      jobs
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf {
        IcebergishTable.read(spark, full, "linked")
        IcebergishTable.stage(spark, full, "triples", "conv_id", "decoded")(
          throw new AssertionError("a committed stage recomputed"))
        Pipeline.readTriplesUpTo(spark, inc, 1)
        Pipeline.readConvsUpTo(spark, inc, 1)
        IcebergishTable.read(spark, inc, "surface_forms_b0")
      } == 0)
      // a manifest written before schemas were recorded reads by inference
      val m = manifest(inc, "triples_b1")
      val json = Files.readString(m)
      Files.writeString(m, json.substring(0, json.indexOf(",\"schema\":")) + "}")
      val expected = spark.read.parquet(IcebergishTable.dataPath(inc, "triples_b1"))
      var legacy: org.apache.spark.sql.DataFrame = null
      assert(jobsOf {
        legacy = IcebergishTable.read(spark, inc, "triples_b1")
      } >= 1, "inference launched no job: the zero-job check above is vacuous")
      assert(legacy.schema == expected.schema)
      assert(legacy.collect().map(_.toString).sorted.toSeq ==
        expected.collect().map(_.toString).sorted.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
    turns.unpersist()
  }

  test("manifests round-trip control characters in lineage keys") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    // a tab and U+0001 in the key column end up in the manifest as a
    // file's min and max; the manifest must stay readable JSON
    val root = Files.createTempDirectory("manifest_ctrl").toString
    val rows = Seq(("\tfirst", 1), ("mid", 2), ("z\u0001last", 3))
    val m = IcebergishTable.commit(spark,
      rows.toDF("conv_id", "n").coalesce(1), root, "ctrl", "conv_id")
    assert(m.partitions.map(p => (p.keyMin, p.keyMax)) ==
      Seq(("\tfirst", "z\u0001last")))
    val json = Files.readString(java.nio.file.Paths.get(
      IcebergishTable.manifestPath(root, "ctrl")))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.get("partitions").get(0).get("key_min").asText == "\tfirst")
    assert(tree.get("partitions").get(0).get("key_max").asText == "z\u0001last")
    assert(json.contains("\"committed\":true") && json.contains("\"schema\":{"))
    assert(IcebergishTable.read(spark, root, "ctrl").as[(String, Int)]
      .collect().sorted.toSeq == rows.sorted)
    // resume reuses the committed snapshot
    assert(IcebergishTable.stage(spark, root, "ctrl", "conv_id", "none")(
      throw new AssertionError("a committed stage recomputed")).count() == 3)
  }

  /** Runs `body` under a listener that holds every RDD persisted at a job
    * start. The persistent-RDD map holds its RDDs weakly: a leaked RDD
    * vanishes from it at the next GC, and the context cleaner then drops
    * its blocks. Held, a leak stays visible to [[persistedSince]] as an id
    * that an earlier key set lacks (RDD ids only grow; an earlier test's
    * unheld leftovers may still vanish). */
  private def holdingPersistedRdds(body: => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        held.addAll(sc.getPersistentRDDs.values.asJavaCollection)
    }
    sc.addSparkListener(listener)
    try body finally {
      sc.removeSparkListener(listener)
      held.clear()
    }
  }

  /** The persisted RDD ids that `before` lacks. */
  private def persistedSince(before: collection.Set[Int]) = {
    Thread.sleep(500) // let the listener bus drain (private in Spark 4)
    spark.sparkContext.getPersistentRDDs.keySet -- before
  }

  test("graph stages leave no persisted RDD behind") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 12L)
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val cut = convs(convs.length / 2)
    holdingPersistedRdds {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Pipeline.runCheckpointed(spark, turns,
        Files.createTempDirectory("leak_full").toString)
      assert(persistedSince(before).isEmpty,
        s"runCheckpointed left persisted RDDs ${persistedSince(before)}")
      val inc = Files.createTempDirectory("leak_inc").toString
      Pipeline.runIncremental(spark, turns.filter(col("conv_id") < cut), inc, 0)
      Pipeline.runIncremental(spark, turns.filter(col("conv_id") >= cut), inc, 1)
      assert(persistedSince(before).isEmpty,
        s"runIncremental left persisted RDDs ${persistedSince(before)}")
    }
  }

  test("distributed canonicalization releases its superseded CC rounds") {
    // Each CC round's checkpoint is read only by the next round, and the
    // symmetric edges only by the rounds. What may stay persisted is what
    // the returned plan reads: the forms checkpoint and the final labels.
    val mentions = operators.Decode.mentions(spark,
      Pipeline.decodeTurns(spark, TranscriptGen.generate(spark, 60L))).toDF()
    holdingPersistedRdds {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cm = Canonicalize.canonicalMap(spark, mentions, driverMaxVertices = 0)
      assert(cm.count() > 0)
      val left = persistedSince(before)
      assert(left.size <= 2, s"distributed canonicalMap left persisted RDDs $left")
    }
  }

  test("KG gates persist nothing more once their shared prefixes are warm") {
    // The first round persists the session's shared decoded and
    // canonical-map prefixes; a second round must read them and persist
    // nothing of its own (a checkpoint per call would pile up in a
    // long-lived session).
    val gates = Seq("q_kg_nodes", "q_kg_edges", "q_kg_incremental_nodes",
      "q_kg_incremental_edges")
    def round(): Unit =
      gates.foreach(q => SparkEntry.queries(q)(spark, "/unused").collect())
    holdingPersistedRdds {
      round()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      round()
      assert(persistedSince(before).isEmpty,
        s"a warm round of the KG gates persisted RDDs ${persistedSince(before)}")
    }
  }

  test("300-conv KG gates read their shared prefix from Spark's cache") {
    // The prefixes exist so that no gate re-extracts its corpus
    // (BENCH_r02: q_kg_nodes spent ~10 of 23.9 s doing so). Every SQL
    // execution a gate runs, from building its frame to collecting it, is
    // recorded: q_kg_incremental_nodes collects its forms on the driver
    // while building its frame, so its only cache read sits in that collect.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SparkEntry.warmKgPrefix(spark, "/unused")
    spark.listenerManager.register(listener)
    try Seq("q_kg_nodes", "q_kg_edges", "q_kg_coref_digest",
        "q_kg_incremental_nodes", "q_kg_incremental_edges").foreach { q =>
      plans.clear()
      SparkEntry.queries(q)(spark, "/unused").collect()
      Thread.sleep(500) // let the listener bus drain (private in Spark 4)
      assert(plans.asScala.exists(
        helper.find(_)(_.isInstanceOf[InMemoryTableScanExec]).isDefined),
        s"$q planned no InMemoryTableScanExec")
    } finally spark.listenerManager.unregister(listener)
  }

  test("triple-snapshot compaction: corpus identical, later batches read through it") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    val turns = TranscriptGen.generate(spark, 30L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val (c1, c2) = (convs(convs.length / 3), convs(2 * convs.length / 3))
    val b0 = turns.filter(col("conv_id") < c1)
    val b1 = turns.filter(col("conv_id") >= c1 && col("conv_id") < c2)
    val b2 = turns.filter(col("conv_id") >= c2)

    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // root A: three batches, never compacted
    val a = Files.createTempDirectory("cmp_a").toString
    Pipeline.runIncremental(spark, b0, a, 0)
    Pipeline.runIncremental(spark, b1, a, 1)
    val (ta, na, ea) = Pipeline.runIncremental(spark, b2, a, 2)
    // root B: compaction between batches 1 and 2 — batch 2 must read
    // compact_1 ∪ b2 and produce the identical KG
    val b = Files.createTempDirectory("cmp_b").toString
    Pipeline.runIncremental(spark, b0, b, 0)
    Pipeline.runIncremental(spark, b1, b, 1)
    Pipeline.compactTriples(spark, b, 1)
    assert(IcebergishTable.isCommitted(b, "triples_compact_1"))
    assert(!IcebergishTable.isCommitted(b, "triples_b0") &&
      !IcebergishTable.isCommitted(b, "triples_b1"), "GC left manifests")
    val (tb, nb, eb) = Pipeline.runIncremental(spark, b2, b, 2,
      checkDisjointConvs = true)
    assert(sortedRows(tb) == sortedRows(ta), "triples diverged")
    assert(sortedRows(nb) == sortedRows(na), "nodes diverged")
    assert(sortedRows(eb) == sortedRows(ea), "edges diverged")
    // compact-of-compact (generation 2 subsumes compact_1 ∪ b2), and
    // idempotent re-run (pure GC the second time)
    Pipeline.compactTriples(spark, b, 2)
    Pipeline.compactTriples(spark, b, 2)
    assert(IcebergishTable.isCommitted(b, "triples_compact_2") &&
      !IcebergishTable.isCommitted(b, "triples_compact_1"))
    assert(sortedRows(Pipeline.readTriplesUpTo(spark, b, 2)) == sortedRows(ta))
    // artifact GC behind the completed head: narrow intermediates and
    // superseded graph generations go; the live chain stays readable
    Pipeline.gcBatchArtifacts(b, 2)
    for (i <- 0 to 2; s <- Seq(s"decoded_b$i", s"mentions_b$i", s"linked_b$i"))
      assert(!IcebergishTable.isCommitted(b, s), s"$s not GC'd")
    for (i <- 0 to 1; s <- Seq(s"surface_forms_b$i", s"nodes_b$i", s"edges_b$i"))
      assert(!IcebergishTable.isCommitted(b, s), s"$s not GC'd")
    assert(IcebergishTable.isCommitted(b, "surface_forms_b2") &&
      IcebergishTable.isCommitted(b, "nodes_b2") &&
      IcebergishTable.isCommitted(b, "edges_b2"), "live chain GC'd")
    assert(sortedRows(IcebergishTable.read(spark, b, "nodes_b2")) ==
      sortedRows(na))
    // GC must refuse to run ahead of a completed batch
    intercept[IllegalArgumentException] {
      Pipeline.gcBatchArtifacts(b, 3)
    }
    // vacuum: physical removal of everything the manifest GC orphaned;
    // the live chain survives and reads identically — and NON-STAGE
    // state co-located under the root (streaming checkpoint, logs) is
    // never touched
    val ckptDir = java.nio.file.Paths.get(b, "_streaming_checkpoint")
    java.nio.file.Files.createDirectories(ckptDir.resolve("offsets"))
    java.nio.file.Files.writeString(ckptDir.resolve("offsets/0"), "{}")
    val vacuumed = IcebergishTable.vacuum(b)
    assert(!vacuumed.contains("_streaming_checkpoint"))
    assert(java.nio.file.Files.exists(ckptDir.resolve("offsets/0")))
    assert(vacuumed.contains("decoded_b0") && vacuumed.contains("triples_b1")
      && vacuumed.contains("nodes_b0"), s"vacuumed=$vacuumed")
    assert(!vacuumed.contains("triples_compact_2") &&
      !vacuumed.contains("nodes_b2") && !vacuumed.contains("surface_forms_b2"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(b, "decoded_b0")))
    assert(sortedRows(Pipeline.readTriplesUpTo(spark, b, 2)) == sortedRows(ta))
    assert(sortedRows(IcebergishTable.read(spark, b, "nodes_b2")) ==
      sortedRows(na))
    // a prefix read below the compaction generation cannot be served
    // (history folded in, per-batch snapshots GC'd) — fail with the
    // precise contract error, not a bare missing-snapshot crash
    val exPrefix = intercept[IllegalArgumentException] {
      Pipeline.readTriplesUpTo(spark, b, 0)
    }
    assert(exPrefix.getMessage.contains("folded into"), exPrefix.getMessage)
    turns.unpersist()
  }

  test("streaming replay of a completed batch survives artifact GC + vacuum") {
    import spark.implicits._
    // the gcBatchArtifacts tradeoff made real: a replay of batch 1 after
    // GC deleted surface_forms_b0 (and vacuum removed its data) must
    // re-pay decode and SKIP THROUGH, not crash-loop on the
    // batches-commit-in-order require
    val turns = TranscriptGen.generate(spark, 14L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val cut = convs(convs.length / 2)
    val b0 = turns.filter(col("conv_id") < cut)
    val b1 = turns.filter(col("conv_id") >= cut)
    val root = Files.createTempDirectory("inc_replay").toString
    Pipeline.runIncremental(spark, b0, root, 0)
    val (t1, n1, e1) = Pipeline.runIncremental(spark, b1, root, 1,
      checkDisjointConvs = true)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (tr, nr, er) = (sortedRows(t1), sortedRows(n1), sortedRows(e1))
    Pipeline.gcBatchArtifacts(root, 1)
    graft.sources.IcebergishTable.vacuum(root)
    assert(!graft.sources.IcebergishTable.isCommitted(root,
      "surface_forms_b0"))
    val (t2, n2, e2) = Pipeline.runIncremental(spark, b1, root, 1,
      checkDisjointConvs = true)
    assert(sortedRows(t2) == tr && sortedRows(n2) == nr &&
      sortedRows(e2) == er, "replayed batch diverged")
    // the completed batch replayed as a pure READ-BACK: decode was not
    // re-paid (the GC'd decoded snapshot stays gone)
    assert(!graft.sources.IcebergishTable.isCommitted(root, "decoded_b1"))
    turns.unpersist()
  }

  test("convs registry compaction: guard reads through generations, replay stays exempt") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 18L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val (c1, c2) = (convs(convs.length / 3), convs(2 * convs.length / 3))
    val b0 = turns.filter(col("conv_id") < c1)
    val b1 = turns.filter(col("conv_id") >= c1 && col("conv_id") < c2)
    val b2 = turns.filter(col("conv_id") >= c2)
    val r = Files.createTempDirectory("inc_convs").toString
    Pipeline.runIncremental(spark, b0, r, 0)
    Pipeline.runIncremental(spark, b1, r, 1, checkDisjointConvs = true)
    Pipeline.compactConvs(spark, r, 1)
    import graft.sources.IcebergishTable.isCommitted
    assert(isCommitted(r, "convs_compact_1") &&
      !isCommitted(r, "convs_b0") && !isCommitted(r, "convs_b1"))
    // the guard of the NEXT batch reads the generation, not per-batch files
    val (t2, n2, e2) = Pipeline.runIncremental(spark, b2, r, 2,
      checkDisjointConvs = true)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (tr, nr, er) = (sortedRows(t2), sortedRows(n2), sortedRows(e2))
    // a violation folded into the generation is still detected
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, b0, r, 3, checkDisjointConvs = true)
    }
    assert(ex.getMessage.contains("whole conversations"))
    // a replay of a batch whose own convs were folded into the registry
    // generation must NOT trip the guard on itself
    Pipeline.compactConvs(spark, r, 2)
    assert(!isCommitted(r, "convs_b2"))
    val (t3, n3, e3) = Pipeline.runIncremental(spark, b2, r, 2,
      checkDisjointConvs = true)
    assert(sortedRows(t3) == tr && sortedRows(n3) == nr &&
      sortedRows(e3) == er, "replay after registry compaction diverged")
    // read-back replay: the folded convs_b2 was NOT resurrected below
    // the registry generation
    assert(!isCommitted(r, "convs_b2"), "superseded registry resurrected")
    // registry compaction behind the artifact-GC point: gc deletes
    // below-head edges manifests, the completion proxy must still see
    // batches 0/1 as completed through the forms head
    Pipeline.gcBatchArtifacts(r, 2)
    val r2root = Files.createTempDirectory("inc_convs2").toString
    Pipeline.runIncremental(spark, b0, r2root, 0)
    Pipeline.runIncremental(spark, b1, r2root, 1)
    Pipeline.gcBatchArtifacts(r2root, 1)
    assert(!isCommitted(r2root, "edges_b0"))
    Pipeline.compactConvs(spark, r2root, 0) // must not fail as 'incomplete'
    assert(isCommitted(r2root, "convs_compact_0"))
    turns.unpersist()
  }

  test("below-head replay after compaction+GC fails fast as superseded") {
    import spark.implicits._
    import graft.sources.IcebergishTable.isCommitted
    val turns = TranscriptGen.generate(spark, 16L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val (c1, c2) = (convs(convs.length / 3), convs(2 * convs.length / 3))
    val b0 = turns.filter(col("conv_id") < c1)
    val b1 = turns.filter(col("conv_id") >= c1 && col("conv_id") < c2)
    val b2 = turns.filter(col("conv_id") >= c2)
    val r = Files.createTempDirectory("inc_superseded").toString
    Pipeline.runIncremental(spark, b0, r, 0)
    Pipeline.runIncremental(spark, b1, r, 1)
    val (t2, n2, e2) = Pipeline.runIncremental(spark, b2, r, 2)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val (tr, nr, er) = (sortedRows(t2), sortedRows(n2), sortedRows(e2))
    Pipeline.compactTriples(spark, r, 2)
    Pipeline.compactConvs(spark, r, 2)
    Pipeline.gcBatchArtifacts(r, 2)
    // batch 1 completed long ago; its view snapshots are gone. A replay
    // must fail with the superseded diagnosis BEFORE re-committing
    // anything below the compaction generations (the old behavior: a
    // partial expensive recompute, then a crash on the GC'd prev-forms)
    val ex = intercept[IllegalStateException] {
      Pipeline.runIncremental(spark, b1, r, 1)
    }
    assert(ex.getMessage.contains("superseded by batch 2"), ex.getMessage)
    assert(!isCommitted(r, "convs_b1") && !isCommitted(r, "triples_b1"),
      "superseded replay re-committed folded snapshots")
    // the HEAD batch still replays as a pure read-back
    val (t3, n3, e3) = Pipeline.runIncremental(spark, b2, r, 2)
    assert(sortedRows(t3) == tr && sortedRows(n3) == nr &&
      sortedRows(e3) == er, "head replay diverged after compaction+GC")
    turns.unpersist()
  }

  test("compaction refuses to fold behind an in-flight batch") {
    import spark.implicits._
    import graft.sources.IcebergishTable
    val turns = TranscriptGen.generate(spark, 12L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val mid = convs(convs.length / 2)
    val b0 = turns.filter(col("conv_id") < mid)
    val b1 = turns.filter(col("conv_id") >= mid)
    val r = Files.createTempDirectory("inc_inflight").toString
    Pipeline.runIncremental(spark, b0, r, 0)
    Pipeline.runIncremental(spark, b1, r, 1)
    // simulate batch 1 crashed AFTER its forms/triples commits but BEFORE
    // nodes/edges: its own forms head (j == b) must NOT read as
    // completion — folding here would delete manifests the crash-resume
    // still checks, forcing a recompute + a re-commit below the generation
    for (s <- Seq("nodes_b1", "edges_b1"))
      Files.deleteIfExists(java.nio.file.Paths.get(
        IcebergishTable.manifestPath(r, s)))
    val exC = intercept[IllegalArgumentException] {
      Pipeline.compactConvs(spark, r, 1)
    }
    assert(exC.getMessage.contains("not completed"), exC.getMessage)
    val exT = intercept[IllegalArgumentException] {
      Pipeline.compactTriples(spark, r, 1)
    }
    assert(exT.getMessage.contains("not completed"), exT.getMessage)
    // ...and the NEXT batch refuses to start behind it: if batch 2 could
    // run now, its committed forms head would fake batch 1's completion
    // and legalize exactly the fold rejected above
    val exN = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, b1, r, 2)
    }
    assert(exN.getMessage.contains("has not completed"), exN.getMessage)
    // ...but the batch BEHIND the in-flight one is provably complete via
    // the forms head (j = 1 > 0), even though batch 1 never finished
    Pipeline.compactTriples(spark, r, 0)
    assert(IcebergishTable.isCommitted(r, "triples_compact_0"))
    // the crash-resume completes batch 1; compaction is then legal
    Pipeline.runIncremental(spark, b1, r, 1)
    assert(IcebergishTable.isCommitted(r, "edges_b1"))
    Pipeline.compactTriples(spark, r, 1)
    Pipeline.compactConvs(spark, r, 1)
    assert(IcebergishTable.isCommitted(r, "triples_compact_1") &&
      IcebergishTable.isCommitted(r, "convs_compact_1"))
    turns.unpersist()
  }

  test("disjointness guard sees conversations that produced zero triples") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    // a conversation with no detectable mentions: no mentions -> no
    // triples, so a triples-derived registry would NOT contain it and a
    // re-delivery would silently double-count its (zero) mentions — the
    // convs_b registry must catch it anyway
    val quiet = Seq(
      Turn("quiet1", 0, "user", "nothing notable happens here", null, ts),
      Turn("quiet1", 1, "user", "still just small talk", null, ts)).toDS()
    val root = Files.createTempDirectory("inc_quiet").toString
    val (t0, _, _) = Pipeline.runIncremental(spark, quiet, root, 0)
    assert(t0.count() == 0, "fixture unexpectedly produced triples")
    val ex = intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark, quiet, root, 1,
        checkDisjointConvs = true)
    }
    assert(ex.getMessage.contains("whole conversations"), ex.getMessage)
  }

  test("FULL pipeline (incl. canonicalization) deterministic under partitioning") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 25L)
    val r1 = java.nio.file.Files.createTempDirectory("det1").toString
    val r2 = java.nio.file.Files.createTempDirectory("det2").toString
    val (t1, n1, e1) = Pipeline.runCheckpointed(spark, turns, r1)
    val (t2, n2, e2) = Pipeline.runCheckpointed(spark,
      turns.repartition(11), r2)
    assert(t1.collect().map(_.toString).sorted.toSeq ==
      t2.collect().map(_.toString).sorted.toSeq)
    assert(n1.collect().map(_.toString).sorted.toSeq ==
      n2.collect().map(_.toString).sorted.toSeq)
    assert(e1.collect().map(_.toString).sorted.toSeq ==
      e2.collect().map(_.toString).sorted.toSeq)
  }

  test("edges resolve endpoints onto typed node ids") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 30L)
    val root = Files.createTempDirectory("ckpt2").toString
    val (_, nodesDf, edgesDf) = Pipeline.runCheckpointed(spark, turns, root)
    val nodeIds = nodesDf.select("node_id").as[String].collect().toSet
    val e = edgesDf.as[Edge].collect()
    assert(e.nonEmpty)
    val resolvedSrc = e.count(x => nodeIds.contains(x.src_id))
    val resolvedDst = e.count(x => nodeIds.contains(x.dst_id))
    // most subjects/objects are gazetteer-backed and must resolve to nodes
    assert(resolvedSrc > e.length / 2, s"src resolution $resolvedSrc/${e.length}")
    assert(resolvedDst > e.length / 2, s"dst resolution $resolvedDst/${e.length}")
  }

  test("edges: resolution rules over a hand-built canonical map") {
    import spark.implicits._
    val nul = "\u0000"
    // (tag, surface, n_mentions, node_id, canonical): one row per (tag, surface)
    val canon = Seq(
      ("TITLE", "Melt", 9L, "n_title_melt", "Melt"),
      ("TITLE", s"Me${nul}lt", 1L, "n_title_nul", s"Me${nul}lt"),
      // under both vocal tags: the smaller node id wins, either way round
      ("VOCALIST", "Miku", 3L, "n_b_miku", "Miku"),
      ("VOCALOID", "Miku", 5L, "n_a_miku", "Miku"),
      ("VOCALIST", "GUMI", 2L, "n_a_gumi", "GUMI"),
      ("VOCALOID", "GUMI", 2L, "n_b_gumi", "GUMI"),
      ("VOCALOID", "Rin", 1L, "n_vocaloid_rin", "Rin"),
      ("VOCALIST", "Ado", 1L, "n_vocalist_ado", "Ado"),
      ("ORIGINAL_AUTHOR", "ryo", 4L, "n_author_ryo", "ryo"),
      ("FEATURING", "GUMI", 1L, "n_feat_gumi", "GUMI"),
      ("ALBUM", s"Supercell${nul}", 1L, "n_album_nul", "Supercell"),
      ("ALT_TITLE", "Melt (remix)", 1L, "n_alt_melt", "Melt (remix)"),
      ("MISC_PERSON", "Bob", 1L, "n_person_bob", "Bob"),
      ("MODIFIER", "Cover", 2L, "n_mod_cover", "Cover")
    ).toDF("tag", "surface", "n_mentions", "node_id", "canonical")
    // (subj, pred, obj) -> expected (src_id, dst_id)
    val cases = Seq(
      ("Melt", "vocal_by", "Miku") -> ("n_title_melt", "n_a_miku"),
      ("Melt", "vocal_by", "GUMI") -> ("n_title_melt", "n_a_gumi"),
      ("Melt", "vocal_by", "Rin") -> ("n_title_melt", "n_vocaloid_rin"),
      ("Melt", "vocal_by", "Ado") -> ("n_title_melt", "n_vocalist_ado"),
      ("Melt", "vocal_by", "ryo") -> ("n_title_melt", "ryo"),
      ("Melt", "performed_by", "ryo") -> ("n_title_melt", "n_author_ryo"),
      ("Melt", "featuring", "GUMI") -> ("n_title_melt", "n_feat_gumi"),
      ("Melt", "on_album", s"Supercell${nul}") -> ("n_title_melt", "n_album_nul"),
      ("Melt", "alt_title", "Melt (remix)") -> ("n_title_melt", "n_alt_melt"),
      ("c1#3", "mentions_person", "Bob") -> ("c1#3", "n_person_bob"),
      ("Melt", "modifier", "Cover") -> ("n_title_melt", "n_mod_cover"),
      ("c1#4", "refers_to", "Melt") -> ("c1#4", "n_title_melt"),
      // the surface exists, but only under another tag: stays literal
      ("Melt", "performed_by", "Miku") -> ("n_title_melt", "Miku"),
      ("Melt", "featuring", "Ado") -> ("n_title_melt", "Ado"),
      ("c1#5", "refers_to", "Cover") -> ("c1#5", "Cover"),
      // an unknown predicate never resolves its object
      ("Melt", "likes", "Melt") -> ("n_title_melt", "Melt"),
      // NUL inside a surface: exact match only, no cross-tag collision
      (s"Me${nul}lt", "on_album", "Supercell") -> ("n_title_nul", "Supercell"),
      (s"ALBUM${nul}Supercell", "modifier", s"Cover${nul}") ->
        (s"ALBUM${nul}Supercell", s"Cover${nul}"),
      ("Unknown Song", "performed_by", "nobody") -> ("Unknown Song", "nobody"))
    val triples = cases.zipWithIndex.map { case (((s, p, o), _), i) =>
      Triple(s, p, o, "c1", i, s"ev$i") }.toDS()
    val got = Canonicalize.edges(spark, triples, canon).collect()
      .map(e => e.turn_idx -> e).toMap
    assert(got.size == cases.size)
    cases.zipWithIndex.foreach { case (((s, p, o), (src, dst)), i) =>
      assert(got(i) == Edge(src, p, dst, "c1", i, s"ev$i"),
        s"($s, $p, $o) resolved to ${got(i)}")
    }
  }
}
