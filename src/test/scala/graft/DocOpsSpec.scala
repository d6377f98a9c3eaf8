package graft

import org.apache.spark.sql.functions._
import graft.operators.{DocDedup, Multimodal, Similarity, TextAnalysis}

class DocOpsSpec extends SparkSuite {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat"), // near dup of 0
      (3L, "completely different content about spark engines and shuffles"),
      (4L, "THE  quick   brown fox jumps over the lazy dog") // normalized dup
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups normalized duplicates, keeps min doc_id") {
    val out = DocDedup.exact(docs).collect()
    val dup = out.find(_.getAs[Long]("dup_count") == 3L)
    assert(dup.isDefined && dup.get.getAs[Long]("keep_id") == 0L)
    assert(out.length == 3) // {0,1,4}, {2}, {3}
  }

  test("ngram jaccard finds the near-dup pair, not unrelated docs") {
    val pairs = DocDedup.ngramJaccardPairs(docs, k = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical
    assert(pairs.contains((0L, 2L))) // one-word difference
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH finds verified near-dups; agrees with exact jaccard") {
    val lsh = DocDedup.minhashLshPairs(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 1L)))
    assert(!lsh.exists(p => p._1 == 3L || p._2 == 3L))
    // verification step guarantees precision: every reported pair really
    // has exact jaccard >= threshold
    val exact = DocDedup.ngramJaccardPairs(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("frequent-shingle guard bounds candidates without losing real near-dups") {
    import spark.implicits._
    // 40 docs that share ONLY the stopword shingle "the cat sat" (plus
    // unique tails), and one genuine near-dup pair (docs 100/101) whose
    // overlap is rare shingles
    val stopworded = (0 until 40).map(i =>
      (i.toLong, s"the cat sat uniquely$i alpha$i beta$i gamma$i delta$i"))
    val nearDup = Seq(
      (100L, "rare signal shingle overlap here exactly matching body"),
      (101L, "rare signal shingle overlap here exactly matching tail"))
    val df = (stopworded ++ nearDup).toDF("doc_id", "text")
    // unguarded: the stopword shingle alone yields 40*39/2 = 780 pairs
    val unguarded = DocDedup.ngramCandidates(df, k = 3, maxShingleDf = 1000)
    assert(unguarded.count() >= 780)
    // guarded: stopword shingle (df=40 > 10) is dropped from candidate
    // generation; only the rare-shingle pair survives
    val guarded = DocDedup.ngramCandidates(df, k = 3, maxShingleDf = 10)
    val pairs = guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L)), s"got $pairs")
    // and the verified output still reports the near-dup with its EXACT
    // jaccard (verification uses full shingle sets, not the guarded ones)
    val out = DocDedup.ngramJaccardPairs(df, k = 3, threshold = 0.5,
      maxShingleDf = 10).collect()
    assert(out.length == 1 && out.head.getLong(0) == 100L &&
      out.head.getLong(1) == 101L)
    val jac = out.head.getDouble(2)
    // 8 tokens -> 6 shingles each, 5 shared: 5/7 rounded to 6 places
    assert(math.abs(jac - 0.714286) < 1e-6, s"jaccard $jac")
  }

  test("simhash: identical docs distance 0; near-dups small hamming") {
    val sigs = docs.select(col("doc_id"), DocDedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 10)
    val pairs = DocDedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("brute-force cosine top-k is deterministic and self-consistent") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val topk = Similarity.bruteForceTopK(queries, emb, 5)
    val rows = topk.collect()
    assert(rows.length == 15) // 3 queries x 5 neighbors
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { ns =>
      val sorted = ns.sortBy(_.getAs[Int]("rank"))
      val cs = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH cosine pairs: planted known-cosine pairs, exact verification") {
    import spark.implicits._
    val dim = 64
    // pair k lives in its own orthogonal plane (axes 2k, 2k+1):
    // u = e_{2k}, v = c*e_{2k} + sqrt(1-c^2)*e_{2k+1}  =>  cos(u,v) = c
    // exactly, and cross-pair cosines are 0 by construction
    def unit(axis: Int): Array[Float] = {
      val a = new Array[Float](dim); a(axis) = 1f; a
    }
    def mix(a1: Int, a2: Int, c: Double): Array[Float] = {
      val a = new Array[Float](dim)
      a(a1) = c.toFloat; a(a2) = math.sqrt(1 - c * c).toFloat; a
    }
    val cs = Seq(0.99, 0.97, 0.95, 0.70, 0.30)
    val pairs = cs.zipWithIndex.flatMap { case (c, k) =>
      Seq((k.toLong, unit(2 * k)), (k + 100L, mix(2 * k, 2 * k + 1, c)))
    }
    // deterministic hash-noise fillers keep the band buckets non-trivial
    def h(i: Int, j: Int): Float = {
      var z = (i.toLong * 1000003L + j) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      ((z >>> 40).toInt / 16777216.0f) - 0.5f
    }
    val noise = (0 until 20).map(i =>
      ((1000 + i).toLong, Array.tabulate(dim)(j => h(i, j))))
    val emb = (pairs ++ noise).toDF("vec_id", "embedding")
    val got = Similarity.lshCosinePairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision 1.0: exact verification admits nothing below threshold
    assert(got.forall(_._3 >= 0.9), got.mkString(", "))
    val ids = got.map(t => (t._1, t._2)).toSet
    // recall on the high-cosine plants (deterministic: seeded hyperplanes)
    assert(ids((0L, 100L)) && ids((1L, 101L)) && ids((2L, 102L)),
      s"missing planted pairs in $ids")
    // sub-threshold plants can NEVER appear (exact verify), regardless of
    // how many bands they collide in
    assert(!ids((3L, 103L)) && !ids((4L, 104L)))
    // reported cosine == constructed cosine (float32 inputs, 6dp rounding)
    val cosOf = got.map(t => (t._1, t._2) -> t._3).toMap
    Seq((0L, 100L, 0.99), (1L, 101L, 0.97), (2L, 102L, 0.95)).foreach {
      case (a, b, c) => assert(math.abs(cosOf((a, b)) - c) < 1e-4)
    }
  }

  /** The text-analysis columns the driver queries select, by doc_id. */
  private def textStats(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("text analysis: counts, ratios, langid, fingerprint") {
    val out = textStats(docs)
    assert(out(0L).getAs[Int]("n_tokens") == 9)
    assert(out(0L).getAs[Double]("stopword_ratio") > 0.2) // the/over/the
    // "the quick brown fox jumps over the lazy dog": 35 chars / 9 tokens
    assert(math.abs(out(0L).getAs[Double]("mean_token_len") - 35.0 / 9) < 1e-12)
    assert(out(0L).getAs[String]("lang_pred") == "en")
    assert(out(0L).getAs[String]("fingerprint") ==
      out(4L).getAs[String]("fingerprint")) // normalized dup
  }

  test("text analysis: empty/whitespace/null text counts zero tokens") {
    import spark.implicits._
    // split('', ...) yields [''] — a phantom token that would count 1;
    // size(null) is -1
    val degenerate = Seq((1L, ""), (2L, "   "), (3L, null))
      .toDF("doc_id", "text")
    val out = textStats(degenerate)
    for (id <- Seq(1L, 2L, 3L))
      assert(out(id).getAs[Int]("n_tokens") == 0, s"doc $id")
  }

  test("multimodal plumbing: stub decode + histogram + frame sampling") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 5)
    feats.foreach { f =>
      assert(f.meta.n_bytes > 0 && f.meta.width >= 64)
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
    }
    // determinism of the stub
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.map(_.meta).toSeq == again.map(_.meta).toSeq)
    // frame sampling: the text payloads hold no frames; a 5-frame
    // container sampled at stride 2 keeps frames 0, 2, 4
    val gif = Multimodal.encodeGif(
      (0 until 5).map(i => Multimodal.solidFrame(8, 8, 40 * i)))
    val frames = Multimodal.sampleVideoFrames(spark,
      media.unionByName(Seq((99L, gif)).toDF("media_id", "payload")),
      stride = 2).collect()
    assert(frames.map(f => (f.media_id, f.frame_idx)).sorted.toSeq ==
      Seq((99L, 0), (99L, 2), (99L, 4)))
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("REAL image codec: decode, luminance features (JDK imageio)") {
    import spark.implicits._
    val white = pngBytes(40, 24, 0xFFFFFF)
    val black = pngBytes(8, 8, 0x000000)
    // header metadata: exact format + dimensions
    val (m, whiteImg) = Multimodal.decodeImage(white).get
    assert(m.format == "png" && m.width == 40 && m.height == 24)
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    // pixel features: all-white mass in the TOP luminance bucket,
    // all-black in the BOTTOM one
    val hw = Multimodal.luminanceHistogram(whiteImg)
    val hb = Multimodal.luminanceHistogram(Multimodal.decodeImage(black).get._2)
    assert(math.abs(hw.last - 1.0) < 1e-9 && math.abs(hb.head - 1.0) < 1e-9)
    // extractFeatures routes real images through the real codec and
    // synthetic payloads through the stub, in the same partition
    val media = Seq((1L, white), (2L, black),
      (3L, "just text bytes".getBytes("UTF-8"))).toDF("media_id", "payload")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).meta == Multimodal.MediaMeta("png", 40, 24, white.length.toLong))
    assert(math.abs(feats(1L).histogram.last - 1.0) < 1e-9)
    assert(feats(3L).meta.format != "png") // stub fallback
  }

  test("REAL audio codec: WAV metadata + RMS energy windows (JDK sound API)") {
    // 16-bit mono PCM WAV: first half silence, second half a loud square
    val sr = 8000
    val n = 4000
    val samples = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(samples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until n)
      bb.putShort(i * 2,
        if (i < n / 2) 0 else (if (i % 2 == 0) 20000 else -20000).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val meta = Multimodal.audioMeta(wav).get
    assert(meta.sample_rate == sr.toFloat && meta.channels == 1 &&
      meta.frames == n.toLong)
    val rms = Multimodal.rmsEnergy(wav, windows = 8).get
    assert(rms.take(4).forall(_ < 1e-6), "first half must be silent")
    assert(rms.drop(4).forall(e => math.abs(e - 20000.0 / 32768.0) < 1e-3),
      s"second half must carry the square-wave energy; got ${rms.toSeq}")
    assert(Multimodal.audioMeta("nope".getBytes("UTF-8")).isEmpty)
  }

  test("REAL video demux: animated GIF frames enumerate, sample, decode") {
    import spark.implicits._
    // 8-frame animated GIF, frame i solid gray 24*i: a true multi-frame
    // container round-trip with zero external tools (JDK writer+reader)
    val gif = Multimodal.encodeGif(
      (0 until 8).map(i => Multimodal.solidFrame(20, 10, 24 * i)))
    val all = Multimodal.demuxFrames(gif, stride = 1)
    assert(all.map(_._1) == (0 until 8), s"frame enumeration: ${all.map(_._1)}")
    assert(all.forall { case (_, w, h, _) => w == 20 && h == 10 })
    // each solid frame's luminance mass sits in exactly one bucket
    all.foreach { case (i, _, _, hist) =>
      val bucket = (24 * i) * 16 / 256
      assert(math.abs(hist(bucket) - 1.0) < 1e-9,
        s"frame $i mass not in bucket $bucket: ${hist.toSeq}")
    }
    // strided sampling through the Dataset operator
    val media = Seq((7L, gif),
      (8L, "not a container".getBytes("UTF-8"))).toDF("media_id", "payload")
    val frames = Multimodal.sampleVideoFrames(spark, media, stride = 3)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(f => (f.media_id, f.frame_idx)).toSeq ==
      Seq((7L, 0), (7L, 3), (7L, 6)))
    // single-image / non-container payloads demux to nothing
    assert(Multimodal.demuxFrames("nope".getBytes("UTF-8")).isEmpty)
  }
}
