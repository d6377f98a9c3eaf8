package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.synth.TranscriptGen

/**
 * Driver contract: one `queries` entry per implemented operator family
 * (SURVEY.md §2), with DuckDB-equivalent `oracleSql` for everything
 * SQL-expressible. Column names and rounding are matched EXACTLY between
 * the Spark plan and the oracle SQL (the driver sorts columns by name and
 * hashes values). KG-specific and hash-seeded operators have no SQL
 * oracle -> rows-only checks.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The shared KG prefix `view` of session `s`: built by `build` and
    * persisted MEMORY_AND_DISK on first use in the session, registered
    * as a session temp view, and read back through it. Spark's cache
    * manager puts the persisted relation into every plan derived from the
    * view, and the view dies with its session, so nothing here holds a
    * session or needs evicting. Creation is atomic per session. */
  private def sessionPrefix(s: SparkSession, view: String)(
      build: => DataFrame): DataFrame = s.synchronized {
    if (!s.catalog.tableExists(view))
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .createOrReplaceTempView(view)
    s.table(view)
  }

  /** Decoded turns of the `n`-conversation synthetic corpus, shared by
    * the q_kg_* queries through the session view `graft_kg_decoded_<n>`
    * ([[sessionPrefix]]). The KG queries at one corpus scale share the
    * generate → detect → decode prefix; without sharing, each re-ran the
    * full extraction (BENCH_r02: q_kg_nodes spent ~10 of its 23.9s
    * re-extracting a corpus three sibling queries had already extracted).
    * Decoded turns are compact: entities only, no token arrays. The
    * fused-extract correctness gates (q_kg_pred_counts /
    * q_kg_triples_sample) intentionally do NOT read it — they gate
    * Pipeline.extract itself. */
  private def decodedPrefix(s: SparkSession, n: Long)
      : org.apache.spark.sql.Dataset[graft.Schemas.DecodedTurn] = {
    import s.implicits._
    sessionPrefix(s, s"graft_kg_decoded_$n")(
      Pipeline.decodeTurns(s, TranscriptGen.generate(s, n)).toDF())
      .as[graft.Schemas.DecodedTurn]
  }

  /** Canonical alias map shared by q_kg_nodes / q_kg_edges through the
    * session view `graft_kg_canon_<n>` (same rationale as
    * [[decodedPrefix]]). */
  private def canonPrefix(s: SparkSession, n: Long): DataFrame =
    sessionPrefix(s, s"graft_kg_canon_$n")(
      // canonicalization reads ONLY (tag, text) — routing through
      // Linker.link here built a 10-field LinkedMention per mention for
      // two columns (typed lambdas block Catalyst pruning; in the REAL
      // checkpointed pipeline the canon stage reads the linked PARQUET
      // column-pruned, so this in-memory chain was the only place paying
      // it). The linked stage itself is value-gated by
      // q_kg_linked_digest; the (tag, text) multiset is identical either
      // way (link is 1:1), so the canon gates are unaffected.
      Canonicalize.canonicalMap(s, Decode.mentions(s, decodedPrefix(s, n)).toDF()))

  /** The VALUES gates' row hash `h`: the first 8 hex digits of md5 over
    * the U+0001-joined columns, as a long (each gate sums it into its
    * `hashsum`, so ANY changed row flips the gate). */
  private def rowHash(cols: Column*): Column =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 8), 16, 10)
      .cast("long").as("h")

  /** The per-predicate edge digest of q_kg_edges and its incremental
    * twin: count, distinct endpoints and the row-hash sum. */
  private def edgeDigest(edges: DataFrame): DataFrame =
    edges.select(col("pred"), col("src_id"), col("dst_id"),
        rowHash(col("src_id"), col("pred"), col("dst_id"), col("conv_id"),
          col("turn_idx").cast("string")))
      .groupBy("pred")
      .agg(count(lit(1)).as("n"), countDistinct("src_id").as("n_src"),
        countDistinct("dst_id").as("n_dst"), sum("h").as("hashsum"))

  /** The nodes table as q_kg_nodes and its incremental twin compare it:
    * scalar columns only, the alias list flattened (the driver cannot
    * sort arrays). */
  private def nodeRows(nodes: DataFrame): DataFrame =
    nodes.select(col("node_id"), col("canonical"), col("type"),
      concat_ws("|", col("aliases")).as("aliases"), col("n_mentions"))

  /** The canonical map of the incremental gates: the pinned 300-conv
    * mentions split into two batches by crc32 conv parity, and the forms
    * that Pipeline.runIncremental commits for the second batch (batch 0's
    * surfaceForms merged with batch 1's unit-count form rows). Both
    * halves re-derive their mentions from the cached decoded prefix. */
  private def incrementalCanonMap(s: SparkSession): DataFrame = {
    val mentions = Decode.mentions(s, decodedPrefix(s, 300L)).toDF()
    Canonicalize.canonicalMapFromForms(s, Canonicalize.mergeForms(
      Canonicalize.surfaceForms(mentions.where(crc32(col("conv_id")) % 2 === 0)),
      Canonicalize.mentionForms(mentions.where(crc32(col("conv_id")) % 2 === 1))))
  }

  /** Pre-materialize the shared KG prefixes (bench warm-up hook) so each
    * timed q_kg_* query measures its OWN stage, not the shared decode. */
  def warmKgPrefix(s: SparkSession, dir: String): Unit = {
    decodedPrefix(s, TranscriptGen.convsForSfDir(dir)).count()
    decodedPrefix(s, 2000L).count()
    decodedPrefix(s, 300L).count() // the pinned canon-gate corpus
  }

  /** Pinned fixture for the q_simhash_pairs gate (sf-independent):
    * exact duplicates (1,2), one-token near-duplicates (1,3) and (4,5),
    * and unrelated texts. Shared with graft.tools.KgOracleDump, which
    * computes the expected pairs with an independent xxHash64 + simhash
    * implementation and mints the VALUES oracle. */
  val simhashFixture: Seq[(Long, String)] = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river " +
      "bank while the morning sun rises slowly above the quiet valley town"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river " +
      "bank while the morning sun rises slowly above the quiet valley town"),
    (3L, "the quick brown fox jumps over the lazy dog near the old river " +
      "bank while the evening sun rises slowly above the quiet valley town"),
    (4L, "synthetic vocal covers spread rapidly across video platforms as " +
      "producers remix classical hungarian folk melodies into electronic " +
      "dance arrangements every single week"),
    (5L, "synthetic vocal covers spread rapidly across video platforms as " +
      "producers remix modern hungarian folk melodies into electronic " +
      "dance arrangements every single week"),
    (6L, "completely unrelated short text about parquet column statistics"))

  /** Pinned fixture turns for the q_kg_mentions_digest gate: the
    * synthetic corpus never quotes UNKNOWN titles, so the regex mention
    * source would be vacuously absent from the gate without these.
    * Shared with KgOracleDump's independent transcription. */
  val mentionFixtureTurns: Seq[graft.Schemas.Turn] = {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Seq(
      graft.Schemas.Turn("zfix0000", 0, "user",
        "check \"Totally New Song\" tonight, it slaps", null, ts),
      graft.Schemas.Turn("zfix0000", 1, "assistant",
        "also \"Senbonzakura\" of course, and \"Chrome Tears Cascade\"",
        null, ts),
      // PADDED quotes: the regex group spans the spaces, the mention must
      // carry the TRIMMED surface with bounds that still slice it — the
      // text==slice(start,end) invariant would otherwise go ungated.
      // Fresh conv id: linkerFixtureTurns already owns (zfix0001, 0), and
      // a duplicate (conv_id, turn_idx) key would collide in any consumer
      // keyed per turn (coref ordering, streaming dedup)
      graft.Schemas.Turn("zfix0002", 0, "user",
        "press play on \" Neon Cascade Drift \" when it loads", null, ts))
  }

  /** Pinned fixture turns for the q_kg_linked_digest gate's 0.7 tier:
    * every gazetteer mention in the organic corpus hits the EXACT lookup
    * (its text is a detected gazetteer surface), so the normalized-lookup
    * rung of the scoring ladder never fired — a tier that cannot fail is
    * not gated (the q_anti_join defect class). These turns QUOTE
    * punctuation-variants of gazetteer surfaces: the regex mention source
    * emits them (not exact surfaces, so not gazetteer-detected), their
    * lowercase misses the exact index, and their stripped form hits the
    * normalized index at 0.7. Shared with KgOracleDump's independent
    * transcription. */
  val linkerFixtureTurns: Seq[graft.Schemas.Turn] = {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Seq(
      graft.Schemas.Turn("zfix0001", 0, "user",
        "have you heard \"Senbon-Zakura\" yet? it rules", null, ts),
      graft.Schemas.Turn("zfix0001", 1, "assistant",
        "yes! \"DECO 27\" produced a version too", null, ts))
  }

  /** Flagship: full KG extraction on synthesized transcripts. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.extract(spark, TranscriptGen.generate(spark, 200L)).toDF()

  /** The q_predict_* fixture: videos from the first two turns of 500
    * convs (title = turn 0, description = turn 1), pinned scale. */
  private def predictVideos(s: SparkSession): DataFrame =
    TranscriptGen.generate(s, 500L).toDF()
      .where(col("turn_idx") < 2).groupBy("conv_id").agg(
        min(when(col("turn_idx") === 0, col("text"))).as("title"),
        min(when(col("turn_idx") === 1, col("text"))).as("description"))
      .where(col("title").isNotNull && col("description").isNotNull)
      .withColumn("yt_id", col("conv_id"))
      .withColumn("channel_name", lit("GraftChannel"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations / joins over the TPC-H-ish tables (SURVEY §2.3/2.4)
    "q_agg_pricing" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    }),
    "q_join_revenue_by_nation" -> ((s, d) => {
      // J1 analog: multi-way equi-join, dims broadcast by AQE
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
          countDistinct("o_orderkey").as("n_orders"))
    }),
    "q_topk_customers" -> ((s, d) => {
      // top-K with deterministic tiebreak (SURVEY §2.6 O3) —
      // limit-then-rank (TakeOrderedAndProject), never a global window
      val rev = t(s, d, "orders").groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("revenue"))
      TopK.ranked(rev, 10, Seq(col("revenue").desc, col("o_custkey").asc))
    }),
    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer").join(t(s, d, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")),
    "q_anti_join" -> ((s, d) =>
      // every customer has orders at the test SFs, so the plain anti-join
      // returned 0 rows — a gate that can't fail. Filter both sides
      // (custkey bucket vs pre-1995 orders) so the output is non-empty.
      t(s, d, "customer").where(col("c_custkey") % 7 === 0)
        .join(t(s, d, "orders")
          .where(col("o_orderdate").cast("date") < lit("1995-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")),

    // ---- windows / ordered computation over events (SURVEY §2.5)
    "q_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events").select(col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        round(sum("value").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running"))
    }),
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events").select(col("event_id"),
        round(col("value") - lag("value", 1).over(w), 2).as("delta"))
    }),
    "q_sessionize" -> ((s, d) => {
      // session boundary: gap > 30 min within user
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .withColumn("es", // TIMESTAMP_NTZ -> epoch seconds (UTC session)
          col("ts").cast("timestamp").cast("long"))
        .withColumn("gap_s", col("es") - lag("es", 1).over(w))
        .withColumn("new_s",
          when(col("gap_s").isNull || col("gap_s") > 1800, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"))
    }),
    "q_segments" -> ((s, d) => {
      // gaps-and-islands — the window twin of the KG span decode (D1/A8)
      val w = Window.partitionBy("user_id").orderBy("event_id")
      t(s, d, "events")
        .withColumn("changed",
          when(lag("event_type", 1).over(w).isNull ||
            lag("event_type", 1).over(w) =!= col("event_type"), 1).otherwise(0))
        .withColumn("seg", sum("changed").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "seg", "event_type")
        .agg(count(lit(1)).as("n_events"),
          min("event_id").as("min_event"), max("event_id").as("max_event"))
    }),
    "q_pivot_counts" -> ((s, d) =>
      t(s, d, "events").groupBy("user_id").agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"))),
    "q_distinct_users" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))),
    "q_asof_join" -> ((s, d) => {
      // as-of join: each purchase matched to the user's most recent prior
      // click (composed union+window — one shuffle, no theta join)
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "click_id")
        .select(col("event_id"), col("click_id"))
    }),
    "q_rollup" -> ((s, d) =>
      // grouping-sets surface (free from Catalyst; SURVEY §2.4 note)
      t(s, d, "events")
        .withColumn("ubucket", col("user_id") % 3)
        .rollup("event_type", "ubucket")
        .agg(count(lit(1)).as("n"))),
    "q_daily_counts" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd")
          .as("day"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))),
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("user_id").agg(sum("k").as("sum_k"))),
    "q_median" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(round(median(col("value")), 2).as("med"))),
    "q_set_ops" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey").as("k"))
      val o = t(s, d, "orders").select(col("o_custkey").as("k"))
      c.intersect(o).agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("intersect"))
        .unionByName(c.except(o).agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("except")))
        .unionByName(c.union(o).distinct().agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("union_distinct")))
    }),

    // ---- text ops over documents (SURVEY §2.7, training-data ops)
    "q_doc_wordstats" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(split(trim(col("text")), "\\s+")))
          .as("n_distinct"),
        round(TextAnalysis.meanTokenLen(col("text")), 4).as("mean_len"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_ratio"))),
    "q_vocab_topk" -> ((s, d) => {
      // A1: vocabulary build, frequency top-K, deterministic ids —
      // limit-then-rank (TakeOrderedAndProject), never a global window
      val words = t(s, d, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      TopK.ranked(words, 20, Seq(col("cnt").desc, col("word").asc))
    }),
    "q_word_pairs_lev" -> ((s, d) => {
      // F11 built-in levenshtein over the distinct vocabulary.
      // dist <= 2 bounds the length delta to 2, so the self-join is
      // BLOCKED by length: one side explodes to its 5 admissible partner
      // lengths and the join is a plain equi-join — each qualifying pair
      // meets exactly once (word_b carries a single length), so no
      // distinct needed, and no CartesianProduct at any corpus size
      // (plan audited by ScaleSpec).
      val words = t(s, d, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .where(col("w") =!= "").distinct()
      val a = words.select(col("w").as("word_a"),
        explode(sequence(length(col("w")) - 2, length(col("w")) + 2))
          .as("lk"))
      val b = words.select(col("w").as("word_b"),
        length(col("w")).as("lk"))
      a.join(b, "lk")
        .where(col("word_a") < col("word_b"))
        .withColumn("dist", levenshtein(col("word_a"), col("word_b")))
        .where(col("dist") <= 2)
        .select("word_a", "word_b", "dist")
    }),
    "q_dedup_exact" -> ((s, d) => DocDedup.exact(t(s, d, "documents"))),
    "q_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))),
    "q_langid" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q_tokenize_count" -> ((s, d) => {
      // the documents corpus is ASCII (whitespace-split oracle suffices
      // there), so CJK / astral / fullwidth fixture rows are unioned in
      // with CPython-precomputed expected counts in the oracle — a
      // tokenizer regression on the hard cases now turns this gate red
      import s.implicits._
      val tokCount = udf((text: String) =>
        graft.functions.PyText.tokenize(text).length)
      val hard = Seq(
        (1000001L, "日本語のテストです。トークン化は正しいか？"),
        (1000002L, "Tavaszi Szél vizet áraszt 🎵 héj!"),
        (1000003L, "初音ミク sings 千本桜 feat. KAITO!!"),
        (1000004L, "astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕥𝕖𝕩𝕥 and ｆｕｌｌｗｉｄｔｈ１２３"),
        (1000005L, "line\nbreak\tkept?  double  space")
      ).toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(hard)
        .select(col("doc_id"), tokCount(col("text")).as("n_graft_tokens"))
    }),
    "q_ngram_jaccard" -> ((s, d) =>
      DocDedup.ngramJaccardPairs(
        t(s, d, "documents").where(col("doc_id") < 500), k = 3,
        threshold = 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jac"))),

    "q_confusion" -> ((s, d) =>
      // A7 shape: confusion counts between the stored lang and the
      // heuristic language ID (one hash aggregate). r06 note: measured
      // the single-split scan as a suspect (guide §2.5) and REJECTED a
      // repartition — the fused langId pass is ~15ms for the whole table
      // (probe in OPTIMIZATION_r06.md), so the remaining first-run cost
      // is codegen + first text-column read, which a shuffle only adds to.
      t(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),
    "q_class_weights" -> ((s, d) => {
      // A2 shape: balanced class weights total/(k*count) over lang labels
      val counts = t(s, d, "documents").groupBy("lang")
        .agg(count(lit(1)).as("cnt"))
      val total = t(s, d, "documents").count()
      counts.select(col("lang"),
        round(lit(total.toDouble) / (lit(5.0) * col("cnt")), 6).as("weight"))
    }),

    // ---- embeddings: similarity search (training-data ops)
    "q_embed_topk" -> ((s, d) => {
      // cast float->double BEFORE the dot product so the arithmetic matches
      // the (double-precision) oracle exactly
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, 5)
        .select("query_id", "neighbor_id", "rank") // ints only: no float hash
    }),

    // ---- multimodal plumbing (stubbed decode, real schema/batching)
    "q_multimodal_meta" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(t(s, d, "documents"))
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.format").as("format"))
    }),

    "q_image_decode" -> ((s, d) => {
      // REAL image codec gate (JDK imageio): deterministic in-query PNG
      // fixtures decoded by Multimodal.extractFeatures — format and
      // dimensions from the real header reader, luminance mass from the
      // real pixel decode (solid white = all mass in the top bucket,
      // solid black = bottom). Row 3 is a non-image payload proving the
      // deterministic stub fallback. n_bytes is excluded (PNG encoder
      // output is JDK-version-specific); everything gated is exact.
      import s.implicits._
      def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val media = Seq(
        (1L, png(40, 24, 0xFFFFFF)), (2L, png(8, 8, 0x000000)),
        (3L, "text bytes, not an image".getBytes("UTF-8")))
        .toDF("media_id", "payload")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          round(element_at(col("histogram"), 1), 6).as("lum_lo"),
          round(element_at(col("histogram"), 16), 6).as("lum_hi"))
    }),

    "q_audio_decode" -> ((s, d) => {
      // REAL audio codec gate (JDK sound API): a deterministic 16-bit
      // mono PCM WAV synthesized in-query (first half silence, second
      // half a ±20000 square wave), round-tripped through the WAV
      // container and decoded by Multimodal.audioMeta/rmsEnergy. RMS per
      // window is exact: 0 for silence, 20000/32768 for the square.
      import s.implicits._
      val n = 4000
      val samples = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(samples)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        bb.putShort(i * 2,
          if (i < n / 2) 0 else (if (i % 2 == 0) 20000 else -20000).toShort)
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      val wav = bos.toByteArray
      val meta = Multimodal.audioMeta(wav).get
      val rms = Multimodal.rmsEnergy(wav, windows = 8).get
      rms.zipWithIndex.map { case (e, w) =>
        (w, meta.sample_rate.toInt, meta.channels, meta.frames,
          BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.toDF("window", "sample_rate", "channels", "frames", "rms")
    }),

    "q_video_frames" -> ((s, d) => {
      // REAL video-container demux gate: a 6-frame animated GIF
      // synthesized in-query (frame i = solid gray 32*i), demuxed by the
      // JDK GIF reader via Multimodal.sampleVideoFrames with stride 2.
      // Every sampled frame's luminance mass lands in exactly one bucket
      // (Rec.601 luma of gray g is g; bucket = g*16/256 = i/8 of 16), so
      // the expected rows are exact by construction. A non-container
      // payload (row 99) must demux to zero frames.
      import s.implicits._
      val gif = Multimodal.encodeGif(
        (0 until 6).map(i => Multimodal.solidFrame(16, 12, 32 * i)))
      val media = Seq((1L, gif),
        (99L, "not a container".getBytes("UTF-8"))).toDF("media_id", "payload")
      Multimodal.sampleVideoFrames(s, media, stride = 2).toDF()
        .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
          expr("array_position(histogram, array_max(histogram))")
            .cast("int").as("lum_bucket"),
          round(element_at(col("histogram"),
            expr("array_position(histogram, array_max(histogram))")
              .cast("int")), 6).as("mass"))
    }),

    // ---- hash-seeded near-dup — all value-gated (VERDICT r3 item 3)
    "q_minhash_pairs" -> ((s, d) =>
      // LSH-candidate + exact-verify pairs; because verification is the
      // SAME exact shingle Jaccard the q_ngram_jaccard inverted index
      // computes, the output is gated against the ngram oracle SQL
      // verbatim — which also makes LSH recall itself part of the gate
      // (a recall regression drops rows and the row counts diverge).
      // Caveat: 8 bands x 4 rows recalls a borderline jaccard≈0.5 pair
      // only ~40% of the time (deterministically per corpus — seeded
      // hashes), so this equality gate relies on the pinned corpora,
      // where it holds at every sf dir (validated at 0.001/0.01/0.1);
      // a NEW corpus with an unlucky borderline pair would need the
      // oracle threshold raised into the high-recall region instead.
      DocDedup.minhashLshPairs(t(s, d, "documents")
        .where(col("doc_id") < 500), threshold = 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jac"))),
    "q_simhash_pairs" -> ((s, d) => {
      // SimHash near-dup over a PINNED fixture (sf-independent), gated
      // by VALUES minted from an independent from-scratch xxHash64 +
      // simhash implementation in KgOracleDump (asserts engine==oracle
      // sig-for-sig before minting). The organic-corpus path is pinned
      // by DocOpsSpec.
      import s.implicits._
      SparkEntry.simhashFixture.toDF("doc_id", "text")
        .transform(df => DocDedup.simhashPairs(df))
    }),
    "q_embed_lsh_pairs" -> ((s, d) => {
      // the synthetic embeddings are near-orthogonal (max pairwise cosine
      // ≈ 0.5 at every sf), so an all-pairs gate over the raw table was
      // vacuously empty (0 rows in CORRECTNESS_r02 — a gate that cannot
      // fail). Plant deterministic near-duplicates (vec_id + 1e6, first
      // coordinate nudged, cosine ≈ 0.999) so the gate has rows to lose
      // if the LSH pair path regresses. Ids-only output: the pair SET is
      // gated against a DuckDB exact all-pairs cosine oracle (which also
      // gates LSH recall on the planted pairs); the cosine VALUES
      // themselves are float-vs-double sensitive and stay out of the hash.
      val emb = t(s, d, "embeddings").select("vec_id", "embedding")
      val planted = emb.where(col("vec_id") < 20).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
      Similarity.lshCosinePairs(emb.unionByName(planted), threshold = 0.9)
        .select("vec_a", "vec_b")
    }),
    "q_embed_ivf_topk" -> ((s, d) => {
      // IVF exactness gate: with nProbe == nCentroids every cell is
      // probed, so the output MUST equal exact brute force — any bug in
      // assignment, probing, or ranking breaks the equality (oracle =
      // the same DuckDB SQL as q_embed_topk). The approximate
      // (nProbe < nCentroids) path and its recall are pinned by
      // StatefulSpec/DocOpsSpec.
      val emb = t(s, d, "embeddings")
      IvfIndex.ivfTopK(emb.where(col("vec_id") < 10), emb, 5,
        nCentroids = 16, nProbe = 16)
        .select("query_id", "neighbor_id", "rank")
    }),

    "q_predict_videos" -> ((s, d) =>
      // the reference serving path (POST /predict) as a batch op over
      // videos synthesized from transcript turns (rows-only check; the
      // hash-checked gates on this path are q_predict_tag_counts and
      // q_predict_sample below)
      VideoPipeline.predict(s, predictVideos(s))),
    "q_validate_spans" -> ((s, d) => {
      // fetch-validation gate (database.py:103-118): a deterministic
      // video fixture with two PLANTED corrupted spans (v2) and one
      // clean video (v1) — the gate must report exactly the violations
      import s.implicits._
      val vids = Seq(
        ("v1", "Senbonzakura cover", "sung by Miku",
          Seq((0, 12, "title", "Senbonzakura", "TITLE"),
            (8, 12, "description", "Miku", "VOCALOID"))),
        ("v2", "Senbonzakura cover", "sung by Miku",
          Seq((1, 13, "title", "Senbonzakura", "TITLE"),
            (8, 12, "description", "Miku", "VOCALOID"),
            (0, 4, "title", "Miku", "VOCALOID"))))
        .toDF("yt_id", "title", "description", "ner0")
        .withColumn("ner", transform(col("ner0"), n => struct(
          n.getField("_1").as("start"), n.getField("_2").as("end"),
          n.getField("_3").as("source"), n.getField("_4").as("entry"),
          n.getField("_5").as("type"))))
        .drop("ner0")
      VideoPipeline.validateSpans(vids)
    }),
    "q_decode_subword" -> ((s, d) => {
      // subword-accurate decode gate (prod.py:52-117 over HF-style
      // word_ids/offsets). d1 is the original DecodeSpec fixture; d2-d4
      // are CPython goldens from tools/gen_subword_goldens.py replaying
      // real HF shapes: 3+-piece words, [CLS]/[SEP] None-runs
      // MID-sequence, adjacent same-tag distinct words (merge quirk),
      // tag change between adjacent words, trailing open entity ending
      // in a split word, and DECOY tags on non-first subtokens that the
      // decoder must never read.
      import s.implicits._
      val fixtures: Seq[(String, String, Array[Int], Array[Int],
          Array[Int], Array[String])] = Seq(
        ("d1", "Senbonzakura by Hatsune Miku",
          Array(-1, 0, 0, 1, 2, 2, 3, 3, -1),
          Array(0, 0, 6, 13, 16, 19, 24, 26, 0),
          Array(0, 6, 12, 15, 19, 23, 26, 28, 0),
          Array("O", "TITLE", "ALBUM", "O", "VOCALIST", "O",
            "VOCALIST", "O", "O")),
        ("d2", "Hoshimachi Suisei sings Stellar Stellar tonight",
          Array(-1, 0, 0, 0, 1, 1, -1, 2, 3, 3, 4, 4, 5, -1),
          Array(0, 0, 4, 7, 11, 14, 0, 18, 24, 28, 32, 36, 40, 0),
          Array(0, 4, 7, 10, 14, 17, 0, 23, 28, 31, 36, 39, 47, 0),
          Array("O", "VOCALIST", "DECOY", "DECOY", "VOCALIST", "DECOY",
            "O", "O", "TITLE", "DECOY", "TITLE", "DECOY", "O", "O")),
        ("d3", "Senbonzakura Gurenge by Yorushika",
          Array(-1, 0, 0, 0, 1, 2, 3, 3, 3),
          Array(0, 0, 3, 7, 13, 21, 24, 28, 30),
          Array(0, 3, 7, 12, 20, 23, 28, 30, 33),
          Array("O", "TITLE", "DECOY", "DECOY", "ALBUM", "O",
            "VOCALIST", "DECOY", "DECOY")),
        ("d4", "Melt Lemon covered by Ado",
          Array(-1, 0, 1, -1, 2, 3, 4, -1),
          Array(0, 0, 5, 0, 11, 19, 22, 0),
          Array(0, 4, 10, 0, 18, 21, 25, 0),
          Array("O", "TITLE", "TITLE", "O", "MODIFIER", "O",
            "VOCALIST", "O")))
      fixtures.flatMap { case (doc, text, wordIds, starts, ends, tags) =>
        Decode.decodeSubword(text, wordIds, starts, ends, tags)
          .map(e => (doc, e.tag, e.text, e.start, e.end))
      }.toDF("doc", "tag", "entity", "start", "end")
    }),
    "q_connected_components" -> ((s, d) => {
      // G2 gate: a 6-node chain (diameter past naive small budgets),
      // a 2-node component and an isolate — deterministic min-label
      // components of the iterative pointer-jumping CC (the one CC;
      // canonicalMapFromForms' driver path has its own union-find, pinned
      // equal by KgStagesSpec) checked against a VALUES oracle.
      import s.implicits._
      val verts = Seq("a", "b", "c", "d", "e", "f", "g", "h", "i")
        .toDF("id")
      val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
        ("e", "f"), ("g", "h")).toDF("src", "dst")
      Canonicalize.connectedComponents(s, verts, edges)
    }),
    "q_predict_tag_counts" -> ((s, d) =>
      // serving-path VALUES gate: per-tag entity counts, minted by
      // KgOracleDump from the independent ReferenceOracle (500 convs
      // pinned, so the gate holds at any sf dir)
      VideoPipeline.predict(s, predictVideos(s))
        .groupBy("tag").agg(count(lit(1)).as("n"))),
    "q_predict_sample" -> ((s, d) =>
      // serving-path value-level gate: first 50 (yt_id, tag, entity) rows
      VideoPipeline.predict(s, predictVideos(s))
        .orderBy("yt_id", "tag", "entity").limit(50)),

    // ---- KG pipeline on synthesized transcripts (rows-only checks).
    // All five share the generate→detect→decode prefix via
    // [[decodedPrefix]], so each measures its OWN stage.
    "q_kg_mentions" -> ((s, d) => {
      // sf-scale stage timing (rows-only); the VALUE gate for this stage
      // is q_kg_mentions_digest below. Gazetteer ∪ regex sources, both
      // derived from the shared decoded prefix
      Pipeline.mentionsFromDecoded(s,
        decodedPrefix(s, TranscriptGen.convsForSfDir(d))).toDF()
    }),
    "q_kg_mentions_digest" -> ((s, d) =>
      // mention-source UNION gate (gazetteer ∪ regex, span-deduped) at
      // the pinned 300-conv corpus PLUS [[mentionFixtureTurns]] (quoted
      // unknown spans — the corpus itself never quotes unknown titles,
      // so the regex source would otherwise be vacuously absent): per
      // (tag, detector) counts + md5 hashsum over the full mention row;
      // expected values minted by KgOracleDump's independent
      // transcription (own quoted-span regex + gazetteer surface set,
      // no Aho-Corasick involved)
      {
        // decode is per-row, so decode(organic ∪ fixtures) ==
        // decodedPrefix(300) ∪ decode(fixtures): reuse the warmed shared
        // prefix instead of re-decoding the 300-conv corpus on every run
        val fixtures = s.createDataset(mentionFixtureTurns)(
          org.apache.spark.sql.Encoders.product[graft.Schemas.Turn])
        Pipeline.mentionsFromDecoded(s,
          decodedPrefix(s, 300L).unionByName(Pipeline.decodeTurns(s, fixtures)))
      }.toDF()
        .select(col("tag"), col("detector"),
          rowHash(col("conv_id"), col("turn_idx").cast("string"), col("tag"),
            col("text"), col("start").cast("string"),
            col("end").cast("string")))
        .groupBy("tag", "detector")
        .agg(count(lit(1)).as("n"), sum("h").as("hashsum"))),
    "q_kg_triples" -> ((s, d) =>
      // triple emission over the shared decoded prefix — equivalent to the
      // fused Pipeline.extract (DecodeSpec pins staged == fused); the fused
      // path itself is value-gated by q_kg_pred_counts/q_kg_triples_sample
      Triples.triples(s,
        decodedPrefix(s, TranscriptGen.convsForSfDir(d))).toDF()),
    "q_kg_linked" -> ((s, d) => {
      // sf-scale stage timing (rows-only); the VALUE gate for this stage
      // is q_kg_linked_digest below
      val dict = s.sparkContext.broadcast(Linker.buildDict())
      Linker.link(s, Decode.mentions(s,
        decodedPrefix(s, TranscriptGen.convsForSfDir(d))), dict).toDF()
    }),
    "q_kg_linked_digest" -> ((s, d) => {
      // linking VALUES gate: per-score-tier counts, distinct entity ids
      // and an md5 hashsum over (conv, turn, tag, text, entity_id) at the
      // pinned 300-conv corpus UNIONED with the mention fixtures and
      // [[linkerFixtureTurns]] (quoted punctuation-variants of gazetteer
      // surfaces, so the 0.7 normalized-lookup rung actually fires — it
      // was vacuously green on the organic corpus, whose gazetteer
      // mentions always hit the exact index). Input is the FULL mention
      // union (gazetteer ∪ regex), matching what the checkpointed
      // pipeline's linked stage consumes; expected values minted by
      // KgOracleDump's independent transcription of the scoring ladder.
      val dict = s.sparkContext.broadcast(Linker.buildDict())
      val fixtures = s.createDataset(mentionFixtureTurns ++ linkerFixtureTurns)(
        org.apache.spark.sql.Encoders.product[graft.Schemas.Turn])
      // decode is per-row, so decode(organic ∪ fixtures) ==
      // decodedPrefix(300) ∪ decode(fixtures): reuse the warmed shared
      // prefix instead of re-decoding the 300-conv corpus on every run
      val decoded = decodedPrefix(s, 300L).unionByName(
        Pipeline.decodeTurns(s, fixtures))
      Linker.link(s, Pipeline.mentionsFromDecoded(s, decoded), dict)
        .toDF()
        .select(col("link_score"), col("entity_id"),
          rowHash(col("conv_id"), col("turn_idx").cast("string"), col("tag"),
            col("text"), col("entity_id")))
        .groupBy("link_score")
        .agg(count(lit(1)).as("n"),
          countDistinct("entity_id").as("n_entities"),
          sum("h").as("hashsum"))
    }),
    "q_kg_coref" -> ((s, d) =>
      // sf-scale stage timing (rows-only); the VALUE gate for this stage
      // is q_kg_coref_digest below
      Coref.triples(s, Coref.resolve(s,
        decodedPrefix(s, TranscriptGen.convsForSfDir(d)))).toDF()),
    "q_kg_coref_digest" -> ((s, d) =>
      // coref VALUES gate: refers_to triples at the pinned 300-conv
      // corpus, digested like q_kg_edges (count, distinct endpoints,
      // md5 hashsum over the U+0001-joined row); expected values minted
      // by KgOracleDump's independent single-threaded transcription of
      // the recency-window semantics
      Coref.triples(s, Coref.resolve(s, decodedPrefix(s, 300L))).toDF()
        .select(col("pred"), col("subj"), col("obj"),
          rowHash(col("subj"), col("pred"), col("obj"), col("conv_id"),
            col("turn_idx").cast("string")))
        .groupBy("pred")
        .agg(count(lit(1)).as("n"), countDistinct("subj").as("n_src"),
          countDistinct("obj").as("n_dst"), sum("h").as("hashsum"))),
    "q_kg_nodes" -> ((s, d) => {
      // G1-G4a VALUES gate: the FULL nodes table at a pinned 300-conv
      // corpus, hash-checked against literals minted by the INDEPENDENT
      // single-threaded canonicalization oracle in graft.tools.KgOracleDump
      // (blocking + tf-idf/levenshtein edges + union-find + rep pick,
      // sharing no code with Canonicalize; the mint asserts engine ==
      // oracle before any literal is embedded). Pinned corpus — same
      // robustness rationale as q_kg_pred_counts.
      nodeRows(Canonicalize.nodes(s, canonPrefix(s, 300L)).toDF())
    }),
    "q_kg_edges" -> ((s, d) =>
      // G4b VALUES gate: the full 300-conv edge set, digested per
      // predicate ([[edgeDigest]]). The expected digests come from the
      // independent KgOracleDump canonicalization oracle, like q_kg_nodes.
      edgeDigest(Canonicalize.edges(s,
        Triples.triples(s, decodedPrefix(s, 300L)),
        canonPrefix(s, 300L)).toDF())),
    "q_kg_pred_counts" -> ((s, d) => {
      // driver-checkable KG gate: per-predicate triple counts, compared
      // against VALUES literals computed by the INDEPENDENT
      // ReferenceOracle transcription of src/prod.py:32-213
      // (graft.tools.KgOracleDump asserts engine == oracle before the
      // literals are embedded). Scope note: KgOracleDump feeds the oracle
      // the ENGINE's tokens/tags (PyText.tokenizeWithOffsets +
      // Detector.tagTokens), so these gates independently check
      // decode→dedup→emit only; tokenizer/detector coverage rests on the
      // CPython goldens (PyTextSpec) and the scanner==regex property test
      // — the same boundary ParitySpec documents. The corpus is PINNED to
      // 2000 convs — the sf0.01 scale the literals were minted at — so
      // the gate holds under any sf dir the driver chooses.
      val turns = TranscriptGen.generate(s, 2000L)
      Pipeline.extract(s, turns).toDF()
        .groupBy("pred").agg(count(lit(1)).as("n"))
    }),
    "q_kg_triples_sample" -> ((s, d) => {
      // value-level hash gate on the flagship KG output: first 50 triples
      // in (conv_id, turn_idx, subj, pred, obj) order, same
      // ReferenceOracle-minted VALUES oracle as q_kg_pred_counts (2000
      // convs pinned for the same reason)
      val turns = TranscriptGen.generate(s, 2000L)
      Pipeline.extract(s, turns).toDF()
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .orderBy("conv_id", "turn_idx", "subj", "pred", "obj")
        .limit(50)
    }),
    "q_kg_mention_tag_counts" -> ((s, d) => {
      // decode-stage gate: per-tag mention counts (decode + me-sub,
      // pre-dedup), VALUES oracle minted from ReferenceOracle.decode/
      // meSubstitute by KgOracleDump (2000 convs pinned)
      Decode.mentions(s, decodedPrefix(s, 2000L)).toDF()
        .groupBy("tag").agg(count(lit(1)).as("n"))
    }),
    "q_kg_incremental_edges" -> ((s, d) => {
      // Incremental edge-re-map VALUES gate, companion to
      // q_kg_incremental_nodes: the canonical map comes from the
      // incremental forms algebra and the triple corpus from a UNION of
      // two disjoint halves of the cached decoded prefix — exactly what
      // runIncremental reads after two batches — and the per-pred digest
      // must equal the one-shot q_kg_edges VALUES verbatim (same
      // independently-minted oracle).
      val t = Triples.triples(s, decodedPrefix(s, 300L)).toDF()
      val unioned = t.where(crc32(col("conv_id")) % 2 === 0)
        .unionByName(t.where(crc32(col("conv_id")) % 2 === 1))
      import s.implicits._
      edgeDigest(Canonicalize.edges(s, unioned.as[graft.Schemas.Triple],
        incrementalCanonMap(s)).toDF())
    }),
    "q_kg_incremental_nodes" -> ((s, d) => {
      // Incremental-maintenance VALUES gate: nodes over
      // [[incrementalCanonMap]] (any disjoint batch split must work) must
      // equal the one-shot q_kg_nodes table, so it shares that gate's
      // independently-minted VALUES oracle VERBATIM: any
      // non-distributivity in the forms merge or divergence in
      // canonicalMapFromForms flips a full value-level hash gate.
      nodeRows(Canonicalize.nodes(s, incrementalCanonMap(s)).toDF())
    })
  )

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the incremental-algebra twins must reproduce the one-shot nodes
    // table and per-pred edge digest EXACTLY, so they share the
    // q_kg_nodes / q_kg_edges independently-minted VALUES oracles
    // verbatim
    ("q_kg_incremental_nodes" -> oracleSqlBase("q_kg_nodes")) +
    ("q_kg_incremental_edges" -> oracleSqlBase("q_kg_edges"))

  private def oracleSqlBase: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         round(avg(l_discount), 4) AS avg_disc, count(*) AS n_rows
         FROM lineitem GROUP BY 1, 2""",
    "q_join_revenue_by_nation" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "q_topk_customers" ->
      """SELECT o_custkey, revenue, rank FROM (
           SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue,
             row_number() OVER (ORDER BY round(sum(o_totalprice), 2) DESC,
               o_custkey) AS rank
           FROM orders GROUP BY 1) WHERE rank <= 10""",
    "q_semi_join" ->
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey % 7 = 0 AND NOT EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey
             AND o_orderdate < TIMESTAMP '1995-01-01')""",
    "q_window_running" ->
      """SELECT event_id, user_id,
         row_number() OVER w AS rn,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
    "q_window_lag" ->
      """SELECT event_id,
         round(value - lag(value, 1) OVER (PARTITION BY user_id
           ORDER BY event_id), 2) AS delta
         FROM events""",
    "q_sessionize" ->
      """SELECT user_id, sum(new_s)::BIGINT AS n_sessions FROM (
           SELECT user_id,
             CASE WHEN es - lag(es) OVER (PARTITION BY user_id
               ORDER BY event_id) > 1800 OR lag(es) OVER (PARTITION BY
               user_id ORDER BY event_id) IS NULL THEN 1 ELSE 0 END AS new_s
           FROM (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events))
         GROUP BY 1""",
    "q_segments" ->
      """SELECT user_id, seg, event_type, count(*) AS n_events,
         min(event_id) AS min_event, max(event_id) AS max_event FROM (
           SELECT user_id, event_type, event_id,
             (sum(changed) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS seg
           FROM (SELECT *, CASE WHEN lag(event_type) OVER (PARTITION BY
             user_id ORDER BY event_id) IS DISTINCT FROM event_type
             THEN 1 ELSE 0 END AS changed FROM events))
         GROUP BY 1, 2, 3""",
    "q_pivot_counts" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS n_click,
         count(*) FILTER (event_type = 'view') AS n_view,
         count(*) FILTER (event_type = 'purchase') AS n_purchase,
         count(*) FILTER (event_type = 'signup') AS n_signup,
         count(*) FILTER (event_type = 'error') AS n_error
         FROM events GROUP BY 1""",
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1""",
    "q_doc_wordstats" ->
      """SELECT doc_id,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
         len(list_distinct(string_split_regex(trim(text), '\s+')))
           AS n_distinct,
         round(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
           x -> len(x)))::double
           / len(string_split_regex(trim(text), '\s+')), 4) AS mean_len,
         round(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           x -> x IN ('the','a','an','and','or','of','to','in','is','was',
             'it','for','on','with','as','at','by')))::double
           / len(string_split_regex(lower(trim(text)), '\s+')), 4)
           AS stop_ratio
         FROM documents""",
    "q_vocab_topk" ->
      """SELECT word, cnt, rank FROM (
           SELECT word, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rank
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
                 FROM documents)
           WHERE word <> '' GROUP BY 1) WHERE rank <= 20""",
    "q_word_pairs_lev" ->
      """WITH w AS (SELECT DISTINCT unnest(string_split_regex(trim(text),
           '\s+')) AS w FROM documents)
         SELECT a.w AS word_a, b.w AS word_b,
           levenshtein(a.w, b.w) AS dist
         FROM w a, w b
         WHERE a.w < b.w AND a.w <> '' AND b.w <> ''
           AND levenshtein(a.w, b.w) <= 2""",
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",
    "q_fingerprint" ->
      """SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",
    "q_langid" ->
      """WITH s AS (SELECT doc_id,
           string_split_regex(lower(text), '\s+') AS toks FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, x -> x IN ('the','and','of','to','is','was',
             'it','in'))) AS s_en,
           len(list_filter(toks, x -> x IN ('der','die','das','und','ist',
             'nicht','ich','ein'))) AS s_de,
           len(list_filter(toks, x -> x IN ('le','la','les','et','est','je',
             'un','une'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('el','la','los','y','es','un',
             'una','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('的','是','了','在','我','有')))
             AS s_zh
           FROM s)
         SELECT doc_id, CASE
           WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
             AND s_en >= s_zh THEN 'en'
           WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh
             THEN 'de'
           WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
           WHEN s_es > 0 AND s_es >= s_zh THEN 'es'
           WHEN s_zh > 0 THEN 'zh'
           ELSE 'und' END AS lang_pred
         FROM sc""",
    "q_asof_join" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id AS click_id FROM events
           WHERE event_type = 'click')
         SELECT p.event_id, c.click_id
         FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q_rollup" ->
      """SELECT event_type, ubucket, count(*) AS n FROM (
           SELECT event_type, user_id % 3 AS ubucket FROM events)
         GROUP BY ROLLUP(event_type, ubucket)""",
    "q_daily_counts" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         round(sum(value), 2) AS total
         FROM events GROUP BY 1""",
    "q_json_extract" ->
      """SELECT user_id, sum(json_extract(props, '$.k')::BIGINT)::BIGINT
           AS sum_k
         FROM events GROUP BY 1""",
    "q_median" ->
      """SELECT event_type, round(median(value), 2) AS med
         FROM events GROUP BY 1""",
    "q_set_ops" ->
      """SELECT n, kind FROM (
           SELECT count(*) AS n, 'intersect' AS kind FROM (
             SELECT c_custkey AS k FROM customer
             INTERSECT SELECT o_custkey FROM orders)
           UNION ALL
           SELECT count(*) AS n, 'except' AS kind FROM (
             SELECT c_custkey AS k FROM customer
             EXCEPT SELECT o_custkey FROM orders)
           UNION ALL
           SELECT count(*) AS n, 'union_distinct' AS kind FROM (
             SELECT c_custkey AS k FROM customer
             UNION SELECT o_custkey FROM orders))""",
    "q_confusion" ->
      """WITH s AS (SELECT doc_id, lang,
           string_split_regex(lower(text), '\s+') AS toks FROM documents),
         sc AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN ('the','and','of','to','is','was',
             'it','in'))) AS s_en,
           len(list_filter(toks, x -> x IN ('der','die','das','und','ist',
             'nicht','ich','ein'))) AS s_de,
           len(list_filter(toks, x -> x IN ('le','la','les','et','est','je',
             'un','une'))) AS s_fr,
           len(list_filter(toks, x -> x IN ('el','la','los','y','es','un',
             'una','que'))) AS s_es,
           len(list_filter(toks, x -> x IN ('的','是','了','在','我','有')))
             AS s_zh
           FROM s),
         pred AS (SELECT lang, CASE
           WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
             AND s_en >= s_zh THEN 'en'
           WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh
             THEN 'de'
           WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
           WHEN s_es > 0 AND s_es >= s_zh THEN 'es'
           WHEN s_zh > 0 THEN 'zh'
           ELSE 'und' END AS lang_pred
         FROM sc)
         SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2""",
    "q_class_weights" ->
      """SELECT lang, round((SELECT count(*) FROM documents)::double
           / (5.0 * count(*)), 6) AS weight
         FROM documents GROUP BY 1""",
    "q_tokenize_count" ->
      """SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))
           AS n_graft_tokens
         FROM documents
         UNION ALL
         SELECT * FROM (VALUES (1000001, 4), (1000002, 11), (1000003, 5),
           (1000004, 14), (1000005, 7)) AS h(doc_id, n_graft_tokens)""",
    "q_ngram_jaccard" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, sh FROM (
             SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
             FROM (SELECT doc_id, string_split_regex(lower(trim(text)),
               '\s+') AS toks FROM documents WHERE doc_id < 500))
           WHERE sh <> ''),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS c
           FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(round(c::double / (sa.n + sb.n - c), 6), 4) AS jac
         FROM common
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE round(c::double / (sa.n + sb.n - c), 6) >= 0.5""",
    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(qe::DOUBLE[],
               e.embedding::DOUBLE[]), 6) AS cos
           FROM q, embeddings e WHERE e.vec_id <> query_id)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5""",
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
         64 + (ascii(substr(text, 1, 1)) % 64) * 16 AS width,
         CASE ascii(substr(text, 1, 1)) % 4 WHEN 0 THEN 'jpeg'
           WHEN 1 THEN 'png' WHEN 2 THEN 'webp' ELSE 'bin' END AS format
         FROM documents""",
    "q_image_decode" ->
      // real-codec expectations are exact: solid white/black PNGs decode
      // to all luminance mass in the top/bottom bucket; the text payload
      // takes the documented stub fallback (header-derived fake dims)
      """SELECT id::BIGINT AS media_id, format, w AS width, h AS height,
         lo::DOUBLE AS lum_lo, hi::DOUBLE AS lum_hi FROM (VALUES
  (1, 'png', 40, 24, 0.0, 1.0),
  (2, 'png', 8, 8, 1.0, 0.0),
  (3, 'jpeg', 896, 656, 0.0, 0.0)) AS t(id, format, w, h, lo, hi)""",
    "q_audio_decode" ->
      // exact by construction: RMS of silence is 0, of a ±20000 square
      // wave is 20000/32768 = 0.610352 (rounded 6); the WAV container
      // round-trip preserves the PCM bytes bit-for-bit
      """SELECT w AS window, 8000 AS sample_rate, 1 AS channels,
         4000::BIGINT AS frames, r::DOUBLE AS rms FROM (VALUES
  (0, 0.0), (1, 0.0), (2, 0.0), (3, 0.0),
  (4, 0.610352), (5, 0.610352), (6, 0.610352), (7, 0.610352))
         AS t(w, r)""",
    "q_video_frames" ->
      // exact by construction: frame i of the synthesized GIF is solid
      // gray 32*i (luma = gray), so each sampled frame (stride 2) puts
      // ALL its luminance mass in 1-based bucket 2*i+1 of 16; the
      // non-container payload contributes no rows
      """SELECT m::BIGINT AS media_id, f AS frame_idx, 16 AS width,
         12 AS height, b AS lum_bucket, 1.0::DOUBLE AS mass FROM (VALUES
  (1, 0, 1), (1, 2, 5), (1, 4, 9)) AS t(m, f, b)""",
    // near-dup gates (VERDICT r3 item 3): the LSH/minhash candidate
    // paths are gated against EXACT all-pairs oracles — recall and
    // verification both in the hash
    "q_minhash_pairs" ->
      // identical to the q_ngram_jaccard oracle: minhash LSH candidates
      // verify with the same exact shingle Jaccard, so the surviving
      // pair set must equal the inverted-index exact computation
      """WITH sh AS (
           SELECT DISTINCT doc_id, sh FROM (
             SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
             FROM (SELECT doc_id, string_split_regex(lower(trim(text)),
               '\s+') AS toks FROM documents WHERE doc_id < 500))
           WHERE sh <> ''),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS c
           FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(round(c::double / (sa.n + sb.n - c), 6), 4) AS jac
         FROM common
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE round(c::double / (sa.n + sb.n - c), 6) >= 0.5""",
    "q_kg_mentions_digest" ->
      // minted by KgOracleDump's independent mention-union transcription
      // (own quoted-span regex + gazetteer surface set; 300-conv corpus
      // + the pinned fixture turns that exercise the regex source)
      """SELECT tag, detector, n::BIGINT AS n, h::BIGINT AS hashsum
         FROM (VALUES
  ('ALBUM', 'gazetteer:ac', 579, 1289481263807),
  ('ALT_TITLE', 'gazetteer:ac', 287, 608001000748),
  ('ALT_TITLE', 'regex:quoted', 3, 4499026910),
  ('FEATURING', 'gazetteer:ac', 302, 663115259026),
  ('MISC_PERSON', 'gazetteer:ac', 284, 599234932704),
  ('MODIFIER', 'gazetteer:ac', 861, 1818676649955),
  ('ORIGINAL_AUTHOR', 'gazetteer:ac', 1993, 4307431750804),
  ('TITLE', 'gazetteer:ac', 2485, 5260788597104),
  ('VOCALIST', 'gazetteer:ac', 285, 621860380246),
  ('VOCALOID', 'gazetteer:ac', 287, 618874018990)) AS t(tag, detector, n, h)""",
    "q_kg_linked_digest" ->
      // minted by KgOracleDump's independent scoring-ladder transcription
      // over the full mention union (300-conv pinned corpus + mention and
      // linker fixtures). All four tiers fire: the linker fixtures quote
      // punctuation-variants of gazetteer surfaces so the 0.7
      // normalized-lookup rung is no longer vacuously green.
      """SELECT score::DOUBLE AS link_score, n::BIGINT AS n,
         ne::BIGINT AS n_entities, h::BIGINT AS hashsum FROM (VALUES
  (0.5, 102, 98, 226138602684),
  (0.7, 2, 2, 868914776),
  (0.9, 675, 2, 1464734101828),
  (1.0, 6589, 111, 14247553674402)) AS t(score, n, ne, h)""",
    "q_kg_coref_digest" ->
      // minted by KgOracleDump's independent coref transcription
      // (300-conv pinned corpus; digest format as q_kg_edges)
      """SELECT pred, n::BIGINT AS n, ns::BIGINT AS n_src,
         nd::BIGINT AS n_dst, h::BIGINT AS hashsum FROM (VALUES
  ('refers_to', 246, 246, 39, 544363400284)) AS t(pred, n, ns, nd, h)""",
    "q_simhash_pairs" ->
      // VALUES minted by KgOracleDump's from-scratch XXH64 + simhash
      // implementation over the pinned SparkEntry.simhashFixture (the
      // mint asserts Spark xxhash64 == the independent XXH64 first):
      // exact dup (1,2) at hamming 0, one-token near-dups at hamming 3
      """SELECT a::BIGINT AS doc_a, b::BIGINT AS doc_b, h AS hamming
         FROM (VALUES (1, 2, 0), (1, 3, 3), (2, 3, 3)) AS t(a, b, h)""",
    "q_embed_lsh_pairs" ->
      // exact all-pairs cosine (double) over base ∪ planted near-dups;
      // the engine's LSH-bucketed pair set must equal it — candidate
      // recall on the planted pairs is part of the gate
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
         planted AS (SELECT vec_id + 1000000 AS vec_id,
             list_prepend(embedding[1] + 0.05, embedding[2:]) AS embedding
           FROM base WHERE vec_id < 20),
         all_v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM base
           UNION ALL SELECT vec_id, embedding::DOUBLE[] FROM planted)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.e, b.e) >= 0.9""",
    "q_embed_ivf_topk" ->
      // same oracle as q_embed_topk: probing every IVF cell must
      // reproduce exact brute force
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(qe::DOUBLE[],
               e.embedding::DOUBLE[]), 6) AS cos
           FROM q, embeddings e WHERE e.vec_id <> query_id)
         SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 5""",
    // KG gates: expected values minted by graft.tools.KgOracleDump from
    // the independent ReferenceOracle transcription at sf0.01 (the
    // driver's Verify scale). Not derived from the engine.
    "q_kg_pred_counts" ->
      """SELECT pred, n::BIGINT AS n FROM (VALUES
  ('alt_title', 1807),
  ('featuring', 1780),
  ('mentions_person', 1794),
  ('modifier', 5389),
  ('on_album', 3451),
  ('performed_by', 11837),
  ('vocal_by', 3616)) AS t(pred, n)""",
    "q_kg_triples_sample" ->
      """SELECT * FROM (VALUES
  ('conv00000000', 0, 'Unravel', 'modifier', 'Cover'),
  ('conv00000000', 0, 'Unravel', 'performed_by', 'Velvet Cogs'),
  ('conv00000000', 3, 'Lemon', 'modifier', 'Arrange'),
  ('conv00000000', 3, 'Lemon', 'performed_by', '米津玄師'),
  ('conv00000000', 4, 'Winter Meteor', 'performed_by', '米津玄師'),
  ('conv00000000', 4, 'Winter Meteor', 'vocal_by', 'Majiko'),
  ('conv00000000', 7, 'Tavaszi Szél', 'alt_title', 'Spring Wind'),
  ('conv00000000', 7, 'Tavaszi Szél', 'vocal_by', 'KAITO'),
  ('conv00000000', 8, 'Neon Genesis Lament', 'modifier', 'Cover'),
  ('conv00000000', 8, 'Neon Genesis Lament', 'performed_by', 'Stellar Dustworks'),
  ('conv00000000', 9, 'Lemon', 'alt_title', 'Yoru ni Kakeru'),
  ('conv00000000', 9, 'Lemon', 'vocal_by', 'Kasane Teto'),
  ('conv00000000', 11, 'Paper Moon Waltz', 'on_album', 'Bootleg'),
  ('conv00000000', 11, 'Paper Moon Waltz', 'performed_by', 'Velvet Cogs'),
  ('conv00000000', 12, 'Tavaszi Szél', 'performed_by', 'DECO*27'),
  ('conv00000000', 12, 'Tavaszi Szél', 'vocal_by', 'Reol'),
  ('conv00000000', 13, 'Silent Vermilion', 'featuring', 'Charlie Nox'),
  ('conv00000000', 13, 'Silent Vermilion', 'on_album', 'Mikunopolis'),
  ('conv00000000', 15, 'Kék Duna Keringő', 'performed_by', 'assistant'),
  ('conv00000000', 15, 'conv00000000#15', 'mentions_person', 'Ryo Watanabe'),
  ('conv00000000', 17, 'Gurenge', 'modifier', 'Arrange'),
  ('conv00000000', 17, 'Gurenge', 'performed_by', 'Mitchie M'),
  ('conv00000000', 18, 'Sakura Fubuki', 'featuring', 'Rin Orbit'),
  ('conv00000000', 18, 'Sakura Fubuki', 'on_album', 'Hungarian Dances Vol 3'),
  ('conv00000000', 19, 'Last Train Home', 'alt_title', 'Yoru ni Kakeru'),
  ('conv00000000', 19, 'Last Train Home', 'vocal_by', 'Kagamine Rin'),
  ('conv00000000', 20, '夜に駆ける', 'performed_by', '米津玄師'),
  ('conv00000000', 20, '夜に駆ける', 'vocal_by', 'Ado'),
  ('conv00000000', 21, 'Lemon Rolling Girl', 'performed_by', '中田ヤスタカ'),
  ('conv00000000', 22, 'Glass Aquarium', 'performed_by', 'user'),
  ('conv00000000', 22, 'conv00000000#22', 'mentions_person', 'Peter Molnar'),
  ('conv00000000', 23, 'Senbonzakura', 'modifier', 'Arrange'),
  ('conv00000000', 23, 'Senbonzakura', 'performed_by', 'Liszt Ferenc'),
  ('conv00000000', 24, 'うっせぇわ', 'modifier', 'Arrange'),
  ('conv00000000', 24, 'うっせぇわ', 'performed_by', 'Mitchie M'),
  ('conv00000000', 25, 'Hollow Cathedral', 'performed_by', 'wowaka'),
  ('conv00000000', 25, 'Hollow Cathedral', 'vocal_by', 'Soraru'),
  ('conv00000000', 27, 'World is Mine', 'alt_title', 'Racing into the Night'),
  ('conv00000000', 27, 'World is Mine', 'vocal_by', 'Kasane Teto'),
  ('conv00000000', 28, '群青', 'featuring', 'MC Paprika'),
  ('conv00000000', 28, '群青', 'on_album', 'Bootleg'),
  ('conv00000000', 31, 'Lemon', 'performed_by', 'wowaka'),
  ('conv00000000', 32, 'Tavaszi Szél', 'performed_by', '中田ヤスタカ'),
  ('conv00000000', 32, 'Tavaszi Szél', 'vocal_by', 'Palotás Anna'),
  ('conv00000000', 33, 'Clockwork Lullaby', 'modifier', 'Cover'),
  ('conv00000000', 33, 'Clockwork Lullaby', 'performed_by', 'Neru'),
  ('conv00000000', 34, 'Marble Soda Sky', 'on_album', 'Unhappy Refrain'),
  ('conv00000000', 34, 'Marble Soda Sky', 'performed_by', 'Kenshi Yonezu'),
  ('conv00000000', 35, 'Paper Moon Waltz', 'modifier', 'Cover'),
  ('conv00000000', 35, 'Paper Moon Waltz', 'performed_by', 'wowaka')) AS t(conv_id, turn_idx, subj, pred, obj)""",
    "q_validate_spans" ->
      """SELECT * FROM (VALUES
  ('v2', 0, 'title', 1, 13, 'Senbonzakura', 'enbonzakura '),
  ('v2', 2, 'title', 0, 4, 'Miku', 'Senb'))
         AS t(yt_id, ner_idx, source, start, "end", expected, got)""",
    "q_decode_subword" ->
      // d2-d4 expected rows generated by tools/gen_subword_goldens.py
      // (CPython transcription of the reference decode loop)
      """SELECT * FROM (VALUES
  ('d1', 'TITLE', 'Senbonzakura', 0, 12),
  ('d1', 'VOCALIST', 'Hatsune Miku', 16, 28),
  ('d2', 'VOCALIST', 'Hoshimachi Suisei', 0, 17),
  ('d2', 'TITLE', 'Stellar Stellar', 24, 39),
  ('d3', 'TITLE', 'Senbonzakura', 0, 12),
  ('d3', 'ALBUM', 'Gurenge', 13, 20),
  ('d3', 'VOCALIST', 'Yorushika', 24, 33),
  ('d4', 'TITLE', 'Melt Lemon', 0, 10),
  ('d4', 'MODIFIER', 'covered', 11, 18),
  ('d4', 'VOCALIST', 'Ado', 22, 25))
         AS t(doc, tag, entity, start, "end")""",
    "q_connected_components" ->
      """SELECT * FROM (VALUES
  ('a', 'a'), ('b', 'a'), ('c', 'a'), ('d', 'a'), ('e', 'a'), ('f', 'a'),
  ('g', 'g'), ('h', 'g'), ('i', 'i')) AS t(id, component)""",
    "q_predict_tag_counts" ->
      """SELECT tag, n::BIGINT AS n FROM (VALUES
  ('ALBUM', 181),
  ('ALT_TITLE', 86),
  ('FEATURING', 94),
  ('MISC_PERSON', 104),
  ('MODIFIER', 302),
  ('ORIGINAL_AUTHOR', 684),
  ('TITLE', 813),
  ('VOCALIST', 102),
  ('VOCALOID', 85)) AS t(tag, n)""",
    "q_predict_sample" ->
      """SELECT * FROM (VALUES
  ('conv00000000', 'MODIFIER', 'Cover'),
  ('conv00000000', 'ORIGINAL_AUTHOR', 'GraftChannel'),
  ('conv00000000', 'ORIGINAL_AUTHOR', 'Velvet Cogs'),
  ('conv00000000', 'TITLE', 'Unravel'),
  ('conv00000001', 'MISC_PERSON', 'Yuki Tanaka'),
  ('conv00000001', 'ORIGINAL_AUTHOR', 'GraftChannel'),
  ('conv00000001', 'TITLE', 'Rolling Girl'),
  ('conv00000002', 'ALT_TITLE', 'Usseewa'),
  ('conv00000002', 'ORIGINAL_AUTHOR', 'PinocchioP'),
  ('conv00000002', 'TITLE', 'Marble Soda Sky'),
  ('conv00000002', 'TITLE', 'Silent Vermilion'),
  ('conv00000002', 'VOCALIST', 'Soraru'),
  ('conv00000002', 'VOCALOID', 'Megurine Luka'),
  ('conv00000003', 'MODIFIER', 'Cover'),
  ('conv00000003', 'ORIGINAL_AUTHOR', 'Ayase'),
  ('conv00000003', 'ORIGINAL_AUTHOR', 'Liszt Ferenc'),
  ('conv00000003', 'TITLE', 'Last Train Home'),
  ('conv00000003', 'TITLE', 'Senbonzakura'),
  ('conv00000003', 'VOCALIST', 'Majiko'),
  ('conv00000004', 'ALBUM', 'Bootleg'),
  ('conv00000004', 'FEATURING', 'Aria Lune'),
  ('conv00000004', 'TITLE', 'Gurenge'),
  ('conv00000005', 'MISC_PERSON', 'Peter Molnar'),
  ('conv00000005', 'MODIFIER', 'Arrange'),
  ('conv00000005', 'ORIGINAL_AUTHOR', 'GraftChannel'),
  ('conv00000005', 'ORIGINAL_AUTHOR', 'Stellar Dustworks'),
  ('conv00000005', 'TITLE', 'Clockwork Lullaby'),
  ('conv00000005', 'TITLE', 'Marble Soda Sky'),
  ('conv00000006', 'ALBUM', 'Bootleg'),
  ('conv00000006', 'ORIGINAL_AUTHOR', '中田ヤスタカ'),
  ('conv00000006', 'TITLE', 'World is Mine'),
  ('conv00000007', 'ALBUM', 'Bootleg'),
  ('conv00000007', 'FEATURING', 'Neon Fox'),
  ('conv00000007', 'ORIGINAL_AUTHOR', 'Erkel Ferenc'),
  ('conv00000007', 'TITLE', 'Paper Moon Waltz'),
  ('conv00000007', 'TITLE', '群青 うっせぇわ'),
  ('conv00000008', 'ALBUM', 'Mikunopolis'),
  ('conv00000008', 'ALT_TITLE', 'Gunjou'),
  ('conv00000008', 'ORIGINAL_AUTHOR', 'Aurora Vex'),
  ('conv00000008', 'TITLE', 'Last Train Home'),
  ('conv00000008', 'VOCALOID', 'flower'),
  ('conv00000009', 'MODIFIER', 'Arrange'),
  ('conv00000009', 'MODIFIER', 'Remix'),
  ('conv00000009', 'ORIGINAL_AUTHOR', 'Ayase'),
  ('conv00000009', 'ORIGINAL_AUTHOR', 'GraftChannel'),
  ('conv00000009', 'TITLE', 'Night Parade'),
  ('conv00000010', 'MISC_PERSON', 'illustrator Nezuki'),
  ('conv00000010', 'ORIGINAL_AUTHOR', 'GraftChannel'),
  ('conv00000010', 'ORIGINAL_AUTHOR', '米津玄師'),
  ('conv00000010', 'TITLE', 'Ashes of the Dawn')) AS t(yt_id, tag, entity)""",
    // Canonicalization gates: expected values minted by the INDEPENDENT
    // single-threaded canonicalization oracle in graft.tools.KgOracleDump
    // (union-find + greedy leader refinement, no code shared with
    // Canonicalize; the mint asserts engine == oracle first). Pinned to
    // a 300-conv corpus, so the literals hold at any sf dir.
    "q_kg_nodes" ->
      """SELECT node_id, canonical, type, aliases, n::BIGINT AS n_mentions
         FROM (VALUES
  ('ALBUM:Analog Heartbeats', 'Analog Heartbeats', 'ALBUM', 'Analog Heartbeats', 43),
  ('ALBUM:Bootleg', 'Bootleg', 'ALBUM', 'Bootleg', 50),
  ('ALBUM:Ceremony', 'Ceremony', 'ALBUM', 'Ceremony', 44),
  ('ALBUM:Chrome Gardens', 'Chrome Gardens', 'ALBUM', 'Chrome Gardens', 58),
  ('ALBUM:Fragments of Polaris', 'Fragments of Polaris', 'ALBUM', 'Fragments of Polaris', 40),
  ('ALBUM:Hungarian Dances Vol 3', 'Hungarian Dances Vol 3', 'ALBUM', 'Hungarian Dances Vol 3', 53),
  ('ALBUM:Mikunopolis', 'Mikunopolis', 'ALBUM', 'Mikunopolis', 55),
  ('ALBUM:Re:Dial', 'Re:Dial', 'ALBUM', 'Re:Dial', 50),
  ('ALBUM:Stray Sheep', 'Stray Sheep', 'ALBUM', 'Stray Sheep', 49),
  ('ALBUM:The Glasshouse Sessions', 'The Glasshouse Sessions', 'ALBUM', 'The Glasshouse Sessions', 41),
  ('ALBUM:Unhappy Refrain', 'Unhappy Refrain', 'ALBUM', 'Unhappy Refrain', 45),
  ('ALBUM:深海シティ', '深海シティ', 'ALBUM', '深海シティ', 51),
  ('ALT_TITLE:Blue Danube Waltz', 'Blue Danube Waltz', 'ALT_TITLE', 'Blue Danube Waltz', 31),
  ('ALT_TITLE:Gunjou', 'Gunjou', 'ALT_TITLE', 'Gunjou', 42),
  ('ALT_TITLE:Racing into the Night', 'Racing into the Night', 'ALT_TITLE', 'Racing into the Night', 42),
  ('ALT_TITLE:Spring Wind', 'Spring Wind', 'ALT_TITLE', 'Spring Wind', 40),
  ('ALT_TITLE:The Hollow Cathedral Suite', 'The Hollow Cathedral Suite', 'ALT_TITLE', 'The Hollow Cathedral Suite', 28),
  ('ALT_TITLE:Thousand Cherry Blossoms', 'Thousand Cherry Blossoms', 'ALT_TITLE', 'Thousand Cherry Blossoms', 29),
  ('ALT_TITLE:Usseewa', 'Usseewa', 'ALT_TITLE', 'Usseewa', 42),
  ('ALT_TITLE:Yoru ni Kakeru', 'Yoru ni Kakeru', 'ALT_TITLE', 'Yoru ni Kakeru', 33),
  ('FEATURING:Aria Lune', 'Aria Lune', 'FEATURING', 'Aria Lune', 31),
  ('FEATURING:Charlie Nox', 'Charlie Nox', 'FEATURING', 'Charlie Nox', 38),
  ('FEATURING:DJ Szilva', 'DJ Szilva', 'FEATURING', 'DJ Szilva', 37),
  ('FEATURING:Kaito Shion', 'Kaito Shion', 'FEATURING', 'Kaito Shion', 37),
  ('FEATURING:Luka Nightfall', 'Luka Nightfall', 'FEATURING', 'Luka Nightfall', 35),
  ('FEATURING:MC Paprika', 'MC Paprika', 'FEATURING', 'MC Paprika', 45),
  ('FEATURING:Neon Fox', 'Neon Fox', 'FEATURING', 'Neon Fox', 37),
  ('FEATURING:Rin Orbit', 'Rin Orbit', 'FEATURING', 'Rin Orbit', 42),
  ('MISC_PERSON:Anna Kovács', 'Anna Kovács', 'MISC_PERSON', 'Anna Kovács', 28),
  ('MISC_PERSON:MV director Oka', 'MV director Oka', 'MISC_PERSON', 'MV director Oka', 43),
  ('MISC_PERSON:Peter Molnar', 'Peter Molnar', 'MISC_PERSON', 'Peter Molnar', 39),
  ('MISC_PERSON:Ryo Watanabe', 'Ryo Watanabe', 'MISC_PERSON', 'Ryo Watanabe', 40),
  ('MISC_PERSON:Yuki Tanaka', 'Yuki Tanaka', 'MISC_PERSON', 'Yuki Tanaka', 32),
  ('MISC_PERSON:illustrator Nezuki', 'illustrator Nezuki', 'MISC_PERSON', 'illustrator Nezuki', 22),
  ('MISC_PERSON:producer Halvorsen', 'producer Halvorsen', 'MISC_PERSON', 'producer Halvorsen', 41),
  ('MISC_PERSON:the mixing engineer Sato', 'the mixing engineer Sato', 'MISC_PERSON', 'the mixing engineer Sato', 39),
  ('MODIFIER:arranged', 'arranged', 'MODIFIER', 'arranged', 288),
  ('MODIFIER:covered', 'covered', 'MODIFIER', 'covered', 280),
  ('MODIFIER:remixed', 'remixed', 'MODIFIER', 'remixed', 293),
  ('ORIGINAL_AUTHOR:Aurora Vex', 'Aurora Vex', 'ORIGINAL_AUTHOR', 'Aurora Vex', 58),
  ('ORIGINAL_AUTHOR:Ayase', 'Ayase', 'ORIGINAL_AUTHOR', 'Ayase', 67),
  ('ORIGINAL_AUTHOR:Bartók Béla', 'Bartók Béla', 'ORIGINAL_AUTHOR', 'Bartók Béla', 61),
  ('ORIGINAL_AUTHOR:Crimson Tide Orchestra', 'Crimson Tide Orchestra', 'ORIGINAL_AUTHOR', 'Crimson Tide Orchestra', 68),
  ('ORIGINAL_AUTHOR:DECO*27', 'DECO*27', 'ORIGINAL_AUTHOR', 'DECO*27', 59),
  ('ORIGINAL_AUTHOR:Erkel Ferenc', 'Erkel Ferenc', 'ORIGINAL_AUTHOR', 'Erkel Ferenc', 59),
  ('ORIGINAL_AUTHOR:Hachi', 'Hachi', 'ORIGINAL_AUTHOR', 'Hachi', 69),
  ('ORIGINAL_AUTHOR:Kenshi Yonezu', 'Kenshi Yonezu', 'ORIGINAL_AUTHOR', 'Kenshi Yonezu', 57),
  ('ORIGINAL_AUTHOR:Kikuo', 'Kikuo', 'ORIGINAL_AUTHOR', 'Kikuo', 57),
  ('ORIGINAL_AUTHOR:Liszt Ferenc', 'Liszt Ferenc', 'ORIGINAL_AUTHOR', 'Liszt Ferenc', 65),
  ('ORIGINAL_AUTHOR:Midnight Prism', 'Midnight Prism', 'ORIGINAL_AUTHOR', 'Midnight Prism', 66),
  ('ORIGINAL_AUTHOR:Mitchie M', 'Mitchie M', 'ORIGINAL_AUTHOR', 'Mitchie M', 70),
  ('ORIGINAL_AUTHOR:Neru', 'Neru', 'ORIGINAL_AUTHOR', 'Neru', 72),
  ('ORIGINAL_AUTHOR:PinocchioP', 'PinocchioP', 'ORIGINAL_AUTHOR', 'PinocchioP', 86),
  ('ORIGINAL_AUTHOR:Stellar Dustworks', 'Stellar Dustworks', 'ORIGINAL_AUTHOR', 'Stellar Dustworks', 65),
  ('ORIGINAL_AUTHOR:Velvet Cogs', 'Velvet Cogs', 'ORIGINAL_AUTHOR', 'Velvet Cogs', 64),
  ('ORIGINAL_AUTHOR:assistant', 'assistant', 'ORIGINAL_AUTHOR', 'assistant', 333),
  ('ORIGINAL_AUTHOR:syudou', 'syudou', 'ORIGINAL_AUTHOR', 'syudou', 60),
  ('ORIGINAL_AUTHOR:user', 'user', 'ORIGINAL_AUTHOR', 'user', 342),
  ('ORIGINAL_AUTHOR:wowaka', 'wowaka', 'ORIGINAL_AUTHOR', 'wowaka', 70),
  ('ORIGINAL_AUTHOR:中田ヤスタカ', '中田ヤスタカ', 'ORIGINAL_AUTHOR', '中田ヤスタカ', 65),
  ('ORIGINAL_AUTHOR:米津玄師', '米津玄師', 'ORIGINAL_AUTHOR', '米津玄師', 80),
  ('TITLE:Ashes of the Dawn', 'Ashes of the Dawn', 'TITLE', 'Ashes of the Dawn|Ashes of the Dawn 群青', 68),
  ('TITLE:Ashes of the Dawn Rolling Girl', 'Ashes of the Dawn Rolling Girl', 'TITLE', 'Ashes of the Dawn Rolling Girl', 1),
  ('TITLE:Ashes of the Dawn 夜に駆ける', 'Ashes of the Dawn 夜に駆ける', 'TITLE', 'Ashes of the Dawn 夜に駆ける', 1),
  ('TITLE:Clockwork Lullaby', 'Clockwork Lullaby', 'TITLE', 'Clockwork Lullaby|Clockwork Lullaby Lemon|Clockwork Lullaby Zero Gravity Heart|Unravel Clockwork Lullaby', 64),
  ('TITLE:Crystal Teardrop', 'Crystal Teardrop', 'TITLE', 'Crystal Teardrop|Crystal Teardrop Glass Aquarium|Crystal Teardrop Unravel|Marble Soda Sky Crystal Teardrop|Senbonzakura Crystal Teardrop|群青 Crystal Teardrop', 92),
  ('TITLE:Electric Hanami', 'Electric Hanami', 'TITLE', 'Electric Hanami|Electric Hanami 群青|Lemon Electric Hanami|Pretender Electric Hanami', 64),
  ('TITLE:Ghost Rule', 'Ghost Rule', 'TITLE', 'Ghost Rule|Lemon Ghost Rule|Unravel Ghost Rule', 62),
  ('TITLE:Glass Aquarium', 'Glass Aquarium', 'TITLE', 'Glass Aquarium|Glass Aquarium Silent Vermilion|Glass Aquarium Unravel', 67),
  ('TITLE:Gurenge', 'Gurenge', 'TITLE', 'Gurenge', 72),
  ('TITLE:Gurenge World is Mine', 'Gurenge World is Mine', 'TITLE', 'Gurenge World is Mine', 1),
  ('TITLE:Gurenge 群青', 'Gurenge 群青', 'TITLE', 'Gurenge 群青', 1),
  ('TITLE:Hollow Cathedral', 'Hollow Cathedral', 'TITLE', 'Electric Hanami Hollow Cathedral|Hollow Cathedral|Hollow Cathedral Lemon|Hollow Cathedral Night Parade|Hollow Cathedral Winter Meteor|Iron Butterfly Waltz Hollow Cathedral|群青 Hollow Cathedral', 108),
  ('TITLE:Iron Butterfly Waltz', 'Iron Butterfly Waltz', 'TITLE', 'Iron Butterfly Waltz|Iron Butterfly Waltz Pretender|Iron Butterfly Waltz Silent Vermilion|Rolling Girl Iron Butterfly Waltz', 88),
  ('TITLE:Kék Duna Keringő', 'Kék Duna Keringő', 'TITLE', 'Kék Duna Keringő|Kék Duna Keringő Gurenge|Kék Duna Keringő Kék Duna Keringő|Kék Duna Keringő Rolling Girl|Marble Soda Sky Kék Duna Keringő|Melt Kék Duna Keringő', 94),
  ('TITLE:Last Train Home', 'Last Train Home', 'TITLE', 'Gurenge Last Train Home|Last Train Home|Last Train Home Last Train Home|Last Train Home Night Parade', 100),
  ('TITLE:Lemon', 'Lemon', 'TITLE', 'Lemon', 91),
  ('TITLE:Marble Soda Sky', 'Marble Soda Sky', 'TITLE', 'Marble Soda Sky', 74),
  ('TITLE:Marble Soda Sky うっせぇわ', 'Marble Soda Sky うっせぇわ', 'TITLE', 'Marble Soda Sky うっせぇわ', 1),
  ('TITLE:Melt', 'Melt', 'TITLE', 'Melt', 69),
  ('TITLE:Melt 群青', 'Melt 群青', 'TITLE', 'Melt 群青', 1),
  ('TITLE:Neon Genesis Lament', 'Neon Genesis Lament', 'TITLE', 'Neon Genesis Lament|Neon Genesis Lament Melt|Neon Genesis Lament Rolling Girl', 84),
  ('TITLE:Neon Genesis Lament Sakura Fubuki', 'Neon Genesis Lament Sakura Fubuki', 'TITLE', 'Neon Genesis Lament Sakura Fubuki', 1),
  ('TITLE:Night Parade', 'Night Parade', 'TITLE', 'Gurenge Night Parade|Lemon Night Parade|Night Parade|Night Parade Ghost Rule', 73),
  ('TITLE:Paper Moon Waltz', 'Paper Moon Waltz', 'TITLE', 'Ashes of the Dawn Paper Moon Waltz|Paper Moon Waltz|Paper Moon Waltz Gurenge', 84),
  ('TITLE:Pretender', 'Pretender', 'TITLE', 'Gurenge Pretender|Melt Pretender|Night Parade Pretender|Pretender|Pretender Pretender|群青 Pretender', 85),
  ('TITLE:Rolling Girl', 'Rolling Girl', 'TITLE', 'Lemon Rolling Girl|Rolling Girl|Rolling Girl Pretender|Rolling Girl Rolling Girl', 75),
  ('TITLE:Rolling Girl うっせぇわ', 'Rolling Girl うっせぇわ', 'TITLE', 'Rolling Girl うっせぇわ', 1),
  ('TITLE:Sakura Fubuki', 'Sakura Fubuki', 'TITLE', 'Sakura Fubuki|Sakura Fubuki Rolling Girl|Unravel Sakura Fubuki', 106),
  ('TITLE:Sakura Fubuki うっせぇわ', 'Sakura Fubuki うっせぇわ', 'TITLE', 'Sakura Fubuki うっせぇわ', 1),
  ('TITLE:Senbonzakura', 'Senbonzakura', 'TITLE', 'Senbonzakura|群青 Senbonzakura', 93),
  ('TITLE:Silent Vermilion', 'Silent Vermilion', 'TITLE', 'Silent Vermilion|Silent Vermilion Lemon|Unravel Silent Vermilion', 80),
  ('TITLE:Tavaszi Szél', 'Tavaszi Szél', 'TITLE', 'Glass Aquarium Tavaszi Szél|Silent Vermilion Tavaszi Szél|Tavaszi Szél|Tavaszi Szél Melt|Tavaszi Szél World is Mine|Tavaszi Szél Zero Gravity Heart|Winter Meteor Tavaszi Szél', 86),
  ('TITLE:Tavaszi Szél うっせぇわ', 'Tavaszi Szél うっせぇわ', 'TITLE', 'Tavaszi Szél うっせぇわ', 1),
  ('TITLE:Unravel', 'Unravel', 'TITLE', 'Unravel', 79),
  ('TITLE:Unravel Lemon', 'Unravel Lemon', 'TITLE', 'Unravel Lemon', 2),
  ('TITLE:Winter Meteor', 'Winter Meteor', 'TITLE', 'Winter Meteor|Winter Meteor Unravel|Winter Meteor 群青', 71),
  ('TITLE:World is Mine', 'World is Mine', 'TITLE', 'Unravel World is Mine|Winter Meteor World is Mine|World is Mine|World is Mine Neon Genesis Lament|World is Mine 群青', 92),
  ('TITLE:World is Mine Gurenge', 'World is Mine Gurenge', 'TITLE', 'World is Mine Gurenge', 1),
  ('TITLE:Zero Gravity Heart', 'Zero Gravity Heart', 'TITLE', 'Melt Zero Gravity Heart|Zero Gravity Heart|Zero Gravity Heart Electric Hanami|Zero Gravity Heart Lemon', 83),
  ('TITLE:Zero Gravity Heart 夜に駆ける', 'Zero Gravity Heart 夜に駆ける', 'TITLE', 'Zero Gravity Heart 夜に駆ける|夜に駆ける Crystal Teardrop|夜に駆ける Last Train Home', 3),
  ('TITLE:うっせぇわ', 'うっせぇわ', 'TITLE', 'うっせぇわ', 73),
  ('TITLE:うっせぇわ Melt', 'うっせぇわ Melt', 'TITLE', 'Pretender うっせぇわ|うっせぇわ Melt', 3),
  ('TITLE:うっせぇわ Zero Gravity Heart', 'うっせぇわ Zero Gravity Heart', 'TITLE', 'うっせぇわ Zero Gravity Heart', 1),
  ('TITLE:うっせぇわ 夜に駆ける', 'うっせぇわ 夜に駆ける', 'TITLE', 'うっせぇわ 夜に駆ける', 1),
  ('TITLE:夜に駆ける', '夜に駆ける', 'TITLE', '夜に駆ける', 88),
  ('TITLE:夜に駆ける Rolling Girl', '夜に駆ける Rolling Girl', 'TITLE', '夜に駆ける Rolling Girl', 1),
  ('TITLE:夜に駆ける Senbonzakura', '夜に駆ける Senbonzakura', 'TITLE', '夜に駆ける Senbonzakura', 1),
  ('TITLE:夜に駆ける Winter Meteor', '夜に駆ける Winter Meteor', 'TITLE', 'Melt 夜に駆ける|夜に駆ける Lemon|夜に駆ける Melt|夜に駆ける Winter Meteor', 4),
  ('TITLE:群青', '群青', 'TITLE', '群青', 90),
  ('TITLE:群青 うっせぇわ', '群青 うっせぇわ', 'TITLE', '群青 うっせぇわ', 1),
  ('TITLE:群青 夜に駆ける', '群青 夜に駆ける', 'TITLE', '群青 夜に駆ける', 1),
  ('VOCALIST:Ado', 'Ado', 'VOCALIST', 'Ado', 29),
  ('VOCALIST:Eve', 'Eve', 'VOCALIST', 'Eve', 17),
  ('VOCALIST:Kenshi Hollow', 'Kenshi Hollow', 'VOCALIST', 'Kenshi Hollow', 25),
  ('VOCALIST:LiSA', 'LiSA', 'VOCALIST', 'LiSA', 25),
  ('VOCALIST:Mafumafu', 'Mafumafu', 'VOCALIST', 'Mafumafu', 17),
  ('VOCALIST:Majiko', 'Majiko', 'VOCALIST', 'Majiko', 29),
  ('VOCALIST:Palotás Anna', 'Palotás Anna', 'VOCALIST', 'Palotás Anna', 28),
  ('VOCALIST:Reol', 'Reol', 'VOCALIST', 'Reol', 27),
  ('VOCALIST:Sekai no Owari', 'Sekai no Owari', 'VOCALIST', 'Sekai no Owari', 22),
  ('VOCALIST:Soraru', 'Soraru', 'VOCALIST', 'Soraru', 27),
  ('VOCALIST:Szabó Márton', 'Szabó Márton', 'VOCALIST', 'Szabó Márton', 22),
  ('VOCALIST:Yorushika', 'Yorushika', 'VOCALIST', 'Yorushika', 17),
  ('VOCALOID:GUMI', 'GUMI', 'VOCALOID', 'GUMI', 25),
  ('VOCALOID:Hatsune Miku', 'Hatsune Miku', 'VOCALOID', 'Hatsune Miku', 41),
  ('VOCALOID:IA', 'IA', 'VOCALOID', 'IA', 12),
  ('VOCALOID:KAITO', 'KAITO', 'VOCALOID', 'KAITO', 27),
  ('VOCALOID:Kagamine Len', 'Kagamine Len', 'VOCALOID', 'Kagamine Len', 28),
  ('VOCALOID:Kagamine Rin', 'Kagamine Rin', 'VOCALOID', 'Kagamine Rin', 29),
  ('VOCALOID:Kasane Teto', 'Kasane Teto', 'VOCALOID', 'Kasane Teto', 29),
  ('VOCALOID:MEIKO', 'MEIKO', 'VOCALOID', 'MEIKO', 33),
  ('VOCALOID:Megurine Luka', 'Megurine Luka', 'VOCALOID', 'Megurine Luka', 32),
  ('VOCALOID:flower', 'flower', 'VOCALOID', 'flower', 31)) AS t(node_id, canonical, type, aliases, n)""",
    "q_kg_edges" ->
      """SELECT pred, n::BIGINT AS n, ns::BIGINT AS n_src,
         nd::BIGINT AS n_dst, h::BIGINT AS hashsum FROM (VALUES
  ('alt_title', 287, 30, 8, 624107864178),
  ('featuring', 302, 30, 8, 622912900117),
  ('mentions_person', 284, 284, 8, 618858958089),
  ('modifier', 861, 30, 3, 1868356848412),
  ('on_album', 579, 30, 12, 1230686550545),
  ('performed_by', 1895, 51, 22, 4170535099168),
  ('vocal_by', 572, 30, 22, 1271030944775)) AS t(pred, n, ns, nd, h)""",
    "q_kg_mention_tag_counts" ->
      """SELECT tag, n::BIGINT AS n FROM (VALUES
  ('ALBUM', 3451),
  ('ALT_TITLE', 1807),
  ('FEATURING', 1780),
  ('MISC_PERSON', 1794),
  ('MODIFIER', 5389),
  ('ORIGINAL_AUTHOR', 12450),
  ('TITLE', 15424),
  ('VOCALIST', 1809),
  ('VOCALOID', 1807)) AS t(tag, n)"""
  )
}
