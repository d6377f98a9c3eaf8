package graft.operators

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.Schemas._

/**
 * Corpus-level alias resolution + graph materialize (SURVEY.md §2.9
 * G1-G4) — the global generalization of the reference's per-document
 * greedy dedup (src/prod.py:178-213), using the SAME similarity
 * thresholds (levenshtein <= 3, char-TFIDF cosine > 0.5 at
 * src/prod.py:198,210) so local and global canonicalization agree. Both
 * run one kernel: the per-turn dedup ([[GreedyDedup]]) reads this object's
 * char idf, [[Key]] and code-point [[jvmLev]].
 *
 * Stages and their shuffle cost (the only wide stages in the pipeline
 * besides coref):
 *
 *  G1 alias-edge builder: distinct (tag, surface) forms are paired ONLY
 *     within cheap blocking keys — normalized 2-char prefix and suffix
 *     per tag ([[blockKeys]]) — so candidate generation never goes
 *     quadratic in the corpus; each block's pairs come from one kernel
 *     ([[blockPairs]]) against one global char idf ([[charIdf]]), on the
 *     driver and in a `flatMapGroups` task alike. Every pair test reads
 *     each form's [[Key]] (code points and tf-idf vector), built once.
 *  G2 connected components over the candidate edges: iterative min-label
 *     propagation over joins ("GraphFrames-style") with per-round
 *     pointer jumping; `localCheckpoint` every round cuts lineage, and
 *     the round it supersedes is released; convergence = no label
 *     changed. Component label = lexicographic min surface key —
 *     deterministic under any parallelism.
 *  G3 CANOPY REFINEMENT (the components are canopies, not clusters):
 *     pairwise-similar-at-threshold is not transitive — concatenated
 *     multi-entity surfaces ("Melt 夜に駆ける", a real decode output
 *     under the reference's same-tag merge quirk) are similar to BOTH
 *     constituent titles and chain otherwise-unrelated surfaces; at
 *     corpus scale transitive closure collapsed EVERY title into one
 *     component. Each component is therefore refined by greedy leader
 *     clustering in (n_mentions desc, length desc, surface asc) order:
 *     a member joins the first LEADER it matches under the tighter
 *     length-aware criterion [[aliasMatch]] (direct similarity to the
 *     canonical — no transitivity), else becomes a leader itself. The
 *     leader is the cluster's canonical. Classic canopy clustering:
 *     loose cheap criterion for candidate generation, tight criterion
 *     within the canopy.
 *  G4 nodes/edges: triples' subj/obj rewritten onto node ids with three
 *     broadcast hash joins against ONE broadcast (tag, surface)->node map.
 */
object Canonicalize {

  /** Predicate -> object tag (FIXTURES.md §3 triple rule), for rewriting
    * triple endpoints onto typed nodes. */
  val predObjTag: Map[String, String] = Map(
    "performed_by" -> "ORIGINAL_AUTHOR", "featuring" -> "FEATURING",
    "on_album" -> "ALBUM", "alt_title" -> "ALT_TITLE",
    "mentions_person" -> "MISC_PERSON", "modifier" -> "MODIFIER",
    "refers_to" -> "TITLE")
  // vocal_by spans VOCALIST|VOCALOID — [[edges]] looks it up under both.

  /** The hot-block guard shared by every pairing path: a blocking key
    * held by more than this many forms discriminates nothing and would
    * cost m^2 candidate pairs, so its block is dropped from pairing
    * ([[hotAliasBlocks]] lists what a corpus loses). */
  val MaxBlockSize = 1000

  /** The canopy-size guard's default: a component of more members than
    * this is refused by [[refineCanopy]] (see [[canonicalMap]]). */
  val MaxCanopySize = 100000

  /** The default driver bound of [[canonicalMapFromForms]]: a forms table
    * of at most this many rows runs the whole graph stage on the driver,
    * a larger one runs it distributed. */
  val DriverMaxVertices = 200000L

  /** One form's alias-test record, built once per form by [[key]] and read
    * by every pair test ([[blockPairs]], [[aliasMatch]]): the normalized
    * key, its code points, and its L2-normalized char TF-IDF vector (the
    * sklearn char-analyzer formula of the reference's per-doc dedup,
    * src/prod.py:185-198) as (code point, weight) arrays. The per-turn
    * dedup ([[GreedyDedup]]) shares it: one `Key` per lowercased entity
    * under that turn's idf. */
  private[graft] final class Key(val nk: String, val cps: Array[Int],
      private val vecCp: Array[Int], private val vecW: Array[Double]) {
    /** Cosine with `o`: this vector's terms summed in its entry order. */
    def cosine(o: Key): Double = {
      var s = 0.0
      var i = 0
      while (i < vecCp.length) {
        var j = 0
        while (j < o.vecCp.length && o.vecCp(j) != vecCp(i)) j += 1
        s += vecW(i) * (if (j < o.vecCp.length) o.vecW(j) else 0.0)
        i += 1
      }
      s
    }
  }

  /** The [[Key]] of `nk` under the global idf. The vector is per CODE
    * POINT, like [[charIdf]]'s keys: per UTF-16 unit an astral char would
    * take idf 1.0 and diverge from the oracle. Its entries keep the
    * iteration order of a `HashMap` keyed by each code point's string, the
    * order every cosine sum was pinned in. */
  private[graft] def key(nk: String, idf: Map[String, Double]): Key = {
    val cps = nk.codePoints().toArray
    val counts = mutable.HashMap.empty[String, Double]
    cps.foreach { cp =>
      val c = new String(Character.toChars(cp))
      counts.update(c, counts.getOrElse(c, 0.0) + 1.0)
    }
    var norm2 = 0.0
    counts.mapValuesInPlace { (c, tf) =>
      val w = tf * idf.getOrElse(c, 1.0); norm2 += w * w; w
    }
    val n = math.sqrt(norm2)
    if (n != 0) counts.mapValuesInPlace((_, x) => x / n)
    new Key(nk, cps, counts.keysIterator.map(_.codePointAt(0)).toArray,
      counts.valuesIterator.toArray)
  }

  /** Plain-JVM Levenshtein over CODE POINTS, for the candidate test
    * ([[blockPairs]]), the refinement pass and the per-turn dedup's greedy
    * pass ([[GreedyDedup]]) — the reference's DP over a Python str and
    * Spark's SQL levenshtein both count code points, so an astral char (one
    * codepoint, two UTF-16 units) costs ONE edit, as in the SQL oracle. */
  private[graft] def jvmLev(ca: Array[Int], cb: Array[Int]): Int = {
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

  /** Optimal-string-alignment distance over code points: Levenshtein
    * plus adjacent TRANSPOSITION as one edit ("senbonzakrua" is 1 from
    * "senbonzakura", not 2). Used by [[aliasMatch]]'s equal-length rule:
    * it keeps the common typo class (one substitution or one swap) at
    * distance 1 while a two-substitution different-entity pair stays 2. */
  private[graft] def jvmOsa(ca: Array[Int], cb: Array[Int]): Int = {
    // three rolling rows (OSA needs i-2 for the transposition case)
    var prev2 = new Array[Int](cb.length + 1)
    var prev = Array.tabulate(cb.length + 1)(identity)
    var cur = new Array[Int](cb.length + 1)
    var i = 1
    while (i <= ca.length) {
      cur(0) = i
      var j = 1
      while (j <= cb.length) {
        val cost = if (ca(i - 1) == cb(j - 1)) 0 else 1
        var d = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
          prev(j - 1) + cost)
        if (i > 1 && j > 1 && ca(i - 1) == cb(j - 2) && ca(i - 2) == cb(j - 1))
          d = math.min(d, prev2(j - 2) + 1)
        cur(j) = d
        j += 1
      }
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    prev(cb.length)
  }

  /** The TIGHT member-vs-leader criterion for canopy refinement (G3).
    * Looser thresholds are fine for candidate generation but are NOT
    * transitively safe: lev<=3 merges "melt" with "lemon", and char
    * cosine>0.5 holds between a concatenated two-title surface and each
    * constituent. Two rules by length shape:
    *
    *  - EQUAL codepoint length: merge only at OSA distance <= 1 (one
    *    substitution or one adjacent swap — the typo classes). The old
    *    length-relative lev cap let equal-length keys differ in up to 3
    *    positions, which conflated distinct real entities of the
    *    "Kagamine Rin" / "Kagamine Len" shape (lev 2, and their char
    *    DISTRIBUTIONS are near-identical, so the cosine rung merges them
    *    too — equal-length pairs therefore never take the cosine rung).
    *  - UNEQUAL length: lev capped relative to the shorter key (a 4-char
    *    key tolerates 1 edit, 12-char keys the reference's full 3 —
    *    src/prod.py:210's absolute 3 was tuned for near-identical
    *    surfaces WITHIN one document), OR the cosine rung: >=8 chars
    *    (enough for a char-distribution similarity to carry signal) and
    *    a tighter 0.8 threshold — ANY two longish same-language strings
    *    clear 0.5 on char unigrams ("ashesofthedawn" vs
    *    "hollowcathedral" does), which is fine for generating candidates
    *    but not for merging. */
  private def aliasMatch(a: Key, b: Key): Boolean = {
    val (lenA, lenB) = (a.cps.length, b.cps.length)
    if (lenA == lenB) return jvmOsa(a.cps, b.cps) <= 1
    val minLen = math.min(lenA, lenB)
    val levCap = math.min(3, math.max(1, minLen / 4))
    jvmLev(a.cps, b.cps) <= levCap || (minLen >= 8 && a.cosine(b) > 0.8)
  }

  /** UTF-8 binary string comparison — Spark's string ordering, used for
    * the deterministic refinement order so JVM-side sorts agree with any
    * engine-side orderBy on the same data. */
  private[operators] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val r = (x(i) & 0xff) - (y(i) & 0xff)
      if (r != 0) return r
      i += 1
    }
    x.length - y.length
  }

  /** The one normalized key: Spark's `regexp_replace(lower(s),
    * "[^\\p{L}\\p{N}]", "")`. Lowercasing DELEGATES to the exact code the
    * Lower expression runs — `CollationSupport.Lower` with the session's
    * ICU flag, read once on the driver and shipped to tasks — because
    * neither JDK String.toLowerCase nor UTF8String.toLowerCase matches it:
    * Spark 4's ICU casing applies Unicode Final_Sigma where the JDK does
    * not ("σΣ0á" lowers to "σς0á" in Spark, "σσ0á" in the JDK; the
    * ScaleSpec twin test pins this). java.util.regex \p{L}/\p{N} are
    * Unicode categories exactly as in Spark's regexp_replace. */
  private val nonAlnumJvm = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]")
  private[graft] def normKeyJvm(s: String,
      useICU: Boolean = icuCaseMappings()): String = {
    val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .exec(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType.collationId, useICU)
      .toString
    nonAlnumJvm.matcher(lowered).replaceAll("")
  }

  /** The session's ICU case-mapping flag (an in-task `SQLConf.get` would
    * allocate a read-only conf per call). */
  private def icuCaseMappings(): Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** First n CODE POINTS (Spark `substring(c, 1, n)` semantics). */
  @inline private[graft] def substrCp(s: String, n: Int): String = {
    var i = 0; var cnt = 0
    while (i < s.length && cnt < n) {
      i += Character.charCount(s.codePointAt(i)); cnt += 1
    }
    if (i >= s.length) s else s.substring(0, i)
  }

  /** Reverse by CODE POINTS (Spark `reverse(c)` semantics). */
  @inline private[graft] def reverseCp(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = s.length
    while (i > 0) {
      val cp = s.codePointBefore(i)
      sb.appendCodePoint(cp)
      i -= Character.charCount(cp)
    }
    sb.toString
  }

  /** The two blocking keys of a form with normalized key `nk`: its tag
    * plus the first two, and the last two (reversed), code points of `nk`.
    * Two forms are candidate aliases only if they share a key. */
  private def blockKeys(tag: String, nk: String): Array[String] =
    Array("p:" + tag + ":" + substrCp(nk, 2),
      "s:" + tag + ":" + substrCp(reverseCp(nk), 2))

  /** The candidate pairs of ONE block, members = (id, key): a pair of
    * distinct ids is an alias edge iff levenshtein <= 3 OR global-idf
    * char-TFIDF cosine > 0.5 on the normalized keys (the reference's
    * thresholds, src/prod.py:198,210). Emits (id_i, id_j) for i < j. */
  private def blockPairs(members: collection.IndexedSeq[(String, Key)])
      : collection.Seq[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < members.length) {
      val (ida, ka) = members(i)
      var j = i + 1
      while (j < members.length) {
        val (idb, kb) = members(j)
        if (ida != idb &&
          (jvmLev(ka.cps, kb.cps) <= 3 || ka.cosine(kb) > 0.5))
          out += ((ida, idb))
        j += 1
      }
      i += 1
    }
    out
  }

  /** Document frequencies over non-empty normalized keys:
    * (number of keys, char -> number of keys holding it), a char being one
    * CODE POINT as in every [[Key]] vector. */
  private[graft] def charDf(nks: Iterator[String]): (Long, Map[String, Long]) = {
    val df = mutable.HashMap.empty[String, Long]
    var n = 0L
    nks.filter(_.nonEmpty).foreach { nk =>
      n += 1
      nk.codePoints().distinct().forEach { cp =>
        val c = new String(Character.toChars(cp))
        df.update(c, df.getOrElse(c, 0L) + 1L)
      }
    }
    (n, df.toMap)
  }

  /** sklearn's smoothed idf over `n` documents, `df(c)` of which hold the
    * char c: log((1 + n) / (1 + df)) + 1. */
  private[graft] def idfWeight(n: Long, df: Map[String, Long]): Map[String, Double] =
    df.map { case (c, d) => c -> (math.log((1.0 + n) / (1.0 + d)) + 1.0) }

  /** Greedy leader refinement of ONE canopy — shared VERBATIM by the
    * distributed `flatMapGroups` path and the driver fast path so the
    * two can never diverge. members = (tag, surface, n_mentions, key);
    * returns (tag, surface, n_mentions, node_id, canonical). */
  private def refineCanopy(comp: String,
      membersIn: Array[(String, String, Long, Key)], maxCanopySize: Int)
      : Iterator[(String, String, Long, String, String)] = {
    val members = membersIn.sortWith { (a, b) =>
      if (a._3 != b._3) a._3 > b._3 // n_mentions desc
      else {
        val la = a._2.codePointCount(0, a._2.length)
        val lb = b._2.codePointCount(0, b._2.length)
        if (la != lb) la > lb // length desc
        else utf8Compare(a._2, b._2) < 0 // surface asc (UTF-8)
      }
    }
    if (members.length > maxCanopySize)
      throw new IllegalStateException(
        s"canopy $comp has ${members.length} members > " +
          s"maxCanopySize=$maxCanopySize - the O(m^2) refinement task " +
          "would dominate the stage; audit the offenders with " +
          "Canonicalize.hotCanopies and either tighten the aliasEdges " +
          "blocking guard or raise maxCanopySize deliberately")
    // leaders in founding order; a member joins its FIRST match
    val leaders = mutable.ArrayBuffer
      .empty[(String, Key)] // (surface, key)
    members.iterator.map { case (tag, surface, n, k) =>
      val leader = leaders.find(l => aliasMatch(k, l._2))
        .map(_._1).getOrElse { leaders += ((surface, k)); surface }
      (tag, surface, n, tag + ":" + leader, leader)
    }
  }

  /** Driver-side union-find of [[canonicalMapFromForms]]' driver path
    * (the distributed path runs [[connectedComponents]]): unions every
    * edge whose endpoints are both in `ids` (path-compressing `find`), then
    * labels each id with its component's min member in UTF-8 binary order
    * — the same label the distributed min-label propagation converges to.
    * Returns id -> component label. */
  private def driverComponents(ids: Seq[String],
      edges: Iterator[(String, String)]): java.util.HashMap[String, String] = {
    val parent = new java.util.HashMap[String, String](ids.length * 2)
    ids.foreach(v => parent.put(v, v))
    def find(x: String): String = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      if (parent.containsKey(a) && parent.containsKey(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(rb, ra)
      }
    }
    val minOf = new java.util.HashMap[String, String]()
    ids.foreach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur == null || utf8Compare(v, cur) < 0) minOf.put(r, v)
    }
    val label = new java.util.HashMap[String, String](ids.length * 2)
    ids.foreach(v => label.put(v, minOf.get(find(v))))
    label
  }

  /** Distinct surface forms with mention counts: (tag, surface, n). */
  def surfaceForms(mentions: DataFrame): DataFrame =
    mentions.groupBy(col("tag"), col("text").as("surface"))
      .agg(count(lit(1)).as("n_mentions"))

  /** Global char idf over the normalized distinct surface forms (one
    * job: per-partition document frequencies, summed on the driver; the
    * map is alphabet-sized — bounded by distinct chars, not corpus size —
    * so collecting it is safe at any scale). Shared by candidate
    * generation and canopy refinement. */
  def charIdf(spark: SparkSession, forms: DataFrame): Map[String, Double] = {
    import spark.implicits._
    val icu = icuCaseMappings()
    val parts = forms.select(col("surface")).as[String]
      .mapPartitions(it => Iterator(charDf(it.map(normKeyJvm(_, icu)))))
      .collect()
    idfWeight(parts.iterator.map(_._1).sum,
      parts.iterator.flatMap(_._2).toSeq.groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** Every (block key, form id, nk) of the forms with a non-empty
    * normalized key — two rows per form, one per [[blockKeys]] key. */
  private def blockedForms(spark: SparkSession, forms: DataFrame)
      : Dataset[(String, String, String)] = {
    import spark.implicits._
    val icu = icuCaseMappings()
    forms.select(col("tag"), col("surface")).as[(String, String)]
      .flatMap { case (tag, surface) =>
        val nk = normKeyJvm(surface, icu)
        if (nk.isEmpty) Nil
        else blockKeys(tag, nk).toSeq.map(b => (b, tag + "\u0000" + surface, nk))
      }
  }

  /**
   * G1: candidate alias edges, [[blockPairs]] over every block of at most
   * `maxBlockSize` forms under the forms' own [[charIdf]]. Returns distinct
   * (src, dst) form ids (tag + NUL + surface), src < dst in UTF-8 order.
   */
  def aliasEdges(spark: SparkSession, forms: DataFrame,
      maxBlockSize: Int = MaxBlockSize): DataFrame =
    blockEdges(spark, forms, maxBlockSize,
      spark.sparkContext.broadcast(charIdf(spark, forms)))

  /** [[aliasEdges]] under the idf broadcast `idfB`: each block member's
    * [[Key]] is built once, in its block's task. */
  private def blockEdges(spark: SparkSession, forms: DataFrame,
      maxBlockSize: Int, idfB: Broadcast[Map[String, Double]]): DataFrame = {
    import spark.implicits._
    val pairs = blockedForms(spark, forms)
      .groupByKey(_._1)
      .flatMapGroups { (_, rows) =>
        // hot-block guard: buffer at most maxBlockSize + 1 members, and
        // drop the block if it overflows (auditable via hotAliasBlocks)
        val members = mutable.ArrayBuffer.empty[(String, String)]
        while (rows.hasNext && members.length <= maxBlockSize) {
          val (_, id, nk) = rows.next()
          members += ((id, nk))
        }
        if (members.length > maxBlockSize) Iterator.empty
        else blockPairs(members.map { case (id, nk) =>
          (id, key(nk, idfB.value)) }).iterator.map { case (a, b) =>
          if (utf8Compare(a, b) < 0) (a, b) else (b, a)
        }
      }
      .toDF("src", "dst")
      .distinct()
    // The optimizer sizes a flatMapGroups output like its input (~180 KB
    // for 145k edges), so connectedComponents would broadcast the edges in
    // every round; re-rooting on the RDD leaves the size unknown and lets
    // AQE plan those joins on the real shuffle sizes.
    spark.createDataFrame(pairs.rdd, pairs.schema)
  }

  /** Diagnostic companion to the [[aliasEdges]] hot-block guard: the
    * blocking keys (with sizes) that candidate generation DROPS at the
    * given `maxBlockSize` — run when auditing what a corpus loses. */
  def hotAliasBlocks(spark: SparkSession, forms: DataFrame,
      maxBlockSize: Int = MaxBlockSize): DataFrame =
    blockedForms(spark, forms).toDF("blk", "id", "nk")
      .groupBy("blk").count()
      .where(col("count") > maxBlockSize)
      .orderBy(col("count").desc)

  /** G1+G2, distributed: every form with its connected component over
    * the [[aliasEdges]] graph — (component, tag, surface, n_mentions) —
    * and the one idf broadcast. The graph stage's ONE materialization
    * point: idf, blocking and the join each read `formsPlan`, so it is
    * checkpointed here (lazily). [[canonicalMapFromForms]]' distributed
    * refinement and [[hotCanopies]] both read it. */
  private def canopies(spark: SparkSession, formsPlan: DataFrame)
      : (DataFrame, Broadcast[Map[String, Double]]) = {
    val forms = formsPlan.localCheckpoint(false)
    val idfB = spark.sparkContext.broadcast(charIdf(spark, forms))
    val withId =
      forms.withColumn("id", concat_ws("\u0000", col("tag"), col("surface")))
    (withId.join(connectedComponents(spark, withId.select("id"),
        blockEdges(spark, forms, MaxBlockSize, idfB)), "id")
      .select(col("component"), col("tag"), col("surface"), col("n_mentions")),
      idfB)
  }

  /** Diagnostic companion to the [[canonicalMap]] canopy-size guard: the
    * connected components (with member counts) whose size exceeds
    * `maxCanopySize` — i.e. the canopies whose O(m^2) refinement the
    * guard refuses to run. Reads the same [[canopies]] chain as the
    * distributed path, so run it with the SAME mentions input (and, if
    * changed, the same blocking guard) to see exactly what the guard saw. */
  def hotCanopies(spark: SparkSession, mentions: DataFrame,
      maxCanopySize: Int = MaxCanopySize): DataFrame =
    canopies(spark, surfaceForms(mentions))._1
      .groupBy("component").count()
      .where(col("count") > maxCanopySize)
      .orderBy(col("count").desc)

  /**
   * G2: connected components by min-label propagation PLUS per-round
   * pointer jumping (shortcutting): after the neighbor-min step, each
   * vertex also adopts `label(label(v))` — the component label is always
   * itself a vertex id, so the previous round's map doubles the effective
   * propagation distance. Rounds needed drop from O(diameter) (a chain
   * a→b→c→… of length 40 would silently exceed a 20-round budget) to
   * O(log diameter). Convergence is DETECTED (no label changed in either
   * step) and hitting maxIter while still changing THROWS — wrong
   * components must never come back silently.
   * vertices: one column `id`; edges: (src, dst). Returns (id, component).
   */
  def connectedComponents(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // localCheckpoint only cuts lineage: once for the symmetric edges every
    // round joins, and once per round below, so the iterative plan does
    // not grow unboundedly. Both are LAZY (eager = false): materialization
    // folds into a round's convergence-check job instead of an extra job
    // per checkpoint (each small job is ~0.1-0.3s of scheduler tax).
    // Each round's check job also cuts the new round's lineage, so the
    // round before it is released there, and `sym` after the loop: only
    // the returned round stays persisted.
    // Caveat for a REAL multi-node cluster: localCheckpoint stores blocks
    // on executors, so an executor loss mid-iteration fails the job
    // (acceptable: CC is a short bounded stage and the checkpointed
    // pipeline retries it from the previous stage snapshot); swap for
    // reliable checkpoint() to a cluster FS if executor churn is expected.
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(false)
    var labels = vertices.select(col("id"), col("id").as("component"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // (a) neighbor-min propagation
      val candidates = sym
        .join(labels, sym("u") === labels("id"))
        .groupBy(col("v").as("id2"))
        .agg(min("component").as("cand"))
      val propagated = labels
        .join(candidates, labels("id") === candidates("id2"), "left")
        .select(labels("id").as("id"),
          least(col("component"), coalesce(col("cand"), col("component")))
            .as("component"),
          (col("cand").isNotNull && col("cand") < col("component"))
            .as("chg_prop"))
      // (b) shortcutting: component := min(component, prevLabel(component))
      val lookup = labels.select(col("id").as("pid"),
        col("component").as("pcomp"))
      val next = propagated
        .join(lookup, propagated("component") === lookup("pid"), "left")
        .select(propagated("id"),
          least(propagated("component"),
            coalesce(col("pcomp"), propagated("component"))).as("component"),
          (propagated("chg_prop") ||
            (col("pcomp").isNotNull && col("pcomp") < propagated("component")))
            .as("changed"))
        .localCheckpoint(false) // cut lineage every iteration (lazy: the
      // convergence check below is the job that materializes the blocks)
      converged = next.where(col("changed")).limit(1).count() == 0
      if (iter > 0) releaseCheckpoint(labels) // round 0 read `vertices`
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    releaseCheckpoint(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component labels were still changing (graph diameter beyond " +
          "the doubling budget, or a livelock bug); results would be wrong")
    labels
  }

  /** Releases the blocks of a frame read straight off a lazy
    * `localCheckpoint` (the first `LogicalRDD` in its plan), once no job
    * reads it again. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** G1+G2+G3: surface forms -> (tag, surface, node_id, canonical).
    *
    * The CC output is treated as CANOPIES and refined per component by
    * greedy leader clustering (see the object Scaladoc): members are
    * visited in (n_mentions desc, codepoint-length desc, surface
    * UTF-8-asc) order; each joins the first leader it [[aliasMatch]]es,
    * else founds a cluster. One `flatMapGroups` per component - the
    * shuffle moves only the (tiny) distinct-forms table, and the
    * per-component work is row-local O(members x leaders) compute. A
    * pathological canopy (every member its own leader) degrades to
    * O(m^2) inside one task; canopies are bounded in practice by the
    * [[aliasEdges]] hot-block guard, which caps the edge fan-out that
    * could chain a huge canopy together — and EXPLICITLY by
    * `maxCanopySize`: a component larger than that THROWS (like the CC
    * maxIter guard — an m^2 task that would run for hours must fail
    * loudly, not hang a 1000-executor stage), with [[hotCanopies]] as
    * the audit companion naming the offending components. Raise the
    * bound or tighten the blocking guard deliberately, never silently. */
  def canonicalMap(spark: SparkSession, mentions: DataFrame,
      maxCanopySize: Int = MaxCanopySize,
      driverMaxVertices: Long = DriverMaxVertices): DataFrame =
    canonicalMapFromForms(spark, surfaceForms(mentions), maxCanopySize,
      driverMaxVertices)

  /** One (tag, surface, 1) form row per mention: the mention-level input
    * of [[mergeForms]], which sums it like a pre-aggregated form table. */
  def mentionForms(mentions: DataFrame): DataFrame =
    mentions.select(col("tag"), col("text").as("surface"),
      lit(1L).as("n_mentions"))

  /** Sum `n_mentions` per (tag, surface) over two (tag, surface,
    * n_mentions) relations, each pre-aggregated ([[surfaceForms]], a forms
    * snapshot) or mention-level ([[mentionForms]]): either way
    * `mergeForms(surfaceForms(old), mentionForms(new))` is exactly
    * `surfaceForms(old ∪ new)`, in ONE aggregate. This makes the graph
    * stage incrementally maintainable with no rescan of old mentions
    * (KgStagesSpec pins incremental == full; ScaleSpec the one shuffle). */
  def mergeForms(oldForms: DataFrame, deltaForms: DataFrame): DataFrame =
    oldForms.unionByName(deltaForms)
      .groupBy(col("tag"), col("surface"))
      .agg(sum(col("n_mentions")).as("n_mentions"))

  /** [[canonicalMap]] over a surface-form table (tag, surface, n_mentions),
    * passed as any plan: an aggregate, a [[mergeForms]] result or a
    * committed snapshot. The driver path evaluates it once, in one
    * limit-collect (one job on a single-partition input, two on a
    * multi-file snapshot: Spark's incremental take scans one partition,
    * then the rest; KgStagesSpec pins 2 over a 4-file forms snapshot).
    * Above `driverMaxVertices` rows the distributed path evaluates it
    * again and checkpoints it once, in [[canopies]].
    *
    * Driver memory: the hybrid's one limit-collect brings up to
    * `driverMaxVertices + 1` rows of (tag, surface, n_mentions) to the
    * driver — 200,001 at the default — whether or not the table then
    * turns out too large for the driver path; size the driver heap for
    * that many forms, or lower `driverMaxVertices`. */
  def canonicalMapFromForms(spark: SparkSession, forms: DataFrame,
      maxCanopySize: Int = MaxCanopySize,
      driverMaxVertices: Long = DriverMaxVertices): DataFrame = {
    import spark.implicits._
    // WHOLE-STAGE HYBRID, the stage's ONE driver-or-distributed choice:
    // everything below surfaceForms — char idf, blocked candidate pairs,
    // connected components, canopy refinement — is a function of the
    // DISTINCT-surface table, bounded by the alias universe, not the
    // corpus. Below the vertex threshold one collect
    // replaces ~10 small distributed jobs (idf, blocking, CC rounds,
    // refinement shuffle), each of which was pure corpus-independent
    // scheduler tax on every pipeline run (the canon bench leg's
    // non-parallelizing tail). Both paths run the SAME kernel (normKeyJvm,
    // charDf/idfWeight, blockKeys + MaxBlockSize, blockPairs,
    // refineCanopy), and KgStagesSpec pins driver == distributed on the
    // real alias graph.
    // r06: ONE limit-collect decides the hybrid AND fetches the rows —
    // limit(max+1) returns the whole table iff it has <= max rows, so the
    // old count() + collect() pair folds into one collect (one job over a
    // single partition, two over a multi-file snapshot — see the
    // Scaladoc); an oversized table ships at most max+1 rows before the
    // distributed path takes over.
    // Row ORDER is irrelevant: the union-find edge set is order-free and
    // the refinement output is re-sorted (component asc, members by the
    // pinned (n_mentions, length, surface) order) below.
    val cap = if (driverMaxVertices >= Int.MaxValue - 1) Int.MaxValue
      else driverMaxVertices.toInt + 1
    val collected = forms.select(col("tag"), col("surface"), col("n_mentions"))
      .limit(cap).as[(String, String, Long)].collect()
    val icu = icuCaseMappings()
    if (collected.length <= driverMaxVertices) {
      val nks = collected.map { case (_, sf, _) => normKeyJvm(sf, icu) }
      val (nNk, df) = charDf(nks.iterator)
      val idf = idfWeight(nNk, df)
      // (tag, surface, n_mentions, key), and each form's vertex id
      val rows = collected.zip(nks)
        .map { case ((tag, sf, n), nk) => (tag, sf, n, key(nk, idf)) }
      val ids = rows.map(f => f._1 + "\u0000" + f._2)
      val blocks = rows.indices.filter(rows(_)._4.nk.nonEmpty)
        .flatMap(i => blockKeys(rows(i)._1, rows(i)._4.nk).map(_ -> i))
        .groupMap(_._1)(_._2).valuesIterator
        // singleton blocks generate no pairs — don't even enqueue them
        .filter(b => b.length >= 2 && b.length <= MaxBlockSize)
        .map(_.map(i => (ids(i), rows(i)._4))).toSeq
      // Pair DISCOVERY — the O(Σ m²) Levenshtein/cosine work and the only
      // non-trivial compute on this path — fans out per block over one
      // thread per core (CPU-bound); only the UNION step stays serial. The
      // same edge set yields the same components whatever the discovery
      // order, so parallelism cannot change the result (and the driver==
      // distributed equality specs pin it).
      val cores = Runtime.getRuntime.availableProcessors
      val pairs = graft.Par.orderedMap(blocks, cores)(blockPairs)
      val label = driverComponents(ids.toSeq, pairs.iterator.flatten)
      // Refinement is worst-case O(members × leaders) per canopy — same
      // fan-out treatment, input order kept so output order stays the
      // sorted-component order.
      val comps = rows.indices.groupBy(i => label.get(ids(i))).toSeq
        .sortBy(_._1)(Ordering.fromLessThan[String](utf8Compare(_, _) < 0))
      val out = graft.Par.orderedMap(comps, cores) {
          case (comp, members) =>
            // refineCanopy is lazy (an Iterator) — force it HERE so the
            // O(m × leaders) matching actually runs inside the pool task
            refineCanopy(comp, members.map(rows(_)).toArray, maxCanopySize)
              .toVector
        }.flatten
      return out.toDF("tag", "surface", "n_mentions", "node_id", "canonical")
    }
    // DISTRIBUTED path: corpus-scale surface universes.
    val (canopyDf, idfB) = canopies(spark, forms)
    canopyDf
      .as[(String, String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, it) =>
        refineCanopy(comp, it.map(m =>
          (m._2, m._3, m._4, key(normKeyJvm(m._3, icu), idfB.value))).toArray,
          maxCanopySize)
      }
      .toDF("tag", "surface", "n_mentions", "node_id", "canonical")
  }

  /** G4a: nodes table. */
  def nodes(spark: SparkSession, canonMap: DataFrame): Dataset[Node] = {
    import spark.implicits._
    canonMap.groupBy(col("node_id"), col("canonical"), col("tag").as("type"))
      .agg(sort_array(collect_set(col("surface"))).as("aliases"),
        sum(col("n_mentions")).as("n_mentions"))
      .as[Node]
  }

  /** G4b: triples rewritten onto node ids. Subjects are TITLE surfaces
    * (or doc keys for mentions_person/refers_to — kept literal). Objects
    * resolve via (objTag(pred), obj); vocal_by takes the smaller of its
    * VOCALIST and VOCALOID nodes. Unresolved endpoints keep their literal
    * surface. ONE map, keyed `tag ⧺ U+0000 ⧺ surface` (injective: no tag
    * holds NUL) with one row per key, serves all three lookups; `concat`
    * propagates null, so an unmapped predicate never matches. Each join
    * keys on one computed column on both sides: a literal tag test would
    * be pushed into the build side as a second and third broadcast.
    *
    * Skew note (100 TB): joining triples to the map on raw surface
    * equality makes a viral surface ("Senbonzakura" in 10^8 turns) a
    * skewed shuffle key. The map is DISTINCT-SURFACE — bounded by the
    * alias universe, not the corpus — so it is `broadcast()` explicitly,
    * once: the triple stream never shuffles at all (three
    * BroadcastHashJoins in its narrow stage, two reading the one
    * BroadcastExchange via ReusedExchange; ScaleSpec pins the plan
    * shape), and skew is moot. If an alias universe ever outgrew driver
    * memory, drop the hint and let AQE skew-split the sort-merge joins. */
  def edges(spark: SparkSession, triples: Dataset[Triple],
      canonMap: DataFrame): Dataset[Edge] = {
    import spark.implicits._
    def key(tag: Column, surface: Column) = concat(tag, lit("\u0000"), surface)
    val m = canonMap.select(key(col("tag"), col("surface")), col("node_id"))
    val objTag = typedLit(predObjTag + ("vocal_by" -> "VOCALIST"))
    Seq("subj_node" -> key(lit("TITLE"), col("subj")),
        "obj_node" -> key(objTag(col("pred")), col("obj")),
        "vocaloid_node" ->
          key(when(col("pred") === "vocal_by", lit("VOCALOID")), col("obj")))
      .foldLeft(triples.toDF()) { case (df, (hit, k)) =>
        df.join(broadcast(m.toDF(s"${hit}_k", hit)), k === col(s"${hit}_k"),
          "left_outer")
      }
      .select(
        coalesce(col("subj_node"), col("subj")).as("src_id"),
        col("pred"),
        coalesce(least(col("obj_node"), col("vocaloid_node")), col("obj"))
          .as("dst_id"),
        col("conv_id"), col("turn_idx"), col("evidence"))
      .as[Edge]
  }
}
