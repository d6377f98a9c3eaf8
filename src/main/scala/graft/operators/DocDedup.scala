package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Document deduplication family for training-data pipelines, over
 * `documents(doc_id, text, ...)`.
 *
 * Scale design notes (the point of each variant):
 *  - exact: one hash-aggregate on a fingerprint — the cheapest pass, run
 *    first so the expensive near-dup passes see a smaller corpus;
 *  - MinHash+LSH: candidate generation is a BAND-BUCKET join (equi-join on
 *    (band, bandHash)), never an all-pairs theta join; signatures are
 *    computed row-local with seeded affine hash functions (deterministic);
 *    candidates are verified with exact shingle Jaccard before reporting;
 *  - SimHash: 64-bit signature, banded into 4x16-bit chunks; two docs
 *    within Hamming distance 3 share >=1 exact chunk (pigeonhole), so the
 *    candidate join is again an equi-join;
 *  - n-gram Jaccard: the exact (quadratic-ish) baseline, joined on shared
 *    shingles so only docs with >=1 common shingle ever pair up.
 */
object DocDedup {

  /** Exact dedup: group by normalized-text fingerprint, keep min doc_id.
    * Returns (fingerprint, keep_id, dup_count). */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct word k-shingle STRINGS of an already `lower(trim(text))`-
    * folded string, order of first occurrence kept — the JVM twin of the
    * old HOF column (`array_distinct(transform(sequence(0,
    * greatest(n-k, 0)), i => concat_ws(" ", slice(toks, i+1, k))))`
    * over `split(lowered, "\\s+")`), including its quirks: split keeps
    * empty leading/trailing pieces (limit -1), `n < k` yields ONE
    * shortened shingle, and a token-free string yields [""]
    * (`split("")` is [""] and the single shingle joins it). */
  private[operators] def shingleStrings(s: String, k: Int): Array[String] = {
    val toks = s.split("\\s+", -1)
    val nSh = math.max(toks.length - k, 0) + 1
    val seen = new java.util.LinkedHashSet[String](nSh * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      var j = i
      val end = math.min(i + k, toks.length)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[String](seen.size)
    seen.toArray(out)
    out
  }

  /** NULL text quirk shared by all three statics below: the old chain did
    * NOT propagate null — `size(null)` is null, `greatest(null, 0)` is 0,
    * `sequence(0, 0)` is [0], and `concat_ws` over the null token slice
    * yields "" — so a null document produced the SAME singleton [""]
    * shingle set as an empty one (probed and pinned in OptEquivSpec). */
  private def shingleStringsOrNullQuirk(lowered:
      org.apache.spark.unsafe.types.UTF8String, k: Int): Array[String] =
    if (lowered == null) Array("") else shingleStrings(lowered.toString, k)

  /** StaticInvoke target for [[shingles]]. */
  def shinglesFromLowered(lowered: org.apache.spark.unsafe.types.UTF8String,
      k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      shingleStringsOrNullQuirk(lowered, k)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString(_)
          .asInstanceOf[Any]))

  /** The murmur3 pair hash of one shingle string — the exact arithmetic
    * of the old [[shingleHashes]] UDF closure. */
  @inline private def shingleHash(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 42).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 13).toLong & 0xffffffffL)

  /** StaticInvoke target fusing shingles + hashes + sort: the sorted
    * distinct-shingle hash array straight from the lowered text. */
  def shingleHashesFromLowered(
      lowered: org.apache.spark.unsafe.types.UTF8String,
      k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val sh = shingleStringsOrNullQuirk(lowered, k)
    val out = new Array[Long](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = shingleHash(sh(i)); i += 1 }
    java.util.Arrays.sort(out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def lowerTrim(text: org.apache.spark.sql.Column) = lower(trim(text))

  private def staticArray(name: String,
      args: Seq[org.apache.spark.sql.Column],
      elem: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftShims.{toColumn, toExpression}
    toColumn(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      DocDedup.getClass,
      org.apache.spark.sql.types.ArrayType(elem, containsNull = false),
      name, args.map(toExpression), Nil,
      propagateNull = false, returnNullable = true))
  }

  /** Word k-shingles as an array column (lowercased, whitespace-split).
    *
    * r06: was `array_distinct(transform(sequence(...), i => concat_ws(
    * " ", slice(toks, i+1, k))))` — four nested higher-order functions,
    * all CodegenFallback, re-run interpreted on every branch of the
    * dedup pipeline (candidate index AND both verify sides). Now one
    * codegen'd StaticInvoke ([[shingleStrings]] pins the quirks; trim/
    * lower stay Spark's own expressions). */
  def shingles(text: org.apache.spark.sql.Column, k: Int = 3)
      : org.apache.spark.sql.Column =
    staticArray("shinglesFromLowered",
      Seq(lowerTrim(text), lit(k)),
      org.apache.spark.sql.types.StringType)

  /** Sorted distinct shingle hashes straight from the text column —
    * fuses [[shingles]] + [[shingleHashes]] into one call (no
    * intermediate shingle-string array crosses the expression tree). */
  def shingleHashesOf(text: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column =
    staticArray("shingleHashesFromLowered",
      Seq(lowerTrim(text), lit(k)),
      org.apache.spark.sql.types.LongType)

  /** Sorted distinct 64-bit shingle hashes, as ONE scalar closure over
    * the shingle string array (two murmur3 seeds -> effectively injective
    * on any real corpus, so hash-set Jaccard == string-set Jaccard). A
    * UDF, not a Column expression, on purpose: verification pairs then
    * ship 8-byte-per-shingle primitive arrays instead of string arrays,
    * and intersection is a linear merge over the sorted halves.
    * Test reference for [[shingleHashesOf]] (OptEquivSpec). */
  def shingleHashes(shingleStrings: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val f = udf { (sh: Seq[String]) =>
      if (sh == null) null
      else {
        val out = new Array[Long](sh.length)
        var i = 0
        sh.foreach { s =>
          out(i) = (scala.util.hashing.MurmurHash3.stringHash(s, 42).toLong
            << 32) |
            (scala.util.hashing.MurmurHash3.stringHash(s, 13).toLong
              & 0xffffffffL)
          i += 1
        }
        java.util.Arrays.sort(out)
        out
      }
    }
    f(shingleStrings)
  }

  /** Exact Jaccard of two SORTED long arrays via a single linear merge. */
  def sortedJaccard(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = udf { (xs: Seq[Long], ys: Seq[Long]) =>
      if (xs == null || ys == null || (xs.isEmpty && ys.isEmpty)) 0.0
      else {
        val (ax, ay) = (xs.toArray, ys.toArray)
        var i = 0; var j = 0; var inter = 0
        while (i < ax.length && j < ay.length) {
          if (ax(i) == ay(j)) { inter += 1; i += 1; j += 1 }
          else if (ax(i) < ay(j)) i += 1
          else j += 1
        }
        inter.toDouble / (ax.length + ay.length - inter)
      }
    }
    round(f(a, b), 6)
  }

  /**
   * Exact pairwise n-gram Jaccard >= threshold. Candidate pairs come from
   * a shared-shingle equi-join (inverted index, never a cross join);
   * every candidate is then verified with exact Jaccard over the FULL
   * sorted shingle-hash arrays, so the df guard below cannot change a
   * reported value. Returns (doc_a, doc_b, jaccard).
   *
   * `maxShingleDf`: a shingle appearing in m docs contributes m^2
   * candidate pairs — a stopword shingle ("the cat sat") with df=10^6
   * would alone produce 10^12 pairs at corpus scale. Shingles with
   * df > maxShingleDf are dropped from CANDIDATE GENERATION only (same
   * hot-block pattern as Canonicalize.aliasEdges);
   * a qualifying pair (jaccard >= 0.5 shares half its shingles) is missed
   * only if every one of its shared shingles is stopword-frequent.
   */
  def ngramJaccardPairs(documents: DataFrame, k: Int = 3,
      threshold: Double = 0.5, maxShingleDf: Int = 1000): DataFrame =
    verifyJaccard(documents,
      ngramCandidates(documents, k, maxShingleDf), k, threshold)

  /** Candidate (doc_a, doc_b) pairs sharing >= 1 shingle with
    * df <= maxShingleDf (exposed so DocOpsSpec can prove the frequent-
    * shingle guard bounds the candidate count). */
  def ngramCandidates(documents: DataFrame, k: Int,
      maxShingleDf: Int): DataFrame = {
    // LAZY df guard: the old form ran two eager actions (hot.count() +
    // take(5)) at DataFrame-CONSTRUCTION time — two extra passes over the
    // shingle index per call even when nothing was dropped, and Spark
    // jobs fired from inside plan-building code paths (explain/audit).
    // The guard is now a pure column filter (stays in codegen, single
    // pass with the main action). No per-row logging lambda either: it
    // would fire once per RECOMPUTATION, not once per drop (this frame
    // feeds both sides of the self-join, so its counts would be 2-4x
    // inflated). The guard's behavior is pinned by the DocOpsSpec guard
    // test.
    val sh = documents
      .select(col("doc_id"), explode(shingles(col("text"), k)).as("sh"))
      .where(col("sh") =!= "")
    val dfs = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val coldSh = dfs.where(col("df") <= maxShingleDf).select("sh")
    val shCold = sh.join(coldSh, "sh")
    shCold.as("a").join(shCold.as("b"), Seq("sh"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Join candidate (doc_a, doc_b) pairs back to their sorted
    * shingle-hash arrays and keep exact jaccard >= threshold. */
  private def verifyJaccard(documents: DataFrame, cands: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val shh = documents.select(col("doc_id"),
      shingleHashesOf(col("text"), k).as("shh"))
    cands
      .join(shh.select(col("doc_id").as("doc_a"), col("shh").as("sha")),
        "doc_a")
      .join(shh.select(col("doc_id").as("doc_b"), col("shh").as("shb")),
        "doc_b")
      .withColumn("jaccard", sortedJaccard(col("sha"), col("shb")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  private val MinhashP = 2147483647L // 2^31 - 1

  /** The seeded affine (a_i, b_i) parameter arrays, cached per numHashes
    * (they are pure functions of i — recomputing them per ROW in the
    * fused minhash static would be avoidable allocation). */
  private val affineCache = new java.util.concurrent.ConcurrentHashMap[
    Int, (Array[Long], Array[Long])]()
  private def affineParams(numHashes: Int): (Array[Long], Array[Long]) =
    affineCache.computeIfAbsent(numHashes, { n =>
      (Array.tabulate(n)(i =>
        1L + 2L * ((i * 0x9E3779B9L + 0x85EBCA6BL) % 1000000007L % (MinhashP / 2))),
        Array.tabulate(n)(i =>
          (i * 0xC2B2AE35L + 0x27D4EB2FL) % MinhashP))
    })

  /** Seeded affine MinHash over a sorted shingle-hash array: for hash i,
    * min over shingles of ((a_i * h + b_i) mod p). ONE closure computing
    * all numHashes mins in a single pass over the primitive array — the
    * pure-Column form (numHashes x array_min(transform(...)) over the
    * same array) duplicates the shingle pipeline into every min once
    * CollapseProject inlines it, blowing up generated code and falling
    * out of whole-stage codegen (measured: the 500-doc q_minhash_pairs
    * leg went 46.8s -> ~1s with the closure; same failure mode as
    * Similarity.lshSignature). Test reference for [[minhashSignature]]
    * (OptEquivSpec). */
  def minhashFromHashes(shHashes: org.apache.spark.sql.Column,
      numHashes: Int): org.apache.spark.sql.Column = {
    val as = Array.tabulate(numHashes)(i =>
      1L + 2L * ((i * 0x9E3779B9L + 0x85EBCA6BL) % 1000000007L % (MinhashP / 2)))
    val bs = Array.tabulate(numHashes)(i =>
      (i * 0xC2B2AE35L + 0x27D4EB2FL) % MinhashP)
    val f = udf { (hs: Seq[Long]) =>
      if (hs == null) null
      else {
        val out = Array.fill(numHashes)(MinhashP)
        hs.foreach { h =>
          var i = 0
          while (i < numHashes) {
            val v = ((h * as(i) + bs(i)) % MinhashP + MinhashP) % MinhashP
            if (v < out(i)) out(i) = v
            i += 1
          }
        }
        out
      }
    }
    f(shHashes)
  }

  /** StaticInvoke target fusing shingles + hashes + affine mins: the
    * full MinHash signature straight from the lowered text. Same affine
    * parameters as [[minhashFromHashes]]; min over the shingle-hash set
    * is order-free, so skipping the sort changes nothing. */
  def minhashFromLowered(lowered: org.apache.spark.unsafe.types.UTF8String,
      numHashes: Int, k: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val sh = shingleStringsOrNullQuirk(lowered, k)
    val (as, bs) = affineParams(numHashes) // cached — not per row
    val out = Array.fill(numHashes)(MinhashP)
    var s = 0
    while (s < sh.length) {
      val h = shingleHash(sh(s))
      var i = 0
      while (i < numHashes) {
        val v = ((h * as(i) + bs(i)) % MinhashP + MinhashP) % MinhashP
        if (v < out(i)) out(i) = v
        i += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Seeded affine MinHash signature of a text column. Row-local;
    * deterministic across runs and parallelism.
    *
    * r06: fused into one codegen'd StaticInvoke (was shingle HOF chain →
    * shingleHashes UDF → minhash UDF, three interpreted/boxed hops). */
  def minhashSignature(text: org.apache.spark.sql.Column, numHashes: Int = 32,
      k: Int = 3): org.apache.spark.sql.Column =
    staticArray("minhashFromLowered",
      Seq(lowerTrim(text), lit(numHashes), lit(k)),
      org.apache.spark.sql.types.LongType)

  /**
   * MinHash LSH near-dup candidates + exact-Jaccard verification.
   * bands x rowsPerBand = numHashes; two docs collide iff some band of
   * their signatures is identical. The band join ships (doc_id, band,
   * bandHash) only; candidates are deduped on ids, then verified against
   * the sorted shingle-hash arrays (8 bytes/shingle, linear merge).
   * Returns verified (doc_a, doc_b, jaccard >= threshold).
   */
  def minhashLshPairs(documents: DataFrame, numHashes: Int = 32,
      bands: Int = 8, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = documents.select(col("doc_id"),
      minhashSignature(col("text"), numHashes, k).as("sig"))
    val bandCols = (0 until bands).map(b =>
      hash(slice(col("sig"), b * r + 1, r), lit(b)))
    // lazy localCheckpoint (r06): materialize the (doc_id, band, bh)
    // table once for both sides of the self-join — each side otherwise
    // re-runs the full shingle+minhash signature pass (and CollapseProject
    // inlines the signature into every band expression); ids+ints only,
    // bounded by N x bands
    val banded = sig.select(col("doc_id"), posexplode(array(bandCols: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .localCheckpoint(false)
    val cands = banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(documents, cands, k, threshold)
  }

  /** Single-pass JVM twin of the old 64-HOF simhash column, called via
    * StaticInvoke on the ALREADY `lower(trim(text))`-folded column (case/
    * trim semantics stay Spark's own). Tokens = maximal non-`\s` runs,
    * exactly the old `filter(split(lowered, "\\s+"), _ =!= "")`; per-token
    * hash = Spark's own xxhash64 (XXH64.hashUTF8String, seed 42 — the
    * value the XxHash64 expression uses), so signatures are bit-identical.
    * Null text: the old chain's per-bit aggregates went null and every
    * bit fell to `otherwise(0L)` — signature 0L, NOT null. */
  def simhash64FromLowered(lt: org.apache.spark.unsafe.types.UTF8String): Long = {
    if (lt == null) return 0L
    val s = lt.toString
    val votes = new Array[Int](64)
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
          c == '\r') {
        i += 1
      } else {
        var j = i + 1
        while (j < n && {
          val d = s.charAt(j)
          !(d == ' ' || d == '\t' || d == '\n' || d == '\u000B' ||
            d == '\f' || d == '\r')
        }) j += 1
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(i, j)),
          42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i = j
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** 64-bit SimHash from word hashes (unweighted): bit j of the signature
    * is the sign of sum over tokens of (bit j of xxhash64(token) ? 1 : -1).
    *
    * r06: was 64 `aggregate` higher-order functions (one per bit), each
    * re-walking the token array — HOFs are CodegenFallback, so the whole
    * projection ran interpreted and the 64-way expression tree alone cost
    * ~1s of analysis/codegen on first run. Now one codegen'd StaticInvoke
    * ([[simhash64FromLowered]] pins the equivalence). */
  def simhash(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftShims.{toColumn, toExpression}
    toColumn(org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      DocDedup.getClass,
      org.apache.spark.sql.types.LongType, "simhash64FromLowered",
      Seq(toExpression(lower(trim(text)))), Nil,
      propagateNull = false, returnNullable = false))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit signature into 4 x 16-bit
    * chunks (pigeonhole: hamming <= 3 => >=1 identical chunk), equi-join
    * on (chunk_idx, chunk), verify hamming <= maxHamming. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = documents.select(col("doc_id"), simhash(col("text")).as("sig"))
    val chunkCols = (0 until 4).map(i =>
      shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)))
    val chunked = sig.select(col("doc_id"), col("sig"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "ci").withColumnRenamed("col", "chunk")
    chunked.as("a").join(chunked.as("b"), Seq("ci", "chunk"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
