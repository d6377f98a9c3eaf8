package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
 *    set against the full corpus; the dot product is a row-local
 *    `aggregate(zip_with(...))` (no UDF, stays in codegen). This is the
 *    O(Q x N) baseline and the correctness oracle for the ANN top-k
 *    ([[IvfIndex.ivfTopK]]).
 *  - [[lshCosinePairs]]: random-hyperplane LSH near-dup pairs —
 *    signatures are row-local; candidate generation is an equi-join on
 *    (band, bandHash) buckets, so the pair stage scales with collision
 *    count, not N^2. Verified with exact cosine. At 1000 executors the
 *    bucket join shuffles only signatures (16 bytes/doc/band), not
 *    embeddings.
 *
 * Hyperplanes are generated with a seeded splitmix64 — deterministic
 * across runs and parallelism levels.
 */
object Similarity {

  /** Row-local cosine between two float/double-array columns.
    *
    * r06: was `when(na > 0 && nb > 0, dot / (na * nb)).otherwise(0.0)`
    * over `aggregate`/`zip_with` higher-order functions — HOFs are
    * CodegenFallback, so every candidate pair paid interpreted lambda
    * evaluation + element boxing (the dominant cost of the LSH/IVF
    * verification stages). [[graft.functions.CosineSim]] is the same
    * arithmetic (same null/length/float-widening quirks, documented and
    * pinned there) as one codegen'd flat loop. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine(a, b)

  /** splitmix64 -> uniform double in [-1, 1), pure function of (seed, i, j). */
  private def gaussianish(seed: Long, i: Int, j: Int): Double = {
    var z = seed + (i.toLong << 32 | (j.toLong & 0xffffffffL)) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** numPlanes random hyperplanes of dimension dim (driver-built, tiny,
    * shipped as a literal into the plan — the broadcast-gazetteer pattern). */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((i, j) => gaussianish(seed, i, j))

  /** Sign-bit signature as an array of numPlanes ints (0/1), row-local.
    * Implemented as ONE scalar function over the vector (planes captured
    * in the closure): the pure-Column alternative (numPlanes aggregates
    * over zip_with against numPlanes literal arrays) explodes generated
    * code size and falls out of codegen — measured 10x slower.
    * Test reference for [[lshBandHashes]] (OptEquivSpec). */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column = {
    val f = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val out = new Array[Int](planes.length)
        var i = 0
        while (i < planes.length) {
          val p = planes(i)
          var dot = 0.0
          var j = 0
          val n = math.min(p.length, v.length)
          while (j < n) { dot += v(j) * p(j); j += 1 }
          out(i) = if (dot >= 0) 1 else 0
          i += 1
        }
        out
      }
    }
    f(vec)
  }

  /** Per-band bucket hashes as ONE closure: signature + all band hashes
    * in a single pass over the vector.
    *
    * r06: the old shape (`bandCols = hash(slice(sig, b*r+1, r))` over a
    * `sig` column from [[lshSignature]]) let CollapseProject inline the
    * signature UDF into EVERY band expression — 8 signature evaluations
    * per row per side of the band join (guide §4.4's duplication problem,
    * measured as the two ~0.8s jobs dominating q_embed_lsh_pairs). The
    * band hash is computed with Spark's own Murmur3
    * (`Murmur3HashFunction.hash` over the int-array slice, seed 42 — the
    * exact arithmetic of the old `hash(slice(...))` expression), so
    * bucket assignments are bit-identical and the candidate/pair sets
    * cannot shift. */
  def lshBandHashes(vec: Column, planes: Array[Array[Double]],
      bands: Int): Column = {
    val numPlanes = planes.length
    require(numPlanes % bands == 0)
    val r = numPlanes / bands
    val sliceType = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
    val f = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val sig = new Array[Int](numPlanes)
        var i = 0
        while (i < numPlanes) {
          val p = planes(i)
          var dot = 0.0
          var j = 0
          val n = math.min(p.length, v.length)
          while (j < n) { dot += v(j) * p(j); j += 1 }
          sig(i) = if (dot >= 0) 1 else 0
          i += 1
        }
        val out = new Array[Int](bands)
        var b = 0
        while (b < bands) {
          out(b) = org.apache.spark.sql.catalyst.expressions
            .Murmur3HashFunction.hash(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(
                java.util.Arrays.copyOfRange(sig, b * r, b * r + r)),
              sliceType, 42L).toInt
          b += 1
        }
        out
      }
    }
    f(vec)
  }

  /** Exact cosine top-k neighbors for a query subset.
    * queries: (vec_id, embedding) — SMALL (broadcast side).
    * corpus: (vec_id, embedding) — the full table. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qe"), col("ce")))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("cos"), 6).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** All pairs with cosine >= threshold via banded hyperplane LSH,
    * exact-verified. embeddings: (vec_id, embedding).
    *
    * Default 8 planes/band x 8 bands: an unrelated pair collides in a
    * band with prob (1/2)^8 ≈ 0.4% (x8 bands ≈ 3% of all pairs reach
    * exact verification), while a cos=0.9 pair is recalled with
    * 1-(1-0.856^8)^8 ≈ 0.94 and cos=0.95 with ≈ 0.99. The old 4-bit
    * bands let ~22% of ALL pairs through — at N=2000 that was 450k
    * needless exact-cosine verifications (measured 5.0s -> sub-second);
    * at corpus scale it is the difference between an index and a
    * disguised cross join. Precision is always 1.0 (exact verify). */
  def lshCosinePairs(embeddings: DataFrame, threshold: Double = 0.9,
      numPlanes: Int = 64, bands: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numPlanes % bands == 0)
    val planes = hyperplanes(dim, numPlanes, seed)
    // the band join and the candidate dedup ship/compare IDS ONLY — the
    // embedding vectors would otherwise ride through the shuffle and the
    // distinct would hash full arrays; vectors are re-joined just for the
    // exact verification of the (far fewer) surviving candidates
    // one fused signature+band-hash pass per row (see [[lshBandHashes]]);
    // posexplode(pos = band index, col = bucket hash) as before. The lazy
    // localCheckpoint materializes the (vec_id, band, bh) table ONCE for
    // both sides of the self-join below — without it each side re-scans
    // the embeddings and re-runs the signature pass (ids+band ints only:
    // 16 bytes/doc/band, the exact table the Scaladoc above says the
    // shuffle ships, so caching it is bounded by N x bands, not payloads)
    val banded = embeddings.select(col("vec_id"),
      posexplode(lshBandHashes(col("embedding"), planes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      .localCheckpoint(false)
    val cands = banded.as("a").join(banded.as("b"), Seq("band", "bh"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    cands
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        "vec_b")
      .withColumn("cos", round(cosine(col("ea"), col("eb")), 6))
      .where(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }
}
