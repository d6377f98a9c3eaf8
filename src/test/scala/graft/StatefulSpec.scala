package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.Schemas.Turn
import graft.operators.{IvfIndex, Similarity}

class StatefulSpec extends SparkSuite {

  test("IVF top-k: valid ranking, reasonable recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = IvfIndex.ivfTopK(queries, emb, 3, nCentroids = 8, nProbe = 3)
      .collect()
    assert(ivf.nonEmpty)
    // ranking well-formed per query
    ivf.groupBy(_.getAs[Long]("query_id")).values.foreach { ns =>
      assert(ns.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to ns.length).toSeq)
    }
    val got = ivf.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"IVF recall@3 = $recall%.2f (8 cells, 3 probes)")
    assert(recall > 0.3, s"IVF recall $recall suspiciously low")
  }

  test("IVF training is deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    // training is the only step whose output could drift between runs;
    // identical rankings (and cosines) mean identical centroids
    def run() = IvfIndex.ivfTopK(queries, emb, 3, nCentroids = 4, nProbe = 1,
      iters = 2).collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("cos"))).sortBy(t => (t._1, t._3)).toSeq
    val a = run()
    assert(a.nonEmpty)
    assert(a == run())
  }

  test("watermarked windowed mention counts aggregate by event-time window") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def turn(i: Int, text: String, minute: Int) =
      Turn("c1", i, "user", text, null,
        new Timestamp(1767225600000L + minute * 60000L))
    // two windows: minutes 0-9 (two TITLE mentions) and 10-19 (one)
    mem.addData(
      turn(0, "Melt is great", 1),
      turn(1, "Senbonzakura is better", 5),
      turn(2, "Unravel tho", 12))
    val q = graft.streaming.StreamingIngest
      .windowedMentionCounts(spark, mem.toDS())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // append-mode windowed aggs only emit once the watermark passes the
    // window end; the watermark itself advances at the END of a batch, so
    // one batch pushes event time forward and the NEXT one emits
    mem.addData(turn(3, "Ghost Rule drops", 120))
    q.processAllAvailable()
    mem.addData(turn(4, "Ghost Rule again", 121))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    val w0 = 1767225600000L // window [0,10min)
    val w1 = 1767225600000L + 600000L
    assert(rows == Set((w0, "TITLE", 2L), (w1, "TITLE", 1L)))
  }

  test("mention-FREE batches still advance the watermark and close windows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def turn(i: Int, text: String, minute: Int) =
      Turn("c1", i, "user", text, null,
        new Timestamp(1767225600000L + minute * 60000L))
    mem.addData(turn(0, "Melt is great", 1)) // one TITLE mention, window [0,10)
    val q = graft.streaming.StreamingIngest
      .windowedMentionCounts(spark, mem.toDS())
      .writeStream.format("memory").queryName("win_free_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // two batches with ZERO mentions, far past the window + watermark:
    // the watermark sits on turns.ts upstream of extraction, so these
    // rows must advance it (batch N advances the mark, batch N+1 emits)
    mem.addData(turn(1, "nothing entity like here at all", 60))
    q.processAllAvailable()
    mem.addData(turn(2, "still nothing to see", 61))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_free_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
      .toSet
    assert(rows == Set((1767225600000L, "TITLE", 1L)),
      s"window [0,10) must close on mention-free progress; got $rows")
  }

  test("stateful streaming coref resolves antecedents ACROSS micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def turn(i: Int, text: String) =
      Turn("c1", i, "user", text, null, new Timestamp(1767225600000L + i * 1000))
    val q = graft.streaming.StatefulCoref.resolveStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("coref_out")
      .outputMode("append").start()
    // batch 1: the antecedent only
    mem.addData(turn(0, "Melt is great"))
    q.processAllAvailable()
    assert(spark.table("coref_out").count() == 0)
    // batch 2: the anaphor — must resolve via state carried across batches
    mem.addData(turn(1, "honestly it deserves an award"))
    q.processAllAvailable()
    val links = spark.table("coref_out").collect()
    q.stop()
    assert(links.length == 1)
    assert(links.head.getAs[String]("antecedent") == "Melt")
    assert(links.head.getAs[Int]("turn_idx") == 1)
  }

  test("stateful coref: cross-batch out-of-order turns never resolve forward") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Turn]
    def turn(i: Int, text: String) =
      Turn("c1", i, "user", text, null, new Timestamp(1767225600000L + i * 1000))
    val q = graft.streaming.StatefulCoref.resolveStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("coref_ooo")
      .outputMode("append").start()
    // batch 1: a title at turn 10
    mem.addData(turn(10, "Melt is great"))
    q.processAllAvailable()
    // batch 2: a LATE turn 3 with an anaphor — the only known antecedent
    // is in its future; the in-order batch path could never link these
    mem.addData(turn(3, "honestly it deserves an award"))
    q.processAllAvailable()
    assert(spark.table("coref_ooo").count() == 0,
      "anaphor resolved to a FUTURE antecedent")
    // batch 3: a late BACK-FILLED title at turn 8 must not mask the more
    // recent turn-10 title for later anaphors
    mem.addData(turn(8, "Senbonzakura is better"))
    q.processAllAvailable()
    mem.addData(turn(12, "it keeps looping in my head"))
    q.processAllAvailable()
    val links = spark.table("coref_ooo").collect()
    q.stop()
    assert(links.length == 1)
    assert(links.head.getAs[String]("antecedent") == "Melt" &&
      links.head.getAs[Int]("antecedent_turn") == 10,
      links.mkString(","))
  }

  test("stateful coref over in-order micro-batches == batch Coref.resolve") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // three micro-batches of WHOLE conversations; conv 0 is the hot one
    // (320 turns), so the per-group sort and the window both matter
    val turns = graft.synth.TranscriptGen.generate(spark, 25L).collect()
    val convs = turns.map(_.conv_id).distinct.sorted
    val batches = convs.grouped((convs.length + 2) / 3).toSeq
      .map(cs => turns.filter(t => cs.contains(t.conv_id)).toSeq)
    assert(batches.length == 3)
    val mem = MemoryStream[Turn]
    val q = graft.streaming.StatefulCoref.resolveStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("coref_stream_eq")
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("coref_stream_eq")
      .as[graft.operators.Coref.CorefLink].collect().toSet
    val batch = graft.operators.Coref.resolve(spark,
      Pipeline.decodeTurns(spark, turns.toSeq.toDS())).collect().toSet
    assert(batch.nonEmpty, "fixture must exercise coref")
    assert(streamed == batch)
  }

  test("incremental KG sink: streamed micro-batches == one-shot batch run") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // two micro-batches of WHOLE conversations (the sink's contract),
    // maintained through foreachBatch -> runIncremental; the final
    // nodes/edges snapshots must equal the one-shot batch pipeline's
    val turns = graft.synth.TranscriptGen.generate(spark, 24L).persist()
    val convs = turns.select("conv_id").distinct().as[String].collect().sorted
    val cut = convs(convs.length / 2)
    val b0 = turns.filter(col("conv_id") < cut).collect()
    val b1 = turns.filter(col("conv_id") >= cut).collect()
    assert(b0.nonEmpty && b1.nonEmpty)

    val kgRoot = java.nio.file.Files.createTempDirectory("kg_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kg_sink_ck").toString
    val mem = MemoryStream[Turn]
    val q = graft.streaming.StreamingIngest
      .startIncrementalKgSink(mem.toDS(), kgRoot, ckpt)
    mem.addData(b0.toSeq: _*); q.processAllAvailable()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    q.stop()

    val fullRoot = java.nio.file.Files.createTempDirectory("kg_full").toString
    val (_, fn, fe) = Pipeline.runCheckpointed(spark, turns, fullRoot)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val nodesInc = graft.sources.IcebergishTable.read(spark, kgRoot, "nodes_b1")
    val edgesInc = graft.sources.IcebergishTable.read(spark, kgRoot, "edges_b1")
    assert(sortedRows(nodesInc) == sortedRows(fn), "streamed nodes diverged")
    assert(sortedRows(edgesInc) == sortedRows(fe), "streamed edges diverged")
    assert(fn.count() > 0 && fe.count() > 0)
    turns.unpersist()
  }
}
