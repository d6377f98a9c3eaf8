package graft

import graft.synth.TranscriptGen

/** CLI surface: run the KG extraction pipeline end-to-end on synthetic
  * transcripts and print sample triples + counts.
  * Usage: runMain graft.Demo [nConvs] */
object Demo {
  def main(args: Array[String]): Unit = {
    val nConvs = if (args.nonEmpty) args(0).toLong else 200L
    val spark = Sessions.localSession(4, "graft-demo")
    val turns = TranscriptGen.generate(spark, nConvs)
    val triples = Pipeline.extract(spark, turns).cache()
    println(s"turns=${turns.count()} triples=${triples.count()}")
    triples.show(20, truncate = false)
    triples.groupBy("pred").count().orderBy("pred").show()
    // full checkpointed run: linking, coref, canonicalization, nodes/edges
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (t, n, e) = Pipeline.runCheckpointed(spark, turns, ckpt)
    println(s"checkpointed: triples=${t.count()} nodes=${n.count()} edges=${e.count()} ckpt=$ckpt")
    n.orderBy(org.apache.spark.sql.functions.desc("n_mentions")).show(10, truncate = false)
    e.show(5, truncate = false)
    // SQL surface: engine functions registered into spark.sql
    GraftExtensions.register(spark)
    spark.sql("SELECT py_title('senbonzakura — miku''s version') AS t, " +
      "normalize_ascii('Tavaszi Szél') AS n").show(truncate = false)
    // reference-shaped offline path (videos -> preprocess -> labels)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, transform, struct}
    val videos = Seq(("v1", "ja", "Senbonzakura cover", "sung by Miku",
      "MikuFan", Seq((0, 12, "title", "Senbonzakura", "TITLE"),
        (8, 12, "description", "Miku", "VOCALOID"))))
      .toDF("yt_id", "language", "title", "description", "channel_name", "ner0")
      .withColumn("ner", transform(col("ner0"), nn => struct(
        nn.getField("_1").as("start"), nn.getField("_2").as("end"),
        nn.getField("_3").as("source"), nn.getField("_4").as("entry"),
        nn.getField("_5").as("type"))))
      .drop("ner0")
    println("reference-shaped offline prep (doc, pos, label_id):")
    operators.VideoPipeline.prepare(spark, videos).orderBy("pos").show()
    spark.stop()
  }
}
