package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.Schemas._
import graft.operators._
import graft.sources.IcebergishTable
import graft.synth.TranscriptGen

/**
 * KG-build benchmark: raw transcript turns to committed `nodes`/`edges`
 * through the engine's public pipeline calls, on one JVM at
 * `local[<all cores>]`.
 *
 *   KgBench --workload <full_build|append|alias_heavy> --seed <n>
 *           --seconds <s> --trace <0|1> --work <dir>
 *
 * `--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
 * split (kgbench/NOTES.md describes both). The last stdout line is one
 * JSON object: correct, attempted, failed, metrics. Every execution runs
 * on a fresh checkpoint root and is checked; a failed execution counts in
 * `failed` and never contributes a timing.
 */
object KgBench {

  /** Corpus size, warm-up executions and fewest timed executions of one
    * workload. */
  final case class Spec(convs: Int, batches: Int, aliasConvs: Int,
      warmups: Int, minReps: Int)

  val specs: Map[String, Spec] = Map(
    "full_build" -> Spec(convs = 1500, batches = 1, aliasConvs = 0,
      warmups = 2, minReps = 3),
    "append" -> Spec(convs = 1500, batches = 3, aliasConvs = 0,
      warmups = 0, minReps = 2),
    "alias_heavy" -> Spec(convs = 1000, batches = 1, aliasConvs = 4000,
      warmups = 1, minReps = 3))

  /** alias_heavy's title pool (see [[Inputs.aliasTitles]]). */
  val AliasGroups = 300
  val FamiliesPerGroup = 8
  val Variants = 5
  val AliasTurnsPerConv = 5

  /** Pipeline's coref salting parameters (private there), repeated so the
    * traced run composes the triples stage exactly as the pipeline does;
    * the traced output is checked equal to the untraced one. */
  val CorefWindow = 5
  val CorefChunkSize = 10000

  val FullStages = Seq("decoded", "mentions", "linked", "triples",
    "canon_map", "nodes", "edges")
  val BatchStages = Seq("convs", "decoded", "mentions", "linked", "triples",
    "surface_forms", "canon_map", "nodes", "edges")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def parseArgs(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val wl = need("--workload")
    require(specs.contains(wl), s"unknown workload $wl")
    Args(wl, need("--seed").toLong, kv.getOrElse("--seconds", "10").toDouble,
      kv.getOrElse("--trace", "0") == "1", need("--work"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linearly interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.length) s(lo)
    else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
  }

  def log(msg: String): Unit = System.err.println(f"[kgbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s  $msg")

  final class CheckFailed(msg: String) extends RuntimeException(msg)
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new CheckFailed(msg)

  /** Order-independent, duplicate-sensitive content digest of a table. */
  final case class Digest(rows: Long, h1: Long, h2: Long)
  def digest(df: DataFrame): Digest = {
    val cs = df.columns.sorted.map(col).toIndexedSeq
    val mask = lit(0xFFFFFFFFL)
    val r = df.select(xxhash64(cs: _*).bitwiseAND(mask).as("a"),
        hash(cs: _*).cast("long").bitwiseAND(mask).as("b"))
      .agg(count(lit(1)), coalesce(sum("a"), lit(0L)),
        coalesce(sum("b"), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** What one execution committed, as the output checks compare it. */
  final case class Output(stageRows: Seq[(String, Long)], nodes: Digest,
      edges: Digest, ckptBytes: Long)

  private val RowsField = "\"rows\":(\\d+)".r
  def manifestRows(root: String, stage: String): Long = {
    val json = Files.readString(Paths.get(
      IcebergishTable.manifestPath(root, stage)))
    RowsField.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new CheckFailed(s"manifest of $stage has no row count"))
  }

  /** Data files committed under `root`: (count, bytes). */
  def dataFiles(root: String): (Long, Long) = {
    val walk = Files.walk(Paths.get(root))
    try {
      val parts = walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")).toSeq
      (parts.size.toLong, parts.map(Files.size).sum)
    } finally walk.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    val all = try walk.iterator().asScala.toSeq finally walk.close()
    all.sortBy(_.getNameCount)(Ordering.Int.reverse)
      .foreach(Files.deleteIfExists(_))
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(args.work)
    // the broadcast gazetteer/Detector model and link dictionary every
    // pipeline stage builds
    spark.sparkContext.broadcast(Detector.buildModel())
    spark.sparkContext.broadcast(Linker.buildDict())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val (bench, correct, metrics) =
      try {
        generate(spark, args)
        val b = new Bench(spark, args, specs(args.workload))
        val (ok, ms) = if (args.trace) b.traced() else b.endToEnd(setupS)
        (b, ok, ms)
      } finally spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${bench.attempted},""" +
      s""""failed":${bench.failed},"metrics":$ms}""")
    if (!correct) sys.exit(1)
  }

  def inputDir(args: Args) = s"${args.work}/inputs"

  /** The workload's turns (and batches) for `args.seed`, written once to
    * parquet under [[inputDir]] after set-up and before anything is
    * timed; the executions read only that parquet. */
  def generate(spark: SparkSession, args: Args): Unit = {
    val spec = specs(args.workload)
    val dir = inputDir(args)
    val base = TranscriptGen.generate(spark, spec.convs, seed = args.seed)
    val all =
      if (spec.aliasConvs == 0) base
      else base.unionByName(Inputs.aliasTurns(spark,
        Inputs.aliasTitles(args.seed, AliasGroups, FamiliesPerGroup,
          Variants), spec.aliasConvs, AliasTurnsPerConv, args.seed))
    val turns = Inputs.materialize(spark, all, s"$dir/turns")
    if (spec.batches > 1)
      Inputs.batches(spark, turns, spec.convs, spec.batches, dir)
    Files.writeString(Paths.get(s"$dir/n_turns"), turns.count().toString)
  }

  /** One workload in one JVM: executions, checks, metrics. */
  final class Bench(spark: SparkSession, args: Args, spec: Spec) {
    import spark.implicits._
    val cores: Int = spark.sparkContext.defaultParallelism
    var attempted = 0
    var failed = 0
    private var rootSeq = 0

    // ---- inputs, as [[generate]] wrote them ----
    private def input(name: String) =
      spark.read.parquet(s"${inputDir(args)}/$name").as[Turn]
    val turns: Dataset[Turn] = input("turns")
    val batchTurns: IndexedSeq[Dataset[Turn]] =
      if (spec.batches == 1) IndexedSeq(turns)
      else (0 until spec.batches).map(b => input(s"batch_$b"))
    val nTurns: Long =
      Files.readString(Paths.get(s"${inputDir(args)}/n_turns")).trim.toLong
    log(s"workload ${args.workload} seed ${args.seed}: $nTurns turns, " +
      s"${spec.batches} batch(es), local[$cores]")

    def stageNames: Seq[String] =
      if (spec.batches == 1) FullStages
      else (0 until spec.batches).flatMap(b => BatchStages.map(s => s"${s}_b$b"))
    def last(stage: String): String =
      if (spec.batches == 1) stage else s"${stage}_b${spec.batches - 1}"

    def freshRoot(): String = {
      rootSeq += 1
      val r = s"${args.work}/roots/r$rootSeq"
      require(!Files.exists(Paths.get(r)), s"root $r already exists")
      r
    }

    /** The workload's pipeline calls on a fresh root: total wall and the
      * wall of each batch (one batch for a full build). */
    def run(root: String): (Double, Seq[Double]) = {
      val t0 = System.nanoTime()
      val walls =
        if (spec.batches == 1) {
          Pipeline.runCheckpointed(spark, turns, root)
          Seq(secondsSince(t0))
        } else batchTurns.indices.map { b =>
          val tb = System.nanoTime()
          Pipeline.runIncremental(spark, batchTurns(b), root, b)
          secondsSince(tb)
        }
      (secondsSince(t0), walls)
    }

    // ---- output checks ----
    private var reference: Option[Output] = None
    /** append only: nodes/edges of a full build of the same corpus. */
    var fullDigests: Option[(Digest, Digest)] = None

    def outputOf(root: String, startMs: Long): Output = {
      stageNames.foreach { s =>
        check(IcebergishTable.isCommitted(root, s), s"stage $s not committed")
        val mtime = Files.getLastModifiedTime(Paths.get(
          IcebergishTable.manifestPath(root, s))).toMillis
        check(mtime >= startMs - 1000,
          s"stage $s was skipped as already committed")
      }
      val rows = stageNames.map(s => s -> manifestRows(root, s))
      def total(stage: String) =
        rows.collect { case (s, n) if s == stage || s.startsWith(stage + "_b") => n }.sum
      check(total("decoded") == nTurns,
        s"decoded ${total("decoded")} rows != $nTurns input turns")
      check(manifestRows(root, last("edges")) == total("triples"),
        s"edges ${manifestRows(root, last("edges"))} != triples ${total("triples")}")
      val nodes = IcebergishTable.read(spark, root, last("nodes"))
      val mentionsInNodes = nodes.agg(coalesce(sum("n_mentions"), lit(0L)))
        .head().getLong(0)
      check(mentionsInNodes == total("linked"),
        s"nodes carry $mentionsInNodes mentions, linked has ${total("linked")}")
      Output(rows, digest(nodes),
        digest(IcebergishTable.read(spark, root, last("edges"))),
        dataFiles(root)._2)
    }

    def compare(o: Output): Unit = {
      reference match {
        case None => reference = Some(o)
        case Some(ref) =>
          check(o.stageRows == ref.stageRows,
            s"stage rows differ across executions: ${o.stageRows} vs ${ref.stageRows}")
          check(o.nodes == ref.nodes && o.edges == ref.edges,
            "nodes/edges differ across executions")
      }
      fullDigests.foreach { case (n, e) =>
        check(o.nodes == n && o.edges == e,
          "incremental nodes/edges differ from the full build's")
      }
    }

    /** One checked execution. None when it threw or failed a check. */
    def attempt(what: String, body: String => (Double, Seq[Double]))
        : Option[(Double, Seq[Double], Output)] = {
      attempted += 1
      val root = freshRoot()
      val startMs = System.currentTimeMillis()
      try {
        val (wall, batches) = body(root)
        val out = outputOf(root, startMs)
        compare(out)
        log(f"$what: wall $wall%.3f s, batches " +
          batches.map(b => f"$b%.3f").mkString(",") +
          f", peak rss ${peakRssMb()}%.0f MB")
        Some((wall, batches, out))
      } catch {
        case e: Exception =>
          failed += 1
          log(s"$what FAILED: $e")
          None
      } finally deleteTree(root)
    }

    /** append's output check: a full build of the same corpus, run after
      * the cold execution (which it then checks) and before the rest. */
    def fullReference(): Unit = if (spec.batches > 1) {
      attempted += 1
      val root = freshRoot()
      try {
        Pipeline.runCheckpointed(spark, turns, root)
        val (n, e) = (digest(IcebergishTable.read(spark, root, "nodes")),
          digest(IcebergishTable.read(spark, root, "edges")))
        fullDigests = Some((n, e))
        reference.foreach(r => check(r.nodes == n && r.edges == e,
          "the cold execution's incremental nodes/edges differ from the " +
            "full build's"))
        log("full build of the same corpus: nodes/edges digests recorded")
      } catch {
        case e: Exception => failed += 1; log(s"full reference FAILED: $e")
      } finally deleteTree(root)
    }

    def warm(warmups: Int): Option[Double] = {
      val cold = attempt("cold", run).map(_._1)
      fullReference()
      (1 to warmups).foreach(i => attempt(s"warm-up $i", run))
      cold
    }

    /** Runs `one` for the `--seconds` window: another execution starts
      * only while the window still holds one of median length, and at
      * least `minReps` run. */
    def window(minReps: Int)(one: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      while (walls.size < minReps ||
          secondsSince(t0) + median(walls.toSeq) <= args.seconds) {
        val t = System.nanoTime()
        one(walls.size + 1)
        walls += secondsSince(t)
      }
    }

    def endToEnd(setupS: Double): (Boolean, Seq[(String, Double, String)]) = {
      val cold = warm(spec.warmups)
      val done = mutable.ArrayBuffer.empty[(Double, Seq[Double], Output)]
      window(spec.minReps)(i => attempt(s"rep $i", run).foreach(done += _))
      val batches = done.flatMap(_._2).toSeq
      log(s"${done.size} timed executions, ${batches.size} batch samples")
      val metrics = mutable.ArrayBuffer(("setup_s", setupS, "s"))
      cold.foreach(c => metrics += (("cold_run_s", c, "s")))
      if (done.nonEmpty) metrics ++= Seq(
        ("turns_per_s", nTurns / median(done.map(_._1).toSeq), "turns/s"),
        ("batch_p50_s", percentile(batches, 0.5), "s"),
        ("batch_p90_s", percentile(batches, 0.9), "s"),
        ("ckpt_bytes_per_turn",
          median(done.map(_._3.ckptBytes.toDouble).toSeq) / nTurns, "B/turn"))
      metrics += (("peak_rss_mb", peakRssMb(), "MB"))
      (failed == 0 && cold.nonEmpty && done.nonEmpty, metrics.toSeq)
    }

    // ---- traced run: the per-layer split ----

    def traced(): (Boolean, Seq[(String, Double, String)]) = {
      warm(0) // the untraced/traced executions below warm up in turn
      val spans = new Spans(spark.sparkContext)
      // untraced and traced whole executions in ABBA order (a residual
      // warm-up trend cancels): the wall the stage split must account
      // for, and the tracing overhead
      val plain = mutable.ArrayBuffer.empty[Double]
      val withSpans = mutable.ArrayBuffer.empty[(Double, SpanTotals)]
      Seq(false, true, true, false).zipWithIndex.foreach {
        case (false, i) => attempt(s"untraced $i", run).foreach(plain += _._1)
        case (true, i) =>
          attempt(s"traced $i", r => spans("pipeline")(run(r)))
            .foreach(x => withSpans += ((x._1, spans.take("pipeline"))))
      }
      val layers = mutable.ArrayBuffer.empty[Layers]
      window(1) { i =>
        attempted += 1
        val root = freshRoot()
        try {
          val l = new Layers(spans)
          if (spec.batches == 1) stagesFull(l, root) else stagesAppend(l, root)
          val out = Output(Nil,
            digest(IcebergishTable.read(spark, root, last("nodes"))),
            digest(IcebergishTable.read(spark, root, last("edges"))), 0L)
          check(reference.exists(r => r.nodes == out.nodes && r.edges == out.edges),
            "stage-by-stage nodes/edges differ from the pipeline's")
          l.counters(root)
          layers += l
          log(f"layer split $i: stage walls ${l.stageWall}%.3f s")
        } catch {
          case e: Exception => failed += 1; log(s"layer split $i FAILED: $e")
        } finally deleteTree(root)
      }
      spans.close()
      val ok = failed == 0 && plain.nonEmpty && withSpans.nonEmpty &&
        layers.nonEmpty
      if (!ok) return (false, Nil)
      val wall = median(plain.toSeq)
      val tracedWall = median(withSpans.map(_._1).toSeq)
      def med(f: SpanTotals => Double) = median(withSpans.map(x => f(x._2)).toSeq)
      def lm(f: Layers => Double) = median(layers.map(f).toSeq)
      val stageWall = lm(_.stageWall)
      val perLayer = Seq(
        ("decode.busy_s", lm(_.busy("decode")), "s"),
        ("decode.rows", lm(_.rows("decode").toDouble), "count"),
        ("mentions.busy_s", lm(_.busy("mentions")), "s"),
        ("mentions.rows", lm(_.rows("mentions").toDouble), "count"),
        ("mentions.regex_rows", lm(_.regexRows.toDouble), "count"),
        ("mentions.shuffle_bytes",
          lm(_.totals("mentions").map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
        ("link.busy_s", lm(_.busy("link")), "s"),
        ("link.rows", lm(_.rows("link").toDouble), "count"),
        ("link.unlinked_share", lm(_.unlinkedShare), "ratio"),
        ("triples.busy_s", lm(_.busy("triples")), "s"),
        ("triples.rows", lm(_.rows("triples").toDouble), "count"),
        ("coref.rows", lm(_.corefRows.toDouble), "count"),
        ("coref.shuffle_bytes",
          lm(_.totals("coref").map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
        ("coref.task_skew", lm(_.totals("coref").map(_.taskSkew).max), "ratio"),
        ("canon.busy_s", lm(_.busy("canon")), "s"),
        ("canon.forms", lm(_.forms.toDouble), "count"),
        ("canon.candidate_pairs", lm(_.candidatePairs.toDouble), "count"),
        ("canon.max_canopy", lm(_.maxCanopy.toDouble), "count"),
        ("canon.dropped_blocks", lm(_.droppedBlocks.toDouble), "count"),
        ("nodes.busy_s", lm(_.busy("nodes")), "s"),
        ("edges.busy_s", lm(_.busy("edges")), "s"),
        ("edges.rows", lm(_.rows("edges").toDouble), "count"),
        ("commit.overhead_s", lm(_.commitOverhead), "s"),
        ("commit.files", lm(_.files.toDouble), "count"),
        ("commit.bytes", lm(_.bytes.toDouble), "bytes"),
        ("pipeline.wall_s", wall, "s"),
        ("pipeline.stage_wall_s", stageWall, "s"),
        ("pipeline.unattributed_s", wall - stageWall, "s"),
        ("pipeline.jobs", med(_.jobs.toDouble), "count"),
        ("pipeline.tasks", med(_.tasks.toDouble), "count"),
        ("spark.executor_run_s", med(_.runMs / 1000.0), "s"),
        ("spark.gc_s", med(_.gcMs / 1000.0), "s"),
        ("spark.spill_bytes", med(_.spillBytes.toDouble), "bytes"),
        ("spark.core_utilization",
          median(withSpans.map(x => x._2.runMs / 1000.0 / (x._1 * cores)).toSeq),
          "ratio"),
        ("trace.overhead_s", tracedWall - wall, "s"))
      (true, perLayer)
    }

    /** Per-layer record of one stage-by-stage execution. */
    final class Layers(spans: Spans) {
      val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val totals = mutable.Map.empty[String, mutable.ArrayBuffer[SpanTotals]]
      var stageWall = 0.0
      var commitOverhead = 0.0
      var corefRows, regexRows, forms, candidatePairs, maxCanopy,
        droppedBlocks, files, bytes = 0L
      var unlinkedShare = 0.0
      private var mentionsNames, linkedNames = Seq.empty[String]
      /** The surface-form table the last canon stage read. */
      var formsTable: DataFrame = _

      private def noop(label: String, df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        spans(label)(df.write.format("noop").mode("overwrite").save())
        val s = secondsSince(t0)
        totals.getOrElseUpdate(label, mutable.ArrayBuffer.empty) +=
          spans.take(label)
        s
      }

      /** Times `compute` into the noop sink under the layer's span, then
        * committed; returns the committed snapshot read back. */
      def stage(layer: String, root: String, name: String, key: String,
          parent: String)(compute: => DataFrame): DataFrame = {
        val b = noop(layer, compute)
        val t0 = System.nanoTime()
        val m = spans("commit")(
          IcebergishTable.commit(spark, compute, root, name, key, parent))
        val w = secondsSince(t0)
        spans.take("commit")
        busy(layer) += b
        rows(layer) += m.rows
        stageWall += w
        commitOverhead += w - b
        if (layer == "mentions") mentionsNames :+= name
        if (layer == "link") linkedNames :+= name
        IcebergishTable.read(spark, root, name)
      }

      /** The triples stage as the pipeline composes it; the coref half is
        * also timed alone for its shuffle and skew. */
      def triples(root: String, name: String, parent: String,
          dec: Dataset[DecodedTurn]): DataFrame = {
        def coref = Coref.triples(spark, SkewSalting.corefSalted(spark, dec,
          window = CorefWindow, chunkSize = CorefChunkSize)).toDF()
        noop("coref", coref)
        corefRows += coref.count()
        stage("triples", root, name, "conv_id", parent) {
          Triples.triples(spark, dec).toDF().unionByName(coref)
        }
      }

      /** Counters read from the committed snapshots, outside any timing. */
      def counters(root: String): Unit = {
        def union(names: Seq[String]) =
          names.map(IcebergishTable.read(spark, root, _)).reduce(_ unionByName _)
        regexRows = union(mentionsNames)
          .where(col("detector") === "regex:quoted").count()
        unlinkedShare = union(linkedNames).where(col("link_score") === 0.5)
          .count().toDouble / math.max(1L, rows("link"))
        val f = formsTable.localCheckpoint()
        forms = f.count()
        droppedBlocks = Canonicalize.hotAliasBlocks(spark, f).count()
        // every block of 2..1000 forms (aliasEdges' default guard) pairs
        // all its members
        val pairs = (col("count") * (col("count") - 1) / 2).cast("long")
        candidatePairs = Canonicalize.hotAliasBlocks(spark, f, maxBlockSize = 1)
          .where(col("count") <= 1000)
          .agg(coalesce(sum(pairs), lit(0L))).head().getLong(0)
        val verts =
          f.select(concat_ws("\u0000", col("tag"), col("surface")).as("id"))
        val canopies = Canonicalize.connectedComponents(spark, verts,
            Canonicalize.aliasEdges(spark, f))
          .groupBy("component").count()
          .orderBy(col("count").desc).limit(3).collect()
        maxCanopy = canopies.headOption.map(_.getLong(1)).getOrElse(0L)
        log("largest canopies: " + canopies.map(r =>
          s"${r.getString(0).takeWhile(_ != '\u0000')}:${r.getLong(1)}").mkString(", "))
        val (n, b) = dataFiles(root)
        files = n
        bytes = b
      }
    }

    def stagesFull(l: Layers, root: String): Unit = {
      val dec = l.stage("decode", root, "decoded", "conv_id", "turns") {
        Pipeline.decodeTurns(spark, turns).toDF()
      }.as[DecodedTurn]
      val men = l.stage("mentions", root, "mentions", "conv_id", "decoded") {
        Pipeline.mentionsFromDecoded(spark, dec, turns).toDF()
      }
      val lnk = l.stage("link", root, "linked", "conv_id", "mentions") {
        Linker.link(spark, men.as[Mention],
          spark.sparkContext.broadcast(Linker.buildDict())).toDF()
      }
      val tri = l.triples(root, "triples", "linked", dec)
      val canon = l.stage("canon", root, "canon_map", "tag", "triples") {
        Canonicalize.canonicalMap(spark, lnk)
      }
      l.stage("nodes", root, "nodes", "node_id", "canon_map") {
        Canonicalize.nodes(spark, canon).toDF()
      }
      l.stage("edges", root, "edges", "conv_id", "nodes") {
        Canonicalize.edges(spark, tri.as[Triple], canon).toDF()
      }
      l.formsTable = Canonicalize.surfaceForms(lnk)
    }

    def stagesAppend(l: Layers, root: String): Unit = {
      batchTurns.indices.foreach { b =>
        val bt = batchTurns(b)
        def n(s: String) = s"${s}_b$b"
        l.stage("registry", root, n("convs"), "conv_id",
          if (b == 0) "turns" else s"convs_b${b - 1}") {
          bt.toDF().select("conv_id").distinct()
        }
        val dec = l.stage("decode", root, n("decoded"), "conv_id",
          if (b == 0) "turns" else s"surface_forms_b${b - 1}") {
          Pipeline.decodeTurns(spark, bt).toDF()
        }.as[DecodedTurn]
        val men = l.stage("mentions", root, n("mentions"), "conv_id",
          n("decoded")) {
          Pipeline.mentionsFromDecoded(spark, dec, bt).toDF()
        }
        val lnk = l.stage("link", root, n("linked"), "conv_id", n("mentions")) {
          Linker.link(spark, men.as[Mention],
            spark.sparkContext.broadcast(Linker.buildDict())).toDF()
        }
        l.triples(root, n("triples"), n("linked"), dec)
        val forms = l.stage("canon", root, n("surface_forms"), "tag",
          n("triples")) {
          val delta = Canonicalize.surfaceForms(lnk)
          if (b == 0) delta
          else Canonicalize.mergeForms(IcebergishTable.read(spark, root,
            s"surface_forms_b${b - 1}"), delta)
        }
        val canon = l.stage("canon", root, n("canon_map"), "tag",
          n("surface_forms")) {
          Canonicalize.canonicalMapFromForms(spark, forms)
        }
        l.stage("nodes", root, n("nodes"), "node_id", n("canon_map")) {
          Canonicalize.nodes(spark, canon).toDF()
        }
        val all = Pipeline.readTriplesUpTo(spark, root, b)
        l.stage("edges", root, n("edges"), "conv_id", n("nodes")) {
          Canonicalize.edges(spark, all.as[Triple], canon).toDF()
        }
        l.formsTable = forms
      }
    }
  }
}
