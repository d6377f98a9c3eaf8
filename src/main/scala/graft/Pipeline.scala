package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.Schemas._
import graft.operators._

/**
 * End-to-end KG construction (north rule): mention detection → decode →
 * me-sub/dedup → triple extraction, then linking, conv-window coref,
 * corpus-level canonicalization and nodes/edges materialize.
 *
 * Shuffle budget (SURVEY.md §4.3): the extraction core (detect → decode →
 * dedup → triples) is one NARROW stage — token/entity state is nested per
 * row, so a 10^12-turn input runs it embarrassingly parallel. Wide stages
 * are only (1) conv_id repartition for coref, (2) the blocked alias
 * self-join, (3) connected-components iterations.
 */
object Pipeline {

  /** THE per-turn extraction kernel: tokenize → tag → decode →
    * me-substitute, over packed start<<32|end offsets — no Token objects,
    * no per-token substrings (the detector aligns on the boundary arrays,
    * the decoder slices the original text). Every caller goes through
    * it: [[extractTurn]], [[decodeTurns]] (and so the checkpointed
    * pipelines and `StatefulCoref`), `VideoPipeline.predict` (speaker =
    * channel name, src/prod.py:119-125) and
    * `StreamingIngest.windowedMentionCounts`. The object forms
    * (`tokenizeWithOffsets` → `tagTokens` → `decodeEntities`) remain only
    * as the test reference (PropertySpec pins packed == object; ScaleSpec
    * pins extract/decodeTurns against them). */
  def turnEntities(model: Detector.Model, text: String,
      speaker: String): Seq[Entity] = {
    val offs = graft.functions.PyText.tokenizeOffsetsPacked(text)
    val tags = Detector.tagTokensPacked(model, text, offs)
    Decode.meSubstitute(Decode.decodeEntitiesPacked(text, offs, tags),
      if (speaker == null) "" else speaker)
  }

  /** The fused per-turn hot path: [[turnEntities]] → structured result →
    * triple emit, with NO intermediate Dataset boundary. This is the
    * single function the scaling bench measures — graft.Micro runs it
    * verbatim on a plain thread pool as the Spark-free control, so the
    * control and the engine share the hot path by construction.
    *
    * Why fused (round-2 scaling autopsy): the old staged form (detect
    * `mapPartitions` → decode `map` → triples `flatMap`) crossed TWO
    * typed-Dataset encoder boundaries per turn — each re-encoded the full
    * token/tag/entity arrays through the product encoder into UnsafeRows
    * and back. At 1 core that cost hides under compute; at 4+ cores it is
    * pure allocation-rate pressure (the measured scaling limiter for this
    * workload) and dragged 1→4 efficiency to 0.70 vs the 1.00 Spark-free
    * control. Fused, only the (sparse) Triple rows ever meet an encoder.
    * [[decodeTurns]] runs the same kernel and crosses ONE boundary (the
    * DecodedTurn it materializes; no token/tag arrays are encoded). */
  def extractTurn(model: Detector.Model, convId: String, turnIdx: Int,
      role: String, text: String): Seq[Triple] =
    Triples.emitArrays(convId, turnIdx,
      Triples.structuredArraysShared(turnEntities(model, text, role)),
      "gazetteer:ac")

  /** turns -> triples (pre-canonicalization). ONE narrow `mapPartitions`
    * end-to-end (zero shuffles, zero intermediate encoder round-trips —
    * see [[extractTurn]]); equal to `Triples.triples(decodeTurns(...))`
    * (ScaleSpec pins both against the object-form reference).
    *
    * The typed boundary is PRUNED to the four columns the hot path reads
    * (conv_id, turn_idx, role, text): over a parquet source Catalyst
    * pushes the projection into the scan (`tool` and the timestamp column
    * are never decompressed), and the per-row deserializer builds a
    * 4-field tuple instead of a 6-field Turn with a java.sql.Timestamp
    * conversion — both pure allocation-rate wins on the scaling-critical
    * path. */
  def extract(spark: SparkSession, turns: Dataset[Turn]): Dataset[Triple] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    turns.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .as[(String, Int, String, String)]
      .mapPartitions { it =>
        val model = Detector.model
        it.flatMap { case (c, i, r, x) => extractTurn(model, c, i, r, x) }
      }
  }

  /** turns -> decoded turns (exposed for linking/coref stages): ONE
    * narrow `mapPartitions` running [[turnEntities]] per turn. The typed
    * boundary is pruned to the five columns a DecodedTurn keeps (the
    * timestamp is never read), as in [[extract]]. */
  def decodeTurns(spark: SparkSession, turns: Dataset[Turn]): Dataset[DecodedTurn] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    turns.select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("text"))
      .as[(String, Int, String, String, String)]
      .mapPartitions { it =>
        val model = Detector.model
        it.map { case (c, i, r, tool, x) =>
          DecodedTurn(c, i, r, tool, x, turnEntities(model, x, r))
        }
      }
  }

  /** All mention sources unioned (SURVEY §7.2: gazetteer ∪ regex), deduped
    * on the span identity (conv, turn, start, end, tag) — gazetteer wins
    * on overlap by construction (regex source skips known surfaces). */
  def mentionsAll(spark: SparkSession, turns: Dataset[Turn]): Dataset[Mention] =
    mentionsFromDecoded(spark, decodeTurns(spark, turns))

  /** mentionsAll over ALREADY-DECODED turns (e.g. the `decoded`
    * checkpoint), reading nothing else: per turn, the gazetteer mentions
    * fall out of the decode result and the regex source scans the
    * decoded row's own `text`, so `decoded` is the stage's only input
    * (its recorded lineage parent). The global span dedup stays: its
    * shuffle also sizes the committed files. */
  def mentionsFromDecoded(spark: SparkSession,
      decoded: Dataset[DecodedTurn]): Dataset[Mention] = {
    import spark.implicits._
    decoded.mapPartitions { it =>
      val model = Detector.model
      it.flatMap(d => Decode.gazetteerMentions(d) ++
        Detector.regexMentions(model, d.conv_id, d.turn_idx, d.text))
    }.dropDuplicates("conv_id", "turn_idx", "start", "end", "tag")
  }

  /** The pre-kernel signature: `turns` is ignored. Kept only for the
    * frozen KG-build benchmark (`kgbench/`); removed when the benchmark
    * is next revised. */
  @deprecated("turns is ignored; use mentionsFromDecoded(spark, decoded)", "0.7")
  def mentionsFromDecoded(spark: SparkSession, decoded: Dataset[DecodedTurn],
      turns: Dataset[Turn]): Dataset[Mention] = mentionsFromDecoded(spark, decoded)

  /** Salting parameters for the conversation-window coref stage — ONE
    * definition shared by the full and incremental chains, so a tuning
    * change can never silently diverge incremental extraction from full
    * extraction between KgStagesSpec equality runs. */
  private val CorefWindow = 5
  private val CorefChunkSize = 10000

  /** One stage branch, running on a FRESH thread — not a pool thread — so
    * it inherits the forking thread's Spark local properties (job group,
    * the SQL execution id of an enclosing `foreachBatch`, callers' span
    * labels) and active session as they are at fork time. */
  private final class Branch[A](name: String, body: => A) {
    private var outcome: Either[Throwable, A] = _
    private val thread = new Thread(() =>
      outcome = try Right(body) catch { case e: Throwable => Left(e) },
      s"graft-stage-$name")
    thread.start()

    /** Wait for the branch — uninterruptibly, since no caller may return
      * while its writer still commits — then return its result or rethrow
      * its own exception, unwrapped. */
    def join(): A = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join()
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      outcome.toTry.get
    }
  }

  /** The branches forked by one pipeline call; see [[withBranches]]. */
  private final class Branches {
    val forked = scala.collection.mutable.ArrayBuffer.empty[Branch[_]]
    def fork[A](name: String)(body: => A): Branch[A] = {
      val b = new Branch(name, body)
      forked += b
      b
    }
  }

  /** Run `body`, which may fork stages that do not read each other's
    * output, and join every forked branch before returning or throwing:
    * no writer outlives the call. The first failure propagates unwrapped —
    * the body's own (a branch's, if the body failed joining it), with any
    * other branch failure attached as suppressed. */
  private def withBranches[A](body: Branches => A): A = {
    val branches = new Branches
    val result =
      try body(branches)
      catch {
        case e: Throwable =>
          branches.forked.foreach { b =>
            try b.join()
            catch { case f: Throwable => if (f ne e) e.addSuppressed(f) }
          }
          throw e
      }
    branches.forked.foreach(_.join())
    result
  }

  /** The checkpointed NARROW extraction chain (decode → mentions → link →
    * triples+salted-coref), shared VERBATIM by [[runCheckpointed]] and
    * [[runIncremental]] — only the stage names (`nameOf`: base name →
    * snapshot name, identity for the full chain, `_b<i>`-suffixed for a
    * batch) and the decoded stage's recorded parent differ. `triples`
    * reads only `decoded`, so it is forked beside mentions → linked (and
    * whatever the caller runs next) and returned unjoined. Returns
    * (linked read back from its snapshot, the triples branch). */
  private def narrowStages(spark: SparkSession, turns: Dataset[Turn],
      ckptRoot: String, nameOf: String => String, decodedParent: String,
      branches: Branches): (DataFrame, Branch[DataFrame]) = {
    import spark.implicits._
    import graft.sources.IcebergishTable.stage
    val decodedDf = stage(spark, ckptRoot, nameOf("decoded"), "conv_id",
      decodedParent) {
      decodeTurns(spark, turns).toDF()
    }
    val decoded = decodedDf.as[DecodedTurn]
    val triples = branches.fork(nameOf("triples")) {
      stage(spark, ckptRoot, nameOf("triples"), "conv_id", nameOf("decoded")) {
        // coref is the one order-dependent wide stage -> salted: every
        // conversation is chunked by turn_idx with overlap context, so a
        // hot one fans out over size/chunkSize tasks (equivalence pinned
        // by ScaleSpec)
        Triples.triples(spark, decoded).toDF()
          .unionByName(Coref.triples(spark,
            SkewSalting.corefSalted(spark, decoded, window = CorefWindow,
              chunkSize = CorefChunkSize)).toDF())
      }
    }
    val mentionsDf = stage(spark, ckptRoot, nameOf("mentions"), "conv_id",
      nameOf("decoded")) {
      // gazetteer ∪ regex sources, both DERIVED from the decoded
      // checkpoint — detection is not re-run, raw turns are not rescanned
      mentionsFromDecoded(spark, decoded).toDF()
    }
    val linkedDf = stage(spark, ckptRoot, nameOf("linked"), "conv_id",
      nameOf("mentions")) {
      val dict = spark.sparkContext.broadcast(Linker.buildDict())
      Linker.link(spark, mentionsDf.as[Mention], dict).toDF()
    }
    (linkedDf, triples)
  }

  /** The checkpointed GRAPH tail, shared VERBATIM by [[runCheckpointed]]
    * and [[runIncremental]]: canon_map over `forms` (any forms plan), then
    * nodes, then `triples` (forced only here), then edges — the LAST
    * commit, which `batchCompleted` and the completed-batch read-back
    * take as completion. `nameOf` is as in [[narrowStages]]. Returns
    * (triples, nodes, edges). */
  private def graphStages(spark: SparkSession, ckptRoot: String,
      nameOf: String => String, canonParent: String,
      forms: DataFrame, triples: => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.sources.IcebergishTable.stage
    val canonDf = stage(spark, ckptRoot, nameOf("canon_map"), "tag",
      canonParent) {
      // the driver path collects up to driverMaxVertices + 1 forms rows
      Canonicalize.canonicalMapFromForms(spark, forms)
    }
    val nodesDf = stage(spark, ckptRoot, nameOf("nodes"), "node_id",
      nameOf("canon_map")) {
      Canonicalize.nodes(spark, canonDf).toDF()
    }
    val triplesDf = triples
    val edgesDf = stage(spark, ckptRoot, nameOf("edges"), "conv_id",
      nameOf("canon_map")) {
      Canonicalize.edges(spark, triplesDf.as[Triple], canonDf).toDF()
    }
    (triplesDf, nodesDf, edgesDf)
  }

  /** Full run with per-stage Icebergish checkpoints + lineage (north rule
    * resumability): a killed run re-invoked with the same `ckptRoot`
    * skips every stage whose committed snapshot exists. `triples` commits
    * concurrently with mentions → linked → canon_map → nodes and is
    * joined before `edges`, which stays the last commit
    * ([[graphStages]]). Returns (triples, nodes, edges) DataFrames read
    * back from the snapshots. */
  def runCheckpointed(spark: SparkSession, turns: Dataset[Turn],
      ckptRoot: String): (DataFrame, DataFrame, DataFrame) =
    withBranches { branches =>
      val (linkedDf, triples) =
        narrowStages(spark, turns, ckptRoot, identity, "turns", branches)
      graphStages(spark, ckptRoot, identity, "linked",
        Canonicalize.surfaceForms(linkedDf), triples.join())
    }

  /** Incremental KG maintenance: append batch `batchId` of NEW turns to a
    * corpus whose earlier batches are already committed under `ckptRoot`,
    * without re-extracting anything old (north rule: transcript corpora
    * land append-only; at 100 TB a full re-run per drop is the cost to
    * kill).
    *
    * What is incremental vs re-derived:
    *
    *  - The expensive NARROW stages (decode → mentions → link →
    *    triples+coref — detection and tokenization dominate pipeline
    *    cost) run over the new batch ONLY, committed as append-only
    *    `*_b<i>` snapshots that are never rewritten.
    *  - The graph stage's input is maintained as a running
    *    `surface_forms_b<i>` aggregate: batch 0 commits
    *    [[Canonicalize.surfaceForms]]; a later batch commits ONE
    *    aggregate, [[Canonicalize.mergeForms]] of the previous snapshot
    *    and its [[Canonicalize.mentionForms]], equal to the full-corpus
    *    aggregate with NO rescan of old mentions. The canonical map and
    *    nodes then recompute from forms — bounded by the alias universe.
    *  - Edges RE-DERIVE by one narrow zero-shuffle pass over the union of
    *    the committed triple snapshots (three BroadcastHashJoins over ONE
    *    broadcast canonical map — the plan ScaleSpec pins). Deliberate: a
    *    new alias can re-cluster OLD surfaces onto different canonicals,
    *    so old edge rows are not stable under append; the re-map pass is
    *    the cost of exactness and is bounded by scan bandwidth (no
    *    detection, no decode, no shuffle). A delta re-map (rewrite only
    *    edges touching changed canonicals) is NOT implemented: its
    *    delete-set must be closed under cross-tag surface sharing
    *    (`vocal_by` resolves min over VOCALIST ∪ VOCALOID nodes), and an
    *    unclosed delete-set silently drops or duplicates edges — the
    *    always-correct pass wins until a workload shows re-map dominating.
    *
    * CONTRACT: every batch carries WHOLE conversations — coref windows
    * and conversation-scoped triples never span batches, which is what
    * makes per-batch extraction equal to full-corpus extraction
    * (KgStagesSpec pins incremental == full). `checkDisjointConvs=true`
    * enforces it with a join against the prior batches' `convs_b<i>`
    * registries (one scan of tiny one-column snapshots; off by default —
    * production layouts enforce it upstream).
    *
    * Stage DAG: `convs_b` (raw turns only) commits beside the decode
    * chain and is joined before `surface_forms_b`; `triples_b` (decoded
    * only) commits beside mentions → linked → forms → canon_map → nodes
    * and is joined before the triples read-back; `edges_b` commits last
    * ([[graphStages]]). Every branch is joined before this returns or
    * throws.
    *
    * Resume: per-batch stage names mean a killed batch re-invoked with
    * the same `batchId` skips its committed stages, exactly like
    * [[runCheckpointed]]; `parentSnapshot` chains record the batch DAG.
    * Replays are supported at the HEAD batch (a completed head replays
    * as a pure read-back, even after [[gcBatchArtifacts]]); a BELOW-head
    * batch whose view snapshots were folded/GC'd fails fast with a
    * superseded-batch error rather than recomputing committed history.
    * Returns (triplesAll, nodes, edges) read back from snapshots. */
  def runIncremental(spark: SparkSession, newTurns: Dataset[Turn],
      ckptRoot: String, batchId: Int,
      checkDisjointConvs: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.IcebergishTable.{stage, read, isCommitted}
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    // Ordering gate: the previous batch must have COMPLETED (not merely
    // committed its forms — forms commit several stages before edges, so
    // a forms-only check would let batch b+1 run while batch b is still
    // in flight, making [[batchCompleted]]'s forms-head proxy unsound:
    // compaction could then fold an in-flight batch's snapshots).
    // [[batchCompleted]] itself also covers the replay cases: a replay of
    // a finished head batch after [[gcBatchArtifacts]] deleted the
    // below-head edges manifests passes via its own committed forms head.
    require(batchId == 0 || batchCompleted(ckptRoot, batchId - 1),
      s"batch ${batchId - 1} has not completed under $ckptRoot (no " +
        "committed edges snapshot and no committed forms head beyond it) " +
        "— batches run strictly in order; resume the previous batch first")
    // A COMPLETED batch replays as a pure READ-BACK: nothing recomputes
    // (a post-GC replay does not even re-pay decode) and nothing
    // superseded is resurrected — without this, a replay after
    // compaction would find the folded triples_b/convs_b manifests gone
    // and re-commit them BELOW the generation: committed garbage no
    // reader unions and vacuum can never reclaim.
    if (isCommitted(ckptRoot, s"nodes_b$batchId") &&
        isCommitted(ckptRoot, s"edges_b$batchId")) {
      return (readTriplesUpTo(spark, ckptRoot, batchId),
        read(spark, ckptRoot, s"nodes_b$batchId"),
        read(spark, ckptRoot, s"edges_b$batchId"))
    }
    // A batch whose view snapshots are gone but which a LATER batch's
    // committed forms supersede has already completed (the ordering gate
    // above means a successor only ever started after it returned) and
    // been folded/GC'd. Recomputing it here would re-commit convs_b /
    // triples_b BELOW their compaction generations (committed garbage no
    // reader unions) and crash on the GC'd prev-forms read — fail fast
    // with the actual state instead. Replays are only supported at the
    // HEAD batch, where GC keeps the view snapshots for pure read-back.
    val supersededBy = dirIds(ckptRoot, "surface_forms_b")
      .filter(j => j > batchId &&
        isCommitted(ckptRoot, s"surface_forms_b$j")).maxOption
    if (supersededBy.isDefined)
      throw new IllegalStateException(
        s"batch $batchId already completed and was superseded by batch " +
          s"${supersededBy.get}; its view snapshots were folded/GC'd, so " +
          "a replay has nothing to resume — read the head batch's " +
          "nodes/edges instead")
    // The guard validates a batch's FIRST execution; a replay of an
    // already-validated batch (its convs_b or forms_b snapshot is
    // committed — convs_b commits only after the guard passed) skips it,
    // which also keeps replays correct after [[compactConvs]] folded the
    // batch's own convs into a registry generation.
    if (checkDisjointConvs && batchId > 0 &&
        !isCommitted(ckptRoot, s"convs_b$batchId") &&
        !isCommitted(ckptRoot, s"surface_forms_b$batchId")) {
      // The registry of prior conv ids comes from the convs_b<i>
      // snapshots, NOT from prior triples: a conversation can yield
      // mentions but no triples, and the guard must still see it (a
      // re-delivery would double-count its mentions in surface_forms).
      // A root written before the registry existed cannot be validated
      // soundly (zero-triple conversations are unrecoverable once the
      // decoded snapshots are GC'd) — fail with the reason, not a bare
      // missing-snapshot error.
      val g0 = latestCompaction(ckptRoot, batchId - 1, "convs_compact_")
      require(graft.sources.IcebergishTable.isCommitted(ckptRoot,
          s"convs_b${g0 + 1}") || g0 == batchId - 1,
        s"no conv-id registry for batches ${g0 + 1}..${batchId - 1} under " +
          s"$ckptRoot — this root predates the convs_b registry and " +
          "cannot enforce checkDisjointConvs (zero-triple conversations " +
          "are not recoverable from remaining snapshots); re-run with " +
          "checkDisjointConvs=false and enforce disjointness upstream")
      val prior = readConvsUpTo(spark, ckptRoot, batchId - 1)
      val overlap = newTurns.toDF().select("conv_id").distinct()
        .join(prior, "conv_id").limit(1).count()
      require(overlap == 0,
        s"batch $batchId contains conversations already present in prior " +
          "batches — increments must carry whole conversations")
    }
    withBranches { branches =>
      // Conv-id registry for the disjointness guard. It reads only the raw
      // turns, so it commits beside the decode chain; it is joined before
      // surface_forms_b, since the replay skip above takes a committed
      // forms_b as proof that convs_b committed (and even a batch that
      // dies mid-extraction leaves it committed for later guards).
      val convs = branches.fork(s"convs_b$batchId") {
        stage(spark, ckptRoot, s"convs_b$batchId", "conv_id",
          if (batchId == 0) "turns" else s"convs_b${batchId - 1}") {
          newTurns.toDF().select("conv_id").distinct()
        }
      }
      val (linkedDf, triples) = narrowStages(spark, newTurns, ckptRoot,
        n => s"${n}_b$batchId",
        if (batchId == 0) "turns" else s"surface_forms_b${batchId - 1}",
        branches)
      convs.join()
      val formsDf = stage(spark, ckptRoot, s"surface_forms_b$batchId", "tag",
        s"linked_b$batchId") {
        if (batchId == 0) Canonicalize.surfaceForms(linkedDf)
        else Canonicalize.mergeForms(
          read(spark, ckptRoot, s"surface_forms_b${batchId - 1}"),
          Canonicalize.mentionForms(linkedDf))
      }
      graphStages(spark, ckptRoot, n => s"${n}_b$batchId",
        s"surface_forms_b$batchId", formsDf, {
          triples.join()
          readTriplesUpTo(spark, ckptRoot, batchId)
        })
    }
  }

  /** Largest committed `<prefix><g>` generation (g <= upTo) under
    * `root`, or -1. */
  private def latestCompaction(root: String, upTo: Int, prefix: String): Int =
    (0 to upTo).reverse.find(g =>
      graft.sources.IcebergishTable.isCommitted(root, s"$prefix$g"))
      .getOrElse(-1)

  /** Snapshot ids present under `root` whose directory name is
    * `<prefix><int>` (committed or not — callers filter). Shared by the
    * completion proxy and the folded-read diagnostics. */
  private def dirIds(root: String, prefix: String): Seq[Int] = {
    val rootPath = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(rootPath)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.list(rootPath)
    try names.iterator().asScala.map(_.getFileName.toString)
      .collect { case s if s.startsWith(prefix) =>
        s.stripPrefix(prefix).toIntOption }
      .flatten.toSeq
    finally names.close()
  }

  /** Has batch `b` completed? Direct evidence is its committed edges
    * snapshot; after [[gcBatchArtifacts]] deleted below-head graph
    * manifests, a committed `surface_forms_b<j>` with j STRICTLY beyond b
    * proves it too — batch j only starts after batch b returned, a
    * premise [[runIncremental]]'s entry gate ENFORCES (it requires the
    * previous batch completed, not merely forms-committed, so a crashed
    * batch can never gain a successor that would fake its completion).
    * j == b proves nothing: batch b itself commits its forms several
    * stages before its edges, so an in-flight or crashed batch would
    * read as "completed" and [[compactConvs]] / [[compactTriples]] would
    * fold snapshots its resume still needs. */
  private def batchCompleted(root: String, b: Int): Boolean = {
    import graft.sources.IcebergishTable.isCommitted
    isCommitted(root, s"edges_b$b") ||
      dirIds(root, "surface_forms_b")
        .exists(j => j > b && isCommitted(root, s"surface_forms_b$j"))
  }

  /** The append-only `family` (`triples` or `convs`) through batch
    * `batchId`: the LARGEST committed `<family>_compact_<g>` (g <=
    * batchId) plus every `<family>_b<i>` with g < i <= batchId.
    * Superseded per-batch snapshots are ignored even if their manifests
    * still exist — so [[compact]]'s garbage collection is exactly that,
    * garbage collection, and a crash between its commit and its GC
    * changes nothing the reader sees. */
  private def readUpTo(spark: SparkSession, root: String, family: String,
      batchId: Int): DataFrame = {
    import graft.sources.IcebergishTable.{read, isCommitted}
    val g = latestCompaction(root, batchId, s"${family}_compact_")
    // A compaction generation BEYOND batchId folds later batches in and
    // cannot serve a prefix read; if it also superseded (GC'd) the
    // per-batch snapshots this prefix needs, say so precisely instead of
    // failing on the first missing snapshot. No current caller reads
    // below the head (the disjointness guard reads the registry up to the
    // previous batch, and compactConvs folds only completed batches), so
    // this is a contract error, not a recoverable state.
    val missing = ((g + 1) to batchId)
      .filter(i => !isCommitted(root, s"${family}_b$i"))
    if (missing.nonEmpty) {
      val later = dirIds(root, s"${family}_compact_")
        .filter(i => i > batchId && isCommitted(root, s"${family}_compact_$i"))
        .maxOption
      require(later.isEmpty,
        s"$family through batch $batchId were folded into " +
          s"${family}_compact_${later.getOrElse(-1)} and their per-batch " +
          "snapshots GC'd — prefix reads below a compaction generation " +
          "are unavailable by design (compact folds whole history)")
    }
    val base = if (g >= 0) Seq(read(spark, root, s"${family}_compact_$g"))
      else Seq.empty
    (base ++ ((g + 1) to batchId).map(i => read(spark, root, s"${family}_b$i")))
      .reduce(_ unionByName _)
  }

  /** Small-file compaction of the append-only `family` (`triples` or
    * `convs`; both keyed by conv_id): rewrites it through COMPLETED batch
    * `upToBatch` as ONE snapshot — `<family>_compact_<upToBatch>` — then
    * garbage-collects the superseded manifests (earlier compactions and
    * per-batch snapshots).
    *
    * Crash-safe by ORDERING, not by locking: the compacted snapshot
    * commits first (write-temp + atomic manifest rename, like any stage);
    * only then are superseded manifests deleted. [[readUpTo]] prefers the
    * largest committed generation, so a crash anywhere in the GC phase
    * leaves a family that reads identically — re-running the compaction
    * just finishes the GC. Data directories of superseded snapshots are
    * left for out-of-band removal (deleting the manifest already makes
    * them invisible; physical deletes are the one non-idempotent step, so
    * they stay out of the commit path).
    *
    * Completion is REQUIRED: folding the snapshots of an IN-FLIGHT batch
    * (`<family>_b` committed, edges not yet) would delete the manifest its
    * crash-resume checks, forcing a silent recompute and a re-commit of a
    * superseded snapshot below the generation. */
  private def compact(spark: SparkSession, root: String, family: String,
      upToBatch: Int): Unit = {
    import graft.sources.IcebergishTable
    require(upToBatch >= 0)
    require(batchCompleted(root, upToBatch),
      s"batch $upToBatch has not completed (no committed edges snapshot, " +
        s"and no committed forms head beyond it) — $family compaction " +
        "only runs behind a completed batch")
    val g = latestCompaction(root, upToBatch, s"${family}_compact_")
    require(g == upToBatch ||
      ((g + 1) to upToBatch).forall(i =>
        IcebergishTable.isCommitted(root, s"${family}_b$i")),
      s"cannot compact through batch $upToBatch: missing committed " +
        s"${family}_b<i> snapshots after generation $g")
    if (g < upToBatch)
      IcebergishTable.commit(spark, readUpTo(spark, root, family, upToBatch),
        root, s"${family}_compact_$upToBatch", "conv_id",
        parentSnapshot =
          if (g >= 0) s"${family}_compact_$g" else s"${family}_b0")
    // GC: superseded manifests only (see Scaladoc); idempotent
    deleteManifests(root,
      (0 until upToBatch).map(i => s"${family}_compact_$i") ++
        (0 to upToBatch).map(i => s"${family}_b$i"))
  }

  /** The triple corpus through batch `batchId` ([[readUpTo]]). */
  def readTriplesUpTo(spark: SparkSession, root: String,
      batchId: Int): DataFrame =
    readUpTo(spark, root, "triples", batchId)

  /** The conv-id registry through batch `batchId` ([[readUpTo]]). */
  def readConvsUpTo(spark: SparkSession, root: String,
      batchId: Int): DataFrame =
    readUpTo(spark, root, "convs", batchId)

  /** Fold the triple snapshots through completed batch `upToBatch` into
    * one `triples_compact_<upToBatch>` generation ([[compact]]) — the
    * operational cost of incremental maintenance: after 10^3 batches the
    * corpus is 10^3 snapshot directories of mostly-small files, and every
    * edge re-derivation plans 10^3 scans. */
  def compactTriples(spark: SparkSession, root: String,
      upToBatch: Int): Unit =
    compact(spark, root, "triples", upToBatch)

  /** Fold the per-batch conv-id registries through completed batch
    * `upToBatch` into one `convs_compact_<upToBatch>` generation
    * ([[compact]]): the disjointness guard otherwise unions one tiny
    * snapshot per batch forever. Folding a batch's own convs can never
    * make the guard fire on a legitimate replay: a folded HEAD batch's
    * replay is detected before the guard (pure read-back, or the forms_b
    * replay skip), and a folded BELOW-head batch's replay fails fast on
    * [[runIncremental]]'s superseded-batch check. */
  def compactConvs(spark: SparkSession, root: String,
      upToBatch: Int): Unit =
    compact(spark, root, "convs", upToBatch)

  /** Garbage-collect per-batch artifacts that nothing reads once batch
    * `completedBatch` has committed: the narrow intermediates of every
    * batch through it (decoded/mentions/linked — only intra-batch resume
    * ever reads them) and the SUPERSEDED graph-stage generations
    * (surface_forms/canon_map/nodes/edges of batches before it — the
    * running aggregate chain only ever reads the latest). The current
    * batch's forms/canon/nodes/edges stay: `runIncremental(completedBatch
    * + 1)` reads `surface_forms_b<completedBatch>`, and nodes/edges ARE
    * the current output. Manifest deletes only, same rationale as
    * [[compactTriples]]' GC phase — idempotent, and data directories are
    * out-of-band. Triples snapshots are NOT touched here; they remain
    * readable history until [[compactTriples]] folds them.
    *
    * Tradeoff made explicit: a STREAMING REPLAY of an already-complete
    * HEAD batch (checkpoint lost the offset commit after foreachBatch
    * succeeded) would have skipped every stage via these manifests; after
    * GC it replays as a pure READ-BACK: [[runIncremental]] detects the
    * completed batch (committed nodes+edges — this GC keeps the head's)
    * and returns the snapshots without recomputing anything — no decode
    * re-pay, no tripping on the GC'd prev-forms manifest, no
    * resurrection of superseded snapshots (KgStagesSpec pins it). A
    * BELOW-head batch loses its view snapshots here, so its replay fails
    * fast with [[runIncremental]]'s superseded-batch error instead.
    * Only a PARTIALLY-complete head batch resumes compute, and then
    * only its uncommitted stages. The
    * convs_b registries are not GC'd here — the disjointness guard
    * must see every prior conversation; [[compactConvs]] folds them
    * into generations instead. */
  def gcBatchArtifacts(root: String, completedBatch: Int): Unit = {
    import graft.sources.IcebergishTable
    require(completedBatch >= 0)
    require(IcebergishTable.isCommitted(root, s"edges_b$completedBatch"),
      s"batch $completedBatch has not committed its edges snapshot — " +
        "GC only runs behind a completed batch")
    deleteManifests(root,
      (0 to completedBatch).flatMap(i =>
        Seq(s"decoded_b$i", s"mentions_b$i", s"linked_b$i")) ++
      (0 until completedBatch).flatMap(i =>
        Seq(s"surface_forms_b$i", s"canon_map_b$i", s"nodes_b$i",
          s"edges_b$i")))
  }

  /** Manifest-only GC: delete each snapshot's manifest if present
    * (idempotent; data directories are left for
    * [[graft.sources.IcebergishTable.vacuum]]). */
  private def deleteManifests(root: String, snapshots: Seq[String]): Unit =
    snapshots.foreach { s =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        graft.sources.IcebergishTable.manifestPath(root, s)))
    }
}
