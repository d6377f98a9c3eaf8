package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Iceberg-style checkpoint table: Parquet data files + a JSON snapshot
 * manifest committed LAST (write-temp-then-atomic-rename), giving the
 * north rule's resumability semantics without an Iceberg runtime (none in
 * /opt/spark/jars — SURVEY.md §7): a stage's output is visible iff its
 * manifest says `committed`, so a killed run can never observe a partial
 * snapshot, and resume = "skip stages whose committed snapshot exists".
 *
 * Lineage: the manifest records per output partition the conv_id (or
 * first-column) min/max and row count — enough to trace any output
 * partition back to its input key range — plus the parent snapshot id,
 * forming the stage DAG. Swappable for real Iceberg behind the same
 * methods.
 *
 * Schema: the manifest also carries the snapshot's Spark schema (the
 * `StructType` JSON the parquet writer stores in every footer), so
 * [[read]] passes it to the reader and a read-back launches no
 * schema-inference job.
 *
 * Layout: `<root>/<stage>/data/` (parquet), `<root>/<stage>/manifest.json`
 */
object IcebergishTable {

  /** One data file's lineage entry. `pid` is the output FILE index in
    * filename order (part-00000… = 0) — with one file per write task this
    * coincides with the partition id, but after AQE coalescing or
    * maxRecordsPerFile splitting it is simply the file ordinal.
    * `statsExact` is false when the parquet footer omitted or truncated
    * the key column's chunk statistics (e.g. very large binary values):
    * keyMin/keyMax are then empty and the entry must not be used for
    * key-range pruning. */
  final case class PartitionLineage(pid: Int, keyMin: String, keyMax: String,
      rows: Long, statsExact: Boolean = true)
  final case class Manifest(snapshotId: String, stage: String,
      parentSnapshot: String, rows: Long, partitions: Seq[PartitionLineage],
      committed: Boolean, wallMs: Long = 0L, schema: Option[StructType] = None)

  /** Footer key under which Spark's parquet writer stores the row schema
    * (`ParquetReadSupport.SPARK_METADATA_KEY`) — the value Spark's own
    * schema inference returns for the file. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  /** Writes and parses manifests, so any key string round-trips. */
  private val ManifestCodec = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Compact JSON; the top-level `rows` precedes the per-file ones. */
  private def manifestJson(m: Manifest): String = {
    val root = ManifestCodec.createObjectNode()
      .put("snapshot_id", m.snapshotId).put("stage", m.stage)
      .put("parent_snapshot", m.parentSnapshot).put("rows", m.rows)
      .put("wall_ms", m.wallMs)
    val parts = root.putArray("partitions")
    m.partitions.foreach(p => parts.addObject().put("pid", p.pid)
      .put("key_min", p.keyMin).put("key_max", p.keyMax)
      .put("rows", p.rows).put("stats_exact", p.statsExact))
    root.put("committed", m.committed)
    m.schema.foreach(st => root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", ManifestCodec.readTree(st.json)))
    ManifestCodec.writeValueAsString(root)
  }

  def manifestPath(root: String, stage: String) = s"$root/$stage/manifest.json"
  def dataPath(root: String, stage: String) = s"$root/$stage/data"

  /** The stage's manifest text, if its snapshot is committed. */
  private def committedManifest(root: String, stage: String): Option[String] = {
    val p = Paths.get(manifestPath(root, stage))
    Option.when(Files.exists(p))(Files.readString(p))
      .filter(_.contains("\"committed\":true"))
  }

  /** Is there a committed snapshot for this stage? */
  def isCommitted(root: String, stage: String): Boolean =
    committedManifest(root, stage).isDefined

  /**
   * Commit a stage: write parquet (the ONE pass over the data), then build
   * per-file lineage (min/max of `keyCol` + row count) from the written
   * files' parquet FOOTER STATISTICS — the same way real Iceberg builds
   * manifests from data-file metrics. The old form persisted the full
   * stage output and made a second aggregation pass: at 100 TB a
   * MEMORY_AND_DISK persist per stage is a real cost and a spill risk;
   * footers are a driver-side metadata read (KBs per file, no executor
   * work at all).
   *
   * `pid` = output file index in filename order (part-00000... = 0; see
   * [[PartitionLineage]] for the exact semantics); min/max come from the
   * column chunk statistics, compared in the column's OWN type order
   * (numeric keys compare numerically — an improvement over the old
   * cast-to-string lexicographic min/max) and stringified for the
   * manifest. Footers are fetched by a bounded thread pool (serial reads
   * were the commit's critical path once file counts reach 10^5); entries
   * whose footer lacks usable key statistics are flagged
   * `stats_exact=false` and logged rather than silently written empty.
   * The first footer also yields the Spark schema the writer stored
   * (all files of one write carry the same one); the manifest records it
   * for [[read]]. Deterministic snapshot id = stage + row count + parent
   * (content-derived, no wall clock). `df` is by-name and forced after
   * the clock starts, so `wall_ms` covers eager driver work done while
   * building it (e.g. `canonicalMap`'s collects), not just the write.
   */
  def commit(spark: SparkSession, df: => DataFrame, root: String, stage: String,
      keyCol: String, parentSnapshot: String = "none"): Manifest = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    val t0 = System.nanoTime()
    val out = dataPath(root, stage)
    df.write.mode("overwrite").parquet(out)
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(conf)
    def statToString(v: Any): String = v match {
      case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
      case x => String.valueOf(x)
    }
    val files = fs.listStatus(outPath).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // Footer reads are metadata-only (KBs each) but LATENCY-bound against
    // a remote object store: at 10^5 output files a serial driver loop
    // becomes the commit's critical path, so fan the reads out over up to
    // 32 threads (sized for IO latency hiding, not CPU; input order kept).
    val footers = graft.Par.orderedMap(files.zipWithIndex, 32) { case (f, pid) =>
      val meta = ParquetFileReader.readFooter(conf, f.getPath,
        ParquetMetadataConverter.NO_FILTER)
      val blocks = meta.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      // merge the keyCol chunk stats across row groups (type-ordered)
      val stats = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == keyCol).map(_.getStatistics))
        .filter(s => s != null && s.hasNonNullValue)
      val merged = stats.reduceOption { (a, b) => a.mergeStatistics(b); a }
      (PartitionLineage(pid,
        merged.map(s => statToString(s.genericGetMin)).getOrElse(""),
        merged.map(s => statToString(s.genericGetMax)).getOrElse(""),
        nRows, statsExact = merged.nonEmpty || nRows == 0),
        meta.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
    }
    val lineage = footers.map(_._1)
    val schema = footers.headOption.flatMap(f => Option(f._2))
      .map(DataType.fromJson).collect { case st: StructType => st }
    lineage.filter(p => !p.statsExact).foreach { p =>
      System.err.println(s"[icebergish] $stage pid=${p.pid}: parquet footer " +
        s"carries no usable statistics for key column '$keyCol' — lineage " +
        "entry flagged stats_exact=false (not usable for key-range pruning)")
    }
    val rows = lineage.map(_.rows).sum
    // per-stage metrics (SURVEY §7.6): rows + wall ms, per-partition rows
    // and key ranges already carried by the lineage entries
    val m = Manifest(s"$stage-$rows-$parentSnapshot", stage, parentSnapshot,
      rows, lineage, committed = true,
      wallMs = (System.nanoTime() - t0) / 1000000L, schema = schema)
    // write-then-rename: the manifest (visibility point) appears atomically
    val tmp = Paths.get(manifestPath(root, stage) + ".tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, manifestJson(m))
    Files.move(tmp, Paths.get(manifestPath(root, stage)),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    m
  }

  /** Read a committed snapshot (throws if absent/uncommitted) with the
    * schema its manifest records, so no job infers it from the footers
    * (Spark applies the same `asNullable` to a given schema as to an
    * inferred one, so the frame's schema is identical). A manifest
    * written before schemas were recorded reads by inference. */
  def read(spark: SparkSession, root: String, stage: String): DataFrame = {
    val manifest = committedManifest(root, stage)
    require(manifest.isDefined, s"no committed snapshot for $stage")
    val schema = Option(ManifestCodec.readTree(manifest.get).get("schema"))
      .map(n => DataType.fromJson(n.toString).asInstanceOf[StructType])
    schema.fold(spark.read)(spark.read.schema).parquet(dataPath(root, stage))
  }

  /** Run-or-resume: reuse the committed snapshot if present, else compute,
    * commit, and return the re-read (so downstream reads columnar files,
    * not the recomputation lineage). */
  def stage(spark: SparkSession, root: String, stageName: String,
      keyCol: String, parent: String)(compute: => DataFrame): DataFrame = {
    if (!isCommitted(root, stageName))
      commit(spark, compute, root, stageName, keyCol, parent)
    read(spark, root, stageName)
  }

  /** Physical-delete companion to the manifest-level GC in
    * `Pipeline.compactTriples`/`gcBatchArtifacts` (both delete only
    * manifests — the idempotent, crash-safe step — and leave data
    * directories "for out-of-band removal": this is that removal).
    * Deletes every STAGE-SHAPED directory under `root` (one holding a
    * data/ dir or a possibly-half-written manifest) that has NO committed
    * manifest, and returns the deleted stage names. Non-stage directories
    * a user co-locates under the root (a streaming checkpoint, logs) are
    * never touched.
    *
    * MUST only run while no writer is active on `root` (the standard
    * expire-snapshots caveat): a stage mid-write has data and no manifest
    * yet, indistinguishable from GC'd garbage. Readers are safe — they
    * only ever open directories their committed manifest names. */
  def vacuum(root: String): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val listing = Files.list(rootPath) // NIO streams hold open dir handles
    val stages =
      try listing.iterator().asScala.filter(Files.isDirectory(_)).toSeq
      finally listing.close()
    // Only STAGE-SHAPED directories (a data/ dir or a manifest, possibly
    // half-written) are candidates: users co-locate non-stage state under
    // the root — a Structured Streaming checkpoint, logs — and "no
    // committed manifest" must never condemn those.
    def stageShaped(d: java.nio.file.Path): Boolean =
      Files.isDirectory(d.resolve("data")) ||
        Files.exists(d.resolve("manifest.json")) ||
        Files.exists(d.resolve("manifest.json.tmp"))
    val dead = stages.filter(d =>
      stageShaped(d) && !isCommitted(root, d.getFileName.toString))
    dead.foreach { d =>
      val walk = Files.walk(d)
      val entries =
        try walk.iterator().asScala.toSeq
        finally walk.close()
      entries.sortBy(_.getNameCount)(Ordering.Int.reverse) // children first
        .foreach(Files.deleteIfExists(_))
    }
    dead.map(_.getFileName.toString).sorted
  }
}
