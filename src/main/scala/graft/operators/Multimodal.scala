package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column plumbing: image/audio/video travel as opaque `binary`
 * columns with typed metadata structs. The Spark-side machinery — schema,
 * batched per-partition processing, partition sizing — is real and tested.
 *
 * Codecs (round 4): IMAGE decode/feature-extract and AUDIO (WAV/
 * AIFF/AU) decode/feature-extract are REAL, via the JDK's own
 * `javax.imageio` (png/jpeg/gif/bmp/tiff readers ship with Java 17) and
 * `javax.sound.sampled` — no external libraries. Payloads that no JDK
 * reader recognizes (e.g. webp, or the synthetic text blobs the
 * q_multimodal_meta gate uses) fall back to [[decodeImageStub]], the
 * deterministic fake that keeps the plumbing exercised. VIDEO (round 5):
 * [[demuxFrames]]/[[sampleVideoFrames]] REALLY demux the multi-frame
 * container the JDK can read (animated GIF) — frame enumeration, strided
 * sampling, per-frame pixel decode + luminance feature — which is the
 * working example of the recipe an mp4/webm stage follows with JavaCV or
 * a Python `mapInPandas` UDF (same schema/batching; only the demuxer
 * library differs). [[encodeGif]] is the sink-side twin, used to
 * synthesize deterministic fixtures with no external tools.
 *
 * Scale notes: binary payloads dominate partition size, so callers should
 * size `spark.sql.files.maxPartitionBytes` to the media, not the metadata;
 * feature extraction is mapPartitions-batched (one decoder instance per
 * partition, the broadcast-model pattern again — src/prod.py:14-15 analog).
 */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int,
      n_bytes: Long)
  final case class MediaFeature(media_id: Long, meta: MediaMeta,
      histogram: Array[Double])
  final case class AudioMeta(encoding: String, sample_rate: Float,
      channels: Int, frames: Long, n_bytes: Long)

  /**
   * STUB decoder: the deterministic fallback for payloads no JDK image
   * reader recognizes — derives (format, width, height) from the payload
   * header bytes so non-image rows still flow through the real plumbing
   * deterministically instead of erroring.
   */
  def decodeImageStub(bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.isEmpty) return MediaMeta("empty", 0, 0, 0L)
    val w = 64 + (java.lang.Byte.toUnsignedInt(bytes(0)) % 64) * 16
    val h = 64 + (java.lang.Byte.toUnsignedInt(
      bytes(math.min(1, bytes.length - 1))) % 64) * 16
    val fmt = (bytes(0) & 3) match {
      case 0 => "jpeg"; case 1 => "png"; case 2 => "webp"; case _ => "bin"
    }
    MediaMeta(fmt, w, h, bytes.length.toLong)
  }

  /** Memory-backed image input: ImageIO's default
    * `createImageInputStream(InputStream)` uses a DISK cache — it spills
    * every payload to a java.io.tmpdir file and deletes it afterwards,
    * which on the per-row hot path means two temp-file round-trips per
    * image for data that is already fully in memory. */
  private def memStream(bytes: Array[Byte]) =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))

  /** One-open decode: match a reader once and return BOTH the header
    * metadata and the raster — the per-row feature path must not pay two
    * stream/reader/header cycles per image. None if unrecognized. */
  def decodeImage(bytes: Array[Byte])
      : Option[(MediaMeta, java.awt.image.BufferedImage)] = {
    if (bytes == null || bytes.isEmpty) return None
    val iis = memStream(bytes)
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val r = readers.next()
      try {
        r.setInput(iis)
        val meta = MediaMeta(r.getFormatName.toLowerCase(java.util.Locale.ROOT),
          r.getWidth(0), r.getHeight(0), bytes.length.toLong)
        Some((meta, r.read(0)))
      } finally r.dispose()
    } catch { case _: Exception => None }
    finally iis.close()
  }

  /** Normalized luminance histogram over the REAL decoded pixels (the
    * image-side feature; bucket = Rec.601 luma / (256/buckets)). */
  def luminanceHistogram(img: java.awt.image.BufferedImage,
      buckets: Int = 16): Array[Double] = {
    val hist = new Array[Double](buckets)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum * buckets / 256) += 1.0
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    if (n > 0) { var i = 0; while (i < buckets) { hist(i) /= n; i += 1 } }
    hist
  }

  /** REAL audio metadata + per-window RMS-energy feature for the formats
    * the JDK decodes (WAV/AIFF/AU PCM). None if unrecognized. */
  def audioMeta(bytes: Array[Byte]): Option[AudioMeta] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
      try {
        val f = in.getFormat
        Some(AudioMeta(f.getEncoding.toString, f.getSampleRate,
          f.getChannels, in.getFrameLength, bytes.length.toLong))
      } finally in.close()
    } catch { case _: Exception => None }

  /** RMS energy per fixed-size sample window over the decoded 16-bit PCM
    * stream — the audio-side feature (None for non-audio payloads). */
  def rmsEnergy(bytes: Array[Byte], windows: Int = 16): Option[Array[Double]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes)))
      try {
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16) return None
        val raw = in.readAllBytes()
        val bb = java.nio.ByteBuffer.wrap(raw).order(
          if (f.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN)
        val nSamples = raw.length / 2
        if (nSamples == 0) return Some(new Array[Double](windows))
        val out = new Array[Double](windows)
        val counts = new Array[Long](windows)
        var i = 0
        while (i < nSamples) {
          val s = bb.getShort(i * 2) / 32768.0
          val w = math.min(windows - 1, (i.toLong * windows / nSamples).toInt)
          out(w) += s * s; counts(w) += 1
          i += 1
        }
        var w = 0
        while (w < windows) {
          out(w) = if (counts(w) == 0) 0.0 else math.sqrt(out(w) / counts(w))
          w += 1
        }
        Some(out)
      } finally in.close()
    } catch { case _: Exception => None }

  /** 16-bucket byte histogram (the stand-in "feature extraction"; a real
    * pipeline would emit an embedding). Pure, allocation-light. */
  def byteHistogram(bytes: Array[Byte], buckets: Int = 16): Array[Double] = {
    val hist = new Array[Double](buckets)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist(java.lang.Byte.toUnsignedInt(bytes(i)) * buckets / 256) += 1.0
      i += 1
    }
    hist.map(_ / bytes.length)
  }

  /** media(media_id bigint, payload binary) -> features. Batched
    * mapPartitions: decoder state initialized once per partition. Real
    * images (any JDK-readable format) get real header metadata + a
    * pixel-luminance histogram; everything else flows through the
    * deterministic stub + byte histogram (so mixed/mostly-synthetic
    * corpora never error). */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (codec contexts, models)
        it.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some((meta, img)) =>
              MediaFeature(id, meta, luminanceHistogram(img))
            case None =>
              MediaFeature(id, decodeImageStub(payload), byteHistogram(payload))
          }
        }
      }
  }

  /** Demo media table synthesized from any text table: payload =
    * UTF-8 bytes standing in for an image blob (deterministic). */
  def mediaFromDocuments(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"))

  final case class VideoFrame(media_id: Long, frame_idx: Int, width: Int,
      height: Int, histogram: Array[Double])

  /** REAL container demux via javax.imageio for multi-frame payloads
    * (animated GIF — also multi-page TIFF — are the formats the JDK
    * reader enumerates frames for): match a reader once, count frames
    * with `getNumImages(allowSearch)`, decode every `stride`-th frame,
    * emit its luminance histogram. Empty for single-frame or
    * unrecognized payloads. This is the working example of the video
    * recipe: same (demux → sample → per-frame feature) shape a JavaCV/
    * ffmpeg stage would implement for mp4/webm. */
  def demuxFrames(bytes: Array[Byte], stride: Int = 4)
      : Seq[(Int, Int, Int, Array[Double])] = {
    if (bytes == null || bytes.isEmpty) return Seq.empty
    val iis = memStream(bytes)
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return Seq.empty
      val r = readers.next()
      try {
        r.setInput(iis)
        val n = r.getNumImages(true) // allowSearch: scans the container
        if (n <= 1) return Seq.empty
        (0 until n by math.max(1, stride)).map { i =>
          val img = r.read(i)
          (i, img.getWidth, img.getHeight, luminanceHistogram(img))
        }
      } finally r.dispose()
    } catch { case _: Exception => Seq.empty }
    finally iis.close()
  }

  /** video(media_id bigint, payload binary) -> sampled decoded frames.
    * Batched mapPartitions like [[extractFeatures]]; a 100 TB video
    * corpus runs this embarrassingly parallel with payload-sized input
    * splits. */
  def sampleVideoFrames(spark: SparkSession, media: DataFrame,
      stride: Int = 4): Dataset[VideoFrame] = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          demuxFrames(payload, stride).map { case (i, w, h, hist) =>
            VideoFrame(id, i, w, h, hist)
          }
        }
      }
  }

  /** Animated-GIF ENCODER (writeToSequence) — the sink-side twin of
    * [[demuxFrames]], used to synthesize deterministic multi-frame
    * fixtures with no media files or external tools. */
  def encodeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Solid-gray frame helper for deterministic video fixtures. */
  def solidFrame(width: Int, height: Int, gray: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(new java.awt.Color(gray, gray, gray))
      g.fillRect(0, 0, width, height)
    } finally g.dispose()
    img
  }
}
