package kgbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Task-level totals of the Spark jobs run under one span label. */
final class SpanTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id -> (task run times, stage read shuffle data) */
  val stageTasks = mutable.Map.empty[Int, (mutable.ArrayBuffer[Long], Boolean)]

  /** max / median task run time of the heaviest shuffle-reading stage
    * (the heaviest stage of any kind if none reads a shuffle). */
  def taskSkew: Double = {
    val reading = stageTasks.values.filter(_._2)
    val pool = if (reading.nonEmpty) reading else stageTasks.values
    if (pool.isEmpty) return 1.0
    val ts = pool.maxBy(_._1.sum)._1.sorted
    math.max(1L, ts.last).toDouble / math.max(1L, ts(ts.length / 2))
  }
}

/** Attributes every Spark job to the span label the driver thread carried
  * when the job started (a local property, so jobs of a span launched from
  * pool threads inherit it), and sums each label's task metrics. */
final class Spans(sc: SparkContext) extends SparkListener {
  private val Key = "kgbench.span"
  private val stageLabel = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, SpanTotals]

  sc.addSparkListener(this)

  def apply[A](label: String)(body: => A): A = {
    sc.setLocalProperty(Key, label)
    try body finally sc.setLocalProperty(Key, null)
  }

  /** The label's totals once every queued listener event was delivered;
    * the label starts again from zero. */
  def take(label: String): SpanTotals = {
    org.apache.spark.KgBenchBus.drain(sc)
    synchronized(totals.remove(label).getOrElse(new SpanTotals))
  }

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val label = Option(js.properties).flatMap(p => Option(p.getProperty(Key)))
    label.foreach { l =>
      totals.getOrElseUpdate(l, new SpanTotals).jobs += 1
      js.stageIds.foreach(stageLabel(_) = l)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLabel.get(te.stageId); m <- Option(te.taskMetrics)) {
      val t = totals.getOrElseUpdate(l, new SpanTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val reads = m.shuffleReadMetrics.totalBytesRead > 0
      val (ts, r) = t.stageTasks.getOrElse(te.stageId,
        (mutable.ArrayBuffer.empty[Long], false))
      ts += m.executorRunTime
      t.stageTasks(te.stageId) = (ts, r || reads)
    }
  }
}
