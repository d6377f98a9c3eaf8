package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.synth.TranscriptGen

/**
 * Extra measurement harness for optimization work (guide §1). NOT part of
 * the driver contract — [[Bench]] is frozen for measurement; this main
 * exists so per-query isolation runs and plan dumps don't touch it.
 *
 * Usage: runMain graft.BenchExtra <mode> [filterRegex] [outDir]
 *  - mode "time":  replicate Bench's query-timing protocol (same session
 *    config, same warm-up incl. warmKgPrefix, System.gc between queries,
 *    `time(df.count())`), optionally repeated SPARK_GRAFT_EXTRA_REPS
 *    times per query. Prints one JSON line: per query the min over the
 *    reps that succeeded (null if none did) and, under "failed", how many
 *    reps threw.
 *  - mode "plans": write `.explain("formatted")` for every matching query
 *    to <outDir>/<query>_<SPARK_GRAFT_EXTRA_SUFFIX>.txt.
 *  - mode "noop":  time each matching query with the noop sink (computes
 *    every column — guide §1.4) instead of count().
 *  - mode "jobs":  run each matching query once under a listener and
 *    print every Spark job's wall time and its SQL execution's call site
 *    (else its stage names) to stderr.
 *
 * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
 */
object BenchExtra {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "time"
    val filter = if (args.length > 1) args(1) else ".*"
    val outDir = if (args.length > 2) args(2) else "plans/r06"
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXTRA_SUFFIX", "before")
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "1").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.localSession(cpus, s"graft-bench-extra-$cpus")

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(filter))

    // same warm-up as Bench: table counts + codegen + shared KG prefixes.
    // A failed warm-up is reported and the run goes on: the timed KG
    // queries then include their decode.
    try {
      Seq("lineitem", "orders", "customer", "events", "documents",
        "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      Pipeline.extract(spark, TranscriptGen.generate(spark, 50L)).count()
      SparkEntry.warmKgPrefix(spark, sfDir)
    } catch {
      case e: Throwable => System.err.println(s"[warm-up] FAILED: $e")
    }

    mode match {
      case "plans" =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        selected.foreach { case (name, fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          System.err.println(s"[plans] wrote $outDir/${name}_$suffix.txt")
        }
      case "jobs" =>
        // per-job attribution: every Spark job's wall time + label, so
        // multi-job queries show where their seconds go. A SQL execution's
        // jobs carry its first user frame (line 2 of its `details`): AQE
        // submits them from a pool thread, so their stage names all read
        // `... at CompletableFuture`.
        val sites = new ConcurrentHashMap[String, String]()
        val events = new ConcurrentHashMap[Int, (Long, String)]()
        val done = new ConcurrentLinkedQueue[(Int, Long, String)]()
        val listener = new SparkListener {
          override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
            case x: SparkListenerSQLExecutionStart =>
              sites.put(x.executionId.toString, x.details.split("\n").take(2).last)
            case _ =>
          }
          override def onJobStart(js: SparkListenerJobStart): Unit = {
            val site = Option(js.properties.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(sites.get(id)))
            val desc = site.fold(js.stageInfos.map(si =>
              s"${si.name.takeWhile(_ != '\n').take(60)}/" +
                s"${si.numTasks}t").mkString(" | "))(cs =>
              s"sql@$cs/${js.stageInfos.map(_.numTasks).mkString("+")}t")
            events.put(js.jobId, (js.time, desc))
          }
          override def onJobEnd(je: SparkListenerJobEnd): Unit = {
            val s = events.remove(je.jobId)
            if (s != null) done.add((je.jobId, je.time - s._1, s._2))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        selected.foreach { case (name, fn) =>
          done.clear()
          System.gc()
          val sec = try f"${time(fn(spark, sfDir).count())}%.3f"
          catch { case _: Throwable => "FAILED" }
          Thread.sleep(200) // listener events drain asynchronously
          import scala.jdk.CollectionConverters._
          val jobs = done.asScala.toSeq.sortBy(_._1)
          System.err.println(s"[jobs] $name total=$sec njobs=${jobs.size}")
          jobs.foreach { case (id, ms, desc) =>
            System.err.println(f"[jobs]   job=$id%-4d ${ms / 1000.0}%6.3fs  $desc")
          }
        }
        spark.sparkContext.removeSparkListener(listener)
      case m =>
        val useNoop = m == "noop"
        val results = selected.map { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          // a failed rep is None: counted under "failed", never a time
          val samples = (1 to reps).map { _ =>
            System.gc()
            try Some(time {
              if (useNoop)
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              else fn(spark, sfDir).count()
            }) catch { case _: Throwable => None }
          }
          spark.sparkContext.setJobDescription(null)
          val best = samples.flatten.minOption
          val failed = samples.count(_.isEmpty)
          System.err.println(s"[time] $name min=${best.fold("-")(t => f"$t%.3f")} " +
            s"failed=$failed " +
            s"all=${samples.map(_.fold("FAILED")(t => f"$t%.3f")).mkString(",")}")
          (name, best, failed)
        }
        def obj(kv: Seq[(String, String)]) =
          kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        val qs = obj(results.map { case (k, b, _) =>
          k -> b.fold("null")(t => f"$t%.3f") })
        val failed = obj(results.map { case (k, _, f) => k -> f.toString })
        val total = results.flatMap(_._2).sum
        println(s"""{"metric":"bench-extra $m","queries":$qs,"failed":$failed,""" +
          s""""queries_total_sec":${f"$total%.3f"},"sf":"$sfDir","reps":$reps}""")
    }
    spark.stop()
  }
}
