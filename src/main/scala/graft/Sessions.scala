package graft

import org.apache.spark.sql.SparkSession

object Sessions {

  /** The local session the bench legs, [[BenchExtra]] and [[Demo]] run
    * in: `local[cores]` with as many shuffle partitions, AQE on, UTC, no
    * UI, and file splits sized to the machine rather than the 128MB
    * default (a few-hundred-MB input would otherwise bin-pack into a
    * handful of scan partitions and cap parallelism below `cores`). Log
    * level WARN. */
  def localSession(cores: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
