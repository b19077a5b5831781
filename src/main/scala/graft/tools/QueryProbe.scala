package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query timing + shuffle-byte meter:
  * `runMain graft.tools.QueryProbe <sfDir> <q1> [q2 ...]`.
  * Each query: one cold run (≈ what the Bench suite measures), one warm
  * run with wall seconds + total shuffle-write bytes across its stages
  * (listener-bus-drained, not sleep-raced). Used for targeted perf triage
  * (e.g. the dedup family) without paying for the whole Bench suite.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ShuffleMeter(spark)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val tc = System.nanoTime()
      fn(spark, sfDir).count() // cold (≈ the Bench suite's measurement)
      val coldSec = (System.nanoTime() - tc) / 1e9
      meter.reset()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"QUERYPROBE $name rows=$n cold=$coldSec%.3f warm=$sec%.3f shuffleMB=${meter.mb()}%.1f")
    }
    spark.stop()
  }
}
