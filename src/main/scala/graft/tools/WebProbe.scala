package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level timing of the webgraph queries' shared pieces at sfDir:
  * edge extraction, persist fill, per-iteration cost of hostRank/hits —
  * used to decide where the r6 iteration-shuffle work should stop.
  * `runMain graft.tools.WebProbe <sfDir> [rounds=2]`
  */
object WebProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rounds = if (args.length > 1) args(1).toInt else 2
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
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"WEBPROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    (1 to rounds).foreach { round =>
      println(s"WEBPROBE -- round $round --")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val aug = docs.withColumn("text", concat(
        coalesce(col("text"), lit("")),
        lit(" link https://src"), ((col("doc_id") + 1) % 20).cast("string"),
        lit("/page"),
        when(col("doc_id") % 3 === 0,
          lit(" see https://hub.example.com/x")).otherwise(lit("")),
        lit(" via https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.net/p")))
      val edges0 = graft.textops.WebGraph.hostGraphEdges(aug, "source", "text")
      time("extract_count")(edges0.count())
      val e = edges0.select(col("src"), col("dst"))
        .repartition(col("src")).persist()
      time("persist_fill")(e.count())
      val eD = e.repartition(col("dst")).persist()
      time("persist_dst_fill")(eD.count())
      time("nodes_distinct") {
        e.select(col("src").as("host"))
          .union(e.select(col("dst").as("host"))).distinct().count()
      }
      time("full_hostRank")(
        graft.textops.WebGraph.hostRank(edges0, 3).count())
      time("full_hits")(
        graft.textops.WebGraph.hits(edges0, 3).count())
      e.unpersist(); eD.unpersist()
    }
    spark.stop()
  }
}
