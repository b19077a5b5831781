package graft.tools

import org.apache.spark.sql.SparkSession

/** Measures the ExactSubstr gram-stage shuffle saving of hashed gram keys:
  * runs `exactSubstringDedup` with hashGrams=false then =true on the same
  * corpus and prints total shuffle-write bytes + wall seconds for each
  * (`runMain graft.tools.SubstrShuffleProbe <sfDir>`). Asserts the two
  * paths produce identical output (count + sum of n_removed + xor of
  * kept-text hashes) — the hash-key swap must be a pure transport change.
  */
object SubstrShuffleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val meter = new ShuffleMeter(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(hashGrams: Boolean): (Long, Long, Long, Double, Double) = {
      def once(): (Long, Long, Long) = {
        val r = graft.textops.Dedup
          .exactSubstringDedup(docs, "doc_id", "text", 8, hashGrams)
          .agg(count(lit(1)), sum(col("n_removed")),
            expr("bit_xor(xxhash64(kept_text))"))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      once() // warm
      meter.reset()
      val t0 = System.nanoTime()
      val sig = once()
      val sec = (System.nanoTime() - t0) / 1e9
      (sig._1, sig._2, sig._3, sec, meter.mb())
    }
    val s = run(hashGrams = false)
    val h = run(hashGrams = true)
    println(f"SUBSTRPROBE string sec=${s._4}%.3f shuffleMB=${s._5}%.2f")
    println(f"SUBSTRPROBE hashed sec=${h._4}%.3f shuffleMB=${h._5}%.2f")
    require((s._1, s._2, s._3) == (h._1, h._2, h._3),
      s"hashed/string outputs diverged: $s vs $h")
    println("SUBSTRPROBE outputs identical")
    spark.stop()
  }
}
