package graft.tools

import org.apache.spark.sql.SparkSession

/** Timed END-TO-END KgRunner run — all 16 snapshot stages: narrow triple
  * extraction, mention/link tables, star-forest canonicalization,
  * partitioned nodes/edges, metadata. This is the executor-pair scale
  * point for the shuffle/write stages that the narrow [[ScaleProbe]]
  * pipeline doesn't exercise (a real cluster diverges from threads exactly
  * there).
  *
  * Usage: E2eProbe <cpus> <pages[,pages2,...]> [rounds]; SPARK_MASTER
  * overrides the master (e.g. SPARK_MASTER=local-cluster[4,2,4096] for four
  * real executor JVMs). Fresh output dir per round — resume would otherwise
  * skip every committed stage — removed after counting.
  *
  * A comma-separated pages list runs one round per entry back-to-back in
  * the SAME session and prints a t = a·P + F fit per adjacent pair: this
  * host's capacity drifts in multi-minute phases, so a two-point floor fit
  * from SEPARATE runs measures the weather, not F (a 20k run read 27.3 s
  * and 37.3 s twenty minutes apart on identical code). Within-session
  * adjacent rounds share a phase.
  */
object E2eProbe {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val pagesList = args(1).split(",").map(_.trim.toLong).toSeq
    val pages = pagesList.head
    val rounds =
      if (pagesList.length > 1) pagesList.length
      else if (args.length > 2) args(2).toInt
      else 2
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // scorer hot loops need thousands of sentences before C2 compiles them
    graft.pipeline.Pipeline.triples(spark, 1000, cpus * 4).count()
    graft.pipeline.Pipeline.triples(spark, 1000, cpus * 4).count()
    // warm the FULL stage graph once: the first KgRunner round in a session
    // pays ~18 s of whole-stage-codegen/JIT for the link/canon/write plans
    // that the narrow warm-up above never touches (measured 43.2 s cold vs
    // 24.6 s warm for the same 20k round) — that cost belongs to the
    // session, not to the measured rounds
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    locally {
      val wdir = java.nio.file.Files.createTempDirectory("e2e_warm").toString
      graft.KgRunner.run(spark, wdir, 2000, cpus)
      rm(new java.io.File(wdir))
    }
    val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    for (round <- 1 to rounds) {
      val p = if (pagesList.length > 1) pagesList(round - 1) else pages
      val dir = java.nio.file.Files.createTempDirectory(s"e2e_r$round").toString
      val t0 = System.nanoTime()
      graft.KgRunner.run(spark, dir, p, cpus)
      val sec = (System.nanoTime() - t0) / 1e9
      val triples = spark.read.parquet(s"$dir/triples").count()
      val edges = spark.read.parquet(s"$dir/edges").count()
      println(f"E2EPROBE round=$round cpus=$cpus pages=$p triples=$triples edges=$edges sec=$sec%.2f tps=${triples / sec}%.0f")
      samples += ((p, sec))
      rm(new java.io.File(dir))
    }
    // per-adjacent-pair floor fit (same host phase by construction)
    samples.toSeq.sliding(2).foreach {
      case Seq((p1, t1), (p2, t2)) if p1 != p2 =>
        val a = (t2 - t1) / (p2 - p1)
        val f = t1 - a * p1
        println(f"E2EFIT p1=$p1 p2=$p2 a_ms_per_page=${a * 1000}%.4f F=$f%.2f pred100k=${a * 100000 + f}%.2f")
      case _ => ()
    }
    spark.stop()
  }
}
