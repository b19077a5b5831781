package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark process: one workload, closed loop, one unit of work at a
  * time. Prints one `PERFBENCH_RESULT {json}` line with the raw samples,
  * output checks and (traced) per-layer metrics; `run.py` turns it into the
  * reported metrics.
  *
  *   perfbench.Main --workload kg_build|corpus_dedup --seconds S
  *     --trace 0|1 --cores P --work DIR --pages N --corpus DIR
  */
object Main {
  /** corpus_dedup's queries, in the order they run. */
  val Queries = Seq("dedup_minhash_lsh", "dedup_cluster_pick",
    "dedup_embedding_cos", "dedup_semantic", "web_host_rank",
    "web_host_components", "tq_corpus_prep", "dedup_url_exact",
    "tq_fingerprint")

  /** One unit's wall time, its parts (per query for corpus_dedup), output
    * checks and bytes committed.
    */
  final case class Sample(workload: String, seconds: Double,
      parts: Seq[(String, Double)], checks: Map[String, String], bytes: Long,
      loadBefore: Double, loadAfter: Double, error: Option[String])

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  /** Peak usage of the heap pools that hold long-lived data (the old
    * generation), in MB.
    */
  def oldGenPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** The session settings of `KgRunner.main`, with every local file the
    * session writes kept under `work`.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One KgRunner build into a fresh dir; checks are read after the timed
    * window: every manifest's row count and digests of nodes and edges.
    */
  def kgUnit(spark: SparkSession, dir: String, pages: Long, cores: Int,
      keep: Boolean = false, afterBuild: Double => Unit = _ => ()): Sample = {
    Inputs.deleteTree(new File(dir))
    val lb = loadAvg()
    val t0 = System.nanoTime()
    val err = try { graft.KgRunner.run(spark, dir, pages, cores); None }
    catch { case e: Exception => Some(e.toString) }
    val secs = (System.nanoTime() - t0) / 1e9
    val la = loadAvg()
    afterBuild(secs)
    val checks = if (err.nonEmpty) Map.empty[String, String] else
      Inputs.manifestRows(dir).map { case (d, r) =>
        s"rows.$d" -> r.fold("missing")(_.toString)
      } ++ Seq("nodes", "edges").map(t =>
        s"digest.$t" -> Inputs.digest(spark.read.parquet(s"$dir/$t")))
    val bytes = Inputs.bytesUnder(new File(dir))
    if (!keep) Inputs.deleteTree(new File(dir))
    Sample("kg_build", secs, Nil, checks, bytes, lb, la, err)
  }

  /** The nine curation queries, each forced by writing its result as
    * parquet under `dir`; digests are read back after the timed window.
    */
  def dedupUnit(spark: SparkSession, dir: String, corpus: String,
      perQuery: (String, () => Unit) => Unit = (_, f) => f()): Sample = {
    Inputs.deleteTree(new File(dir))
    val lb = loadAvg()
    val parts = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    val err = try {
      Queries.foreach { q =>
        val tq = System.nanoTime()
        perQuery(q, () => graft.SparkEntry.queries(q)(spark, corpus)
          .write.mode("overwrite").parquet(s"$dir/$q"))
        parts += q -> (System.nanoTime() - tq) / 1e9
      }
      None
    } catch { case e: Exception => Some(e.toString) }
    val secs = (System.nanoTime() - t0) / 1e9
    val la = loadAvg()
    val checks = if (err.nonEmpty) Map.empty[String, String] else
      Queries.map(q => s"digest.$q" -> Inputs.digest(spark.read.parquet(s"$dir/$q"))).toMap
    val bytes = Inputs.bytesUnder(new File(dir))
    Inputs.deleteTree(new File(dir))
    Sample("corpus_dedup", secs, parts.toSeq, checks, bytes, lb, la, err)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work")).getAbsolutePath
    val pages = opt("pages").toLong
    val corpus = new File(opt("corpus")).getAbsolutePath

    val spark = session(cores, work)
    val cache = new CacheMeter
    spark.sparkContext.addSparkListener(cache)
    val trace = new Trace
    if (traced) spark.sparkContext.addSparkListener(trace)
    val setupS = sinceJvmStart()

    def unit(i: Int): Sample =
      if (workload == "kg_build") kgUnit(spark, s"$work/kg/run$i", pages, cores)
      else dedupUnit(spark, s"$work/dedup/run$i", corpus)

    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var layers: Layers.Metrics = Nil
    if (!traced) {
      val t0 = System.nanoTime()
      while (samples.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        samples += unit(samples.size)
    } else {
      // The workload's own unit runs first and traced, as the untraced
      // run would run it (trace.run_s against run_s_median is the
      // overhead); then the other workload's unit and the layer probes, so
      // every traced run reports every per-layer metric.
      val kgDir = s"$work/kg/traced"
      def tracedKg(): Sample = {
        val gc0 = Layers.gcSeconds()
        val m = trace.mark(spark.sparkContext)
        val startMs = System.currentTimeMillis()
        kgUnit(spark, kgDir, pages, cores, keep = true, afterBuild = secs => {
          val gcS = Layers.gcSeconds() - gc0
          layers ++= Layers.buildMetrics(trace, trace.since(spark.sparkContext, m),
            kgDir, startMs, secs, cores, gcS)
        })
      }
      def tracedDedup(): Sample = dedupUnit(spark, s"$work/dedup/traced", corpus,
        (q, f) => {
          val m = trace.mark(spark.sparkContext)
          val secs = Layers.seconds(f())
          layers ++= Seq((s"textops.${q}_s", secs, "s"),
            (s"textops.$q.jobs", trace.since(spark.sparkContext, m).jobs.size.toDouble, "count"))
        })
      val (own, other) =
        if (workload == "kg_build") (tracedKg _, tracedDedup _)
        else (tracedDedup _, tracedKg _)
      samples += own()
      layers :+= (("trace.run_s", samples.head.seconds, "s"))
      samples += other()
      layers :+= (("resume.tail_s", Layers.tailResume(spark, kgDir, pages, cores), "s"))
      layers ++= Layers.sparkLayers(spark, trace, kgDir, pages, cores)
      layers ++= Layers.kernels(pages.toInt, 5)
      Inputs.deleteTree(new File(kgDir))
    }
    val rss = peakRssMb()
    val cacheStoredMb = cache.storedMb(spark.sparkContext)
    val cachePeakMb = cache.peakMb(spark.sparkContext)
    val corpusDocs = spark.read.parquet(s"$corpus/documents.parquet").count()

    val json = Json.obj(
      "workload" -> workload,
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "old_gen_peak_mb" -> oldGenPeakMb(),
      "cache_stored_mb" -> cacheStoredMb,
      "cache_peak_mb" -> cachePeakMb,
      "corpus_docs" -> corpusDocs,
      "samples" -> samples.map(s => Json.obj(
        "workload" -> s.workload, "seconds" -> s.seconds, "bytes" -> s.bytes,
        "parts" -> Json.obj(s.parts: _*),
        "load_before" -> s.loadBefore, "load_after" -> s.loadAfter,
        "error" -> s.error.orNull,
        "checks" -> Json.obj(s.checks.toSeq.sorted: _*))),
      "per_layer" -> layers.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "provenance" -> Json.obj(
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "master" -> spark.sparkContext.master))
    spark.stop()
    println("PERFBENCH_RESULT " + json)
  }
}

/** A process that only sets up, as a benchmark process does before its
  * first unit: JVM start and the Spark session. Set-up happens once per
  * process, so `run.py` runs a few of these to report its median.
  *
  *   perfbench.Setup --cores P --work DIR
  */
object Setup {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Main.session(opt("cores").toInt, new File(opt("work")).getAbsolutePath)
    println(s"PERFBENCH_SETUP ${Main.sinceJvmStart()}")
    spark.stop()
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  final class Raw(val s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw =
    new Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  private def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
