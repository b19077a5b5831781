package perfbench

import java.io.File

/** Self-tests of the benchmark's own machinery, on a small build:
  *   - the listener attributes every one of KgRunner's 16 snapshot dirs,
  *     each written by exactly one root execution;
  *   - before a tail resume exactly canon, nodes and edges lack manifests,
  *     and all 16 have them afterwards (checked inside `Layers.tailResume`);
  *   - the digest is identical across two calls on the same output.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val cores = args.grouped(2).collect { case Array("--cores", v) => v.toInt }
      .toSeq.headOption.getOrElse(2)
    val work = new File("selftest").getAbsolutePath
    val out = s"$work/kg"
    Inputs.deleteTree(new File(work))
    val spark = Main.session(cores, work)
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    var failed = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception => println(s"  $e"); false }
      println(s"${if (r) "ok  " else "FAIL"} $name")
      if (!r) failed += 1
    }
    val all = (Layers.SnapshotStages ++ Layers.MetadataDirs).toSet
    val m = trace.mark(spark.sparkContext)
    graft.KgRunner.run(spark, out, 30, cores)
    val w = trace.since(spark.sparkContext, m)

    check("the build commits the 16 snapshot dirs") {
      Inputs.manifestRows(out).collect { case (d, Some(_)) => d }.toSet == all
    }
    check("each snapshot dir is written by exactly one root execution") {
      trace.writeRoots(w, out) == all.map(_ -> 1).toMap
    }
    check("every execution of the build is attributed to a snapshot dir") {
      val owner = trace.attribute(w, out)
      owner.values.toSet == all && w.execs.forall(e => owner.contains(e.id))
    }
    check("the annotate scan is found in the build's plans") {
      w.execs.exists(e => Trace.scansAnnotate(e.plan))
    }
    check("digest is identical across two calls on the same output") {
      Seq("nodes", "edges").forall { t =>
        val df = spark.read.parquet(s"$out/$t")
        Inputs.digest(df) == Inputs.digest(spark.read.parquet(s"$out/$t"))
      }
    }
    check("tail resume recomputes exactly canon, nodes and edges") {
      val before = Seq("nodes", "edges")
        .map(t => Inputs.digest(spark.read.parquet(s"$out/$t")))
      Layers.tailResume(spark, out, 30, cores) > 0 &&
        Seq("nodes", "edges").map(t => Inputs.digest(spark.read.parquet(s"$out/$t"))) == before
    }
    spark.stop()
    Inputs.deleteTree(new File(work))
    println(if (failed == 0) "selftest passed" else s"selftest: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
