package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.link.Link

class CanonSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df: DataFrame = edges.toDF("src", "dst")
    Canon.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain collapses to min label") {
    val m = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert((1L to 5L).forall(v => m(v) == 1L))
  }

  test("disjoint components stay disjoint with min labels") {
    val m = cc(Seq((10L, 11L), (20L, 21L), (21L, 22L), (30L, 31L)))
    assert(m(10L) == 10L && m(11L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L && m(22L) == 20L)
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("star with hot hub (skew shape) converges") {
    val hub = 500L
    val spokes = (1L to 200L).filter(_ != hub)
    val m = cc(spokes.map(s => (hub, s)))
    assert(m.values.toSet == Set(1L))
    assert(m.size == 201) // 200 spokes + hub
  }

  test("long path needs pointer jumping (diameter 60)") {
    val m = cc((1L to 60L).map(i => (i, i + 1)))
    assert((1L to 61L).forall(v => m(v) == 1L))
  }

  test("label is always a member of the component (partition validity)") {
    val edges = Seq((7L, 3L), (3L, 9L), (12L, 15L))
    val m = cc(edges)
    // build reachability the slow way
    assert(m(7L) == 3L && m(3L) == 3L && m(9L) == 3L)
    assert(m(12L) == 12L && m(15L) == 12L)
  }
}

class LinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("bigram jaccard") {
    assert(Link.bigramJaccard("高血压", "高血压") == 1.0)
    assert(Link.bigramJaccard("高血压病", "高血压") > 0.5)
    assert(Link.bigramJaccard("高血压", "阿司匹林") == 0.0)
  }

  test("candidates: same-type prefix within 2 chars via broadcast trie") {
    implicit val s = spark
    import s.implicits._
    val trie = graft.dict.Gazetteer.buildTrie(
      Map("高血压" -> "ds", "心脏" -> "og"))
    val trieB = spark.sparkContext.broadcast(trie)
    val surfaces = Seq(
      ("高血压病", "DIS"), // prefix + 1 char, same type → candidate
      ("高血压的治疗", "DIS"), // 3 extra chars → rejected
      ("高血压", "SYM"), // type mismatch → rejected
      ("心脏", "ORG") // exact → candidate (self)
    ).toDS()
    val out = Link.candidates(surfaces, trieB,
      graft.model.Ontology.jiebaReverse)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(out == Set(("高血压病", "高血压"), ("心脏", "心脏")))
  }

  test("context profiles are L2-normalized and idf-pruned") {
    implicit val s = spark
    import s.implicits._
    val ctx = Seq(
      ("A", "x"), ("A", "y"), ("A", "common"),
      ("B", "x"), ("B", "z"), ("B", "common"),
      ("C", "common"), ("C", "w")
    ).toDF("surface", "token")
    val prof = Link.contextProfiles(ctx)
    val rows = prof.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    // "common" appears in all 3 surfaces → idf = ln(4/4) = 0 < 0.1 → pruned
    assert(!rows.exists(_._2 == "common"))
    // per-surface L2 norm ≈ 1
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val norm = math.sqrt(rs.map(x => x._3 * x._3).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }
}

/** The raw local file system under the `killfs:` scheme. While
  * [[KillFs.armed]], the next manifest stream it creates dies on `close`
  * before it flushes, as a process killed mid-write leaves it: the created
  * file stays visible with zero bytes.
  */
class KillFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("killfs:///")
  override def getScheme: String = "killfs"
  override protected def createOutputStreamWithMode(f: org.apache.hadoop.fs.Path,
      append: Boolean, permission: org.apache.hadoop.fs.permission.FsPermission
  ): java.io.OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    if (!f.getName.startsWith("_manifest.json") || !KillFs.armed.getAndSet(false)) out
    else {
      out.close()
      new java.io.OutputStream {
        override def write(b: Int): Unit = ()
        override def close(): Unit = throw new java.io.IOException(s"killed before $f was flushed")
      }
    }
  }
}

object KillFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import graft.snapshot.Snapshot
  import SparkTestBase.withTempDir

  test("stage writes manifest with per-partition counts and skips on resume") { withTempDir("snap") { tmp =>
    implicit val s = spark
    import s.implicits._
    val dir = tmp.toString + "/t1"
    var computes = 0
    val df1 = Snapshot.stage(spark, dir, "test", partitionBy = Seq("k")) {
      computes += 1
      Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    }
    assert(computes == 1 && df1.count() == 3)
    assert(Snapshot.exists(spark, dir))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(Snapshot.manifestPath(dir)))
    assert(manifest.contains(""""rows":3"""))
    assert(manifest.contains(""""a":2""") && manifest.contains(""""b":1"""))
    // resume: compute must NOT run again
    val df2 = Snapshot.stage(spark, dir, "test", partitionBy = Seq("k")) {
      computes += 1
      Seq(("x", 9)).toDF("k", "v")
    }
    assert(computes == 1 && df2.count() == 3)
  }}

  // manifest counts come only from the observed metric on the write itself
  private def manifestOf(dir: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(Snapshot.manifestPath(dir)))

  // the manifest's read-back schema: every column nullable, as parquet reads it
  private def schemaOf(cols: (String, String)*): String = cols.map { case (n, t) =>
    s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}"""
  }.mkString("""{"type":"struct","fields":[""", ",", "]}")

  test("unpartitioned stage manifest rows equal the rows read back") { withTempDir("snap") { tmp =>
    import spark.implicits._
    val dir = tmp.toString + "/u"
    val df = Snapshot.stage(spark, dir, "unpartitioned") {
      (1 to 50).map(i => (s"k${i % 7}", i)).toDF("k", "v")
    }
    val rows = spark.read.parquet(dir).count()
    assert(rows == 50 && df.count() == rows)
    assert(manifestOf(dir) ==
      s"""{"stage":"unpartitioned","rows":$rows,"partitions":{"all":$rows},"schema":${schemaOf("k" -> "string", "v" -> "integer")},"parent":""}""")
  }}

  test("empty stage commits zero rows, unpartitioned and partitioned") { withTempDir("snap") { tmp =>
    import spark.implicits._
    val base = tmp.toString
    val empty = Seq(("a", 1)).toDF("k", "v").filter($"v" < 0)
    Snapshot.stage(spark, s"$base/plain", "plain")(empty)
    assert(manifestOf(s"$base/plain") ==
      s"""{"stage":"plain","rows":0,"partitions":{"all":0},"schema":${schemaOf("k" -> "string", "v" -> "integer")},"parent":""}""")
    // an empty partitioned write leaves no parquet file: the read-back,
    // on first commit and on resume, takes the manifest's schema
    val first = Snapshot.stage(spark, s"$base/parts", "parts",
      partitionBy = Seq("k"))(empty)
    assert(manifestOf(s"$base/parts") ==
      s"""{"stage":"parts","rows":0,"partitions":{},"schema":${schemaOf("v" -> "integer", "k" -> "string")},"parent":""}""")
    val resumed = Snapshot.stage(spark, s"$base/parts", "parts",
      partitionBy = Seq("k"))(empty)
    for (df <- Seq(first, resumed)) {
      assert(df.columns.toSeq == Seq("v", "k") && df.count() == 0)
    }
  }}

  test("a committed stage's read-back runs no Spark job") { withTempDir("snapjobs") { tmp =>
    import spark.implicits._
    val sc = spark.sparkContext
    val kv = (1 to 20).map(i => (s"k${i % 3}", i)).toDF("k", "v")
    // unpartitioned, partitioned, and partitioned with no parquet file
    val stages = Seq(("plain", Nil, kv), ("parts", Seq("k"), kv),
      ("empty", Seq("k"), kv.filter($"v" < 0)))
    stages.foreach { case (n, by, df) =>
      Snapshot.stage(spark, s"$tmp/$n", n, partitionBy = by)(df) }
    val group = "snapshot-read-back"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val resumed = try {
      sc.setJobGroup(group, "read-back")
      val dfs = stages.map { case (n, by, _) =>
        Snapshot.stage(spark, s"$tmp/$n", n, partitionBy = by)(
          fail(s"committed stage $n recomputed"))
      }
      org.apache.spark.graft.Bus.drain(sc)
      dfs
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0)
    assert(resumed.map(df => (df.columns.toSeq, df.count())) == Seq(
      (Seq("k", "v"), 20L), (Seq("v", "k"), 20L), (Seq("v", "k"), 0L)))
    // a manifest without a schema fails the stage: nothing infers one
    val legacy = Snapshot.manifestPath(s"$tmp/plain")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(legacy),
      """{"stage":"plain","rows":20,"partitions":{"all":20},"parent":""}""")
    // the commit's checksum file no longer matches the edited manifest
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tmp/plain/._manifest.json.crc"))
    val thrown = intercept[IllegalStateException](Snapshot.stage(spark,
      s"$tmp/plain", "plain")(fail("committed stage plain recomputed")))
    assert(thrown.getMessage == s"no schema in $legacy")
  }}

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.toList finally s.close()
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      java.nio.file.Files.getPosixFilePermissions(p))

  test("a commit forks no process") { withTempDir("snapfork") { base =>
    import spark.implicits._
    import jdk.jfr.consumer.RecordingFile
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val commands = try {
      Snapshot.stage(spark, s"$base/parts", "parts", partitionBy = Seq("k")) {
        (1 to 40).map(i => (s"k${i % 9}", i)).toDF("k", "v")
      }
      // a launch the recording must see, so an empty record cannot pass
      new ProcessBuilder("true", base.toString).start().waitFor()
      rec.stop()
      val jfr = base.resolve("forks.jfr")
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.toList
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally rec.close()
    val inDir = commands.filter(_.contains(base.toString))
    assert(inDir == Seq(s"true $base"), commands.mkString("\n"))
    // the commit's file system is never cached, so other `file:` users of
    // the session keep the default one whichever created it first
    val shared = org.apache.hadoop.fs.FileSystem.get(base.toUri,
      spark.sparkContext.hadoopConfiguration)
    assert(!shared.isInstanceOf[graft.snapshot.NioLocalFileSystem])
  }}

  test("commit modes match chmod's under umask 022; sticky bit still chmods") { withTempDir("snapmode") { tmp =>
    import spark.implicits._
    val dir = tmp.toString + "/w"
    Snapshot.write((1 to 20).map(i => (s"k${i % 3}", i)).toDF("k", "v"),
      dir, "w", partitionBy = Seq("k"))
    val paths = walk(dir)
    val files = paths.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") || n == "_manifest.json"
    }
    val leaves = paths.filter(_.getFileName.toString.startsWith("k="))
    assert(files.size == 4 && leaves.size == 3)
    assert(files.map(mode).toSet == Set("rw-r--r--"))
    assert(leaves.map(mode).toSet == Set("rwxr-xr-x"))

    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new graft.snapshot.NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val d = java.nio.file.Files.createDirectory(tmp.resolve("sticky"))
    val hd = new org.apache.hadoop.fs.Path(d.toUri)
    fs.setPermission(hd, new FsPermission(java.lang.Short.parseShort("750", 8)))
    assert(mode(d) == "rwxr-x---")
    fs.setPermission(hd, new FsPermission(java.lang.Short.parseShort("1755", 8)))
    val unixMode = java.nio.file.Files.getAttribute(d, "unix:mode").asInstanceOf[Int]
    assert((unixMode & 0xfff) == Integer.parseInt("1755", 8))
  }}

  test("a partitioned write is spread over several tasks, one file per leaf") { withTempDir("snapfan") { tmp =>
    import spark.implicits._
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val dir = tmp.toString + "/w"
    Snapshot.write((1 to 20 * par).map(i => (s"k${i % (4 * par)}", i)).toDF("k", "v"),
      dir, "w", partitionBy = Seq("k"))
    val parquet = walk(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    val perLeaf = parquet.groupBy(_.getParent)
    assert(perLeaf.size == 4 * par && perLeaf.values.forall(_.size == 1))
    val tasks = parquet.map(_.getFileName.toString.take("part-00000".length)).toSet
    assert(tasks.size > 1, tasks)
  }}

  test("a kill during the manifest write leaves a stage the next run recomputes") { withTempDir("snapkill") { tmp =>
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.killfs.impl", classOf[KillFs].getName)
    val dir = s"killfs:$tmp/k"
    var computes = 0
    def run() = Snapshot.stage(spark, dir, "k") {
      computes += 1
      Seq(1, 2).toDF("v")
    }
    try {
      KillFs.armed.set(true)
      intercept[java.io.IOException](run())
      assert(!Snapshot.exists(spark, dir))
      assert(run().count() == 2 && computes == 2)
      assert(Snapshot.manifest(spark, dir).rows == 2)
    } finally conf.unset("fs.killfs.impl")
  }}

  import Snapshot.{Dag, Step}
  private val never = (_: Seq[org.apache.spark.sql.DataFrame]) =>
    fail("a rejected declaration must not compute")

  test("a stage graph rejects a duplicate name and a parent not declared before it") {
    // a Dag takes no session, so declaring one cannot start a Spark job
    val dup = intercept[IllegalArgumentException](
      Dag(Step("a")(never), Step("b", Seq("a"))(never), Step("a")(never)))
    assert(dup.getMessage.contains("stage a is declared twice"))
    val later = intercept[IllegalArgumentException](
      Dag(Step("b", Seq("a"))(never), Step("a")(never)))
    assert(later.getMessage.contains("stage b: parent a is not declared before it"))
    val missing = intercept[IllegalArgumentException](
      Dag(Step("a")(never), Step("b", Seq("a", "z"))(never)))
    assert(missing.getMessage.contains("stage b: parent z is not declared before it"))
  }

  test("a failed stage surfaces after every started stage has ended; its child never starts") { withTempDir("snapdag") { tmp =>
    import spark.implicits._
    val out = tmp.toString
    val boom = new IllegalStateException("A failed")
    val childRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val dag = Dag(
      Step("A")(_ => throw boom),
      Step("B", Seq("A")) { _ => childRan.set(true); Seq(1).toDF("v") },
      Step("C") { _ => Thread.sleep(3000); Seq(2).toDF("v") })
    val thrown = intercept[IllegalStateException](dag.run(spark, out))
    assert(thrown eq boom)
    assert(!childRan.get() && !Snapshot.exists(spark, s"$out/B"))
    assert(manifestOf(s"$out/C") ==
      s"""{"stage":"C","rows":1,"partitions":{"all":1},"schema":${schemaOf("v" -> "integer")},"parent":""}""")
  }}
}

class KgRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import SparkTestBase.withTempDir

  test("full runner: snapshots commit, canon groups alias variants, resume is byte-stable") { withTempDir("kg") { tmp =>
    val out = tmp.toString
    graft.KgRunner.run(spark, out, nPages = 30, par = 4)
    val nodes = spark.read.parquet(s"$out/nodes")
    val edges = spark.read.parquet(s"$out/edges")
    assert(nodes.count() > 0 && edges.count() > 0)
    // every node and edge endpoint resolves: canon covers every triple
    // surface, so a stale canon shows here as a null id
    assert(edges.filter(col("objId").isNull || col("subjId").isNull).count() == 0)
    assert(nodes.filter(col("canonId").isNull).count() == 0)
    // canon: a surface and its jitter-extended variant share canonId when both present
    val canon = spark.read.parquet(s"$out/canon")
    val byCanon = canon.groupBy("canonId").count()
    assert(byCanon.filter(col("count") > 1).count() > 0,
      "expected at least one multi-surface canonical group")
    // manifests name every snapshot their stage reads
    def parentOf(stage: String) = java.nio.file.Files.readString(java.nio.file
      .Paths.get(graft.snapshot.Snapshot.manifestPath(s"$out/$stage")))
    Seq("canon" -> "links,triples", "edges" -> "canon,triples",
      "nodes" -> "canon,triples", "links" -> "mention_tokens",
      "source_labeled" -> "corpus_info,training_info",
      "ner_eval" -> "model_eval_results").foreach { case (stage, parents) =>
      assert(parentOf(stage).endsWith(s""""parent":"$parents"}"""), stage)
    }
    // the build commits exactly its 16 snapshot dirs and nothing else
    val dirs = new java.io.File(out).listFiles().toSeq
    assert(dirs.forall(d => graft.snapshot.Snapshot.exists(spark, d.getPath)))
    assert(dirs.map(_.getName).toSet == Set("triples", "mention_tokens",
      "links", "canon", "nodes", "edges", "ner_result", "source_segment",
      "corpus_info", "group_triples", "model_info", "model_eval_results",
      "training_info", "ner_info", "ner_eval", "source_labeled"))
    // a resumed stage reads back with the schema inference would give
    dirs.foreach { d =>
      val resumed = graft.snapshot.Snapshot.stage(spark, d.getPath, d.getName)(
        fail(s"committed stage ${d.getName} recomputed"))
      assert(resumed.schema == spark.read.parquet(d.getPath).schema, d.getName)
    }
    // resume: re-run with same dir; edge bytes unchanged
    def rows(stage: String) =
      spark.read.parquet(s"$out/$stage").collect().map(_.toString).sorted.toSeq
    val before = Seq("links", "nodes", "edges").map(t => t -> rows(t)).toMap
    graft.KgRunner.run(spark, out, nPages = 30, par = 4)
    assert(rows("edges") == before("edges"))
    // a second outDir built in the same session must not leak into a tail
    // resume of the first: links reads the resumed mention_tokens
    withTempDir("kg")(other =>
      graft.KgRunner.run(spark, other.toString, nPages = 20, par = 4))
    Seq("links", "canon", "nodes", "edges").foreach(t => java.nio.file.Files
      .delete(java.nio.file.Paths.get(graft.snapshot.Snapshot.manifestPath(s"$out/$t"))))
    graft.KgRunner.run(spark, out, nPages = 30, par = 4)
    before.foreach { case (t, r) => assert(rows(t) == r, t) }
  }}
}
