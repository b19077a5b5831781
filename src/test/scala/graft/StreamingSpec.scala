package graft

import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("stream/batch triple parity: foreachBatch micro-batches emit the exact batch triple set") { SparkTestBase.withTempDir("stream") { tmp =>
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    // stage 12 fixture pages as 3 parquet files -> one micro-batch each
    val dir = tmp.resolve("pages").toString
    val srcDir = java.nio.file.Files.createDirectory(tmp.resolve("src"))
    val pages = graft.corpus.Corpus.pages(spark, 12, 1)
    Seq((0L, 4L), (4L, 9L), (9L, 12L)).zipWithIndex.foreach { case ((a, b), i) =>
      pages.filter(p => p.url.split("/").last.toLong >= a &&
        p.url.split("/").last.toLong < b)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
    }
    val staged = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    staged.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath, srcDir.resolve(s"part$i.parquet"))
    }
    val b = graft.pipeline.Pipeline.broadcasts(spark)
    val buf = scala.collection.mutable.ArrayBuffer.empty[graft.model.Triple]
    val q = spark.readStream
      .schema(pages.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .as[graft.model.Page]
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.model.Page], _: Long) =>
        // each micro-batch runs the SAME broadcast-trie annotate + triple
        // assembly as the batch pipeline (foreachBatch bridge) — online and
        // offline extraction cannot drift
        val t = graft.pipeline.Triples.fromArtifacts(
          graft.pipeline.Pipeline.artifacts(batch, b)).collect()
        buf.synchronized { buf ++= t }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val batchTriples = graft.pipeline.Triples.fromArtifacts(
      graft.pipeline.Pipeline.artifacts(pages, b)).collect()
    assert(buf.nonEmpty)
    // exact equality incl. probs: triple emission is row-local, so the
    // micro-batch split cannot change a single byte
    assert(buf.toSet == batchTriples.toSet)
  }}
}
