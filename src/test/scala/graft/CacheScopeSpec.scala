package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.canon.Canon
import graft.textops.{Classifier, Dedup, Similarity, WebGraph}
import graft.util.CacheScope

/** The one cache lifecycle of the curation operators ([[CacheScope]]):
  * every operator leaves the session cache as it found it, a body that
  * throws still releases what the scope persisted, and a frame the caller
  * cached before the call stays cached.
  */
class CacheScopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def entries: Int = org.apache.spark.sql.graft.Caches.entries(spark)

  /** A frame the caller holds cached across the call. */
  private def callerCached[A](body: DataFrame => A): A = {
    val held = spark.range(5).toDF("held").persist(StorageLevel.MEMORY_AND_DISK)
    try body(held) finally held.unpersist(false)
  }

  /** 60 documents in groups of three: two copies and a near-copy. */
  private def documents: DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      val text = s"page ${i / 3} about the topic of site ${i / 3 % 4} with " +
        "words that many pages share" + (if (i % 3 == 2) " again" else "")
      (i.toLong, text, if (i % 2 == 0) "en" else "de", s"site${i % 4}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** 120 embeddings of [[Similarity.Dim]] floats, every tenth one twice. */
  private def embeddings: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val base = (0 until 110).map(i =>
      (i.toLong, Seq.fill(Similarity.Dim)(rnd.nextFloat() - 0.5f)))
    (base ++ base.filter(_._1 % 10 == 0).map { case (i, v) => (i + 1000L, v) })
      .toDF("vec_id", "embedding")
  }

  test("each of the eleven operators leaves the session cache as it found it") { SparkTestBase.withTempDir("cache_scope") { dir =>
    import spark.implicits._
    val docs = documents
    docs.write.parquet(s"$dir/documents.parquet")
    val emb = embeddings
    val hostEdges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "d")).toDF("src", "dst")
    val docEdges = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      ("minhashLsh", () => Dedup.minhashLsh(docs, "doc_id", "text")),
      ("incrementalMinhash", () => Dedup.incrementalMinhash(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
        Dedup.minhashSigsDf(docs, "doc_id", "text"))),
      ("clusterCanonicalBest", () => Dedup.clusterCanonicalBest(
        docs.select(col("doc_id"), col("n_chars").as("score")), docEdges)),
      ("simhashDedup", () => Dedup.simhashDedup(docs, "doc_id", "text", 3)),
      ("semanticDedup", () => Similarity.semanticDedup(emb)),
      ("hostRank", () =>
        WebGraph.hostRank(hostEdges, WebGraph.RankIterations)),
      ("hostComponents", () => WebGraph.hostComponents(hostEdges)),
      ("triangleCounts", () => WebGraph.triangleCounts(hostEdges)),
      ("hits", () => WebGraph.hits(hostEdges)),
      ("classifierWeights", () => Classifier.classifierWeights(
        docs.withColumn("y", col("lang") === "en"), "text", "y",
        Classifier.WeightMinCount)),
      ("dedup_url_exact", () =>
        SparkEntry.queries("dedup_url_exact")(spark, dir.toString)))
    // a failed check clears what it left, so that later specs counting
    // cached entries do not fail for it
    try {
      // Canon.connectedComponents, which four of them call, releases its
      // caches too: its result reads the last round's checkpoint
      val before = entries
      Canon.connectedComponents(docEdges).count()
      assert(entries == before)
      callerCached { held =>
        ops.foreach { case (name, op) =>
          val before = entries
          val out = op()
          assert(entries == before, s"$name changed the cached entries")
          assert(held.storageLevel == StorageLevel.MEMORY_AND_DISK,
            s"$name released a cache its caller holds")
          assert(out.count() >= 0L)
        }
      }
    } finally spark.catalog.clearCache()
  }}

  test("a body that throws still releases every frame the scope persisted") {
    val a = spark.range(100).toDF("a")
    val b = a.select((col("a") * 2).as("b"))
    val before = entries
    val e = intercept[IllegalStateException] {
      CacheScope(a, b) {
        assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(b.count() == 100L) // the caches are built, then the body fails
        throw new IllegalStateException("round failed")
      }
    }
    assert(e.getMessage == "round failed")
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(entries == before)
  }

  test("a frame the caller cached before the call is still cached after it") {
    callerCached { held =>
      val fresh = spark.range(10).toDF("fresh")
      val out = CacheScope(held, fresh) {
        assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
        held.crossJoin(fresh)
      }
      assert(out.count() == 50L)
      assert(held.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(fresh.storageLevel == StorageLevel.NONE)
    }
    // incrementalMinhash's contract: a corpus table the caller cached is
    // read from that cache and left in it
    val docs = documents
    val corpusSigs = Dedup.minhashSigsDf(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val before = entries
      val out = Dedup.incrementalMinhash(
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", corpusSigs)
      assert(corpusSigs.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(entries == before)
      // the new docs are copies of corpus docs
      assert(out.filter(col("new_id") === col("corpus_id")).count() > 0L)
    } finally corpusSigs.unpersist(false)
  }
}
