package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.textops.{Dedup, TextOps}

/** Round-2 corpus-scale training-data operators: cluster dedup (CC-based
  * canonical pick), rare-feature linking, deterministic stratified sampling,
  * benchmark-contamination scan.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("clusterCanonical: multi-hop chains collapse to min id; singletons kept") {
    val ids = (1L to 6L).toDF("doc_id")
    // chain 1-2-3, pair 4-5, singleton 6
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val out = Dedup.clusterCanonical(ids, edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((4L, true)))
    assert(out(5L) == ((4L, false)))
    assert(out(6L) == ((6L, true)))
  }

  test("clusterCanonicalBest: quality argmax keeps, ties to min id, singletons keep") {
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (5L, 5L),
      (6L, 1L)).toDF("doc_id", "score")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val out = Dedup.clusterCanonicalBest(scored, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // cluster {1,2,3}: top score 30 tied between 2 and 3 -> min id 2 keeps;
    // cluster label stays the CC min-id invariant (1)
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true)))
    assert(out(3L) == ((1L, false)))
    // cluster {4,5}: tie -> 4 keeps
    assert(out(4L) == ((4L, true)))
    assert(out(5L) == ((4L, false)))
    // singleton keeps itself regardless of score
    assert(out(6L) == ((6L, true)))
  }

  test("sharedRareShingleEdges: df=2 shingles link, df>2 and single-share don't") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"), // shares ≥2 rare 3-grams with 1
      (3L, "one two three four five six"),
      (4L, "one two three seven eight nine"), // shares only 1 3-gram with 3
      (5L, "common common common filler filler filler")
    ).toDF("doc_id", "text")
    val edges = Dedup.sharedRareShingleEdges(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((1L, 2L)))
    assert(!edges.exists(e => e._1 == 3L || e._2 == 3L),
      s"single shared shingle must not link: $edges")
  }

  test("sharedRareShingleEdges: hashed-key path == string-key path on a real corpus") {
    // r6: the inverted index shuffles fnv1a64 shingle hashes instead of the
    // window strings. Injectivity of the hash on the observed shingle set
    // makes the edge sets identical — pin it on real sf0.001 documents plus
    // the sub-n/empty/multi-space edge shapes.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val weird = Seq(
      (9000001L, ""), (9000002L, "one two"), (9000003L, "one  two"),
      (9000004L, "   "), (9000005L, "a b c a b c a b c"),
      // a pair sharing exactly two 3-word shingles found nowhere else
      // ("qz1 qz2 qz3", "qz2 qz3 qz4"), so the edge set is non-empty
      // whatever the real documents contain
      (9000006L, "qz1 qz2 qz3 qz4 alpha"),
      (9000007L, "beta qz1 qz2 qz3 qz4")
    ).toDF("doc_id", "text")
    val docs = real.unionByName(weird)
    val hashed = Dedup.sharedRareShingleEdges(docs, "doc_id", "text", 2,
      hashShingles = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val strings = Dedup.sharedRareShingleEdges(docs, "doc_id", "text", 2,
      hashShingles = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hashed == strings,
      s"edge mismatch: only-hashed=${hashed.diff(strings)} only-string=${strings.diff(hashed)}")
    assert(hashed.contains((9000006L, 9000007L)),
      "the planted pair must link")
  }

  test("md5Bucket: deterministic, in [0,100), engine-stable value") {
    val df = Seq(7L, 7L, 42L).toDF("k")
      .select(col("k"), TextOps.md5Bucket(col("k")).as("b"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows(0)._2 == rows(1)._2) // same key → same bucket
    rows.foreach { case (_, b) => assert(b >= 0 && b < 100) }
  }

  test("stratifiedSample: per-stratum rates hold approximately and re-run exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val s1 = TextOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 10), 50)
    val s2 = TextOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 10), 50)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = s2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2) // exact reproducibility
    val byLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.02 && enRate < 0.25, s"en rate $enRate")
    val deRate = byLang.getOrElse("de", 0L).toDouble / totals("de")
    assert(deRate > 0.25 && deRate < 0.75, s"de rate $deRate")
  }

  test("contamination: planted benchmark copy is flagged, disjoint doc is not") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "the quick brown fox jumps over the lazy dog today"), // copy
      (12L, "completely different words nothing shared at all here")
    ).toDF("doc_id", "text")
    val bench = Seq("the quick brown fox jumps over the lazy dog today")
      .toDF("text")
    val out = TextOps.contamination(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(10L) && out.contains(11L))
    assert(out(10L) == out(11L)) // identical docs share identically
    assert(!out.contains(12L))
  }
}
