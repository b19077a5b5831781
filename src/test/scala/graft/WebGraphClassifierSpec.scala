package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.textops.{Classifier, TextOps, WebGraph}

/** Pins the integer PageRank arithmetic (hand-computed 3-iteration
  * expectations), the edge-extraction contract, and the rate-difference
  * classifier weights.
  */
class WebGraphClassifierSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("hostRank: hand-computed 3-iteration fixed-point ranks") {
    import spark.implicits._
    // a -> b, a -> c, b -> c; scale 1e6, base 150000, damp 85%:
    //   iter1: a 150000, b 575000, c 1425000
    //   iter2: a 150000, b 213750, c 702500
    //   iter3: a 150000, b 213750, c 395437  (floor of 245437.5 + base)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val got = WebGraph.hostRank(edges, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 150000L, "b" -> 213750L, "c" -> 395437L))
  }

  test("hostRank: duplicate edges are weighted votes; sink keeps base") {
    import spark.implicits._
    // a -> b twice: outdeg(a)=2, both contribs land on b:
    //   b after 1 iter = 150000 + 85*(2*(1e6 div 2)) div 100 = 1000000
    val edges = Seq(("a", "b"), ("a", "b")).toDF("src", "dst")
    val got = WebGraph.hostRank(edges, 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 150000L, "b" -> 1000000L))
  }

  test("hostGraphEdges: lowercased, NULL endpoints dropped, dups kept") {
    import spark.implicits._
    val docs = Seq(
      (Some("SrcA"), Some("see https://X.Example.com/a and https://x.example.com/b")),
      (Some("srcB"), None),                    // null text -> no edges
      (None: Option[String], Some("https://y.org/z")) // null src -> dropped
    ).toDF("source", "text")
    val edges = WebGraph.hostGraphEdges(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(edges.toSeq.sorted == Seq(
      ("srca", "x.example.com"), ("srca", "x.example.com")))
  }

  test("hits: hand-computed 3-round hub/authority fixed points") {
    import spark.implicits._
    // a -> b, a -> c, b -> c; S = 2^20. Hand-run of the two-floor-division
    // normalizer (see scaladoc):
    //   iter1: a(b)=524288  a(c)=1048576  h(a)=1572864 h(b)=1048576
    //   iter2: a(b)=786432  a(c)=1310720  h(a)=1048576 h(b)=655360
    //   iter3: a(b)=1048576 a(c)=1703936  h(a)=1376256 h(b)=851968
    // c has no out-links -> hub 0; a no in-links -> auth 0.
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val got = WebGraph.hits(edges)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      "a" -> ((1376256L, 0L)),
      "b" -> ((851968L, 1048576L)),
      "c" -> ((0L, 1703936L))))
  }

  test("hostComponents: families split, self-loop host is a singleton, id = min hostId") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("z", "z"))
      .toDF("src", "dst")
    val out = WebGraph.hostComponents(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("a", "b", "c", "x", "y", "z"))
    assert(out("a") == out("b") && out("b") == out("c"))
    assert(out("x") == out("y"))
    // three distinct components; z (self-loop only) is its own
    assert(Set(out("a"), out("x"), out("z")).size == 3)
    // component id is the MIN 60-bit md5 host id over the members
    val hid = Seq("a", "b", "c", "x", "y", "z").toDF("h")
      .select(col("h"), WebGraph.hostId(col("h")).as("id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == Seq("a", "b", "c").map(hid).min)
    assert(out("x") == Seq("x", "y").map(hid).min)
    assert(out("z") == hid("z"))
  }

  test("triangleCounts: K4 = 3 per host, squares close nothing, dups/direction ignored") {
    import spark.implicits._
    // K4 on {a,b,c,d} with mixed directions and one duplicate edge,
    // plus a 4-cycle on {w,x,y,z} (no triangles)
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("d", "b"),
      ("c", "d"), ("b", "a"), // dup of (a,b), reversed
      ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w")).toDF("src", "dst")
    val out = WebGraph.triangleCounts(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4 has 4 triangles; each vertex sits in C(3,2) = 3 of them
    assert(Seq("a", "b", "c", "d").forall(h => out(h) == 3L))
    assert(Seq("w", "x", "y", "z").forall(h => out(h) == 0L))
    assert(out.size == 8)
  }

  test("classifier: rate-difference weights and verdicts, hand-computed") {
    import spark.implicits._
    // tpos = 2 ("good" x2), tneg = 3 ("bad" x3):
    //   w(good) = 2*1e6 div 2 - 0 = 1000000
    //   w(bad)  = 0 - 3*1e6 div 3 = -1000000
    val train = Seq(("good good", true), ("bad bad bad", false))
      .toDF("text", "y")
    val w = Classifier.classifierWeights(train, "text", "y", minCount = 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w == Map("good" -> 1000000L, "bad" -> -1000000L))

    val docs = Seq(
      (1L, "good bad"),   // 0 -> keep (boundary)
      (2L, "bad bad"),    // -2e6 -> drop
      (3L, "good"),       // +1e6 -> keep
      (4L, "zzz")         // no vocabulary hit -> score 0, keep
    ).toDF("doc_id", "text")
    val scored = Classifier.classifierScore(docs, "doc_id", "text",
      Classifier.classifierWeights(train, "text", "y", minCount = 1L))
    val rows = scored.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(rows(1L) == ((0L, 2L, "keep")))
    assert(rows(2L) == ((-2000000L, 2L, "drop")))
    assert(rows(3L) == ((1000000L, 1L, "keep")))
    assert(rows(4L) == ((0L, 0L, "keep")))
    // the weight lookup must be a broadcast join — a term-keyed shuffle
    // would re-expose the Zipfian skew the design avoids
    assert(scored.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("classifierWeights: minCount cut bounds the vocabulary") {
    import spark.implicits._
    val train = Seq(("rare rare common common common", true)).toDF("text", "y")
    val w = Classifier.classifierWeights(train, "text", "y", minCount = 3L)
      .collect().map(_.getString(0)).toSet
    assert(w == Set("common"))
  }

  test("domainEpochSample: whole epochs + hash remainder, capped, largest=1") {
    import spark.implicits._
    // domains: big x16, rare x1 -> rate(rare) = sqrt(16) = 4.0 -> exactly
    // 4 whole epochs, zero remainder; rate(big) = sqrt(1) = 1 epoch.
    val docs = ((1L to 16L).map(i => (i, "big")) :+ (100L, "rare"))
      .toDF("doc_id", "source")
    val out = TextOps.domainEpochSample(docs, "doc_id", "source", 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.count(_._2 == "big") == 16)         // 1 epoch each
    assert(out.filter(_._2 == "big").map(_._3).forall(_ == 1L))
    assert(out.count(_._2 == "rare") == 4)         // 4 epochs, no 5th
    assert(out.filter(_._2 == "rare").map(_._3).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // cap bites: 100x imbalance at maxEpochs=2 -> rare repeated exactly 2x
    val skew = ((1L to 100L).map(i => (i, "big")) :+ (999L, "rare"))
      .toDF("doc_id", "source")
    val capped = TextOps.domainEpochSample(skew, "doc_id", "source", 2)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(capped.count(_._1 == "rare") == 2)
    // fractional remainder: big x4, rare x1 -> rate = 2.0 exact (no
    // remainder); big x2, rare x1 -> sqrt(2) ~ 1.414: rare gets 1 whole
    // epoch plus an id-hash-sampled 2nd -> either 1 or 2 rows, epoch set
    // is a prefix
    val frac = ((1L to 2L).map(i => (i, "big")) :+ (7L, "rare"))
      .toDF("doc_id", "source")
    val fr = TextOps.domainEpochSample(frac, "doc_id", "source", 4)
      .collect().filter(_.getString(1) == "rare").map(_.getLong(2)).sorted
    assert(fr.toSeq == Seq(1L) || fr.toSeq == Seq(1L, 2L))
  }

  test("corpusShuffle: exact permutation, cluster-size invariant") {
    import spark.implicits._
    val docs = (1L to 100L).toDF("doc_id")
    val out = TextOps.corpusShuffle(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pos is an exact permutation of 1..N
    assert(out.map(_._3).sorted.toSeq == (1L to 100L).toSeq)
    // within a bucket, pos ranges are contiguous and bucket-ordered:
    // every pos in bucket b is < every pos in bucket b+1
    val byB = out.groupBy(_._2).toSeq.sortBy(_._1)
    val ranges = byB.map { case (b, rs) =>
      (b, rs.map(_._3).min, rs.map(_._3).max) }
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => assert(hi < lo)
      case _ => ()
    }
    // the permutation is a pure function of the ids: identical under a
    // different partitioning of the input
    val out2 = TextOps.corpusShuffle(docs.repartition(13), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == out2.sortBy(_._1).toSeq)
    // and it is not the identity order (it actually shuffles)
    assert(out.sortBy(_._3).map(_._1).toSeq != (1L to 100L).toSeq)
  }

  test("corpusStats: masses add up; empty text lands in bucket 0") {
    import spark.implicits._
    val docs = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", ""),
      ("de", "der hund")
    ).toDF("lang", "text")
    val out = TextOps.corpusStats(docs, "text", "lang").collect()
    val byLang = out.groupBy(_.getString(0))
    assert(byLang("en").map(_.getLong(2)).sum == 2) // n_docs
    assert(byLang("de").map(_.getLong(2)).sum == 1)
    assert(out.map(_.getLong(3)).sum == docs.collect()
      .map(_.getString(1).length.toLong).sum) // sum_chars conserved
    // the empty doc: q = 0 -> bucket 0, zero chars/words
    val zero = out.filter(r => r.getString(0) == "en" && r.getLong(1) == 0L)
    assert(zero.length == 1 && zero.head.getLong(2) == 1L &&
      zero.head.getLong(4) == 0L)
  }
}
