package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.textops.Tokenizer

/** Pins BPE training: hand-computed merges, distributed == sequential
  * reference (the oracle contract), greedy-leftmost rewrite semantics,
  * and the apply round-trip.
  */
class TokenizerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("applyMerge: greedy leftmost, non-overlapping") {
    assert(Tokenizer.applyMerge(List("a", "a", "a"), "a", "a") ==
      List("aa", "a"))
    assert(Tokenizer.applyMerge(List("a", "b", "a", "b"), "a", "b") ==
      List("ab", "ab"))
    assert(Tokenizer.applyMerge(List("x"), "a", "b") == List("x"))
    assert(Tokenizer.applyMerge(Nil, "a", "b") == Nil)
  }

  test("bpeTrainLocal: hand-computed merge sequence") {
    // corpus: "abab" x3, "ab" x2  ->  pairs: (a,b)=8, (b,a)=3
    // merge0 = (a,b,8); then "abab"->[ab,ab] x3, "ab"->[ab] x2
    //   pairs: (ab,ab)=3 -> merge1 = (ab,ab,3); then no pair >= 2
    val m = Tokenizer.bpeTrainLocal(
      Seq("abab abab abab ab ab"), 10)
    assert(m.map(x => (x.ix, x.left, x.right, x.pairCount)) ==
      Seq((0, "a", "b", 8L), (1, "ab", "ab", 3L)))
  }

  test("bpeTrainLocal: deterministic lexicographic tie-break") {
    // "ba" and "cd": (b,a)=1+... construct counts equal: "xy xy" vs
    // "uv uv": (x,y)=2 and (u,v)=2 -> tie broken by left asc: (u,v) first
    val m = Tokenizer.bpeTrainLocal(Seq("xy xy uv uv"), 1)
    assert(m.head.left == "u" && m.head.right == "v" &&
      m.head.pairCount == 2L)
  }

  test("bpeTrain == bpeTrainLocal on the fixture corpus (oracle contract)") {
    import spark.implicits._
    val dist = Tokenizer.bpeTrain(
      Tokenizer.fixtureCorpus.toDF("text"), "text", 12)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    val local = Tokenizer.bpeTrainLocal(Tokenizer.fixtureCorpus, 12)
      .map(m => (m.ix, m.left, m.right, m.pairCount))
    assert(dist.toSeq == local)
    assert(local.size == 12) // the fixture sustains all 12 merges
  }

  test("bpeTrain: early stop below minCount; single-char words are inert") {
    import spark.implicits._
    // only (z,z) reaches count 2; "q" alone contributes no pairs
    val m = Tokenizer.bpeTrain(
      Seq("zz zz q", "q q").toDF("text"), "text", 5)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq(("z", "z", 2L)))
  }

  test("batched bpeTrain == sequential on adversarial overlapping fixtures") {
    import spark.implicits._
    // each corpus is engineered at a batching stop-rule edge: overlapping
    // candidate pairs, multi-way count ties, self-overlap chains (greedy
    // leftmost), created-symbol collisions ((a,b) after "ab..." merges)
    val corpora = Seq(
      Seq("abab abab ab cd cd cd"), // overlap + disjoint mix
      Seq("aaaa aaa aa a"), // self-overlap chain: (a,a) then (aa,aa)...
      Seq("xy xy uv uv st st"), // 3-way exact tie, lexicographic order
      Seq("abc abc bcd bcd cde cde"), // shared-symbol equal counts
      Seq("ab ba ab ba aab abb"), // reversal pairs + chains
      Seq("the thing threw three teeth", "he she the thee he he"),
      Seq("abab cdcd abab cdcd ab cd")) // created symbols re-pair
    corpora.zipWithIndex.foreach { case (texts, i) =>
      val dist = Tokenizer.bpeTrain(texts.toDF("text"), "text", 8)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val local = Tokenizer.bpeTrainLocal(texts, 8)
        .map(m => (m.ix, m.left, m.right, m.pairCount))
      assert(dist == local, s"corpus $i: $texts")
    }
  }

  test("batched bpeTrain == sequential on randomized tiny-alphabet corpora") {
    import spark.implicits._
    // tiny alphabets maximize count ties and created-symbol collisions —
    // exactly the configurations the batch stop rules must catch; fixed
    // seed keeps the sweep deterministic
    val rnd = new scala.util.Random(42)
    (0 until 8).foreach { t =>
      val alphabet = if (t % 2 == 0) Seq("a", "b") else Seq("a", "b", "c")
      val texts = (0 until 3).map { _ =>
        (0 until (4 + rnd.nextInt(8))).map { _ =>
          (0 until (1 + rnd.nextInt(6)))
            .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
        }.mkString(" ")
      }
      val dist = Tokenizer.bpeTrain(texts.toDF("text"), "text", 10)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val local = Tokenizer.bpeTrainLocal(texts, 10)
        .map(m => (m.ix, m.left, m.right, m.pairCount))
      assert(dist == local, s"seed-case $t: $texts")
    }
  }

  test("ngramCounts: occurrence counts, lowercase, min-count prune, short docs skipped") {
    import spark.implicits._
    val docs = Seq(
      "the cat sat the cat sat", // "the cat sat" x2 among 4 trigrams
      "the cat",                 // < 3 words -> contributes nothing
      "THE CAT SAT on a mat"     // lowercased -> a third "the cat sat"
    ).toDF("text")
    val out = Tokenizer.ngramCounts(docs, "text", 3, 2L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every other trigram occurs once and is pruned by minCount=2
    assert(out == Map("the cat sat" -> 3L))
    // minCount=1 keeps the full multiset: doc1 has 4 trigrams (2 distinct
    // beyond the repeated one), doc3 has 4
    val all = Tokenizer.ngramCounts(docs, "text", 3, 1L).collect()
      .map(r => r.getLong(1)).sum
    assert(all == 8L)
    // bigrams over a null/empty corpus: no rows, no throw
    val empty = Tokenizer.ngramCounts(
      Seq.empty[String].toDF("text"), "text", 2, 1L)
    assert(empty.count() == 0L)
  }
}
