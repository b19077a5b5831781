package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.merge.{Merge, RulesMerging}
import graft.model.{Mention, Token}

class MergeSpec extends AnyFunSuite {

  def toks(sentence: String, parts: (String, String)*): Seq[Token] = {
    var p = 0
    parts.map { case (w, t) =>
      val tok = Token(w, t, p, p + w.length)
      p += w.length
      tok
    }
  }

  test("is_a_in_x returns FIRST match only (clean_and_save.py:59-62)") {
    assert(Merge.isAInX(Seq("a", "b"), Seq("x", "a", "b", "a", "b")) == ((1, true)))
    assert(Merge.isAInX(Seq("z"), Seq("a", "b")) == ((0, false)))
  }

  test("wordsCombiner merges a 2-seq and keeps the 3rd token of a 3-seq (del quirk :95-103)") {
    val s = "胃穿孔修补术后"
    val seg = toks(s, ("胃", "ORG"), ("穿孔", "DIS"), ("修补术", "SUR"), ("后", "x"))
    val out = Merge.wordsCombiner(s, seg, Seq(Seq("DIS", "SUR")))
    assert(out.map(_.word) == Seq("胃", "穿孔修补术", "后"))
    assert(out(1).tag == "SUR")
    // span start = previous token's end (:84)
    assert(out(1).start == 1 && out(1).end == 6)
    // 3-seq: only pos+1 deleted, 3rd survives (the double-del always throws)
    val out3 = Merge.wordsCombiner(s, seg, Seq(Seq("ORG", "DIS", "SUR")))
    assert(out3.map(_.word) == Seq("胃穿孔修补术", "修补术", "后"))
    assert(out3.head.tag == "SUR")
  }

  test("wordsCombiner pos=0 wraps start to LAST token end (python [-1] quirk :84)") {
    val s = "穿孔修补"
    val seg = toks(s, ("穿孔", "DIS"), ("修补", "SUR"))
    val out = Merge.wordsCombiner(s, seg, Seq(Seq("DIS", "SUR")))
    // start = seg[-1].end = 4 → span [4, 8) overflows the sentence;
    // the RulesMerging stage re-tiles it later (clean_and_save.py:666-671)
    assert(out.map(_.word) == Seq("穿孔修补"))
    assert(out.head.start == 4 && out.head.end == 8)
  }

  test("wordsCombiner rejects len>=12 and punctuation/absent combinations (:87-89)") {
    val s = "其他"
    val long = toks("irrelevant", ("aaaaaa", "DIS"), ("bbbbbb", "SUR"))
    assert(Merge.wordsCombiner(s, long, Seq(Seq("DIS", "SUR")))
      .map(_.word) == Seq("aaaaaa", "bbbbbb"))
  }

  test("wordsCombinerFuzzy deletes pos+1 AND pos+2 on 3-seqs (:227-233)") {
    val s = "胃大穿孔不适"
    val seg = toks(s, ("胃", "ORG"), ("大", "DEG"), ("穿孔", "DIS"), ("不适", "x"))
    // fuzzy(pre=[ORG], center=DIS) generates [ORG,DIS] and [ORG,T,DIS] seqs;
    // [ORG,DIS] doesn't appear (DEG between), [ORG,DEG,DIS] does
    val out = Merge.wordsCombinerFuzzy(s, seg, Seq("ORG"), "DIS")
    assert(out.map(_.word) == Seq("胃大穿孔", "不适"))
    assert(out.head.tag == "DIS")
  }

  test("suffixCombiner merges type+suffix and scrambles order on re-insert (:281-283)") {
    val s = "胃穿孔手术治疗好"
    val seg = toks(s, ("胃穿孔", "DIS"), ("手术", "x"), ("治疗", "x"), ("好", "x"))
    val out = Merge.suffixCombiner(s, seg, Set("手术"), Set("DIS"), "SUR")
    assert(out.map(_.word) == Seq("胃穿孔手术", "治疗", "好"))
    assert(out.head.tag == "SUR")
  }

  test("mergeNerSeg overlays token-aligned ner mentions; dict wins same-boundary (:113-174)") {
    val seg = toks("急性胃穿孔者", ("急性", "x"), ("胃", "og"), ("穿孔", "ds"), ("者", "x"))
    val ner = Seq(Mention("急性胃穿孔", "DIS", 0, 5, 0.6, 0.9))
    val out = Merge.mergeNerSeg(seg, ner)
    assert(out.map(_.word) == Seq("急性胃穿孔", "者"))
    assert(out.head.tag == "DIS")
    // lowercase tags uppercased at the end (:170-172)
    assert(out(1).tag == "x")
    // same boundary, different type → dictionary wins, mention dropped
    val seg2 = toks("胃穿孔者", ("胃穿孔", "ds"), ("者", "x"))
    val ner2 = Seq(Mention("胃穿孔", "SYM", 0, 3, 0.6, 0.9))
    val out2 = Merge.mergeNerSeg(seg2, ner2)
    assert(out2.map(_.tag) == Seq("DIS", "x"))
  }

  test("rounds compose without crashing and uppercase survives") {
    val s = "呼吸困难手术治疗"
    val seg = toks(s, ("呼吸困难", "SYM"), ("手术", "SUR"), ("治疗", "x"))
    val r1 = Merge.round1(s, seg)
    val r2 = Merge.round2(s, r1, Merge.SuffixSets.from(Map("手术" -> "SUR")))
    assert(r2.nonEmpty)
  }
}

class RulesMergingSpec extends AnyFunSuite {
  import RulesMerging._

  test("confidence = min(sum/endOffset + 0.5, 0.98) with the span+1 divisor quirk (:681-687)") {
    val s = "ab高血压cd"
    val seg = Seq(Token("ab", "x", 0, 2), Token("高血压", "DIS", 2, 5),
      Token("cd", "x", 5, 7))
    val ens = Seq(SpanProb("高血压", 2, 5, 0.8))
    // token 高血压 IS in previous entities → no rules row for it
    assert(entityRows(1L, s, seg, ens, Nil).isEmpty)
    // a merged token NOT in previous entities: sum = 0.8*3 = 2.4 over span
    // [2,5) → lastSpan=4 → divisor 5 → 2.4/5 + 0.5 = 0.98 cap
    val seg2 = Seq(Token("高血压病", "DIS", 2, 6))
    val ens2 = Seq(SpanProb("高血压", 2, 5, 0.8))
    val rows = entityRows(1L, "ab高血压病x", seg2, ens2, Nil)
    assert(rows.size == 1)
    val expected = math.min((0.8 * 3) / 6 + 0.5, 0.98)
    assert(math.abs(rows.head.prob - expected) < 1e-12)
  }

  test("overflowing spans are re-tiled from word lengths (:662-673)") {
    val s = "高血压病"
    val seg = Seq(Token("高血压病", "DIS", 4, 8)) // overflow end 8 > len 4
    val rows = entityRows(2L, s, seg, Nil, Nil)
    assert(rows.size == 1 && rows.head.start == 0 && rows.head.end == 4)
  }

  test("one bad merged entity poisons the whole sentence (:694-707)") {
    val s = "高血压的头痛"
    val seg = Seq(Token("高血压的", "DIS", 0, 4), Token("头痛", "SYM", 4, 6))
    // 高血压的 ends in 的 ∈ suf list → both rows dropped
    assert(entityRows(3L, s, seg, Nil, Nil).isEmpty)
  }

  test("dict probs are max-ed over ensemble probs (:651-657)") {
    val s = "头痛x"
    val seg = Seq(Token("头痛y", "SYM", 0, 3))
    val ens = Seq(SpanProb("头痛", 0, 2, 0.3))
    val dict = Seq(SpanProb("头痛", 0, 2, 0.9))
    val rows = entityRows(4L, s, seg, ens, dict)
    // charwise max(0.3, 0.9) = 0.9 on chars 0,1; char 2 = 0
    val expected = math.min((0.9 * 2) / 3 + 0.5, 0.98)
    assert(math.abs(rows.head.prob - expected) < 1e-12)
  }
}
