package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dict.Gazetteer
import graft.ner.{Bio, CrfScorer, Ensembles}

class CrfScorerSpec extends AnyFunSuite {

  val dict = Map(
    "高血压" -> "ds", "呼吸困难" -> "sm", "阿司匹林" -> "du",
    "胸部X线" -> "ts", "心脏" -> "og"
  )
  val trie = Gazetteer.buildTrie(dict)
  val scorers = CrfScorer.productionScorers(trie)
  def predict(s: String) = CrfScorer.predictAll(trie, scorers, s)

  test("deterministic: same (model, sentence) → same output") {
    val s = "患者高血压伴呼吸困难，服阿司匹林。"
    scorers.foreach { sc =>
      assert(predict(s)(sc.model).toPairs.toSeq == predict(s)(sc.model).toPairs.toSeq)
    }
  }

  test("BIO well-formed: no I- without preceding B-/I- of same type") {
    val s = "高血压呼吸困难阿司匹林心脏胸部X线"
    scorers.foreach { sc =>
      val tags = predict(s)(sc.model).toPairs.map(_._1)
      tags.zipWithIndex.foreach { case (t, i) =>
        if (t.startsWith("I-")) {
          val prev = tags(i - 1)
          assert(prev == "B-" + t.drop(2) || prev == "I-" + t.drop(2),
            s"bad transition at $i: $prev -> $t (${sc.model})")
        }
      }
    }
  }

  test("dictionary mentions are mostly detected and majority ensemble recovers them") {
    val sents = (0 until 50).map(i => s"病例${i}：高血压伴呼吸困难，建议服阿司匹林并行胸部X线检查。")
    val weights = Seq("kd", "a", "c", "d")
      .map(m => m -> Seq("DIS", "SYM", "DRU", "TES", "ORG").map(_ -> 0.25).toMap)
      .toMap
    var found = 0
    var expected = 0
    sents.foreach { s =>
      val pred = predict(s).map { case (m, t) => m -> t.toPairs }
      val r = Ensembles.run(pred, weights)
      val mentions = r.boundaries.map { case (st, e) => s.substring(st, e) }.toSet
      expected += 3
      found += Seq("高血压", "呼吸困难", "阿司匹林")
        .count(w => mentions.exists(_.startsWith(w)))
    }
    // per-model miss rates 5-20% but quorum-2 of 4 models recovers ~all
    assert(found.toDouble / expected > 0.95, s"$found/$expected")
  }

  test("probs are in (0,1) and spans carry higher probs than O chars on average") {
    val s = "高血压者呼吸困难。"
    val sc = scorers.head
    val out = predict(s)(sc.model).toPairs
    assert(out.forall { case (_, p) => p >= 0.0 && p < 1.0 })
    val (tagged, oTagged) = out.partition(_._1 != "O")
    if (tagged.nonEmpty && oTagged.nonEmpty) {
      val mAvg = tagged.map(_._2).sum / tagged.length
      val oAvg = oTagged.map(_._2).sum / oTagged.length
      assert(mAvg > oAvg)
    }
  }

  test("refSigmoid matches the reference formula 1/(1+10/(x-2)^2)") {
    assert(math.abs(CrfScorer.refSigmoid(4.0) - 1.0 / (1.0 + 10.0 / 4.0)) < 1e-12)
    assert(CrfScorer.refSigmoid(2.0) == 0.0)
  }
}
