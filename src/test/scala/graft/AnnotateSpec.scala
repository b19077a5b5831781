package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Corpus, Fixtures, Vocab}
import graft.dict.Gazetteer
import graft.extract.Extract
import graft.merge.Merge
import graft.ner.{CrfScorer, Ensembles}
import graft.pipeline.Annotate

/** `Annotate.annotateOne` on edge sentences, without Spark: the per-sentence
  * super-stage must return no entity for an input with nothing to find, and
  * never throw on it.
  */
class AnnotateSpec extends AnyFunSuite {
  private val trie = Gazetteer.buildTrie(Vocab.jiebaDict)
  private val ctx = Annotate.Ctx(
    trie,
    CrfScorer.productionScorers(trie),
    Fixtures.modelWeights,
    Ensembles.weightsIdx(Fixtures.modelWeights),
    Fixtures.evalMatrix,
    Vocab.refinedDict.keySet,
    Merge.SuffixSets.from(Vocab.suffixDict))

  /** The first sentence of the first fixture page, with its real lineage. */
  private val first = {
    val p = Corpus.page(0)
    val source = if (p.url.contains("/med/c/")) "c" else "m"
    Extract.sections(p.url, p.text.takeWhile(_ != '\n'), source, p.text)
      .flatMap(Extract.sentences).head
  }

  test("a fixture sentence yields entity rows (positive control)") {
    val a = Annotate.annotateOne(first, ctx)
    assert(a.entities.nonEmpty, first.sentence)
    assert(a.entities.exists(_.model == "ensemble_strong"),
      a.entities.map(_.model).distinct)
  }

  test("empty, punctuation-only and no-gazetteer-hit sentences yield no entity") {
    Seq("", "。，、；！", "今天天气很好我们一起去公园散步").foreach { s =>
      // precondition: the gazetteer tags nothing in any of them
      assert(Gazetteer.tokenize(trie, s).forall(_.tag == "x"), s)
      val a = Annotate.annotateOne(first.copy(sentence = s), ctx)
      assert(a.entities.isEmpty, s"'$s' -> ${a.entities}")
      assert(a.row.sentence == s)
    }
  }
}
