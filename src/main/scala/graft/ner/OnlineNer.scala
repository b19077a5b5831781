package graft.ner

import graft.dict.Trie
import graft.model.Ontology

/** Online single-sentence NER (reference S10): the Spark-free analog of the
  * Flask API (app_multi.py:154-253) — same union + majority ensemble as the
  * batch path, same response shape (entities with spans, types, display
  * names). It cannot drift from the offline path because every step is the
  * function `Annotate.annotateOne` also calls: the scorer pass
  * [[CrfScorer.predictAll]], [[EnsemblesRaw.run]] and the span decode
  * [[BioRaw.mention]]. In a serving deployment this sits behind any HTTP
  * layer, or inside foreachBatch for micro-batch scoring.
  */
object OnlineNer {

  final case class OnlineEntity(
      word: String,
      entType: String,
      typeCn: String,
      start: Int,
      end: Int
  )

  final case class OnlineResult(
      sentence: String,
      entities: Seq[OnlineEntity]
  )

  /** Build a scoring function once (broadcast-analog: reuse across calls);
    * each call answers one request of app_multi.py:154-253.
    */
  def annotator(trie: Trie,
      weights: Map[String, Map[String, Double]]): String => OnlineResult = {
    val scorers = CrfScorer.productionScorers(trie)
    val wIdx = Ensembles.weightsIdx(weights)
    sentence => {
      val ens = EnsemblesRaw.run(
        CrfScorer.predictAll(trie, scorers, sentence), wIdx)
      val entities = ens.boundaries.indices.map { k =>
        val m = BioRaw.mention(sentence, ens.typeIdxs(k), ens.boundaries(k))
        OnlineEntity(m.word, m.tpe, Ontology.tagMapping.getOrElse(m.tpe, ""),
          m.start, m.end)
      }
      OnlineResult(sentence, entities)
    }
  }
}
