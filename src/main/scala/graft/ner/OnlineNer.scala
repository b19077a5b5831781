package graft.ner

import graft.dict.Trie
import graft.model.Ontology

/** Online single-sentence NER (reference S10): the Spark-free analog of the
  * Flask API (app_multi.py:154-253) — same union + majority ensemble as the
  * batch path, same response shape (entities with spans, types, display
  * names). Exists so the online and offline extraction paths CANNOT drift:
  * both call the identical scorers/ensemble code. In a serving deployment
  * this sits behind any HTTP layer, or inside foreachBatch for micro-batch
  * scoring.
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
      val pred = scorers.map(sc => sc.model -> sc.predictRaw(sentence)).toMap
      val ens = EnsemblesRaw.run(pred, wIdx)
      val entities = ens.boundaries.toSeq.zip(ens.typeIdxs.toSeq).map {
        case (span, ti) =>
          val s = BioRaw.spanStart(span)
          val e = math.min(BioRaw.spanEnd(span), sentence.length)
          val tpe = CrfScorer.Types(ti)
          OnlineEntity(sentence.substring(s, e), tpe,
            Ontology.tagMapping.getOrElse(tpe, ""), s, e)
      }
      OnlineResult(sentence, entities)
    }
  }
}
