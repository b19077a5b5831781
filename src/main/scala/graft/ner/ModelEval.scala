package graft.ner

import graft.corpus.{Fixtures, Vocab}
import graft.dict.Gazetteer
import graft.model.Ontology

/** Data-derived model evaluation matrices and vote weights — the analog of
  * the reference's train-time eval flow:
  *
  *   1. score each model's predictions on a labeled corpus with the MUC
  *      evaluator, per (dataset-source, model, entity-type), storing
  *      [strict_p, partial_p, exact_p, type_p]
  *      (multi_ner_prediction.py:595-606, persisted per
  *      clean_and_save.py:737-744);
  *   2. derive per-type vote weights by normalizing strict precision across
  *      models (gen_weights, multi_ner_prediction.py:139-159:
  *      weight(m, t) = strict_p(m, t) / Σ_m' strict_p(m', t)).
  *
  * `evalMatrix` here is computed from [[Fixtures.labeledSentences]] (the
  * synthetic labeled corpus) — it feeds the model_eval_results snapshot
  * table. The PIPELINE's confidence scaling and ensemble vote weights keep
  * using [[Fixtures.evalMatrix]]/[[Fixtures.modelWeights]] by default: those
  * are the frozen shipped artifacts (the analog of the reference's
  * pretrained .pkl + model_weights.json checked into its model directory),
  * and swapping them moves every downstream golden. [[derivedWeights]] is
  * the live re-derivation for retraining flows; Pipeline.broadcasts can be
  * fed either.
  */
object ModelEval {

  /** Evaluated types, sorted — the eval-matrix key order. */
  val types: Seq[String] = Ontology.essentialTypes.toSeq.sorted

  /** Labeled sentences scored per source. */
  val EvalSentences = 160

  /** model → type → [strict_p, partial_p, exact_p, type_p] on `source`'s
    * labeled corpus, each sentence scored by the pipeline's scorer pass.
    */
  def evalFor(source: String): Map[String, Map[String, Array[Double]]] = {
    val trie = Gazetteer.buildTrie(Vocab.jiebaDict)
    val scorers = CrfScorer.productionScorers(trie)
    val scored = Fixtures.labeledSentences(source, EvalSentences).map { ls =>
      (ls, CrfScorer.predictAll(trie, scorers, ls.sentence))
    }
    scorers.map { sc =>
      val pairs = scored.map { case (ls, pred) =>
        val gold = ls.gold.map(g => MucEvaluator.Span(g.tpe, g.start, g.end))
        val (typeIdxs, spans) = BioRaw.getPositions(pred(sc.model).labels)
        (gold, spans.indices.map { k =>
          val m = BioRaw.mention(ls.sentence, typeIdxs(k), spans(k))
          MucEvaluator.Span(m.tpe, m.start, m.end)
        })
      }
      sc.model -> MucEvaluator.evaluateByType(pairs, types)
        .map { case (t, c) => t -> c.precisions }
    }.toMap
  }

  /** source → model → type → [4] — the computed eval matrix feeding the
    * model_eval_results snapshot (same shape as Fixtures.evalMatrix).
    */
  lazy val evalMatrix: Map[String, Map[String, Map[String, Array[Double]]]] =
    Fixtures.sources.map(s => s -> evalFor(s)).toMap

  /** gen_weights normalization: per type, weight = strict_p / Σ across
    * models (equal split when no model scores the type at all).
    */
  def weightsFromEval(
      eval: Map[String, Map[String, Array[Double]]]
  ): Map[String, Map[String, Double]] = {
    val models = Ontology.models.filter(eval.contains)
    types.flatMap { t =>
      val strict = models.map(m => m -> eval(m).get(t).map(_(0)).getOrElse(0.0))
      val total = strict.map(_._2).sum
      strict.map { case (m, w) =>
        (m, t, if (total == 0.0) 1.0 / models.size else w / total)
      }
    }.groupBy(_._1)
      .map { case (m, xs) => m -> xs.map(x => x._2 -> x._3).toMap }
  }

  /** Live re-derived vote weights (from the "m"-source labeled corpus —
    * the reference derives one weight set from its single eval folder):
    * the weight re-derivation, the retraining path's stand-in for the
    * shipped `Fixtures.modelWeights` (ModelEvalSpec builds triples on it).
    */
  lazy val derivedWeights: Map[String, Map[String, Double]] =
    weightsFromEval(evalMatrix("m"))
}
