package graft.ner

import scala.collection.mutable
import graft.model.Ontology

/** The three model-ensemble methods (reference A6–A8), ported from
  * `multi_labeling` (EnsemblePredict_all.py:226-395; identical copies in
  * multi_ner_prediction.py:437-568 and app_multi.py:170-253).
  *
  * All row-local: one sentence per call, arrays only — in Spark these run
  * inside a single narrow `mapPartitions` stage, no shuffle (SURVEY.md §2.5's
  * key observation: cross-row dependencies exist only at joins on `ind`).
  */
object Ensembles {

  /** Result bundle mirroring the pred_dict keys the reference adds:
    * ensemble_votes / ensemble_union / ensemble_strong (+ boundary, models,
    * types for the strong method).
    */
  final case class EnsembleResult(
      votes: Array[(String, Double)],
      union: Array[(String, Double)],
      strong: Array[(String, Double)],
      boundaries: Seq[(Int, Int)],
      models: Seq[Seq[String]],
      types: Seq[String]
  )

  /** @param predDict model code → per-char (BIO tag, prob); must contain "a"
    *                 (the base model, per EnsemblePredict_all.py:252).
    * @param weights  model → type → vote weight (multi_ner_prediction.py:139-159
    *                 normalization: per type, weight = strict_precision /
    *                 Σ strict_precision, so Σ_models weights(m)(t) = 1).
    * Models are visited in [[Ontology.models]] order (the reference iterates
    * a Python dict; we pin kd,a,c,d for determinism).
    */
  /** String-label wrapper over [[EnsemblesRaw.run]] — one core, two views:
    * tests exercise this surface, the pipeline uses the raw form directly.
    */
  def run(
      predDict: Map[String, Array[(String, Double)]],
      weights: Map[String, Map[String, Double]]
  ): EnsembleResult = {
    val pred = predDict.map { case (k, v) => k -> Tagged.fromPairs(v.toSeq) }
    val wIdx = weightsIdx(weights)
    val models = Ontology.models.filter(predDict.contains)
    val r = EnsemblesRaw.run(pred, wIdx)
    EnsembleResult(
      votes = r.votes.toPairs,
      union = r.union.toPairs,
      strong = r.strong.toPairs,
      boundaries = r.boundaries.toSeq.map(s =>
        (BioRaw.spanStart(s), BioRaw.spanEnd(s))),
      models = r.modelMasks.toSeq.map(EnsemblesRaw.modelNames(_, models)),
      types = r.typeIdxs.toSeq.map(CrfScorer.Types(_))
    )
  }

  /** model → per-typeIdx dense weight array (indexed like CrfScorer.Types). */
  def weightsIdx(
      weights: Map[String, Map[String, Double]]
  ): Map[String, Array[Double]] =
    weights.map { case (m, byType) =>
      m -> CrfScorer.Types.map(t => byType.getOrElse(t, 0.0)).toArray
    }
}
