package graft.ner

import graft.model.{EntityRow, Ontology}

/** Per-mention confidence assignment (reference A9), port of the
  * post-processing block of EnsemblePredict_all.py:500-552.
  *
  * For every model sequence (the 4 scorers + ensemble_strong), mentions are
  * re-derived with [[Bio.getPositions]], the per-char probs inside the span
  * are averaged, and the average is scaled by the model's evaluation metrics:
  *
  *   single model (:526-529):  prob_k = mean × eval(ds)(model)(type)(k)
  *   ensemble     (:549-552):  prob_k = mean × (max(c_k) +
  *                                (1 − max(c_k)) · |models| / (2·M))
  *
  * where k ∈ {strict, partial, exact, type}, c_k are the metric values of the
  * models that voted for the span, and M is the total model count.
  */
object Confidence {

  type EvalMatrix = Map[String, Map[String, Array[Double]]]

  /** Essentialness by scorer type INDEX — CrfScorer.Types is fixed, so the
    * per-span membership guard is one array read instead of a string-set
    * probe (hot path: 5 calls per sentence).
    */
  private val essentialByTypeIdx: Array[Boolean] =
    CrfScorer.Types.map(Ontology.essentialTypes.contains).toArray

  /** (dsEval instance, modelKey) → per-type-index metric rows. The eval
    * maps are a handful of long-lived fixture/derived instances, so an
    * identity-keyed memo turns the per-span nested string-map lookup
    * `dsEval(modelKey)(tpe)` into one array read. A type missing from the
    * model's map memoizes as null and falls back to the original lookup
    * (same exception behavior).
    */
  private final class EvalKey(val eval: AnyRef, val model: String) {
    override def hashCode: Int =
      System.identityHashCode(eval) * 31 + model.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: EvalKey => (k.eval eq eval) && k.model == model
      case _ => false
    }
  }
  private val evalIdxCache =
    new java.util.concurrent.ConcurrentHashMap[EvalKey, Array[Array[Double]]]()

  private def evalByTypeIdx(
      dsEval: Map[String, Map[String, Array[Double]]],
      modelKey: String): Array[Array[Double]] =
    evalIdxCache.computeIfAbsent(new EvalKey(dsEval, modelKey), { _ =>
      val m = dsEval(modelKey)
      CrfScorer.Types.map(t => m.getOrElse(t, null)).toArray
    })

  /** Mentions + confidences for one model's tagged sequence.
    *
    * @param dsEval   eval metrics for this dataset: model → type → [4]
    * @param spanModels for ensemble sequences: (start,end) → voting models
    */
  def entityRowsRaw(
      ind: Long,
      modelKey: String,
      tagged: Tagged,
      sentence: String,
      dsEval: Map[String, Map[String, Array[Double]]],
      numModels: Int,
      spanModels: Map[(Int, Int), Seq[String]] = Map.empty
  ): Seq[EntityRow] = {
    val (typeIdxs, spans) = BioRaw.getPositions(tagged.labels)
    val probs = tagged.probs
    val isEnsemble = modelKey.contains("ensemble")
    // loop-invariant: the model's per-type metric rows, pre-indexed by
    // scorer type index (null row → fall back to the original map apply)
    val modelEval = if (isEnsemble) null else evalByTypeIdx(dsEval, modelKey)
    val out = Seq.newBuilder[EntityRow]
    var k = 0
    while (k < spans.length) {
      val s = BioRaw.spanStart(spans(k))
      val e = BioRaw.spanEnd(spans(k))
      val ti = typeIdxs(k)
      val tpe = CrfScorer.Types(ti)
      // all scorer types are essential by construction; keep the reference's
      // membership guard for ensemble sequences fed from elsewhere
      if (essentialByTypeIdx(ti)) {
        var sum = 0.0
        var i = s
        val e2 = math.min(e, probs.length)
        while (i < e2) { sum += probs(i); i += 1 }
        val mean = if (e2 > s) sum / (e2 - s) else 0.0
        val ps =
          if (!isEnsemble) {
            val m = {
              val r = modelEval(ti)
              if (r != null) r else dsEval(modelKey)(tpe)
            }
            Array(mean * m(0), mean * m(1), mean * m(2), mean * m(3))
          } else {
            val voters = spanModels.getOrElse((s, e), Seq.empty)
            if (voters.isEmpty) Array(mean, mean, mean, mean)
            else {
              val cs = Array.tabulate(4) { j =>
                voters.map(v => dsEval(v)(tpe)(j))
              }
              Array.tabulate(4) { j =>
                val mx = cs(j).max
                mean * (mx + (1 - mx) * voters.size.toDouble / (2.0 * numModels))
              }
            }
          }
        val word = sentence.substring(math.min(s, sentence.length),
          math.min(e, sentence.length))
        out += EntityRow(ind, modelKey, word, tpe, s, e, ps(0), ps(1), ps(2), ps(3))
      }
      k += 1
    }
    out.result()
  }
}
