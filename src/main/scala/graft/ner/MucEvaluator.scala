package graft.ner

/** MUC / SemEval-2013-task-9.1-style NER span evaluator — the four match
  * schemes (strict, exact-boundary, partial-boundary, entity-type) with
  * COR/INC/PAR/MIS/SPU scenario counting. This is the scoring the reference
  * drives its per-(dataset, model, type) eval matrices with
  * (multi_ner_prediction.py:595-606 consumes `Evaluator(...).evaluate()` and
  * stores `[strict.precision, partial.precision, exact.precision,
  * ent_type.precision]`; gen_weights at :139-159 then normalizes
  * strict-precision across models).
  *
  * Scenario table — each prediction matched against an unconsumed gold span
  * (exact-offset matches claimed first, then any overlap), each gold
  * consumed at most once:
  *
  * | scenario                    | strict | exact | partial | ent_type |
  * |-----------------------------|--------|-------|---------|----------|
  * | same offsets, same type     | COR    | COR   | COR     | COR      |
  * | same offsets, diff type     | INC    | COR   | COR     | INC      |
  * | overlap, same type          | INC    | INC   | PAR     | COR      |
  * | overlap, diff type          | INC    | INC   | PAR     | INC      |
  * | pred with no gold overlap   | SPU    | SPU   | SPU     | SPU      |
  * | gold with no pred           | MIS    | MIS   | MIS     | MIS      |
  *
  * precision = COR / actual (partial scheme: (COR + 0.5·PAR) / actual) with
  * actual = COR+INC+PAR+SPU; recall analogous over
  * possible = COR+INC+PAR+MIS. Zero actual/possible → 0.0.
  */
object MucEvaluator {

  final case class Span(tpe: String, start: Int, end: Int)

  /** Mutable per-scheme counters (scheme index: 0 strict, 1 partial,
    * 2 exact, 3 ent_type — the reference's storage order).
    */
  final class Counts {
    val cor = new Array[Long](4)
    val inc = new Array[Long](4)
    val par = new Array[Long](4)
    val mis = new Array[Long](4)
    val spu = new Array[Long](4)

    def precision(scheme: Int): Double = {
      val actual = cor(scheme) + inc(scheme) + par(scheme) + spu(scheme)
      if (actual == 0) 0.0
      else if (scheme == 1) (cor(scheme) + 0.5 * par(scheme)) / actual
      else cor(scheme).toDouble / actual
    }

    def recall(scheme: Int): Double = {
      val possible = cor(scheme) + inc(scheme) + par(scheme) + mis(scheme)
      if (possible == 0) 0.0
      else if (scheme == 1) (cor(scheme) + 0.5 * par(scheme)) / possible
      else cor(scheme).toDouble / possible
    }

    /** [strict_p, partial_p, exact_p, type_p] — the eval-matrix row shape. */
    def precisions: Array[Double] = Array.tabulate(4)(precision)
  }

  private val Strict = 0
  private val Partial = 1
  private val Exact = 2
  private val EntType = 3

  /** Score one sentence's predictions against its gold spans into `c`. */
  def addSentence(c: Counts, gold: Seq[Span], pred: Seq[Span]): Unit = {
    val g = gold.toArray
    val used = new Array[Boolean](g.length)
    val sortedPred = pred.sortBy(p => (p.start, p.end, p.tpe))

    def claim(f: Span => Boolean): Int = {
      var i = 0
      while (i < g.length) {
        if (!used(i) && f(g(i))) { used(i) = true; return i }
        i += 1
      }
      -1
    }

    sortedPred.foreach { p =>
      val exactIdx = claim(gs => gs.start == p.start && gs.end == p.end)
      if (exactIdx >= 0) {
        val sameType = g(exactIdx).tpe == p.tpe
        c.cor(Exact) += 1; c.cor(Partial) += 1
        if (sameType) { c.cor(Strict) += 1; c.cor(EntType) += 1 }
        else { c.inc(Strict) += 1; c.inc(EntType) += 1 }
      } else {
        val ovIdx = claim(gs => gs.start < p.end && p.start < gs.end)
        if (ovIdx >= 0) {
          val sameType = g(ovIdx).tpe == p.tpe
          c.inc(Strict) += 1; c.inc(Exact) += 1; c.par(Partial) += 1
          if (sameType) c.cor(EntType) += 1 else c.inc(EntType) += 1
        } else {
          var s = 0
          while (s < 4) { c.spu(s) += 1; s += 1 }
        }
      }
    }
    var i = 0
    while (i < g.length) {
      if (!used(i)) {
        var s = 0
        while (s < 4) { c.mis(s) += 1; s += 1 }
      }
      i += 1
    }
  }

  /** Aggregate counts over a corpus of (gold, pred) sentence pairs: the
    * port of the reference's `Evaluator(...).evaluate()` call
    * (multi_ner_prediction.py:595-606).
    */
  def evaluate(pairs: Iterable[(Seq[Span], Seq[Span])]): Counts = {
    val c = new Counts
    pairs.foreach { case (gold, pred) => addSentence(c, gold, pred) }
    c
  }

  /** Per-type evaluation (the reference's results_agg): gold and pred both
    * filtered to the type, then the same scenario logic.
    */
  def evaluateByType(
      pairs: Iterable[(Seq[Span], Seq[Span])],
      types: Seq[String]
  ): Map[String, Counts] = {
    val byType = types.map(t => t -> new Counts).toMap
    pairs.foreach { case (gold, pred) =>
      types.foreach { t =>
        addSentence(byType(t), gold.filter(_.tpe == t),
          pred.filter(_.tpe == t))
      }
    }
    byType
  }
}
