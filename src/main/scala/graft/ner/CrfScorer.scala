package graft.ner

import graft.dict.Trie
import graft.model.Ontology
import graft.util.Hashing

/** Deterministic CRF-style sequence scorer — the Spark-side replacement for
  * the reference's per-model BiLSTM-CRF inference (multi_source_ner.py:803-844
  * `predict_oneline`; the torch nets themselves are absent from the snapshot,
  * see SURVEY.md "Missing from the snapshot").
  *
  * What is preserved from the reference, semantically:
  *   - output shape: per-char (BIO tag, prob) sequences over the essential
  *     ontology types, consumed verbatim by the ensemble stages
  *     (EnsemblePredict_all.py:226-395);
  *   - a real Viterbi decode over B-/I-/O label lattices with I-after-B
  *     transition constraints (CRF-style, per the north star);
  *   - the reference's custom probability squashing
  *     `1 / (1 + 10 / (x-2)^2)` (multi_source_ner.py:109-110);
  *   - k=4 models ("kd","a","c","d", config.yaml:48-49) that agree on most
  *     mentions but individually miss or mis-bound some — which is what makes
  *     the union/vote/majority ensembles non-trivial.
  *
  * What replaces the learned net: emissions are hashed-feature linear scores —
  * dictionary-evidence features (a broadcast trie hit of type T boosts B-T at
  * the hit start and I-T inside it) plus per-(model, char, label) hashed
  * weights. Per-(model, mention-occurrence) hashes drive deterministic
  * dropout (model misses the mention) and boundary jitter (model extends the
  * span one char), standing in for inter-model variance. Everything is a pure
  * function of (model, sentence) — no RNG, no wall-clock.
  *
  * Performance: this IS the 100 TB hot loop (it runs once per model per
  * sentence), so the inner loops are allocation-free — the BIO transition
  * matrix is precomputed once per JVM, feature hashing is numeric
  * (splitmix64), and the per-sentence scratch arrays are flat.
  */
final class CrfScorer(
    val model: String,
    trie: Trie,
    missPct: Int,
    jitterPct: Int
) extends Serializable {
  import CrfScorer._

  private val modelSeed = Hashing.fnv1a64(model)
  /** per-type evidence affinity, indexed by essential-type index. */
  private val affinity: Array[Double] =
    Types.map(t => 2.0 + Hashing.unit(model, "#aff#", t) * 1.5).toArray

  // ---- per-instance scratch, reused across sentences -----------------------
  // predictRaw once allocated ~30 KB of short-lived arrays per sentence per
  // model; at 10^5-10^6 sentences/s that is multi-GB/s of TLAB
  // allocation+zeroing — pure memory-bandwidth burn that caps multi-core
  // scaling long before the ALU does. Scratch reuse removes it. Invariants:
  //   - ev scratch is ALL-ZERO between calls (cells written for a sentence
  //     are sparsely re-zeroed before returning — bounded by evidence size,
  //     not by n × Types);
  //   - emit/dp/bp/path are fully overwritten in their used prefix per call
  //     (bp row 0 is never read), so they carry no state across calls.
  // Consequence: a CrfScorer INSTANCE is single-threaded. The pipeline
  // already guarantees this (scorers are built per partition in
  // Annotate.annotate); build one scorer set per thread elsewhere.
  // @transient: a deserialized instance just re-grows lazily from empty.
  @transient private var evScratchB: Array[Double] = _
  @transient private var evScratchI: Array[Double] = _
  @transient private var emitScratch: Array[Double] = _
  @transient private var dpScratch: Array[Double] = _
  @transient private var bpScratch: Array[Int] = _
  @transient private var pathScratch: Array[Int] = _
  @transient private var acceptedScratch: Array[Long] = _

  private def evScratch(need: Int): (Array[Double], Array[Double]) = {
    if (evScratchB == null || evScratchB.length < need) {
      evScratchB = new Array[Double](math.max(need, 256)) // JVM-zeroed
      evScratchI = new Array[Double](evScratchB.length)
    }
    (evScratchB, evScratchI)
  }

  def predictRaw(sentence: String): Tagged =
    predictRaw(sentence, CrfScorer.dictScan(trie, sentence))

  /** Hot-path form: int labels + primitive probs (see [[Tagged]]).
    *
    * Lattice restriction: unevidenced B-/I- labels can never enter the
    * decoded path — their emissions are bounded by +0.2 noise while O carries
    * a +1.0 bias (gap ≥ 0.6 every char, and I- is reachability-gated) — so
    * the Viterbi runs over {O} ∪ {B-t, I-t : t evidenced in this sentence}
    * only. Output-identical to the full 21-label lattice, ~5x cheaper on
    * typical sentences (1-3 evidenced types).
    */
  /** @param matches shared per-sentence dict scan ([[CrfScorer.dictScan]]) —
    * the 4 scorers consume the SAME maximal matches and differ only in their
    * per-(model, occurrence) dropout/jitter rolls, so the scan runs once per
    * sentence instead of once per model.
    */
  def predictRaw(sentence: String, matches: Array[Long]): Tagged = {
    val n = sentence.length
    if (n == 0) return Tagged(Array.empty, Array.empty)
    val sentSeed = Hashing.fnv1a64(sentence)

    // 1. dictionary evidence with deterministic dropout/jitter, recorded as
    //    (charIdx -> boost) per evidenced type
    var typeMask = 0 // bit per essential type index
    // evidence per char per type collected sparsely first (reused scratch,
    // all-zero on entry; accepted spans recorded for the sparse reset)
    val (evB, evI) = evScratch(n * Types.length)
    if (acceptedScratch == null) acceptedScratch = new Array[Long](64)
    var nAccepted = 0
    var mi = 0
    while (mi < matches.length) {
      val packed = matches(mi)
      val i = (packed >>> 40).toInt
      val end = ((packed >>> 16) & 0xffffffL).toInt
      val ti = (packed & 0xffffL).toInt
      val roll = (Hashing.mix(modelSeed, sentSeed,
        (i.toLong << 20) ^ end.toLong) & Long.MaxValue) % 100
      if (roll >= missPct) {
        val e2 = if (roll < missPct + jitterPct && end < n) end + 1 else end
        val boost = DictBoost + affinity(ti)
        typeMask |= (1 << ti)
        evB(i * Types.length + ti) += boost
        var j = i + 1
        while (j < e2) { evI(j * Types.length + ti) += boost; j += 1 }
        if (nAccepted == acceptedScratch.length)
          acceptedScratch = java.util.Arrays.copyOf(
            acceptedScratch, nAccepted * 2)
        acceptedScratch(nAccepted) =
          (i.toLong << 40) | (e2.toLong << 16) | ti.toLong
        nAccepted += 1
      }
      mi += 1
    }
    // restore the all-zero invariant before ANY return below
    def resetEv(): Unit = {
      var k = 0
      while (k < nAccepted) {
        val p = acceptedScratch(k)
        val i = (p >>> 40).toInt
        val e2 = ((p >>> 16) & 0xffffffL).toInt
        val ti = (p & 0xffffL).toInt
        evB(i * Types.length + ti) = 0.0
        var j = i + 1
        while (j < e2) { evI(j * Types.length + ti) = 0.0; j += 1 }
        k += 1
      }
    }
    var i = 0

    // fast path: no evidence → all-O decode with O-emission probs
    if (typeMask == 0) {
      val labels = new Array[Int](n)
      val probs = new Array[Double](n)
      i = 0
      while (i < n) {
        val c = sentence.charAt(i).toLong
        // noise(c, g) = unit(mix(hc ^ g)) with hc hashed once per char —
        // one splitmix round per label instead of three (round-2 hot-path
        // cut; outputs re-frozen deliberately via FreezeGoldens)
        val hc = Hashing.mix(modelSeed, WSeed ^ c)
        val noise = (Hashing.unit(Hashing.mix(hc)) - 0.5) * 0.4
        probs(i) = math.min(refSigmoid(2.0 + noise + 1.0), 0.99)
        i += 1
      }
      return Tagged(labels, probs)
    }

    // active label set: global label ids, index 0 = O
    val activeTypes = (0 until Types.length).filter(t => (typeMask & (1 << t)) != 0)
    val nA = 1 + activeTypes.length * 2
    val active = new Array[Int](nA) // local -> global label id
    val typeOfLocal = new Array[Int](nA) // local -> type idx (-1 for O)
    val isILocal = new Array[Boolean](nA)
    active(0) = 0; typeOfLocal(0) = -1
    var a = 1
    activeTypes.foreach { t =>
      active(a) = 1 + 2 * t; typeOfLocal(a) = t; isILocal(a) = false; a += 1
      active(a) = 2 + 2 * t; typeOfLocal(a) = t; isILocal(a) = true; a += 1
    }

    // 2. emissions over active labels: hashed noise + O bias + evidence
    // (reused scratch: every cell in the used n×nA prefix is assigned below)
    if (emitScratch == null || emitScratch.length < n * nA)
      emitScratch = new Array[Double](math.max(n * nA, 256))
    val emit = emitScratch
    i = 0
    while (i < n) {
      val c = sentence.charAt(i).toLong
      // per-char hash hoisted out of the label loop: noise per (char,label)
      // is one splitmix round (was three) — the dominant scorer cost
      val hc = Hashing.mix(modelSeed, WSeed ^ c)
      val base = i * nA
      var l = 0
      while (l < nA) {
        val g = active(l)
        var e =
          (Hashing.unit(Hashing.mix(hc ^ g.toLong)) - 0.5) * 0.4
        if (l == 0) e += 1.0
        else {
          val t = typeOfLocal(l)
          e += (if (isILocal(l)) evI(i * Types.length + t)
                else evB(i * Types.length + t))
        }
        emit(base + l) = e
        l += 1
      }
      i += 1
    }

    // 3. Viterbi over the active lattice (I-t only after B-t/I-t),
    //    dp/bp/path from reused scratch (fully overwritten per call)
    if (dpScratch == null || dpScratch.length < n * nA) {
      dpScratch = new Array[Double](math.max(n * nA, 256))
      bpScratch = new Array[Int](dpScratch.length)
    }
    if (pathScratch == null || pathScratch.length < n)
      pathScratch = new Array[Int](math.max(n, 64))
    val path = viterbiActive(emit, n, nA, typeOfLocal, isILocal,
      dpScratch, bpScratch, pathScratch)

    // 4. per-char probability via the reference squash of the emission score
    val labels = new Array[Int](n)
    val probs = new Array[Double](n)
    i = 0
    while (i < n) {
      val l = path(i)
      labels(i) = active(l)
      probs(i) = math.min(refSigmoid(2.0 + emit(i * nA + l)), 0.99)
      i += 1
    }
    resetEv()
    Tagged(labels, probs)
  }
}

object CrfScorer {
  /** Label lattice: O, then B-T/I-T per essential type in fixed order. */
  val Types: IndexedSeq[String] = Ontology.essential.keys.toIndexedSeq.sorted
  val Labels: IndexedSeq[String] =
    "O" +: Types.flatMap(t => Seq(s"B-$t", s"I-$t"))
  private val labelIdx: Map[String, Int] = Labels.zipWithIndex.toMap
  def labelIndex(l: String): Int = labelIdx(l)

  private val typeIdx: Map[String, Int] = Types.zipWithIndex.toMap
  /** 2-letter gazetteer tag → essential type index, -1 if non-essential. */
  def typeIndexOfTag(tag: String): Int = {
    val t = Ontology.jiebaReverse.getOrElse(tag, null)
    if (t == null) -1 else typeIdx.getOrElse(t, -1)
  }

  final val DictBoost = 6.0
  private final val NegInf = -1e18
  private final val WSeed = 0x57ee_dbee_f00dL

  /** Maximal essential-type dictionary matches at every start position,
    * packed (start << 40 | end << 16 | typeIdx). Computed once per sentence
    * and shared by all scorers + any other consumer of dict hits.
    */
  def dictScan(trie: graft.dict.Trie, sentence: String): Array[Long] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    val n = sentence.length
    var i = 0
    while (i < n) {
      val m = trie.longestMatch(sentence, i)
      if (m != null) {
        val (end, tag) = m
        val ti = typeIndexOfTag(tag)
        if (ti >= 0 && end - i >= 2)
          out += (i.toLong << 40) | (end.toLong << 16) | ti.toLong
      }
      i += 1
    }
    out.toArray
  }

  /** Reference probability squash (multi_source_ner.py:109-110):
    * 1 / (1 + 10/(x-2)^2). Monotone for x > 2; 0 at x = 2.
    */
  def refSigmoid(x: Double): Double = {
    val d = x - 2.0
    if (d <= 0) 0.0 else 1.0 / (1.0 + 10.0 / (d * d))
  }

  /** Viterbi over an active-label sublattice; transitions: I-t reachable only
    * from B-t/I-t of the same type (+0.2), everything else 0.
    */
  def viterbiActive(
      emit: Array[Double],
      n: Int,
      nA: Int,
      typeOfLocal: Array[Int],
      isILocal: Array[Boolean]
  ): Array[Int] =
    viterbiActive(emit, n, nA, typeOfLocal, isILocal,
      new Array[Double](n * nA), new Array[Int](n * nA), new Array[Int](n))

  /** Buffer-reusing form: dp/bp sized ≥ n×nA, path ≥ n; every used cell is
    * overwritten (bp row 0 is never read), so dirty buffers are fine.
    */
  def viterbiActive(
      emit: Array[Double],
      n: Int,
      nA: Int,
      typeOfLocal: Array[Int],
      isILocal: Array[Boolean],
      dp: Array[Double],
      bp: Array[Int],
      path: Array[Int]
  ): Array[Int] = {
    var l = 0
    while (l < nA) {
      dp(l) = if (isILocal(l)) NegInf else emit(l)
      l += 1
    }
    var i = 1
    while (i < n) {
      val prevBase = (i - 1) * nA
      val base = i * nA
      // best unconstrained predecessor (for O and B- targets)
      var bestAny = NegInf
      var bestAnyFrom = 0
      var f = 0
      while (f < nA) {
        if (dp(prevBase + f) > bestAny) { bestAny = dp(prevBase + f); bestAnyFrom = f }
        f += 1
      }
      var to = 0
      while (to < nA) {
        if (!isILocal(to)) {
          dp(base + to) = bestAny + emit(base + to)
          bp(base + to) = bestAnyFrom
        } else {
          // I-t: only from B-t (to-1) or I-t (to) with +0.2
          val t = typeOfLocal(to)
          val fromB = dp(prevBase + to - 1)
          val fromI = dp(prevBase + to)
          if (fromB >= fromI) {
            dp(base + to) = fromB + 0.2 + emit(base + to)
            bp(base + to) = to - 1
          } else {
            dp(base + to) = fromI + 0.2 + emit(base + to)
            bp(base + to) = to
          }
          val _ = t
        }
        to += 1
      }
      i += 1
    }
    var bl = 0
    var bs = NegInf
    val lastBase = (n - 1) * nA
    l = 0
    while (l < nA) {
      if (dp(lastBase + l) > bs) { bs = dp(lastBase + l); bl = l }
      l += 1
    }
    path(n - 1) = bl
    i = n - 1
    while (i > 0) { path(i - 1) = bp(i * nA + path(i)); i -= 1 }
    path
  }

  /** The 4 production scorers with per-model miss/jitter rates (stand-in for
    * the 4 trained nets' differing recall; rates chosen so majority-vote ≥2
    * keeps ~all true mentions while single-model noise is filtered).
    */
  def productionScorers(trie: Trie): Seq[CrfScorer] = Seq(
    new CrfScorer("kd", trie, missPct = 10, jitterPct = 5),
    new CrfScorer("a", trie, missPct = 5, jitterPct = 3),
    new CrfScorer("c", trie, missPct = 15, jitterPct = 6),
    new CrfScorer("d", trie, missPct = 20, jitterPct = 8)
  )
}
