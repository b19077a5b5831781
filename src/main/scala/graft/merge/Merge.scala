package graft.merge

import scala.collection.mutable
import graft.model.{Mention, Ontology, Token}

/** Rule-based entity merging (reference §2.2 P9-adjacent / §2.4 rounds):
  * faithful ports of `merge_nerseg`, `words_combiner`,
  * `words_combiner_fuzzy`, `suffix_combiner`, `round_1`, `round_2`
  * (clean_and_save.py:59-263).
  *
  * These are order-sensitive, first-match-only, and full of deliberate
  * quirks the tests pin down:
  *   - `is_a_in_x` returns only the FIRST occurrence (clean_and_save.py:59-62);
  *   - the tag/word snapshots are taken once per sentence, BEFORE any merge in
  *     the same sentence mutates the token dict (:74-78) — later candidate
  *     sequences still match against the stale snapshot;
  *   - merged-span start comes from the PREVIOUS token's end with Python's
  *     [-1] wraparound at pos=0 (:84), which can produce an out-of-range span
  *     later re-tiled by the confidence stage (:662-673);
  *   - `words_combiner` deletes only pos+1 even for 3-token sequences (the
  *     second `del j_dict[pos+1]` always raises and is swallowed, :95-103), so
  *     the 3rd token survives; `words_combiner_fuzzy` deletes pos+1 AND pos+2;
  *   - `suffix_combiner` re-inserts a previously deleted position, which moves
  *     it to the END of the insertion-ordered dict (:281-283) — token order
  *     can scramble; replicated via LinkedHashMap;
  *   - length guard `len(combined) >= 12` exists in the two words-combiners
  *     but NOT in suffix_combiner.
  *
  * All row-local: Spark runs these inside one narrow map stage.
  */
object Merge {

  /** Canonical tag → small-int registry for the combiner hot path. The tag
    * vocabulary is CLOSED (ontology types, jieba-reverse values, "x"), and
    * every tag string in the pipeline originates from a literal or an
    * Ontology collection — i.e. a JVM-interned constant — so an identity
    * lookup hits ~always; a value-equality fallback keeps correctness for
    * any non-interned equal string. Unknown tags map to -1, which can never
    * equal a candidate-series id (all ≥ 0), so aliasing of distinct unknown
    * tags is harmless: series matching only compares against known ids.
    */
  private[merge] object TagIds {
    val all: IndexedSeq[String] =
      (Ontology.jiebaReverse.values.toSeq ++ Ontology.fuzzyMiddleTags ++
        Ontology.essentialTypes.toSeq ++
        Seq("x", "SUR", "DRU", "ORG", "DIS", "TES", "SYM", "EQM", "BFL",
          "DEG", "OGN", "OBJ")).distinct.toIndexedSeq
    require(all.size <= 64, s"tag vocabulary ${all.size} exceeds bitmask width")
    private val byValue: Map[String, Int] = all.zipWithIndex.toMap
    private val byRef = {
      val m = new java.util.IdentityHashMap[String, Integer](all.size * 4)
      all.zipWithIndex.foreach { case (t, i) => m.put(t, Integer.valueOf(i)) }
      m
    }
    def idOf(tag: String): Int = {
      val r = byRef.get(tag)
      if (r != null) r.intValue else byValue.getOrElse(tag, -1)
    }
  }

  /** A candidate-series set preprocessed for the hot path: the original
    * string series (the matched series' LAST tag becomes the merged token's
    * tag), the same series as canonical ids, and a per-series presence
    * bitmask for the O(1) prefilter.
    */
  private[merge] final class SeriesSet(val series: Array[Array[String]]) {
    val ids: Array[Array[Int]] = series.map(_.map(TagIds.idOf))
    require(ids.forall(_.forall(_ >= 0)),
      "candidate series contain a tag outside the closed vocabulary")
    val masks: Array[Long] = ids.map(_.foldLeft(0L)((m, i) => m | (1L << i)))
  }

  /** Port of `is_a_in_x` (clean_and_save.py:59-62): first occurrence of
    * `a` as a slice of `x`. The merge rounds run the allocation-free
    * [[isAInXIds]] over tag ids instead.
    */
  def isAInX[T](a: Seq[T], x: Seq[T]): (Int, Boolean) = {
    var i = 0
    val last = x.length - a.length
    while (i <= last) {
      if (x.slice(i, i + a.length) == a) return (i, true)
      i += 1
    }
    (0, false)
  }

  private def rejected(combined: String, sentence: String): Boolean =
    combined.contains('、') || !sentence.contains(combined) ||
      combined.contains(',') || combined.contains(':')

  private def toDict(seg: Array[Token]): mutable.LinkedHashMap[Int, Token] = {
    val d = mutable.LinkedHashMap.empty[Int, Token]
    var i = 0
    while (i < seg.length) { d.put(i, seg(i)); i += 1 }
    d
  }

  /** Python-wraparound previous-token end (clean_and_save.py:84). */
  private def prevEnd(seg: Array[Token], pos: Int): Int =
    if (seg.isEmpty) 0
    else if (pos == 0) seg(seg.length - 1).end
    else seg(pos - 1).end

  private def combineWords(words: Array[String], pos: Int, len: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = pos
    val end = math.min(pos + len, words.length)
    while (i < end) { sb.append(words(i)); i += 1 }
    sb.toString
  }

  /** `words_combiner` (clean_and_save.py:65-110). */
  def wordsCombiner(
      sentence: String,
      seg: Seq[Token],
      poSeries: Seq[Seq[String]]
  ): Seq[Token] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      wordsCombinerArr(sentence, seg.toArray,
        new SeriesSet(poSeries.map(_.toArray).toArray),
        deletePos2 = false))

  /** First occurrence of id-series `a` as a slice of `x` — the int form of
    * [[isAInX]] (tag-id equality ⇔ tag-string equality: equal strings share
    * an id via TagIds, and the -1 unknown id never equals a series id).
    */
  private def isAInXIds(a: Array[Int], x: Array[Int]): Int = {
    val alen = a.length
    var i = 0
    val last = x.length - alen
    while (i <= last) {
      var j = 0
      var ok = true
      while (ok && j < alen) {
        if (x(i + j) != a(j)) ok = false else j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Shared combiner core; `deletePos2` distinguishes the plain combiner
    * (3rd token survives, :99-103) from the fuzzy one (pos+2 deleted too,
    * :227-233). Array-in/array-out so the round chains allocate nothing
    * between passes. The hot path works on canonical tag IDS: the sentence's
    * tag-presence set is one 64-bit mask, the per-series prefilter one
    * mask-AND (was a string HashSet probe per series tag), and the
    * first-match scan compares ints — pure representation change,
    * first-match semantics identical (goldens pin the outputs).
    */
  private def wordsCombinerArr(
      sentence: String,
      seg: Array[Token],
      po: SeriesSet,
      deletePos2: Boolean
  ): Array[Token] = {
    val segIds = new Array[Int](seg.length)
    val words = new Array[String](seg.length)
    var present = 0L
    var i = 0
    while (i < seg.length) {
      val id = TagIds.idOf(seg(i).tag)
      segIds(i) = id
      if (id >= 0) present |= 1L << id
      words(i) = seg(i).word
      i += 1
    }
    val seriesIds = po.ids
    val masks = po.masks
    var jDict: mutable.LinkedHashMap[Int, Token] = null
    var s = 0
    while (s < seriesIds.length) {
      val need = masks(s)
      if ((present & need) == need) {
        val seq = seriesIds(s)
        val pos = isAInXIds(seq, segIds)
        if (pos >= 0) {
          val strSeq = po.series(s)
          val start = prevEnd(seg, pos)
          val combined = combineWords(words, pos, seq.length)
          if (combined.length < 12 && !rejected(combined, sentence)) {
            if (jDict == null) jDict = toDict(seg)
            jDict.put(pos,
              Token(combined, strSeq(strSeq.length - 1), start,
                start + combined.length))
            val had = jDict.contains(pos + 1)
            jDict.remove(pos + 1)
            if (deletePos2 && had && seq.length == 3) jDict.remove(pos + 2)
          }
        }
      }
      s += 1
    }
    if (jDict == null) seg else jDict.values.toArray
  }

  /** Memoized fuzzy candidate expansions — rebuilt per sentence in the
    * reference (:179-184); there are only a handful of distinct
    * (preTypes, centerType) combos so cache them per JVM.
    */
  private val fuzzySeriesCache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[String], String), SeriesSet]()

  private def fuzzySeries(preTypes: Seq[String], centerType: String): SeriesSet =
    fuzzySeriesCache.computeIfAbsent((preTypes, centerType), { _ =>
      new SeriesSet(preTypes.flatMap { pt =>
        Seq(Array(pt, centerType)) ++
          Ontology.fuzzyMiddleTags.map(t => Array(pt, t, centerType))
      }.toArray)
    })

  /** `words_combiner_fuzzy` (clean_and_save.py:177-236): expands
    * (preType, centerType) into [pre, center] plus [pre, T, center] for every
    * uppercase tag T, then behaves like words_combiner but deletes BOTH
    * swallowed positions for 3-sequences.
    */
  def wordsCombinerFuzzy(
      sentence: String,
      seg: Seq[Token],
      preTypes: Seq[String],
      centerType: String
  ): Seq[Token] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      wordsCombinerArr(sentence, seg.toArray,
        fuzzySeries(preTypes, centerType), deletePos2 = true))

  /** `suffix_combiner` (clean_and_save.py:266-296): a token of a desired type
    * directly followed by a suffix word merges into one token of
    * `suffixType`. No length guard; re-insertion of a deleted position moves
    * it to the end (LinkedHashMap semantics mirror the Python dict).
    */
  def suffixCombiner(
      sentence: String,
      segIn: Seq[Token],
      suffix: Set[String],
      desired: Set[String],
      suffixType: String
  ): Seq[Token] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      suffixCombinerArr(sentence, segIn.toArray, suffix, maskOf(desired),
        suffixType))

  /** Presence bitmask of a (closed-vocabulary) tag set. */
  private def maskOf(tags: Set[String]): Long =
    tags.foldLeft(0L) { (m, t) =>
      val id = TagIds.idOf(t)
      require(id >= 0, s"tag $t outside the closed vocabulary")
      m | (1L << id)
    }

  private def suffixCombinerArr(
      sentence: String,
      seg: Array[Token],
      suffix: Set[String],
      desiredMask: Long,
      suffixType: String
  ): Array[Token] = {
    var jDict: mutable.LinkedHashMap[Int, Token] = null
    var dt = 0
    while (dt < seg.length - 1) {
      val md = seg(dt)
      val id = TagIds.idOf(md.tag)
      if (id >= 0 && (desiredMask & (1L << id)) != 0L &&
        suffix.contains(seg(dt + 1).word)) {
        val start = prevEnd(seg, dt)
        val combined = md.word + seg(dt + 1).word
        if (!rejected(combined, sentence)) {
          if (jDict == null) jDict = toDict(seg)
          jDict.put(dt, Token(combined, suffixType, start, start + combined.length))
          jDict.remove(dt + 1)
        }
      }
      dt += 1
    }
    if (jDict == null) seg else jDict.values.toArray
  }

  /** `merge_nerseg` (clean_and_save.py:113-174): overlay ensemble mentions
    * onto the gazetteer token sequence when the mention exactly spans a run
    * of ≥2 tokens (token-boundary aligned); dictionary wins when boundaries
    * are identical. Mentions containing enumeration/sentence punctuation are
    * skipped; mentions shorter than 3 chars are skipped.
    */
  def mergeNerSeg(
      seg: Seq[Token],
      ensemble: Seq[Mention]
  ): Seq[Token] = {
    val desired = Ontology.essentialTypes
    var segInfo = seg.toBuffer
    val candidatesSeg = seg.filter(t => desired.contains(t.tag))
    val candNer = ensemble.filter(m => desired.contains(m.tpe))
    candNer.foreach { ner =>
      val w = ner.word
      if (!(w.contains('、') || w.contains('；') || w.contains('，') ||
          w.contains(';'))) {
        val pos = (ner.start, ner.end)
        val segPositions = candidatesSeg.map(t => (t.start, t.end))
        if (!segPositions.contains(pos) && w.length > 2) {
          val seg0 = segInfo.map(_.start)
          val seg1 = segInfo.map(_.end)
          val m0 = seg0.indexOf(ner.start)
          val m1 = seg1.indexOf(ner.end)
          if (m0 >= 0 && m1 >= 0 && m0 != m1) {
            // reference pops range(merge_1+1, merge_0, -1) (:163-165): for the
            // pathological m1 < m0 the range is empty and it inserts anyway
            if (m1 > m0) segInfo.remove(m0, m1 - m0 + 1)
            segInfo.insert(m0, Token(w, ner.tpe, ner.start, ner.end))
          }
        }
      }
    }
    // tag uppercase-ing (clean_and_save.py:170-172): lowercase jieba tags →
    // ontology types; already-uppercase tags pass through
    segInfo.toSeq.map { t =>
      Ontology.jiebaReverse.get(t.tag) match {
        case Some(up) => t.copy(tag = up)
        case None     => t
      }
    }
  }

  /** `round_1` (clean_and_save.py:237-246). The reference computes two extra
    * fuzzy passes into pre_copy2/pre_copy3 whose results are DISCARDED
    * (:241-242) — the combiners are pure (they deep-copy), so we skip the
    * dead work.
    */
  private val R1WordsA: SeriesSet = new SeriesSet(Array(
    Array("SUR", "DRU"), Array("ORG", "SUR"), Array("DIS", "SUR"),
    Array("TES", "SUR")))
  private val R1WordsB: SeriesSet = new SeriesSet(Array(
    Array("SUR", "SUR"), Array("ORG", "SUR"), Array("DIS", "SUR"),
    Array("TES", "SUR")))

  def round1(sentence: String, seg: Seq[Token]): Seq[Token] = {
    var s = seg.toArray
    s = wordsCombinerArr(sentence, s,
      fuzzySeries(Seq("SYM", "ORG", "DIS", "BFL", "DEG", "OGN"), "DIS"),
      deletePos2 = true)
    s = wordsCombinerArr(sentence, s,
      fuzzySeries(Seq("SYM", "ORG", "DIS", "BFL", "DEG", "OGN"), "SYM"),
      deletePos2 = true)
    s = wordsCombinerArr(sentence, s,
      fuzzySeries(Seq("SYM", "ORG", "DIS", "OBJ", "DRU"), "SUR"),
      deletePos2 = true)
    s = wordsCombinerArr(sentence, s, R1WordsA, deletePos2 = false)
    s = wordsCombinerArr(sentence, s, R1WordsB, deletePos2 = false)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(s)
  }

  /** `round_2` (clean_and_save.py:248-263). `suffixDict` is surface → TYPE. */
  private val R2Words: SeriesSet = new SeriesSet(Array(
    Array("SUR", "SUR"), Array("ORG", "SUR"), Array("DIS", "SUR")))

  /** Per-type suffix sets, precomputed once per partition (round2 runs per
    * sentence; rebuilding 5 filtered sets each time showed in profiles).
    */
  final case class SuffixSets(
      sym: Set[String], dis: Set[String], eqm: Set[String],
      tes: Set[String], sur: Set[String])

  object SuffixSets {
    def from(suffixDict: Map[String, String]): SuffixSets = {
      def sufOf(t: String): Set[String] =
        suffixDict.collect { case (k, v) if v == t => k }.toSet
      SuffixSets(sufOf("SYM"), sufOf("DIS"), sufOf("EQM"), sufOf("TES"),
        sufOf("SUR"))
    }
  }

  private val MaskDisSymBflOrg = maskOf(Set("DIS", "SYM", "BFL", "ORG"))
  private val MaskSurTesBflEqm = maskOf(Set("SUR", "TES", "BFL", "EQM"))
  private val MaskSixTypes =
    maskOf(Set("SUR", "TES", "ORG", "DIS", "SYM", "BFL"))

  def round2(
      sentence: String,
      seg: Seq[Token],
      sets: SuffixSets
  ): Seq[Token] = {
    var s = seg.toArray
    s = suffixCombinerArr(sentence, s, sets.sym, MaskDisSymBflOrg, "SYM")
    s = suffixCombinerArr(sentence, s, sets.dis, MaskDisSymBflOrg, "DIS")
    s = suffixCombinerArr(sentence, s, sets.eqm, MaskSurTesBflEqm, "EQM")
    s = suffixCombinerArr(sentence, s, sets.tes, MaskSixTypes, "TES")
    s = suffixCombinerArr(sentence, s, sets.sur, MaskSixTypes, "SUR")
    s = wordsCombinerArr(sentence, s, R2Words, deletePos2 = false)
    s = wordsCombinerArr(sentence, s,
      fuzzySeries(Seq("ORG", "DIS", "DRU", "OBJ", "BFL"), "TES"),
      deletePos2 = true)
    s = wordsCombinerArr(sentence, s,
      fuzzySeries(Seq("SYM", "ORG", "DIS", "OBJ", "DRU"), "SUR"),
      deletePos2 = true)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(s)
  }
}
