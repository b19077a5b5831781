package graft.ner

import scala.collection.mutable.ArrayBuffer

/** BIO tag-sequence codec (reference P8): conversions between per-char type
  * sequences, B-/I- tag sequences and [start, end) spans. The reference
  * copies these helpers into four files (multi_ner_prediction.py:47-61,
  * 174-185, 220-280; EnsemblePredict_all.py:98-222; app_multi.py:45-139);
  * here they live once and are unit-tested directly.
  *
  * All functions are row-local (one sentence per row) — never Spark windows.
  */
object Bio {

  /** Port of `post_processing` (multi_ner_prediction.py:174-185): a per-char
    * plain type sequence ("O"/"DIS"/…) → BIO tags. A char opens a B- tag when
    * its type differs from the previous char's type.
    */
  def toBio(types: Seq[String]): Seq[String] = {
    var prev = "O"
    types.map { t =>
      val tag =
        if (t == "O") "O"
        else if (t != prev) s"B-$t"
        else s"I-$t"
      prev = t
      tag
    }
  }

  /** Faithful state-machine port of `get_positions`
    * (EnsemblePredict_all.py:162-222, copies in multi_ner_prediction.py:220-280
    * and app_multi.py): a (BIO tag, prob) sequence → (types, [start, end)
    * spans, per-span (max, min) prob pairs).
    *
    * Deliberately replicated quirk: the reference only marks a span as
    * closable (`waiting = True`) when an I- tag is seen or when a B- directly
    * follows a previous span — so an isolated single-character entity
    * (B- followed by O, or B- at end-of-sequence) is DROPPED. Parity over
    * "correctness"; the unit tests pin this behavior.
    */
  def getPositions(
      tagged: Seq[(String, Double)]
  ): (Seq[String], Seq[(Int, Int)], Seq[(Double, Double)]) = {
    val types = ArrayBuffer.empty[String]
    val spans = ArrayBuffer.empty[(Int, Int)]
    val probPairs = ArrayBuffer.empty[(Double, Double)]
    val lenSeq = tagged.length - 1
    var waiting = false
    var typeWaiting = ""
    var start = 0
    var probSeq = ArrayBuffer.empty[Double]
    def close(end: Int): Unit = {
      spans += ((start, end))
      types += typeWaiting
      probPairs += ((probSeq.max, probSeq.min))
    }
    var ie = 0
    while (ie <= lenSeq) {
      val (elem, prob) = tagged(ie)
      val head = elem.split("-")(0)
      if (head == "I") {
        if (ie != lenSeq) { probSeq += prob; waiting = true }
        else { probSeq += prob; close(ie + 1) }
      } else if (ie == lenSeq && elem == "O") {
        if (waiting) close(ie)
      } else if (head == "B") {
        if (waiting) {
          close(ie)
          probSeq = ArrayBuffer(prob)
          waiting = true
        } else probSeq = ArrayBuffer(prob)
        typeWaiting = elem.split("-")(1)
        start = ie
      } else if (elem == "O") {
        if (waiting) {
          waiting = false
          close(ie)
          probSeq = ArrayBuffer(prob)
        }
      }
      ie += 1
    }
    (types.toSeq, spans.toSeq, probPairs.toSeq)
  }

  /** Spans + types → BIO sequence of length `len` (the `voted_seq`
    * reconstruction, EnsemblePredict_all.py:380-389).
    */
  def fromSpans(len: Int, spans: Seq[((Int, Int), String)]): Seq[String] = {
    val out = Array.fill(len)("O")
    spans.foreach { case ((s, e), t) =>
      if (s >= 0 && s < len) out(s) = s"B-$t"
      var i = s + 1
      while (i < e && i < len) { out(i) = s"I-$t"; i += 1 }
    }
    out.toSeq
  }
}
