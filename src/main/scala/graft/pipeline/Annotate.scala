package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.dict.{Gazetteer, Trie}
import graft.merge.{Merge, RulesMerging}
import graft.model._
import graft.ner._

/** The per-sentence annotation super-stage: gazetteer seg → 4 CRF-style
  * scorers → ensembles → confidence → boundary strip → NER∪dict merge →
  * rule rounds → rules-merging rows.
  *
  * This fuses reference stages pre_labeling → EnsemblePredict_all →
  * clean_and_save STEP 2-6.1 into ONE narrow Spark stage: every operation is
  * a pure function of a single sentence plus broadcast state (trie, weights,
  * eval matrix). The reference runs these as 3 separate processes exchanging
  * JSON files and an O(N·M) pandas filter-in-a-loop join
  * (clean_and_save.py:648-649); here the sentence never leaves the executor —
  * at 100 TB this is the throughput-critical path and it has NO shuffle.
  */
object Annotate {

  /** Everything produced from one sentence. `entities` carries dict rows,
    * per-model rows, stripped ensemble_strong rows and rules_merging rows —
    * the union that clean_and_save assembles as all_entities (:1077-1085).
    */
  final case class SentenceArtifacts(
      row: AnnotatedSentence,
      entities: Seq[EntityRow]
  )

  def annotate(
      sentences: Dataset[SentenceRow],
      trieB: Broadcast[Trie],
      weightsB: Broadcast[Map[String, Map[String, Double]]],
      evalB: Broadcast[Map[String, Map[String, Map[String, Array[Double]]]]],
      refinedB: Broadcast[Set[String]],
      suffixB: Broadcast[Map[String, String]]
  )(implicit spark: SparkSession): Dataset[SentenceArtifacts] = {
    import spark.implicits._
    sentences.mapPartitions { it =>
      // per-partition setup: everything derivable from broadcasts is
      // computed ONCE here, never per sentence
      val trie = trieB.value
      val ctx = Ctx(
        trie,
        CrfScorer.productionScorers(trie),
        weightsB.value,
        Ensembles.weightsIdx(weightsB.value),
        evalB.value,
        refinedB.value,
        graft.merge.Merge.SuffixSets.from(suffixB.value))
      it.map(sr => annotateOne(sr, ctx))
    }
  }

  /** Per-partition context: broadcast-derived state computed once. */
  final case class Ctx(
      trie: Trie,
      scorers: Seq[CrfScorer],
      weights: Map[String, Map[String, Double]],
      weightsIdx: Map[String, Array[Double]],
      eval: Map[String, Map[String, Map[String, Array[Double]]]],
      refined: Set[String],
      suffixSets: graft.merge.Merge.SuffixSets
  )

  /** Pure per-sentence function (unit-testable without Spark). */
  def annotateOne(sr: SentenceRow, ctx: Ctx): SentenceArtifacts = {
    import ctx._
    val numModels = scorers.size
    val sent = sr.sentence
    val dsEval = eval.getOrElse(sr.source, eval("m"))

    // STEP A: gazetteer seg (pre_labeling.py:88-96) with uppercase types
    // (clean_and_save.py:461-463: reverse_mapping.get(flag, "x"))
    val segRaw = Gazetteer.tokenize(trie, sent)
    val seg = segRaw.map { t =>
      t.copy(tag = Ontology.jiebaReverse.getOrElse(t.tag, "x"))
    }

    // dict-match entity rows (clean_and_save.py:471-506): refined 0.95 / 0.9
    val dictRows = seg.filter(_.tag != "x").map { t =>
      val (prob, model) =
        if (refined.contains(t.word)) (0.95, "refined_dictionary")
        else (0.9, "other_dictionary")
      EntityRow(sr.ind, model, t.word, t.tag, t.start, t.end,
        prob, prob, prob, prob)
    }

    // STEP B: 4 scorers + ensembles (EnsemblePredict_all.py:226-395) —
    // raw int-label path; ONE shared trie scan feeds all 4 scorers
    val pred = CrfScorer.predictAll(trie, scorers, sent)
    val modelOrder = Ontology.models.filter(pred.contains)
    val ens = EnsemblesRaw.run(pred, weightsIdx)

    // ensemble mentions for the merge path (:391-395), normalized spans
    val ensembleMentions = Spans.normalize(ens.boundaries.indices.map(k =>
      BioRaw.mention(sent, ens.typeIdxs(k), ens.boundaries(k))))

    // STEP C: per-model + ensemble_strong confidence rows (:500-552)
    val spanModels: Map[(Int, Int), Seq[String]] =
      ens.boundaries.toSeq.zip(ens.modelMasks.toSeq).map { case (span, mask) =>
        (BioRaw.spanStart(span), BioRaw.spanEnd(span)) ->
          EnsemblesRaw.modelNames(mask, modelOrder)
      }.toMap
    val modelRows = scorers.flatMap { sc =>
      Confidence.entityRowsRaw(sr.ind, sc.model, pred(sc.model), sent,
        dsEval, numModels)
    }
    val strongRows = Confidence.entityRowsRaw(sr.ind, "ensemble_strong",
      ens.strong, sent, dsEval, numModels, spanModels)

    // STEP D: boundary strip, ensemble_strong only (clean_and_save.py:522-544)
    val strippedStrong = strongRows.map { r =>
      val (w, s, e) = Boundary.strip(r.entName, r.start, r.end)
      r.copy(entName = w, start = s, end = e)
    }

    // STEP E: NER∪dict merge + rule rounds (clean_and_save.py:600-616)
    val merged = Merge.round2(sent,
      Merge.round1(sent, Merge.mergeNerSeg(seg, ensembleMentions)),
      suffixSets)

    // STEP F: rules_merging confidence rows (clean_and_save.py:622-707);
    // prob_seq uses the STRIPPED ensemble rows' prob_strict (:624-625, 652)
    val rulesRows = RulesMerging.entityRows(sr.ind, sent, merged,
      strippedStrong.filter(_.entName.nonEmpty)
        .map(r => RulesMerging.SpanProb(r.entName, r.start, r.end, r.prob)),
      dictRows.map(r => RulesMerging.SpanProb(r.entName, r.start, r.end, r.prob)))

    val row = AnnotatedSentence(sr.url, sr.book, sr.location, sr.paragraph,
      sent, sr.entity1, sr.entity1Type, sr.source, sr.ind, merged,
      ensembleMentions)
    SentenceArtifacts(row,
      dictRows ++ modelRows ++ strippedStrong ++ rulesRows)
  }
}
