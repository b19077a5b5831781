package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.Fixtures.DrugInstr
import graft.model.{Ontology, Triple}

/** Triple assembly (reference §1.3): subj = head entity, pred = section kind,
  * obj = extracted mention — the source_segment × ner_result join on
  * text_id=ind (clean_and_save.py:1140-1188, 1306-1320) — plus the direct
  * drug-group taboo triples (pre_labeling.py:313-376).
  *
  * Scale note: the reference materializes mentions and lineage in separate
  * tables and re-joins them on `ind`(J2/J6) — J6 is literally an O(N·M)
  * pandas filter inside a loop. Here lineage never left the row:
  * [[Annotate.SentenceArtifacts]] carries both, so triple emission is a
  * narrow flatMap with ZERO shuffle, and the A3 max-prob dedup
  * (clean_and_save.py:1081-1082) collapses to row-local grouping because its
  * key (ind, ent_name, ent_type, start) is prefixed by `ind`.
  */
object Triples {

  /** A3 dedup, row-local: sort prob desc (ties: model-category order of the
    * reference concat :1077), keep first per (entName, entType, start).
    * Dict rows with len<=2 get prob 0.7 first (:1048).
    */
  def fromArtifacts(arts: Dataset[Annotate.SentenceArtifacts])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    arts.flatMap { a =>
      val adjusted = a.entities.map { e =>
        if ((e.model == "refined_dictionary" || e.model == "other_dictionary")
          && e.entName.length <= 2) e.copy(prob = 0.7)
        else e
      }
      def rank(model: String): Int = model match {
        case "refined_dictionary" | "other_dictionary" => 1
        case "rules_merging"                           => 2
        case _                                         => 0 // models + ensemble_strong
      }
      val deduped = adjusted
        .groupBy(e => (e.entName, e.entType, e.start))
        .values
        .map(_.minBy(e => (-e.prob, rank(e.model))))
      deduped
        .filter(Ontology.essentialMention)
        .map { e =>
          Triple(a.row.entity1, a.row.entity1Type, a.row.paragraph,
            e.entName, e.entType, a.row.ind, e.prob)
        }
    }
  }

  /** Group-taboo classification (P11, pre_labeling.py:326-353): keyword lists
    * checked in caution → notrecommended → prohibited order, LATER match
    * overwrites (priority: prohibited > notrecommended > caution).
    */
  val prohibited = Seq("禁用", "不适用", "禁止", "忌")
  val notrecommended = Seq("不宜", "慎")
  val caution = Seq("致", "易发", "指导", "减量", "调整", "较小", "减少",
    "酌", "注意", "低剂")

  def classifyTaboo(text: String): String = {
    var taboo = ""
    if (caution.exists(text.contains)) taboo = "调整用量"
    if (notrecommended.exists(text.contains)) taboo = "慎用人群"
    if (prohibited.exists(text.contains)) taboo = "禁用人群"
    taboo
  }

  /** Direct drug-group triples (pre_labeling.py:356-376):
    * (entity_1 = drug DRU, entity_2 = 孕妇/儿童/老人 GRP, relation, sentence);
    * 调整用量 remapped to 慎用人群 at the end (:375). Empty-text cells become
    * empty-relation rows exactly like the reference's nan path — dedup only.
    */
  final case class GroupTriple(
      entity1: String,
      entity2: String,
      relation: String,
      sentence: String,
      entityType1: String = "DRU",
      entityType2: String = "GRP",
      domain: String = "KBMS"
  )

  def groupTriples(instrs: Dataset[DrugInstr])(
      implicit spark: SparkSession): Dataset[GroupTriple] = {
    import spark.implicits._
    instrs.flatMap { d =>
      Seq(("孕妇", d.woman), ("儿童", d.children), ("老人", d.agedness))
        .map { case (gname, text) =>
          val rel0 = classifyTaboo(text)
          val rel = if (rel0 == "调整用量") "慎用人群" else rel0
          GroupTriple(d.product, gname, rel, text)
        }
    }.dropDuplicates()
  }
}
