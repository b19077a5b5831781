package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.{Ontology, SentenceRow}
import graft.pipeline.Annotate.SentenceArtifacts

/** The reference's final materialized table surface (SURVEY.md §1.3):
  * source_segment (head/node side, clean_and_save.py:1140-1188),
  * ner_result (mention/edge side, :1306-1320), and the metadata tables
  * (model_info / model_eval_results / corpus_info, :711-866).
  *
  * Deviations, deliberate and documented:
  *   - `crte_time` is a FIXED timestamp, not now() (:397-398) — wall-clock in
  *     outputs breaks resume byte-identity;
  *   - `head_id` keeps the reference's h%%08d dense-index format (A12,
  *     :1174-1180) computed by dense_rank over the sorted group keys in ONE
  *     global window (one partition). The distinct-group count grows with
  *     the corpus (46,034 groups over 338,988 sentences at 20k pages), so
  *     this is a serial step; ROADMAP Direction 5 tracks the distributed
  *     replacement. The canonical CONTENT ids used for joins remain hashes
  *     (Materialize), this column is format parity only.
  */
object FinalTables {

  /** Fixed creation stamp (no wall-clock — determinism invariant). */
  val CrteTime = "2024-01-01 00:00:00"
  val Crter = "graft"

  /** J9 source-id assignment (clean_and_save.py:1106-1139 when-chain):
    * corpus code → source id; book-file sources get per-book TXT ids.
    */
  def soucId(source: org.apache.spark.sql.Column,
      book: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(source === "d", lit("CSV02"))
      .when(source === "kd", lit("CSV06"))
      .when(source === "labs", lit("CSV04"))
      .when(source === "surgeries", lit("CSV03"))
      .when(source === "examinations", lit("CSV05"))
      .when(source === "c",
        concat(lit("TXTC"), pmod(xxhash64(book), lit(100))))
      .when(source === "m",
        concat(lit("TXTM"), pmod(xxhash64(book), lit(100))))
      .otherwise(lit(""))

  /** source_segment: one row per sentence carrying (subject, predicate)
    * lineage — schema per clean_and_save.py:1165-1173 column mapping.
    */
  def sourceSegment(sents: Dataset[SentenceRow]): DataFrame = {
    val base = sents
      .select(
        col("source").as("corpus"),
        col("book"),
        col("ind").as("text_id"),
        col("location").as("catalog"),
        col("entity1").as("text_label"),
        col("paragraph").as("text_background"),
        col("entity1Type").as("head_type"),
        col("sentence").as("text_content"))
      .withColumn("souc_id", soucId(col("corpus"), col("book")))
      .withColumn("head_onto_id", Ontology.ontologyIdCol(col("head_type")))
      .withColumn("crte_time", lit(CrteTime))
      .withColumn("crter", lit(Crter))
    // A12 head-id: dense index over the sorted group keys (format parity).
    // The global window runs on one partition and the group count grows
    // with the corpus; ROADMAP Direction 5 tracks a distributed index.
    val groups = base
      .select(col("text_label"), col("text_background"), col("catalog"),
        col("souc_id")).distinct()
      .withColumn("head_idx", dense_rank().over(Window.orderBy(
        col("text_label"), col("text_background"), col("catalog"),
        col("souc_id"))) - 1)
      .withColumn("head_id", format_string("h%08d", col("head_idx")))
      .drop("head_idx")
    base.join(broadcast(groups),
      Seq("text_label", "text_background", "catalog", "souc_id"), "left")
      .select("souc_id", "text_id", "catalog", "text_label",
        "text_background", "head_onto_id", "text_content", "crte_time",
        "crter", "head_id")
  }

  /** ner_result: one row per extracted mention — schema per
    * clean_and_save.py:1306-1320.
    */
  def nerResult(arts: Dataset[SentenceArtifacts])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    arts.flatMap { a =>
      a.entities.filter(Ontology.essentialMention).map { e =>
        val entityId = graft.util.Hashing.id63(
          e.entName, "|", e.entType, "|", a.row.ind.toString, "|",
          e.start.toString, "|", e.model)
        (entityId, e.model, a.row.ind, a.row.sentence,
          Ontology.ontologyId(e.entType), e.entName, e.start, e.end,
          e.prob, CrteTime, Crter)
      }
    }.toDF("entity_id", "ner_model_id", "text_id", "text_content",
      "onto_id", "entity_name", "entity_begn_coord", "entity_end_coord",
      "entity_conf", "crte_time", "crter")
  }

  /** corpus_info with the source_type classification when-chain
    * (clean_and_save.py:1096-1105: id prefix → human-readable kind).
    */
  def corpusInfo(sents: Dataset[SentenceRow]): DataFrame =
    sents.select(col("source").as("corpus"), col("book"))
      .distinct()
      .withColumn("source_id", soucId(col("corpus"), col("book")))
      .withColumn("source_type",
        when(col("source_id").startsWith("P"), lit("临床路径"))
          .when(col("source_id") === "CSV00", lit("临床指南"))
          .when(col("source_id") === "CSV01", lit("操作手册"))
          .when(col("source_id") === "CSV02", lit("药品说明书"))
          .when(col("source_id").startsWith("JSN"), lit("药品说明书"))
          .when(col("source_id").startsWith("CSV"), lit("资料库"))
          .when(col("source_id").startsWith("TXTC"), lit("临床指南"))
          .when(col("source_id").startsWith("TXTM"), lit("操作手册"))
          .otherwise(lit("")))
      .withColumn("crte_time", lit(CrteTime))
      .withColumn("crter", lit(Crter))

  /** model_info + model_eval_results metadata (clean_and_save.py:711-790)
    * from the deterministic fixtures.
    */
  def modelInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Ontology.models.map { m =>
      (m, s"crf_style_scorer_$m", CrteTime, Crter)
    }.toDF("model_id", "model_name", "crte_time", "crter")
  }

  /** model_eval_results — DERIVED from data (round-2): MUC-scored model
    * predictions on the labeled fixture corpus (ModelEval.evalMatrix, the
    * multi_ner_prediction.py:595-606 flow), not the hashed fixture values.
    */
  def modelEvalResults(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = for {
      (src, byModel) <- graft.ner.ModelEval.evalMatrix.toSeq
      (model, byType) <- byModel.toSeq
      (tpe, ms) <- byType.toSeq
    } yield (src, model, tpe, ms(0), ms(1), ms(2), ms(3))
    rows.toDF("dataset", "model_id", "ent_type", "strict_p", "partial_p",
      "exact_p", "type_p")
  }

  /** Corpus code → human-readable corpus name (the reference's fixed
    * vocabulary, clean_and_save.py:831-835).
    */
  val corpusNames: Map[String, String] = Map(
    "d" -> "药品说明书", "c" -> "临床指南", "kd" -> "资料库",
    "m" -> "操作手册", "a" -> "全量数据")

  /** training_info (clean_and_save.py:752-790): the 19-row dataset registry
    * — 10 training sets (5 corpora + their 5 augmented variants), 4
    * held-out test sets, 5 out-of-bag replacement-augmented test sets.
    * Reference quirks kept deliberately: `augmented_k` (not `augmented_kd`,
    * :753), the full-width colon + trailing space in generation_method
    * (:780), and the five-space run inside the 4th oob tagging_method
    * (a Python backslash-continuation inside the string literal, :774-775).
    * crte stamps follow this repo's fixed-timestamp convention.
    */
  def trainingInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val baseDir = "ner_training_final"
    val corpusCodes = Seq("d", "c", "kd", "m", "a")
    val trainCorpora = corpusCodes.map(corpusNames) ++
      corpusCodes.map(corpusNames) ++
      Seq("d", "c", "kd", "m").map(corpusNames) ++
      Seq.fill(5)(corpusNames("a"))
    val augCodes = Seq("augmented_d", "augmented_c", "augmented_k",
      "augmented_m", "augmented_a")
    val oobNames = Seq("seed", "batch1", "batch2", "batch3", "batch1_b")
      .map(n => s"oob_test_$n.txt")
    val paths = (corpusCodes ++ augCodes).map(c => s"$baseDir/${c}_training.txt") ++
      Seq("d", "c", "kd", "m").map(c => s"$baseDir/${c}_test.txt") ++
      oobNames.map(n => s"$baseDir/$n")
    val names = paths.map(_.split("/").last)
    val tagging = Seq.fill(5)("NER and dictionary matching") ++
      Seq.fill(5)("NER and dictionary matching + data augmentation") ++
      Seq.fill(4)("NER and dictionary matching") ++ Seq(
        "NER and dictionary matching, with only unseen entities",
        "NER and dictionary matching, with only unseen entities and entity random replacement strategy",
        "NER and dictionary matching, with only unseen entities and context noise injection",
        "NER and dictionary matching, with only unseen entities,     entity random replacement from dictionary and context noise injection",
        "NER and dictionary matching, with only unseen entities and entity random replacement strategy")
    val generation = Seq.fill(10)("train test split： training ") ++
      Seq.fill(9)("train test split： testing ")
    val usage = Seq.fill(10)("训练") ++ Seq.fill(9)("测试")
    trainCorpora.indices.map { i =>
      (trainCorpora(i), names(i), paths(i), tagging(i), generation(i),
        usage(i), CrteTime, Crter)
    }.toDF("corpus", "dataset_name", "dataset_paths", "tagging_method",
      "generation_method", "usage", "creation_time", "created_by")
  }

  /** ner_info (clean_and_save.py:1250-1267): one row per scorer model plus
    * the ensemble. The reference's positional rename maps design_path →
    * doc_save, model_path → code_save, code_path → conf_save — replicated
    * as-is (schema parity).
    */
  def nerInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val scorers = Ontology.models.map { m =>
      (m, s"${corpusNames.getOrElse(m, m)}训练的crf_style_scorer", "",
        s"${m}_training.txt", s"docs/scorer_$m.md",
        s"models/scorer_$m.bin", s"graft/ner/CrfScorer.scala")
    }
    val ensemble = (
      "ensemble", "集成模型", Ontology.models.mkString(","),
      "a_training.txt", "docs/ensemble.md", "models/ensemble.bin",
      "graft/ner/Ensembles.scala")
    (scorers :+ ensemble).map { case (id, name, subs, ds, doc, code, conf) =>
      (id, name, subs, ds, doc, code, conf, CrteTime, Crter)
    }.toDF("ner_model_id", "ner_model_name", "submodel_list", "dataset_id",
      "doc_save", "code_save", "conf_save", "crte_time", "crter")
  }

  /** ner_eval (clean_and_save.py:1275-1300): model_eval_results re-columned
    * for the warehouse — the reference's positional mapping is
    * strict → conf_precision, exact → conf_coordinate,
    * type → conf_entitytype, partial → conf_vague_coor, and
    * model_conf = prob = the strict score (probs[0], :741).
    */
  def nerEval(modelEvalResults: DataFrame): DataFrame =
    modelEvalResults.select(
      col("model_id").as("ner_model_id"),
      col("dataset").as("dataset_id"),
      col("ent_type").as("onto_id"),
      col("strict_p").as("conf_precision"),
      col("exact_p").as("conf_coordinate"),
      col("type_p").as("conf_entitytype"),
      col("partial_p").as("conf_vague_coor"),
      col("strict_p").as("model_conf"),
      lit(CrteTime).as("crte_time"),
      lit(Crter).as("crter"))

  /** source_labeled (clean_and_save.py:1223-1245): training datasets joined
    * to the knowledge sources they were labeled from — souc_id is the
    * sorted set of corpus_info source ids of the dataset's corpus type
    * (全量数据 → every source). DELIBERATE DEVIATION from the reference's
    * list-valued column: the reference filters corpus_info to
    * souc_form == 'json' and keeps ids in frame order
    * (clean_and_save.py:1224-1233); graft's corpus_info has no souc_form
    * concept, and the ids are sorted for cross-parallelism determinism.
    */
  def sourceLabeled(training: DataFrame, corpusInfo: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val byType = corpusInfo
      .groupBy(col("source_type"))
      .agg(sort_array(collect_set(col("source_id"))).as("souc_id"))
    val allIds = corpusInfo
      .agg(sort_array(collect_set(col("source_id"))).as("all_ids"))
    training
      .join(broadcast(byType), col("corpus") === col("source_type"), "left")
      .crossJoin(broadcast(allIds))
      .select(
        col("dataset_name").as("dataset_id"),
        when(col("corpus") === corpusNames("a"), col("all_ids"))
          .otherwise(coalesce(col("souc_id"),
            array().cast("array<string>"))).as("souc_id"),
        col("tagging_method").as("label_meth"),
        col("generation_method").as("gene_meth"),
        col("dataset_paths").as("dataset_save"),
        lit(CrteTime).as("crte_time"),
        lit(Crter).as("crter"))
  }
}
