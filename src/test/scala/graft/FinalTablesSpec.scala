package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.canon.FinalTables

class FinalTablesSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  lazy val pages = graft.corpus.Corpus.pages(spark, 25, 4)
  lazy val arts = graft.pipeline.Pipeline.artifacts(pages).persist()
  lazy val sents = graft.pipeline.Pipeline.sentences(pages)

  test("source_segment: schema, souc_id when-chain, h%08d head ids per group") {
    val ss = FinalTables.sourceSegment(sents)
    assert(ss.columns.toSeq == Seq("souc_id", "text_id", "catalog",
      "text_label", "text_background", "head_onto_id", "text_content",
      "crte_time", "crter", "head_id"))
    val rows = ss.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val souc = r.getString(0)
      assert(souc.startsWith("TXTC") || souc.startsWith("TXTM"), souc)
      assert(r.getString(9).matches("h\\d{8}"), r.getString(9))
      assert(r.getString(5).startsWith("omahaT"))
    }
    // one head_id per (label, background, catalog, souc) group
    val perGroup = ss.groupBy("text_label", "text_background", "catalog",
      "souc_id").agg(countDistinct("head_id").as("n")).collect()
    assert(perGroup.forall(_.getLong(4) == 1L))
    // same head_id never spans two groups
    val perHead = ss.groupBy("head_id")
      .agg(countDistinct("text_label", "text_background", "catalog",
        "souc_id").as("n")).collect()
    assert(perHead.forall(_.getLong(1) == 1L))
  }

  test("ner_result: schema and coordinate sanity; deterministic entity ids") {
    val nr = FinalTables.nerResult(arts)
    assert(nr.columns.toSeq == Seq("entity_id", "ner_model_id", "text_id",
      "text_content", "onto_id", "entity_name", "entity_begn_coord",
      "entity_end_coord", "entity_conf", "crte_time", "crter"))
    val rows = nr.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(6) >= 0 && r.getInt(7) >= r.getInt(6))
      assert(r.getString(4).startsWith("omahaT"))
      assert(r.getDouble(8) >= 0.0 && r.getDouble(8) <= 1.0)
    }
    val again = FinalTables.nerResult(arts).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      again.map(_.getLong(0)).sorted.toSeq)
  }

  test("ner_result joins source_segment on text_id (the triple join)") {
    val ss = FinalTables.sourceSegment(sents).select(col("text_id"),
      col("text_label"))
    val nr = FinalTables.nerResult(arts).select(col("text_id"),
      col("entity_name"))
    val joined = nr.join(ss, "text_id")
    assert(joined.count() == nr.count()) // every mention has lineage
  }

  test("metadata tables populated") {
    assert(FinalTables.modelInfo(spark).count() == 4)
    assert(FinalTables.modelEvalResults(spark).count() ==
      4L * 4 * graft.model.Ontology.essentialTypes.size)
  }

  test("training_info: 19-row registry, reference quirks pinned") {
    val ti = FinalTables.trainingInfo(spark)
    assert(ti.columns.toSeq == Seq("corpus", "dataset_name", "dataset_paths",
      "tagging_method", "generation_method", "usage", "creation_time",
      "created_by"))
    val rows = ti.collect()
    assert(rows.length == 19)
    assert(rows.count(_.getString(5) == "训练") == 10)
    assert(rows.count(_.getString(5) == "测试") == 9)
    // reference quirk: augmented_k, not augmented_kd (clean_and_save.py:753)
    assert(rows.exists(_.getString(1) == "augmented_k_training.txt"))
    assert(!rows.exists(_.getString(1) == "augmented_kd_training.txt"))
    // full-width colon + trailing space (:780)
    assert(rows.forall(_.getString(4).startsWith("train test split： ")))
    assert(rows.forall(_.getString(4).endsWith(" ")))
    // the backslash-continuation five-space run (:774-775)
    assert(rows.exists(_.getString(3).contains("entities,     entity")))
    assert(rows.count(_.getString(1).startsWith("oob_test_")) == 5)
  }

  test("ner_info: one row per scorer plus ensemble, warehouse schema") {
    val ni = FinalTables.nerInfo(spark)
    assert(ni.columns.toSeq == Seq("ner_model_id", "ner_model_name",
      "submodel_list", "dataset_id", "doc_save", "code_save", "conf_save",
      "crte_time", "crter"))
    val rows = ni.collect()
    assert(rows.length == graft.model.Ontology.models.size + 1)
    val ens = rows.find(_.getString(0) == "ensemble").get
    assert(ens.getString(2) == graft.model.Ontology.models.mkString(","))
    assert(ens.getString(3) == "a_training.txt")
    rows.filter(_.getString(0) != "ensemble").foreach { r =>
      assert(r.getString(2) == "")
      assert(r.getString(3) == s"${r.getString(0)}_training.txt")
    }
  }

  test("ner_eval: re-columned eval matrix, model_conf = strict score") {
    val ne = FinalTables.nerEval(FinalTables.modelEvalResults(spark))
    assert(ne.columns.toSeq == Seq("ner_model_id", "dataset_id", "onto_id",
      "conf_precision", "conf_coordinate", "conf_entitytype",
      "conf_vague_coor", "model_conf", "crte_time", "crter"))
    assert(ne.count() == FinalTables.modelEvalResults(spark).count())
    // model_conf is the strict score (prob = probs[0], clean_and_save.py:741)
    assert(ne.collect().forall(r => r.getDouble(3) == r.getDouble(7)))
  }

  test("source_labeled: dataset → labeled-source ids; 全量数据 gets all") {
    val ci = FinalTables.corpusInfo(sents)
    val sl = FinalTables.sourceLabeled(FinalTables.trainingInfo(spark), ci)
    assert(sl.columns.toSeq == Seq("dataset_id", "souc_id", "label_meth",
      "gene_meth", "dataset_save", "crte_time", "crter"))
    val rows = sl.collect()
    assert(rows.length == 19)
    val allIds = ci.select("source_id").collect()
      .map(_.getString(0)).toSet
    // the 全量数据 datasets carry every source id
    val aRow = rows.find(_.getString(0) == "a_training.txt").get
    assert(aRow.getSeq[String](1).toSet == allIds)
    // corpus-specific datasets carry only their type's sources (possibly
    // empty if that corpus type is absent from the synthetic pages)
    rows.foreach { r =>
      assert(r.getSeq[String](1).toSet.subsetOf(allIds))
    }
  }
}
