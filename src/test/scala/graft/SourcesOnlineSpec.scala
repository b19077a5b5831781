package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.{SentenceRow, Token}
import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("JSON sentence interchange round-trips with explicit schema") { SparkTestBase.withTempDir("src") { tmp =>
    import spark.implicits._
    val rows = Seq(
      SentenceRow("u1", "b", "|一|二", "clinical", "患者心悸", "心衰竭",
        "DIS", "c", 42L),
      SentenceRow("u2", "b2", "|三|四", "indications", "服阿司匹林", "胃切除术",
        "SUR", "m", 43L)
    )
    val dir = tmp.toString + "/sj"
    Sources.writeSentencesJson(rows.toDS(), dir)
    val back = Sources.readSentencesJson(spark, dir).collect().sortBy(_.ind)
    assert(back.toSeq == rows.sortBy(_.ind))
  }}

  test("CSV entity interchange round-trips with explicit schema") { SparkTestBase.withTempDir("src") { tmp =>
    import spark.implicits._
    val rows = Seq(
      graft.model.EntityRow(1L, "ensemble_strong", "心衰竭", "DIS", 0, 3,
        0.9, 0.8, 0.7, 0.6),
      graft.model.EntityRow(2L, "refined_dictionary", "心悸", "SYM", 5, 7,
        0.95, 0.95, 0.95, 0.95)
    )
    val dir = tmp.toString + "/ec"
    Sources.writeEntitiesCsv(rows.toDS(), dir)
    val back = Sources.readEntitiesCsv(spark, dir).collect().sortBy(_.ind)
    assert(back.toSeq == rows.sortBy(_.ind))
  }}

  test("BIO sink: char per line, tab-separated, blank line between sentences (generation.py:64-98)") {
    val lines = Sources.bioLines("头痛不止",
      Seq(Token("头痛", "SYM", 0, 2), Token("不止", "x", 2, 4)))
    assert(lines == Seq("头\tB-SYM", "痛\tI-SYM", "不\tO", "止\tO", ""))
  }
}

class OnlineNerSpec extends AnyFunSuite {
  import graft.ner.OnlineNer

  test("online annotator matches batch ensemble semantics on one sentence") {
    val trie = graft.dict.Gazetteer.buildTrie(graft.corpus.Vocab.jiebaDict)
    val annotate = OnlineNer.annotator(trie, graft.corpus.Fixtures.modelWeights)
    val sent = "心衰竭患者常见呼吸困难，建议行心检查。"
    val r = annotate(sent)
    assert(r.sentence == sent)
    assert(r.entities.nonEmpty)
    r.entities.foreach { e =>
      assert(sent.substring(e.start, e.end) == e.word)
      assert(graft.model.Ontology.essentialTypes.contains(e.entType))
      assert(e.typeCn.nonEmpty)
    }
    // deterministic across calls
    assert(annotate(sent) == r)
    // empty input → empty entities, no throw
    assert(annotate("").entities.isEmpty)
  }
}
