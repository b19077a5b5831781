package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.{Corpus, Vocab}
import graft.extract.{Extract, HtmlText}
import graft.model.Ontology

class HtmlTextSpec extends AnyFunSuite {
  test("extract inverts the corpus generator byte-identically (SHA invariant)") {
    (0L until 80L).foreach { i =>
      val p = Corpus.page(i)
      val extracted = HtmlText.extract(p.html)
      assert(extracted == p.text, s"byte mismatch at url ${p.url}")
    }
  }

  test("entities and tags handled") {
    assert(HtmlText.extract("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>")
    assert(HtmlText.extract("<script>var x = '<p>no</p>';</script><p>yes</p>") == "yes")
    assert(HtmlText.extract("<div>l1<br/>l2</div>") == "l1\nl2")
  }
}

class ExtractSpec extends AnyFunSuite {
  test("section DFA builds part|chapter|section locations and keyword blocks") {
    val text = Seq(
      "操作手册一分册",
      "第一章心部疾病与操作",
      "第一节心切除术",
      "【适应证】患者常见心悸。",
      "【术前准备】建议行心检查。",
      "第二节心修补术",
      "【并发症】可见出血。"
    ).mkString("\n")
    val secs = Extract.sections("u", "操作手册一分册", "m", text)
    assert(secs.size == 3)
    assert(secs(0).location == "|第一章心部疾病与操作|第一节心切除术")
    assert(secs(0).paragraph == "indications")
    assert(secs(0).headEntity == "心切除术")
    assert(secs(1).paragraph == "preparation")
    assert(secs(2).location == "|第一章心部疾病与操作|第二节心修补术")
    assert(secs(2).paragraph == "complications")
    assert(secs(2).headEntity == "心修补术")
  }

  test("keyword pass order: first contained key wins (检查内容 vs 检查)") {
    val text = Seq(
      "操作手册一分册",
      "第一章x部",
      "第一节心切除术",
      "【检查内容与要点】建议行心检查不少于三次。"
    ).mkString("\n")
    val secs = Extract.sections("u", "b", "m", text)
    // manualKeywords order puts 检查内容→procedures before 检查→exams…
    // but 临床/操作/方法 etc are checked earlier; none contained here
    assert(secs.size == 1 && secs.head.paragraph == "procedures")
  }

  test("sentence split + deterministic ind") {
    val secs = Extract.sections("u", "b", "c",
      Seq("临床指南一分册", "第一章x部", "第一节心衰竭",
        "【临床表现】患者常见心悸。伴呼吸困难及水肿。短句。").mkString("\n"))
    val sents = Extract.sentences(secs.head)
    assert(sents.map(_.sentence) == Seq("患者常见心悸", "伴呼吸困难及水肿"))
    // len<=3 dropped ("短句" len 2)
    val again = Extract.sentences(secs.head)
    assert(sents.map(_.ind) == again.map(_.ind))
    assert(sents.map(_.ind).distinct.size == sents.size)
    assert(sents.head.entity1 == "心衰竭" && sents.head.entity1Type == "DIS")
  }
}

class EndToEndSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark

  lazy val triples = graft.pipeline.Pipeline.triples(spark, 40, 4).collect()

  test("pipeline produces triples with valid shape") {
    assert(triples.nonEmpty)
    triples.foreach { t =>
      assert(t.subj.nonEmpty && t.pred.nonEmpty && t.obj.nonEmpty)
      assert(Ontology.essentialTypes.contains(t.objType))
      assert(t.prob >= 0.0 && t.prob <= 1.0)
      assert(Seq("DIS", "SUR").contains(t.subjType))
    }
  }

  test("triple recall vs gazetteer expectation >= 0.95 (north-rule P/R bar)") {
    // expected objs: essential-type dictionary tokens of len>=3 per sentence
    val pages = Corpus.pages(spark, 40, 4)
    val sents = Extract.sentencesOf(Extract.sectionsOf(pages)).collect()
    val trie = graft.dict.Gazetteer.buildTrie(Vocab.jiebaDict)
    var expected = 0
    var found = 0
    val byInd = triples.groupBy(_.ind)
    sents.foreach { sr =>
      val toks = graft.dict.Gazetteer.tokenize(trie, sr.sentence)
        .filter(t => t.word.length >= 3 &&
          Ontology.essentialTypes.contains(
            Ontology.jiebaReverse.getOrElse(t.tag, "x")))
      val objs = byInd.getOrElse(sr.ind, Array.empty).map(_.obj)
      toks.foreach { t =>
        expected += 1
        if (objs.exists(o => o.startsWith(t.word) || t.word.startsWith(o)))
          found += 1
      }
    }
    assert(expected > 100, s"fixture too small: $expected")
    val recall = found.toDouble / expected
    assert(recall >= 0.95, f"recall $recall%.3f ($found/$expected)")
  }

  test("triple precision: every obj is grounded in its sentence >= 0.99") {
    val pages = Corpus.pages(spark, 40, 4)
    val sentByInd = Extract.sentencesOf(Extract.sectionsOf(pages))
      .collect().map(s => s.ind -> s.sentence).toMap
    val grounded = triples.count(t =>
      sentByInd.get(t.ind).exists(_.contains(t.obj)))
    assert(grounded.toDouble / triples.length >= 0.99,
      s"$grounded/${triples.length}")
  }

  test("annotate keeps every sentence row 1:1 (source_segment and corpus_info skip it)") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 40, 4)
    val sents = graft.pipeline.Pipeline.sentences(pages).toDF()
    val annotated = graft.pipeline.Pipeline.artifacts(pages).map(_.row)
      .select(sents.columns.toSeq.map(org.apache.spark.sql.functions.col): _*)
    val n = sents.count()
    assert(n > 0 && annotated.count() == n)
    assert(annotated.exceptAll(sents).isEmpty && sents.exceptAll(annotated).isEmpty)
  }

  test("pipeline is deterministic across runs") {
    val t2 = graft.pipeline.Pipeline.triples(spark, 40, 8).collect()
    // different partition count, same result set
    assert(triples.map(_.toString).sorted.toSeq == t2.map(_.toString).sorted.toSeq)
  }

  test("group-taboo triples: priority prohibited > notrecommended > caution; 调整用量 remapped") {
    import graft.pipeline.Triples
    assert(Triples.classifyTaboo("孕妇禁用") == "禁用人群")
    assert(Triples.classifyTaboo("不宜使用，注意监测") == "慎用人群")
    assert(Triples.classifyTaboo("调整剂量并注意监测") == "调整用量")
    assert(Triples.classifyTaboo("无相关提示") == "")
    val gts = graft.pipeline.Pipeline.groupTriples(spark).collect()
    assert(gts.nonEmpty)
    assert(gts.forall(g => Seq("禁用人群", "慎用人群", "").contains(g.relation)))
    assert(gts.forall(g => Seq("孕妇", "儿童", "老人").contains(g.entity2)))
  }
}

class EntrySmokeSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("driver contract: SparkEntry.entry returns rows on a fresh session") {
    val n = graft.SparkEntry.entry(SparkTestBase.spark).count()
    assert(n > 0, s"entry produced $n rows")
  }
}
