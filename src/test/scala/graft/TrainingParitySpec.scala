package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Mention, Token}
import graft.sources.Sources

/** Training-branch parity with the reference generator: notin_types NER→seg
  * substitution (generation.py:216-238) and the i%80/i%90 train/val/test
  * split (generation.py:446-455).
  */
class TrainingParitySpec extends AnyFunSuite {

  private def m(w: String, t: String, s: Int, e: Int) =
    Mention(w, t, s, e, 0.8, 0.9)

  test("notin substitution: exact-position aux mention replaces seg type") {
    val seg = Seq(Token("每日", "x", 0, 2), Token("头痛", "SYM", 2, 4))
    val out = Sources.substituteNotinTypes(seg, Seq(m("每日", "FW", 0, 2)))
    assert(out == Seq(Token("每日", "FW", 0, 2), Token("头痛", "SYM", 2, 4)))
  }

  test("notin substitution: separators, type set, and position are all gates") {
    val seg = Seq(Token("每日", "x", 0, 2), Token("两次", "x", 2, 4))
    // separator in mention word → skipped (、 ； ， ;)
    assert(Sources.substituteNotinTypes(seg,
      Seq(m("每、日", "FW", 0, 2))) == seg)
    assert(Sources.substituteNotinTypes(seg,
      Seq(m("每;日", "DEG", 0, 2))) == seg)
    // non-notin type → skipped even at exact position
    assert(Sources.substituteNotinTypes(seg,
      Seq(m("每日", "DIS", 0, 2))) == seg)
    // overlapping but not exactly equal span → skipped
    assert(Sources.substituteNotinTypes(seg,
      Seq(m("每日两", "FW", 0, 3))) == seg)
    // all six notin types substitute
    Seq("FW", "DEG", "AT", "DUR", "PSB", "PT").foreach { t =>
      val out = Sources.substituteNotinTypes(seg, Seq(m("两次", t, 2, 4)))
      assert(out(1).tag == t)
    }
  }

  test("split labels: %80 checked before %90, i=0 → validation") {
    assert(Sources.bioSplitLabel(0) == "validation")
    assert(Sources.bioSplitLabel(80) == "validation")
    assert(Sources.bioSplitLabel(90) == "test")
    assert(Sources.bioSplitLabel(720) == "validation") // 720%80==0 wins
    assert(Sources.bioSplitLabel(1) == "training")
    assert(Sources.bioSplitLabel(179) == "training")
    // density over one full cycle matches the reference arithmetic
    val labels = (0L until 720L).map(Sources.bioSplitLabel)
    assert(labels.count(_ == "validation") == 9)
    assert(labels.count(_ == "test") == 8 - 1) // 720-multiples go to val
  }

  test("writeBioSplit: one pass, partitioned dirs, char/tag line shape") { SparkTestBase.withTempDir("biosplit") { tmp =>
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dir = tmp.toString
    // fixed-length sentences so line counts divide evenly per sentence
    val rows = (0L until 200L).map { i =>
      (i, "头痛发热", Seq(Token("头痛", "SYM", 0, 2)))
    }
    Sources.writeBioSplit(spark.createDataset(rows), dir)
    val splits = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splits == Set("split=training", "split=validation", "split=test"))
    val train = spark.read.text(s"$dir/split=training").count()
    val valid = spark.read.text(s"$dir/split=validation").count()
    val test = spark.read.text(s"$dir/split=test").count()
    // 4 char lines + 1 blank separator per sentence
    val expected = (0L until 200L).groupBy(Sources.bioSplitLabel)
    assert(train == expected("training").size * 5L)
    assert(valid == expected("validation").size * 5L)
    assert(test == expected("test").size * 5L)
    // line shape: char\tB-TYPE
    val first = spark.read.text(s"$dir/split=training")
      .collect().map(_.getString(0)).find(_.nonEmpty).get
    assert(first.matches(".\t(B|I)-[A-Z]+|.\tO"), first)
  }}
}
