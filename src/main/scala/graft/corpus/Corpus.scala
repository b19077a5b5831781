package graft.corpus

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Page
import graft.util.Hashing

/** Deterministic synthetic web-page corpus (FIXTURES.md §1).
  *
  * Pages mirror the reference's document layout — 第X章/第X节 headings
  * (structurize_files.py:549-597) and 【关键词】 content blocks
  * (structurize_files.py:608-628) — wrapped in simple HTML. Page i is a pure
  * function of (seed, i): generation is per-id and embarrassingly parallel,
  * so the same generator produces the 50-page golden fixture and a multi-
  * million-page bench corpus with identical bytes per url. `text` carries the
  * expected extraction ([[graft.extract.HtmlText]] inverts the HTML exactly),
  * backing the SHA-per-url invariant.
  */
object Corpus {

  val cnNum: Vector[String] =
    Vector("一", "二", "三", "四", "五", "六", "七", "八", "九", "十")

  /** Keyword → paragraph kind, manual books (structurize_files.py:608-628
    * pass order matters: first contained key wins).
    */
  val manualKeywords: Seq[(String, String)] = Seq(
    "适应" -> "indications",
    "目的" -> "indications",
    "临床" -> "indications",
    "环境及器械要求" -> "equipments",
    "操作" -> "procedures",
    "方法" -> "procedures",
    "准备" -> "preparation",
    "术前" -> "preparation",
    "并发症" -> "complications",
    "不良反应" -> "adverse",
    "禁忌" -> "contraindiction",
    "麻醉" -> "anaesthesia",
    "术后" -> "afterwards",
    "设备" -> "equipments",
    "检查内容" -> "procedures",
    "检查" -> "exams"
  )

  /** Clinical books (structurize_files.py:711-746). */
  val clinicalKeywords: Seq[(String, String)] = Seq(
    "临床表现" -> "clinical",
    "诊断" -> "diagnosis",
    "治疗" -> "treatment"
  )

  private def h(parts: String*): Long = Hashing.fnv1a64(parts.mkString("|"))
  private def pickN(parts: String*)(n: Int): Int =
    ((h(parts: _*) & Long.MaxValue) % n).toInt

  /** Deterministic sentence built from templates over the vocabulary. */
  def sentence(key: String, k: Int): String = {
    import Vocab._
    def pk[T](table: Vector[T], tag: String): T =
      table(pickN(key, k.toString, tag)(table.length))
    pickN(key, k.toString, "tpl")(6) match {
      case 0 =>
        s"患者常见${pk(symptoms, "s1")}及${pk(symptoms, "s2")}，伴${pk(symptoms, "s3")}。"
      case 1 =>
        s"${pk(diseases, "d1")}多由${pk(organisms, "g1")}感染引起，可累及${pk(organs, "o1")}。"
      case 2 =>
        s"建议行${pk(tests, "t1")}，必要时行${pk(surgeries, "u1")}。"
      case 3 =>
        s"可给予${pk(drugs, "r1")}治疗，慎用${pk(drugs, "r2")}。"
      case 4 =>
        s"术中使用${pk(equipment, "e1")}，以${pk(objects, "b1")}消毒，留取${pk(fluids, "f1")}送检。"
      case 5 =>
        s"${pk(organs, "o2")}${pk(diseaseSuffixes, "ds")}患者出现${pk(symptoms, "s4")}时应及时行${pk(tests, "t2")}。"
    }
  }

  /** The text lines of page i (before HTML wrapping). */
  def pageLines(i: Long): (String, String, Seq[String]) = {
    val isClinical = pickN("src", i.toString)(2) == 0
    val source = if (isClinical) "c" else "m"
    val book =
      if (isClinical) s"临床指南${cnNum(pickN("bk", i.toString)(10))}分册"
      else s"操作手册${cnNum(pickN("bk", i.toString)(10))}分册"
    val keywords = if (isClinical) clinicalKeywords else manualKeywords
    val lines = Seq.newBuilder[String]
    lines += book
    val nChapters = 1 + pickN("nch", i.toString)(2)
    for (ch <- 0 until nChapters) {
      val chTopic = Vocab.pick(Vocab.organs, "chorg", i.toString, ch.toString)
      lines += s"第${cnNum(ch)}章${chTopic}部疾病与操作"
      val nSections = 1 + pickN("nsec", i.toString, ch.toString)(3)
      for (se <- 0 until nSections) {
        val head =
          if (isClinical)
            Vocab.pick(Vocab.diseases, "head", i.toString, ch.toString, se.toString)
          else
            Vocab.pick(Vocab.surgeries, "head", i.toString, ch.toString, se.toString)
        lines += s"第${cnNum(se)}节$head"
        val nBlocks = 2 + pickN("nblk", i.toString, ch.toString, se.toString)(3)
        for (bl <- 0 until nBlocks) {
          val kwIdx =
            pickN("kw", i.toString, ch.toString, se.toString, bl.toString)(
              keywords.length)
          val (kw, _) = keywords(kwIdx)
          val key = s"sent|$i|$ch|$se|$bl"
          val nSents = 1 + pickN("ns", key)(3)
          val body = (0 until nSents).map(k => sentence(key, k)).mkString
          lines += s"【$kw】$body"
        }
      }
    }
    (source, book, lines.result())
  }

  def htmlOf(book: String, lines: Seq[String]): String = {
    val sb = new StringBuilder
    sb ++= "<html><head><title>"
    sb ++= escape(book)
    sb ++= "</title></head><body>\n"
    // line 0 is the book title again as h1? — no: title tag already emits the
    // book line; subsequent lines become h2/p blocks
    lines.drop(1).foreach { l =>
      if (l.startsWith("第")) sb ++= s"<h2>${escape(l)}</h2>\n"
      else sb ++= s"<p>${escape(l)}</p>\n"
    }
    sb ++= "</body></html>"
    sb.toString
  }

  def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** 2024-01-01T00:00:00Z + i seconds — fixed, no wall-clock. */
  def tsOf(i: Long): Timestamp = new Timestamp(1704067200000L + i * 1000L)

  def page(i: Long): Page = {
    if (Hashing.unit("lang", i.toString) < 0.05) {
      // a few non-zh rows to exercise language filtering
      val text = s"english page $i with no medical content"
      val html = s"<html><head><title>en</title></head><body>\n<p>$text</p>\n</body></html>"
      Page(s"https://example.org/en/$i", tsOf(i),
        html.getBytes("UTF-8"), "en\n" + text, "en")
    } else {
      val (source, book, lines) = pageLines(i)
      val html = htmlOf(book, lines)
      val text = lines.mkString("\n")
      Page(s"https://example.org/med/$source/$i", tsOf(i),
        html.getBytes("UTF-8"), text, "zh")
    }
  }

  /** Distributed generation: page id → row, embarrassingly parallel. */
  def pages(spark: SparkSession, n: Long, partitions: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => page(i))
  }
}
