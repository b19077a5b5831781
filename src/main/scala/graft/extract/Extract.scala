package graft.extract

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.Corpus
import graft.model.{Page, Section, SentenceRow}
import graft.util.Hashing

/** Structurization stages: page → sections → sentences.
  *
  * Section split is the reference's P1/P2 DFA (structurize_files.py:548-597
  * heading state machine; :608-628 keyword-block passes) collapsed into one
  * per-document pure function — document-local, so it runs as a narrow
  * `flatMap` with no shuffle: at 100 TB this stage is embarrassingly parallel
  * and bound only by parquet scan throughput.
  */
object Extract {

  private val headingRe = "^第(.{1,3})(部分|篇|章|节)(.*)$".r

  /** P10 disease-title cleanup (structurize_files.py:757-799): strip
    * parenthesized spans, drop titles containing list/section markers or
    * ending in 。/期.
    */
  private val parenRe = "[\\(\\[（【].*?[\\)\\]）】]"
  private val badTitleParts =
    Seq("治疗", "手术", "。", "诊断", "临床", "章", ":", "、", ",", "分类")

  def cleanDiseaseTitle(name: String): Option[String] = {
    val stripped = name.replaceAll(parenRe, "")
    if (stripped.isEmpty || badTitleParts.exists(stripped.contains) ||
      stripped.endsWith("。") || stripped.endsWith("期")) None
    else Some(stripped)
  }

  /** Heading state machine building the "part|chapter|section" location
    * string (structurize_files.py:559-591) and cutting content blocks on
    * 【keyword】 markers. One call per page; pure.
    */
  def sections(url: String, book: String, source: String, text: String): Seq[Section] = {
    val keywords =
      if (source == "c") Corpus.clinicalKeywords else Corpus.manualKeywords
    val headType = if (source == "c") "DIS" else "SUR"
    var part = ""
    var chapter = ""
    var section = ""
    var head = ""
    val out = Seq.newBuilder[Section]
    text.split('\n').foreach { line =>
      line match {
        case headingRe(_, kind, rest) =>
          kind match {
            case "部分" | "篇" =>
              part = line.trim; chapter = ""; section = ""; head = rest
            case "章" =>
              chapter = line.trim; section = ""; head = rest
            case "节" =>
              section = line.trim
              // clinical heads are disease names → P10 cleanup; a rejected
              // title voids the head so its blocks are skipped
              head =
                if (source == "c") cleanDiseaseTitle(rest).getOrElse("")
                else rest
          }
        case _ if line.startsWith("【") =>
          val close = line.indexOf('】')
          if (close > 0) {
            val kw = line.substring(1, close)
            // first contained keyword wins — the reference runs contains-
            // passes in fixed order (structurize_files.py:608-628)
            keywords.find { case (k, _) => kw.contains(k) }.foreach {
              case (_, kindName) =>
                val content = line.substring(close + 1)
                if (content.length > 3 && head.nonEmpty) {
                  val location = s"$part|$chapter|$section"
                  out += Section(url, book, location, kindName, head,
                    headType, content, source)
                }
            }
          }
        case _ => // narrative line outside a block — ignored (the reference
        // only keeps keyword blocks for manuals; clinicals' checker DFA
        // likewise keys on markers)
      }
    }
    out.result()
  }

  /** One page → its sections: a non-zh page has none; a zh page's text is
    * extracted from its `html`, its first line is the book, and its source
    * is "c" (clinical) or "m" (manual) by url, else by whether the first
    * line starts with 临床. Pure; every page-to-sections caller runs it.
    */
  def pageSections(p: Page): Seq[Section] =
    if (p.lang != "zh") Seq.empty
    else {
      val text = HtmlText.extract(p.html)
      val firstLine = text.takeWhile(_ != '\n')
      val source =
        if (p.url.contains("/med/c/")) "c"
        else if (p.url.contains("/med/m/")) "m"
        else if (firstLine.startsWith("临床")) "c"
        else "m"
      sections(p.url, firstLine, source, text)
    }

  /** Dataset stage: pages → sections, one [[pageSections]] per page. The
    * text comes from `html`; the `text` column is only the expected side of
    * the byte-identity check (GoldenSpec).
    */
  def sectionsOf(pages: Dataset[Page])(implicit spark: SparkSession): Dataset[Section] = {
    import spark.implicits._
    pages.flatMap(pageSections)
  }

  /** Sentence split (P4, pre_labeling.py:84-87): split on the reference's
    * punctuation class, drop len<=3, assign the deterministic 63-bit `ind`
    * (url|location|paragraph|ordinal hash) — stable across runs/resumes and
    * partition-count independent, unlike positional ids
    * (SURVEY.md §4.3).
    */
  private val sentSplit = "[。;?？!！；\t ]"

  def sentences(sec: Section): Seq[SentenceRow] =
    sec.content
      .split(sentSplit)
      .toSeq
      .filter(_.length > 3)
      .zipWithIndex
      .map { case (s, k) =>
        SentenceRow(sec.url, sec.book, sec.location, sec.paragraph, s,
          sec.headEntity, sec.headType, sec.source,
          Hashing.id63(sec.url, "|", sec.location, "|", sec.paragraph, "|",
            sec.content.take(16), "|", k.toString))
      }

  def sentencesOf(secs: Dataset[Section])(implicit spark: SparkSession): Dataset[SentenceRow] = {
    import spark.implicits._
    secs.flatMap(sentences _)
  }
}
