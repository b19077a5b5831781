package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.NfcNormalize
import graft.textops.{Dedup, TextOps}

/** Unicode text normalization (NFC expression + cleanup chain + SQL-literal
  * renderer) and the bloom-prefiltered exact-membership dedup.
  */
class NormalizeBloomSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def norm1(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
      .collect().head.getString(0)
  }

  test("nfc_normalize expression: composes, preserves, null-safe, SQL form") {
    import spark.implicits._
    val cases = Seq(
      "e\u0301" -> "\u00e9", // combining acute composes
      "\u1112\u1161\u11ab" -> "\ud55c", // decomposed jamo \u2192 hangul syllable
      "\u2126" -> "\u03a9", // OHM SIGN singleton \u2192 GREEK OMEGA
      "\ufb01" -> "\ufb01", // ligature fi: NFC preserves (NFKC would split)
      "plain ascii" -> "plain ascii",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(NfcNormalize.nfc_normalize(col("t")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2))
    // SQL registration matches DuckDB's builtin name
    NfcNormalize.register(spark)
    cases.map(_._1).toDF("t").createOrReplaceTempView("nfc_t")
    val viaSql = spark.sql("SELECT nfc_normalize(t) AS n FROM nfc_t")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == cases.map(_._2))
    // null in \u2192 null out (UnaryExpression default)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(NfcNormalize.nfc_normalize(col("t"))).collect().head
    assert(n.isNullAt(0))
  }

  test("normalizeText: each cleanup rule, hand-computed") {
    assert(norm1("a\r\nb\rc") == "a\nb\nc") // CRLF + bare CR
    assert(norm1("a\u0007b\u0001c\u007fd") == "abcd") // C0 controls + DEL
    assert(norm1("a\u200bb\u200cc\u200dd\ufeffe\u00adf") == "abcdef")
    assert(norm1("two  sp\tand\t\ttabs") == "two sp and tabs")
    assert(norm1("  a  \n  b  ") == "a\nb") // collapse + around-\n + trim
    assert(norm1("caf" + "e\u0301") == "caf\u00e9") // NFC before cleanup
    assert(norm1(null) == "") // null \u2192 empty (coalesce)
    // tab+newline survive the control strip (then tab collapses to space)
    assert(norm1("keep\tthis\nline") == "keep this\nline")
    // already-clean text is identity (the 100 TB common case)
    assert(norm1("already clean text") == "already clean text")
    // no two-argument `trim(trimStr, str)`: Spark 4.1 resolves it with a
    // deprecation warning (btrim is the same trim without one). The
    // unanalyzed plan holds the Column's expression tree as Catalyst nodes.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import spark.implicits._
    val calls = Seq("x").toDF("text")
      .select(TextOps.normalizeText(col("text"))).queryExecution.logical
      .expressions.flatMap(_.collect { case f: UnresolvedFunction => f })
    assert(calls.exists(_.nameParts.last == "regexp_replace"), calls)
    val twoArgTrim = calls.filter(f =>
      f.nameParts.last.equalsIgnoreCase("trim") && f.arguments.size == 2)
    assert(twoArgTrim.isEmpty, twoArgTrim.mkString("\n"))
  }

  test("normalizeText stays inside whole-stage codegen") {
    import spark.implicits._
    val df = (1 to 50).map(i => s"doc $i  text\u200b").toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
      .groupBy(col("n")).count()
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(_.contains("*(")),
      "expected WholeStageCodegen stages in:\n" + executed.take(800))
  }

  test("sqlLit renders printable runs, quotes, controls, astral planes") {
    assert(TextOps.sqlLit("") == "''")
    assert(TextOps.sqlLit("plain") == "'plain'")
    assert(TextOps.sqlLit("a'b") == "'a''b'")
    assert(TextOps.sqlLit("a\u0007b") == "'a' || chr(7) || 'b'")
    assert(TextOps.sqlLit("\u00e9") == "chr(233)")
    // astral-plane codepoint is ONE chr(), not a surrogate pair
    assert(TextOps.sqlLit("\ud83d\ude00") == "chr(128512)")
    assert(TextOps.sqlLit("\u0007\u0008") == "chr(7) || chr(8)")
  }

  test("bloomNewDocs == plain anti-join (no false negatives), metrics add up") {
    import spark.implicits._
    val corpus = (0 until 40)
      .map(i => (i.toLong, s"content ${i % 20}")).toDF("doc_id", "text")
    // new crawl: 10 exact dups of corpus content (ids 100+), 10 fresh
    val newCrawl = ((0 until 10).map(i => (100L + i, s"content $i")) ++
      (0 until 10).map(i => (200L + i, s"fresh $i")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomNewDocs(newCrawl, "doc_id", "text", corpus)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expected = newCrawl
      .join(corpus.select(md5(col("text")).as("fp")),
        md5(newCrawl("text")) === col("fp"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    assert(got.map(_._1) == (200L until 210L).toSet,
      "exact-copy re-crawls must drop; fresh docs must survive")
    // observable routing split: definite + candidates == total new rows,
    // and every true dup is a candidate (no-false-negative routing)
    val m = out.queryExecution.observedMetrics
    val definite = m("graft.dedup.bloom_definite").getAs[Long]("n")
    val candidates = m("graft.dedup.bloom_candidates").getAs[Long]("n")
    assert(definite + candidates == 20L)
    assert(candidates >= 10L)
  }

  test("domainCap: binds at k, deterministic priority, WindowGroupLimit plan") {
    import spark.implicits._
    // domain a: 30 docs with distinct lengths; b: 3 docs; one NULL-domain
    val docs = ((0 until 30).map(i => (i.toLong, Some("a"), 100L + i)) ++
      (0 until 3).map(i => (100L + i, Some("b"), 50L)) ++
      Seq((200L, Option.empty[String], 10L)))
      .toDF("doc_id", "source", "n_chars")
    val out = TextOps.domainCap(docs, "doc_id", "source", "n_chars")
    val rows = out.collect()
    val byDom = rows.groupBy(r => Option(r.getString(0)))
    assert(byDom(Some("a")).length == 10, "cap must bind on the big domain")
    // longest-first: the 10 kept 'a' docs are exactly ids 20..29
    assert(byDom(Some("a")).map(_.getLong(1)).sorted.toSeq ==
      (20L until 30L))
    // ties (same n_chars) break by ascending id
    assert(byDom(Some("b")).map(_.getLong(1)).sorted.toSeq ==
      Seq(100L, 101L, 102L))
    assert(byDom(None).map(_.getLong(1)).toSeq == Seq(200L),
      "NULL domain is one capped group, not dropped")
    // the rank-limit rewrite must hold — WindowGroupLimitExec keeps an
    // O(k) heap per group instead of buffering whole domain partitions
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("WindowGroupLimit"),
      "expected WindowGroupLimitExec in:\n" + executed.take(1200))
  }

  test("keywords: tf-first ranking, df demotes stopwords, O(k) plan") {
    import spark.implicits._
    // 'the' appears in every doc (df=4); each doc has a unique term with
    // the SAME tf as its 'the' count — df must break the tie against it
    val docs = Seq(
      (1L, "the the alpha alpha beta"),
      (2L, "the the gamma gamma"),
      (3L, "the delta"),
      (4L, "the epsilon epsilon epsilon")).toDF("doc_id", "text")
    val out = TextOps.keywords(docs, "doc_id", "text", 2)
    val top = out.filter(col("rk") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: alpha tf=2 ties the(tf=2) but df 1 < 4 → alpha wins
    assert(top == Map(1L -> "alpha", 2L -> "gamma", 3L -> "delta",
      4L -> "epsilon"))
    assert(out.groupBy("doc_id").count().collect()
      .forall(_.getLong(1) == 2L), "k=2 rows per doc")
    val executed = out.queryExecution.executedPlan.toString
    assert(executed.contains("WindowGroupLimit"),
      "expected WindowGroupLimitExec in:\n" + executed.take(1200))
  }

  test("hashSplit: total coverage, stability across parallelism") {
    import spark.implicits._
    val docs = (0 until 1000).map(_.toLong).toDF("doc_id")
    val got = TextOps.hashSplit(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 1000, "every row labeled exactly once")
    val byLabel = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    // md5 is uniform: 80/10/10 within a loose tolerance at n=1000
    assert(byLabel("train") > 700 && byLabel("train") < 900, byLabel)
    assert(byLabel("val") > 50 && byLabel("val") < 180, byLabel)
    // assignment is a pure function of the id — repartitioning (any
    // cluster size / shuffle layout) cannot move a row between splits
    val re = TextOps.hashSplit(docs.repartition(7), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
  }
}
