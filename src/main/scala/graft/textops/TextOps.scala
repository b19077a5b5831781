package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Hashing

/** Text-analysis operators for large-scale training-data pipelines:
  * language-ID, quality scoring, token counting, fingerprinting. All are
  * narrow column expressions (codegen'd `functions._` where possible) — at
  * 100 TB these run inside the parquet scan stage with full column pruning.
  */
object TextOps {

  // ---- language ID: n-gram/charclass heuristic ----------------------------

  /** Tiny per-language stopword profiles (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "个", "不")
  )

  /** Predict language: CJK-ratio shortcut then stopword-hit argmax.
    * Pure Scala; deterministic. The scalar oracle of [[langIdCol]]
    * (EdgeCasesSpec compares the two).
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0
    var i = 0
    val n = math.min(text.length, 4000)
    while (i < n) {
      val c = text.charAt(i)
      if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
      i += 1
    }
    if (cjk * 10 > n) return "zh"
    val tokens = text.toLowerCase.split("[^\\p{L}]+").iterator
      .take(2000).toArray
    val scores = stopwords.map { case (lang, sw) =>
      val set = sw.toSet
      lang -> tokens.count(set.contains)
    }
    val best = scores.maxBy { case (l, s) => (s, l) }
    if (best._2 == 0) "und" else best._1
  }

  /** Language order fixed for the packed counters; index i occupies bits
    * [11·i, 11·i+11) of the accumulator. 2000 tokens max < 2^11 per field,
    * so fields can never carry into each other.
    */
  private val langOrder: IndexedSeq[String] = IndexedSeq("en", "es", "fr", "de", "zh")

  /** token → packed per-language increment (a token shared by several
    * languages — e.g. es/fr "la"/"de"/"un" — carries the sum of its
    * languages' field weights, preserving multi-membership counting).
    * Single source of truth for BOTH engines' single-pass forms.
    */
  private val packedWeights: Seq[(String, Long)] =
    stopwords.values.flatten.toSeq.distinct.sorted.map { tk =>
      tk -> langOrder.zipWithIndex.collect {
        case (l, i) if stopwords(l).contains(tk) => 1L << (11 * i)
      }.sum
    }

  /** Column-expression language ID — the distributed, oracle-checkable form
    * of [[langId]]: pure `functions._` (codegen'd), expressible verbatim in
    * DuckDB SQL. Semantics: CJK-ratio shortcut over the first 4000 chars,
    * then stopword-hit argmax over the first 2000 non-letter-split lowercase
    * tokens; ties break to the lexicographically GREATEST language code
    * (matching the scalar's maxBy on (score, lang)); zero hits or empty
    * text → "und".
    *
    * SINGLE-PASS: one `aggregate` traversal with one hash-map lookup per
    * token, accumulating all five counters packed into one long (11 bits per
    * language — the round-2 form made five independent `filter(isin)` passes
    * over the token array, 5×8 string comparisons per token, and was the
    * slowest oracle query at sf0.1).
    */
  def langIdCol(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val toks = slice(split(lower(t), "[^\\p{L}]+", -1), 1, 2000)
    val weightMap = map(packedWeights.flatMap {
      case (k, v) => Seq(lit(k), lit(v))
    }: _*)
    // the argmax decision lives in the aggregate's FINISH lambda: higher-
    // order functions are interpreted (no codegen / no common-subexpression
    // elimination), so referencing the aggregate from an outer when-chain
    // would re-run the whole token scan once per reference — inside finish,
    // `packed` is a bound lambda variable read, evaluated exactly once
    val langPick = aggregate(toks, lit(0L),
      (acc, tk) => acc + coalesce(try_element_at(weightMap, tk), lit(0L)),
      packed => {
        def cnt(lang: String): Column =
          shiftright(packed, 11 * langOrder.indexOf(lang))
            .bitwiseAND(lit(2047L))
        val en = cnt("en"); val es = cnt("es"); val fr = cnt("fr")
        val zh = cnt("zh")
        val best = greatest(en, es, fr, cnt("de"), zh)
        when(best === 0, lit("und"))
          .when(zh === best, lit("zh"))
          .when(fr === best, lit("fr"))
          .when(es === best, lit("es"))
          .when(en === best, lit("en"))
          .otherwise(lit("de"))
      })
    val head = substring(t, 1, 4000)
    val cjk = length(regexp_replace(head, "[^\\u4e00-\\u9fff]", ""))
    when(length(t) === 0, lit("und"))
      .when(cjk * 10 > length(head), lit("zh"))
      .otherwise(langPick)
  }

  /** The DuckDB mirror of [[langIdCol]], built from the same
    * [[packedWeights]] table so the two can never drift. `textExpr` is the
    * SQL expression for the text column. Same packed single-pass shape: one
    * CASE lookup per token, counters unpacked by shift/mask.
    */
  def langIdSql(textExpr: String): String = {
    val caseArms = packedWeights
      .map { case (tk, w) => s"WHEN '$tk' THEN ${w}" }
      .mkString(" ")
    def cnt(lang: String): String =
      s"((packed >> ${11 * langOrder.indexOf(lang)}) & 2047)"
    s"""(SELECT CASE
       |  WHEN length(t) = 0 THEN 'und'
       |  WHEN length(regexp_replace(substr(t, 1, 4000), '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 10
       |       > length(substr(t, 1, 4000)) THEN 'zh'
       |  WHEN best = 0 THEN 'und'
       |  WHEN h_zh = best THEN 'zh'
       |  WHEN h_fr = best THEN 'fr'
       |  WHEN h_es = best THEN 'es'
       |  WHEN h_en = best THEN 'en'
       |  ELSE 'de' END
       | FROM (SELECT t, h_en, h_es, h_fr, h_de, h_zh,
       |        greatest(h_en, h_es, h_fr, h_de, h_zh) AS best
       |   FROM (SELECT t, ${cnt("en")} AS h_en, ${cnt("es")} AS h_es,
       |          ${cnt("fr")} AS h_fr, ${cnt("de")} AS h_de,
       |          ${cnt("zh")} AS h_zh
       |     FROM (SELECT t, coalesce(list_sum(list_transform(toks,
       |            tk -> CASE tk $caseArms ELSE 0 END)), 0) AS packed
       |       FROM (SELECT t, (string_split_regex(lower(t), '[^\\p{L}]+'))[1:2000] AS toks
       |         FROM (SELECT coalesce($textExpr, '') AS t))))))""".stripMargin
  }

  // ---- quality scoring ----------------------------------------------------
  // (column-level quality features live in SparkEntry's tq_quality_cols,
  // the oracle-checked integer-div formulation)

  /** Column-expression composite quality score, integer-scaled:
    * floor(q × 1e6) with q = 0.4·lenScore + 0.3·wordLenScore + 0.3·alphaRatio
    * (length, word-shape and alpha-ratio features, each available
    * identically in SQL). Both engines evaluate the same IEEE double
    * expression tree and floor() it, so the BIGINT result is engine-exact,
    * which is what makes the score oracle-checkable.
    */
  def qualityScoreX1e6(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val n = length(t).cast("double")
    val words = filter(split(t, " +", -1), w => length(w) > 0)
    val nWords = greatest(size(words).cast("double"), lit(1.0))
    val sumLen = aggregate(words, lit(0.0),
      (acc, w) => acc + length(w).cast("double"))
    val meanWl = sumLen / nWords
    val alpha = length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") / n
    val lenScore = least(n / lit(500.0), lit(1.0))
    val wlScore = when(meanWl >= 3.0 && meanWl <= 10.0, lit(1.0))
      .otherwise(greatest(lit(0.0), lit(1.0) - abs(meanWl - lit(6.5)) / lit(10.0)))
    when(length(t) === 0, lit(0L)).otherwise(
      floor((lit(0.4) * lenScore + lit(0.3) * wlScore + lit(0.3) * alpha)
        * lit(1000000.0)).cast("long"))
  }

  /** The DuckDB mirror of [[qualityScoreX1e6]] (same expression tree). */
  def qualityScoreX1e6Sql(textExpr: String): String =
    s"""(SELECT CASE WHEN length(t) = 0 THEN 0 ELSE CAST(floor((
       |   0.4 * least(length(t) / 500.0, 1.0)
       | + 0.3 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0
       |          ELSE greatest(0.0, 1.0 - abs(mwl - 6.5) / 10.0) END)
       | + 0.3 * (length(regexp_replace(t, '[^\\p{L}]', '', 'g')) / CAST(length(t) AS DOUBLE))
       | ) * 1000000.0) AS BIGINT) END
       | FROM (SELECT t, coalesce(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE), 0.0)
       |          / greatest(CAST(len(words) AS DOUBLE), 1.0) AS mwl
       |   FROM (SELECT t, list_filter(string_split_regex(t, ' +'), w -> length(w) > 0) AS words
       |     FROM (SELECT coalesce($textExpr, '') AS t))))""".stripMargin

  // ---- token counting -----------------------------------------------------

  /** THE shared corpus tokenization — lowercase, ' +'-split, empties
    * dropped — as one column expression, so a tokenization tweak can never
    * drift between the operators that share it (keywords, classifier,
    * BPE/n-gram training, HLL/CMS sketches — the [[fingerprintWs]] lesson
    * applied to tokens). [[Tokenizer.wordsOf]] is the same contract in
    * plain Scala for driver-side reference paths.
    */
  def tokenArray(text: Column): Column =
    filter(split(lower(coalesce(text, lit(""))), " +"), w => length(w) > 0)

  /** DuckDB rendering of [[tokenArray]] (generated beside it — single
    * source of truth for both engines).
    */
  def tokenArraySql(textExpr: String): String =
    s"list_filter(string_split_regex(lower(coalesce($textExpr, '')), " +
      "' +'), w -> len(w) > 0)"

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single symbols — the
    * regex is RE2/Java-compatible so the DuckDB oracle matches exactly.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def bpeTokenCount(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit(bpeTokenPattern),
      lit(0)))

  // ---- deterministic sampling ---------------------------------------------

  /** Deterministic md5 bucket in [0, 100): both engines (Spark, DuckDB)
    * render the key string identically and md5 is md5, so samples are
    * reproducible across engines, runs and cluster sizes — the property a
    * training-data split must have (a rerun or a bigger cluster must never
    * change which documents are in the training set).
    */
  def md5Bucket(key: Column, buckets: Long = 100L): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Stratified deterministic sample: per-stratum keep-rate (percent), e.g.
    * downsample the majority language. Narrow (no shuffle) — the filter
    * runs inside the scan stage.
    */
  def stratifiedSample(
      docs: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Int],
      defaultRate: Int
  ): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    docs.filter(md5Bucket(col(keyCol)) < rate)
  }

  // ---- benchmark contamination ---------------------------------------------

  /** Contamination scan: for each document, the number of distinct n-gram
    * shingles it shares with the benchmark set (docs sharing ≥1 are
    * contaminated — the standard train/test-leakage check). The benchmark
    * side is tiny by construction (a benchmark, not a corpus) → its
    * shingle set ships as a plain closure broadcast and the per-doc
    * shared-count is computed ROW-LOCALLY inside the scan stage.
    *
    * r6: the previous form exploded every document's distinct shingles to
    * rows (corpus-token-sized materialization through the encoder),
    * broadcast-joined them and re-aggregated by doc_id. Same result, but
    * the explode/join/agg all operate on data whose only purpose is to be
    * counted per doc — guide §2.3/§2.4: don't shuffle (or even
    * materialize) bytes whose decision is row-local. Now: ZERO joins, ZERO
    * shuffles, one narrow pass (warm 1.14 → 0.32 s at sf0.1). Same
    * driver-memory contract as the broadcast join it replaces.
    */
  def contamination(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame // (text)
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchSet: Set[String] = benchmark.select(col("text")).as[String]
      .collect().iterator
      .flatMap(t => Dedup.shingleStrings(t).iterator)
      .toSet
    val bc = spark.sparkContext.broadcast(benchSet)
    docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val s = bc.value
        var n = 0L
        val seen = scala.collection.mutable.HashSet.empty[String]
        Dedup.shingleStrings(t).foreach { g =>
          if (s.contains(g) && seen.add(g)) n += 1
        }
        if (n > 0) Iterator.single((id, n)) else Iterator.empty
      }.toDF("doc_id", "n_shared")
  }

  // ---- repetition-based quality signals (Gopher-style) --------------------

  /** Gopher-style repetition signals (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, §A1.1 — the
    * standard web-corpus repetition filters, also used by C4/RefinedWeb
    * pipelines): fraction of characters in duplicated lines, and fraction
    * of characters covered by the most frequent word 2-gram / 3-gram.
    * Integer-scaled (×1e6, floor via integer division) so both engines
    * hash identically. Row-local — at 100 TB this runs inside the scan
    * stage with zero shuffle.
    *
    * Returns (dupLineFracX1e6, top2FracX1e6, top3FracX1e6). Tie-break for
    * the top gram: highest count, then lexicographically smallest gram
    * (deterministic, engine-independent).
    */
  def repetitionSignals(text: String): (Long, Long, Long) = {
    if (text == null || text.isEmpty) return (0L, 0L, 0L)
    // CODEPOINT counts and UTF-8-byte tie-break order, matching the DuckDB
    // mirror exactly (len() counts codepoints, default collation is binary
    // UTF-8) — UTF-16 code-unit length/order would diverge on
    // supplementary-plane characters (emoji, astral CJK)
    def cp(s: String): Long = s.codePointCount(0, s.length).toLong
    def utf8Less(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    val lines = text.split("\n").filter(_.nonEmpty)
    val lineCounts = new scala.collection.mutable.HashMap[String, Int]
    lines.foreach(l => lineCounts.update(l, lineCounts.getOrElse(l, 0) + 1))
    var dupChars = 0L
    var totalLineChars = 0L
    lines.foreach { l =>
      val n = cp(l)
      totalLineChars += n
      if (lineCounts(l) > 1) dupChars += n
    }
    val dupFrac = dupChars * 1000000L / math.max(totalLineChars, 1L)
    val words = text.split(" +").filter(_.nonEmpty)
    val textCp = cp(text)
    def topGramFrac(n: Int): Long = {
      if (words.length < n) return 0L
      val counts = new scala.collection.mutable.HashMap[String, Int]
      words.sliding(n).foreach { w =>
        val g = w.mkString(" ")
        counts.update(g, counts.getOrElse(g, 0) + 1)
      }
      var bestG: String = null
      var bestC = 0
      counts.foreach { case (g, c) =>
        if (c > bestC || (c == bestC && (bestG == null || utf8Less(g, bestG)))) {
          bestG = g; bestC = c
        }
      }
      bestC.toLong * cp(bestG) * 1000000L / math.max(textCp, 1L)
    }
    (dupFrac, topGramFrac(2), topGramFrac(3))
  }

  /** DataFrame form of [[repetitionSignals]]:
    * (doc_id, dup_line_frac_x1e6, top2_frac_x1e6, top3_frac_x1e6).
    */
  def repetitionSignalsDf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val (d, g2, g3) = repetitionSignals(t)
        (id, d, g2, g3)
      }
      .toDF("doc_id", "dup_line_frac_x1e6", "top2_frac_x1e6",
        "top3_frac_x1e6")
  }

  /** The DuckDB mirror of [[repetitionSignalsDf]] over a `documents`-shaped
    * table (same integer arithmetic, same tie-break).
    */
  def repetitionSignalsSql(table: String): String =
    s"""WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM $table),
       |lines AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
       |    l -> len(l) > 0)) AS line
       |  FROM base),
       |lc AS (SELECT doc_id, line, count(*) AS c, len(line) AS ln
       |       FROM lines GROUP BY doc_id, line),
       |dupf AS (
       |  SELECT doc_id,
       |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c * ln ELSE 0 END), 0)
       |      * 1000000 // greatest(coalesce(sum(c * ln), 0), 1) AS BIGINT)
       |      AS dup_line_frac_x1e6
       |  FROM lc GROUP BY doc_id),
       |wrds AS (SELECT doc_id, length(text) AS n_chars,
       |    list_filter(string_split_regex(text, ' +'), x -> len(x) > 0) AS w
       |  FROM base),
       |grams AS (
       |  SELECT doc_id, n_chars, 2 AS n,
       |    unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
       |      i -> w[i] || ' ' || w[i+1])) AS g
       |  FROM wrds
       |  UNION ALL
       |  SELECT doc_id, n_chars, 3 AS n,
       |    unnest(list_transform(generate_series(1, greatest(len(w)-2, 0)),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
       |  FROM wrds),
       |gc AS (SELECT doc_id, n, g, n_chars, count(*) AS c
       |       FROM grams GROUP BY doc_id, n, g, n_chars),
       |topg AS (
       |  SELECT doc_id, n,
       |    CAST(c * len(g) * 1000000 // greatest(n_chars, 1) AS BIGINT) AS frac
       |  FROM (SELECT doc_id, n, g, n_chars, c, row_number() OVER
       |          (PARTITION BY doc_id, n ORDER BY c DESC, g ASC) AS rn
       |        FROM gc)
       |  WHERE rn = 1)
       |SELECT b.doc_id,
       |  coalesce(d.dup_line_frac_x1e6, 0) AS dup_line_frac_x1e6,
       |  coalesce(t2.frac, 0) AS top2_frac_x1e6,
       |  coalesce(t3.frac, 0) AS top3_frac_x1e6
       |FROM base b
       |LEFT JOIN dupf d ON d.doc_id = b.doc_id
       |LEFT JOIN topg t2 ON t2.doc_id = b.doc_id AND t2.n = 2
       |LEFT JOIN topg t3 ON t3.doc_id = b.doc_id AND t3.n = 3""".stripMargin

  // ---- PII redaction (C4-style cleaning) -----------------------------------

  /** Redaction patterns, deliberately restricted to the Java-regex ∩ RE2
    * common subset (no backrefs/lookaround) so the Spark column form and
    * the DuckDB oracle replace identically. Order matters: emails first
    * (an email's host could otherwise be half-eaten by the IP rule).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\+?\\d{1,3}[- ]\\d{3}[- ]?\\d{3,4}[- ]?\\d{3,4}\\b" -> "<PHONE>")

  /** Column form: text with emails / IPv4s / phone-shaped numbers replaced
    * by typed placeholders. Narrow (runs inside the scan stage at any
    * scale); the standard pre-training cleanup step.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(coalesce(text, lit(""))) {
      case (acc, (pat, repl)) => regexp_replace(acc, pat, repl)
    }

  /** The DuckDB mirror, generated from the same [[piiPatterns]] (DuckDB
    * string literals pass backslashes through verbatim — no re-escaping).
    */
  def redactPiiSql(textExpr: String): String =
    piiPatterns.foldLeft(s"coalesce($textExpr, '')") {
      case (acc, (pat, repl)) =>
        s"regexp_replace($acc, '${pat.replace("'", "''")}', '$repl', 'g')"
    }

  // ---- URL / domain blocklist filtering ------------------------------------

  /** URL host pattern (group 1 = the host), RE2/Java-compatible like
    * [[bpeTokenPattern]] so the DuckDB oracle extracts identically.
    */
  val urlHostPattern = "https?://([A-Za-z0-9.-]+)"

  /** All link hosts in a document, in order of appearance (duplicates
    * kept — a doc linking the same ad domain 40 times is a stronger drop
    * signal than one). Narrow; runs inside the scan stage.
    */
  def urlHosts(text: Column): Column =
    call_function("regexp_extract_all", coalesce(text, lit("")),
      lit(urlHostPattern), lit(1))

  /** Full-URL pattern (group 0 = the whole link), RE2/Java-compatible.
    * The tail class excludes \r and the Unicode line separators as well
    * as \n: Java and RE2 disagree on `$` and `.` around those characters
    * (Java's `$` matches before a final line terminator incl. \r/U+0085/
    * U+2028/U+2029; RE2's matches only at end of text), so letting them
    * into an extracted URL would make the two canonicalization engines
    * diverge on CRLF text.
    */
  val urlFullPattern =
    "https?://[A-Za-z0-9.-]+[^ \\t\\n\\r\u0085\u2028\u2029<>\"']*"

  /** Ordered URL-canonicalization regex steps — the SINGLE SOURCE OF
    * TRUTH shared by [[urlCanonicalize]] (Column form) and
    * [[urlCanonicalizeSql]] (DuckDB mirror). Patterns stay in the
    * Java∩RE2 subset and every replacement is a literal (no backrefs —
    * Spark and DuckDB escape them differently): fragment, tracking
    * parameters (&-delimited, leading-with-successor, lone), trailing
    * slash. The scheme+host lowercase / www-strip are structural steps
    * applied after (see the functions).
    */
  // bare 'ref' is deliberately NOT stripped: it is a legitimate routing
  // parameter on many sites (code-hosting branch refs, forum referers) —
  // stripping it would merge genuinely distinct pages; utm_*/gclid/fbclid
  // are unambiguous trackers
  private val trackingParams = "(?:utm_[A-Za-z0-9_]+|gclid|fbclid)"
  val urlCanonSteps: Seq[(String, String)] = Seq(
    "#.*$" -> "",
    s"&$trackingParams=[^&#]*" -> "",
    s"\\?$trackingParams=[^&#]*&" -> "?",
    s"\\?$trackingParams=[^&#]*$$" -> "",
    "/$" -> "")

  /** Canonical URL form (the normalize-before-URL-dedup step of a C4/
    * RefinedWeb-style pipeline): strip fragment and tracking parameters,
    * lowercase ONLY the scheme+host (paths are case-sensitive), drop the
    * `www.` host prefix, strip one trailing slash. Pure row-local
    * expression chain — runs inside the scan, zero shuffle, and the
    * generated DuckDB mirror applies the identical step list.
    */
  def urlCanonicalize(url: Column): Column = {
    val stripped = urlCanonSteps.foldLeft(url) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    // the www strip runs on the EXTRACTED scheme+host only — applied to
    // the whole string it would also rewrite URLs embedded in query-string
    // values (redirect/share links: ...?url=https://www.x.com/...). Plain
    // substring replace keeps the backref-free contract (replacement
    // backreference syntax differs between engines); the degenerate host
    // 'www.com' does collapse to 'com' — the inherent edge of any www
    // strip, deterministic in both engines.
    concat(
      org.apache.spark.sql.functions.replace(
        lower(regexp_extract(stripped, "^(https?://[^/?#]*)", 1)),
        lit("://www."), lit("://")),
      regexp_replace(stripped, "^https?://[^/?#]*", ""))
  }

  /** DuckDB mirror of [[urlCanonicalize]] applied to SQL expression
    * `expr0` (DuckDB regexp_replace needs the explicit 'g' flag to match
    * Spark's replace-all semantics).
    */
  def urlCanonicalizeSql(expr0: String): String = {
    val stripped = urlCanonSteps.foldLeft(expr0) { case (e, (p, r)) =>
      s"regexp_replace($e, '${p.replace("'", "''")}', '$r', 'g')"
    }
    s"""replace(lower(regexp_extract($stripped, '^(https?://[^/?#]*)', 1)),
       | '://www.', '://')
       | || regexp_replace($stripped, '^https?://[^/?#]*', '', 'g')"""
      .stripMargin.replace("\n", "")
  }

  /** Per-document URL counts + keep/drop verdict against a domain
    * blocklist. The blocklist is a DataFrame, not a literal: production
    * blocklists (RefinedWeb-style) run to millions of domains, so the
    * membership test is a broadcast LEFT SEMI join on the exploded hosts —
    * the corpus side stays narrow (explode + one partial-aggregated
    * groupBy on the already-carried doc id).
    */
  def urlBlocklistVerdict(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blocklist: DataFrame): DataFrame = {
    val hosts = docs.select(col(idCol),
      urlHosts(col(textCol)).as("hosts"))
    val blocked = hosts
      .select(col(idCol), explode(col("hosts")).as("host"))
      .join(broadcast(blocklist.select(col("domain"))),
        col("host") === col("domain"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_blocked"))
    hosts.select(col(idCol), size(col("hosts")).cast("long").as("n_urls"))
      .join(blocked, Seq(idCol), "left")
      .na.fill(0L, Seq("n_blocked"))
      .select(col(idCol), col("n_urls"),
        col("n_blocked").cast("long").as("n_blocked"),
        when(col("n_blocked") > 0, "drop").otherwise("keep").as("verdict"))
  }

  /** Per-domain link statistics — the RefinedWeb-style "domain ranking"
    * building block: for every linked host, how many links/documents point
    * at it and how much quality mass those documents carry. One narrow
    * host-explode + ONE partial-aggregated groupBy(host) — the host key
    * space is Zipfian, but count/sum combine map-side so hot domains cost
    * one merged row per partition, not a skewed shuffle of raw links.
    * sum_quality is the integer-scaled quality ([[qualityScoreX1e6]]) summed
    * link-weighted, so rank = sum_quality/n_links needs no float transport.
    */
  def domainStats(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"),
        qualityScoreX1e6(col(textCol)).as("q"),
        explode(urlHosts(col(textCol))).as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("q")).as("sum_quality_x1e6"))
  }

  /** The DuckDB mirror of [[domainStats]] over a (doc_id, text) table. */
  def domainStatsSql(table: String): String =
    s"""WITH ex AS (SELECT doc_id,
       |    ${qualityScoreX1e6Sql("text")} AS q,
       |    unnest(regexp_extract_all(coalesce(text, ''),
       |      '${urlHostPattern.replace("'", "''")}', 1)) AS host
       |  FROM $table)
       |SELECT host, CAST(count(*) AS BIGINT) AS n_links,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(sum(q) AS BIGINT) AS sum_quality_x1e6
       |FROM ex GROUP BY host""".stripMargin

  /** Dataset-card corpus statistics (the "data card" summary a training
    * corpus ships with — Gebru et al. 2021, "Datasheets for Datasets"):
    * per (language, quality-decile-bucket) document counts, character and
    * word-token mass. The quality bucket is the integer-scaled
    * [[qualityScoreX1e6]] floor-divided into 10 buckets of 0.1 — a
    * fixed-bucket histogram instead of ntile/percentile, because a global
    * quantile needs a total sort while fixed buckets are ONE
    * partial-aggregated groupBy at any corpus size.
    */
  def corpusStats(
      docs: DataFrame,
      textCol: String,
      langCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(t, " +", -1), w => length(w) > 0)
    docs
      .select(col(langCol).as("lang"),
        qualityScoreX1e6(col(textCol)).as("q"),
        length(t).cast("long").as("nc"),
        size(words).cast("long").as("nw"))
      .groupBy(col("lang"), expr("q div 100000").as("q_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("sum_chars"),
        sum(col("nw")).as("sum_words"))
  }

  /** DuckDB mirror of [[corpusStats]] over a (text, lang) table. */
  def corpusStatsSql(table: String): String =
    s"""WITH ex AS (SELECT lang,
       |    ${qualityScoreX1e6Sql("text")} AS q,
       |    length(coalesce(text, '')) AS nc,
       |    len(list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |        w -> length(w) > 0)) AS nw
       |  FROM $table)
       |SELECT lang, CAST(q // 100000 AS BIGINT) AS q_bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nc) AS BIGINT) AS sum_chars,
       |  CAST(sum(nw) AS BIGINT) AS sum_words
       |FROM ex GROUP BY lang, q // 100000""".stripMargin

  /** Distinct documents a line must occur in to be boilerplate, in
    * [[boilerplateLineRemoval]] and its SQL mirror.
    */
  val BoilerplateMinDocs = 3

  /** Boilerplate line removal (the CCNet/RefinedWeb line-level cleanup:
    * Wenzek et al., "CCNet", 2020 §3 deduplicates at paragraph/line level):
    * a non-blank line occurring in at least [[BoilerplateMinDocs]] DISTINCT
    * documents is boilerplate (nav bars, cookie banners, copyright footers)
    * and is removed from EVERY document — unlike [[graft.textops.Dedup
    * .exactSubstringDedup]]'s keep-first, boilerplate keeps no copy.
    * Kept lines are rejoined with newlines in original order.
    *
    * Scale shape: line explode is narrow; the hot-line table is one
    * groupBy(line) with a two-phase distinct-doc count (partial
    * aggregation per partition); the membership join back is the only
    * wide join and its build side (the hot lines) is tiny relative
    * to the corpus, broadcastable at any realistic threshold.
    *
    * Returns (doc_id, n_lines, n_removed, kept_text).
    */
  def boilerplateLineRemoval(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      split(coalesce(col(textCol), lit("")), "\n", -1).as("ls"))
    val pl = base.select(col("doc_id"),
      posexplode(col("ls")).as(Seq("p", "line")))
    val hot = pl.filter(length(trim(col("line"))) > 0)
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateMinDocs)
      .select(col("line"), lit(true).as("is_boiler"))
    val marked = pl.join(hot, Seq("line"), "left")
    keptText(
      base.select(col("doc_id"), size(col("ls")).cast("long").as("n_lines")),
      marked.filter(col("is_boiler").isNull), "p", "line", "\n",
      marked.filter(col("is_boiler").isNotNull))
  }

  /** The result of a unit-removal pass ([[boilerplateLineRemoval]],
    * [[Dedup.exactSubstringDedup]]): every column of `counts` (doc_id and
    * its per-doc counts) extended with n_removed, the `removed` rows per
    * doc, and kept_text, the `kept` rows' `unit` values joined by `sep` in
    * `pos` order ("" when none).
    */
  private[textops] def keptText(counts: DataFrame, kept: DataFrame,
      pos: String, unit: String, sep: String, removed: DataFrame): DataFrame = {
    val ka = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col(pos), col(unit)))),
        s => s.getField(unit)), sep).as("kept_text"))
    val rc = removed.groupBy("doc_id").agg(count(lit(1)).as("n_removed"))
    counts
      .join(rc, Seq("doc_id"), "left")
      .join(ka, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_removed"))
      .select(counts.columns.map(col) :+
        col("n_removed").cast("long").as("n_removed") :+
        coalesce(col("kept_text"), lit("")).as("kept_text"): _*)
  }

  /** The DuckDB mirror of [[boilerplateLineRemoval]] over a
    * (doc_id, text) table, kept text reported as md5.
    */
  def boilerplateLineRemovalSql(table: String): String =
    s"""WITH ls AS (SELECT doc_id,
       |    string_split(coalesce(text, ''), chr(10)) AS l FROM $table),
       |pl AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(l)),
       |      i -> {'p': i, 'line': l[i]})) AS s
       |  FROM ls),
       |plf AS (SELECT doc_id, s.p AS p, s.line AS line FROM pl),
       |hot AS (SELECT line FROM plf WHERE len(trim(line)) > 0
       |        GROUP BY line HAVING count(DISTINCT doc_id) >= $BoilerplateMinDocs),
       |kept AS (SELECT plf.doc_id AS doc_id, plf.p AS p, plf.line AS line
       |  FROM plf LEFT JOIN hot ON hot.line = plf.line
       |  WHERE hot.line IS NULL),
       |ka AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS txt
       |       FROM kept GROUP BY doc_id),
       |rc AS (SELECT plf.doc_id AS doc_id, count(*) AS nrem
       |       FROM plf JOIN hot ON hot.line = plf.line GROUP BY plf.doc_id)
       |SELECT l.doc_id AS doc_id, CAST(len(l.l) AS BIGINT) AS n_lines,
       |  CAST(coalesce(rc.nrem, 0) AS BIGINT) AS n_removed,
       |  md5(coalesce(ka.txt, '')) AS kept_md5
       |FROM ls l
       |LEFT JOIN rc ON rc.doc_id = l.doc_id
       |LEFT JOIN ka ON ka.doc_id = l.doc_id""".stripMargin

  // ---- composed quality-filter pipeline ------------------------------------

  /** The keep thresholds of [[qualityFilterPipeline]] and
    * [[qualityFilterPipelineSql]]: allowed languages, word-count bounds,
    * the quality floor and the Gopher §A1.1 repetition caps.
    */
  val AllowedLangs: Seq[String] = Seq("en")
  val MinWords = 25L
  val MaxWords = 100000L
  val MinQualityX1e6 = 660000L
  val MaxDupLineX1e6 = 300000L
  val MaxTop2X1e6 = 200000L
  val MaxTop3X1e6 = 180000L

  /** C4/Gopher-style composed keep/drop filter — the shape a production
    * pre-training cleanup run has: ALL per-document signals (language id,
    * word count, composite quality, repetition, URL blocklist) computed in
    * ONE pass over the corpus, then a single deterministic verdict with the
    * first-failing-rule reason. At 100 TB this is the difference between
    * one scan and five: every signal here is row-local, so the whole
    * pipeline is a narrow map stage with zero shuffles (the blocklist is a
    * literal IN-list here — for million-domain lists use
    * [[urlBlocklistVerdict]]'s broadcast-join form as the n_blocked input).
    *
    * Rule order is fixed (lang, word_count, quality, repetition, blocklist)
    * so the verdict is engine-deterministic; the thresholds below are the
    * Gopher §A1.1 caps, shared with [[qualityFilterPipelineSql]].
    */
  def qualityFilterPipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockedDomains: Seq[String],
      keepText: Boolean = false,
      carryCol: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // repetition signals need per-doc hash maps → one typed map, carrying
    // the text through so the column signals stack on the same scan.
    // r6: `keepText`/`carryCol` let a COMPOSING pipeline (tq_corpus_prep)
    // keep the text and one payload column on the verdict rows instead of
    // re-joining the base table afterwards — the guide-§8 "attach without
    // the join sneaking the shuffle back in" rule; the default path emits
    // exactly the r5 columns (one constant empty carry rides the map,
    // dropped at the final select).
    val carryExpr = carryCol.map(c => col(c).cast("string"))
      .getOrElse(lit(""))
    val withRep = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"),
        carryExpr.as("carry"))
      .as[(Long, String, String)]
      .map { case (id, t, cy) =>
        val (d, g2, g3) = repetitionSignals(t)
        (id, t, cy, d, g2, g3)
      }
      .toDF("doc_id", "text", "carry", "dup_line_frac_x1e6",
        "top2_frac_x1e6", "top3_frac_x1e6")
    val t = coalesce(col("text"), lit(""))
    val words = filter(split(t, " +", -1), w => length(w) > 0)
    val extraCols = (if (keepText) Seq(col("text")) else Nil) ++
      carryCol.map(c => col("carry").as(c)).toSeq
    withRep
      .withColumn("lang", langIdCol(col("text")))
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("quality_x1e6", qualityScoreX1e6(col("text")))
      .withColumn("n_blocked",
        size(filter(urlHosts(col("text")),
          h => h.isInCollection(blockedDomains))).cast("long"))
      .select(Seq(col("doc_id"), col("lang"), col("n_words"),
        col("quality_x1e6"), col("dup_line_frac_x1e6"),
        col("top2_frac_x1e6"), col("top3_frac_x1e6"), col("n_blocked"),
        when(!col("lang").isInCollection(AllowedLangs), "drop:lang")
          .when(col("n_words") < MinWords || col("n_words") > MaxWords,
            "drop:word_count")
          .when(col("quality_x1e6") < MinQualityX1e6, "drop:quality")
          .when(col("dup_line_frac_x1e6") > MaxDupLineX1e6 ||
            col("top2_frac_x1e6") > MaxTop2X1e6 ||
            col("top3_frac_x1e6") > MaxTop3X1e6, "drop:repetition")
          .when(col("n_blocked") > 0, "drop:blocklist")
          .otherwise("keep").as("verdict")) ++ extraCols: _*)
  }

  /** The DuckDB mirror of [[qualityFilterPipeline]]. It reads the same
    * threshold constants ([[AllowedLangs]], [[MinWords]] …
    * [[MaxTop3X1e6]]) and is composed from the same generated sub-mirrors
    * ([[langIdSql]], [[qualityScoreX1e6Sql]], [[repetitionSignalsSql]],
    * [[urlHostPattern]]), so no threshold or pattern can drift between
    * engines. `table` must have (doc_id, text).
    */
  def qualityFilterPipelineSql(
      table: String,
      blockedDomains: Seq[String]): String = {
    // the empty-blocklist guard keeps the two engines' contracts symmetric
    // (Spark's isInCollection(empty) is simply never-true, so n_blocked is
    // 0); without it, `IN ()` is a DuckDB syntax error while Spark runs.
    val langList = AllowedLangs.map(l => s"'$l'").mkString(", ")
    val domList = blockedDomains
      .map(d => "'" + d.replace("'", "''") + "'").mkString(", ")
    val pat = urlHostPattern.replace("'", "''")
    val nBlockedExpr =
      if (blockedDomains.isEmpty) "CAST(0 AS BIGINT)"
      else
        s"""CAST(len(list_filter(regexp_extract_all(coalesce(text, ''), '$pat', 1),
           |    h -> h IN ($domList))) AS BIGINT)""".stripMargin
    s"""WITH rep AS (${repetitionSignalsSql(table)}),
       |sig AS (SELECT doc_id,
       |  ${langIdSql("text")} AS lang,
       |  CAST(len(list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |    w -> len(w) > 0)) AS BIGINT) AS n_words,
       |  ${qualityScoreX1e6Sql("text")} AS quality_x1e6,
       |  $nBlockedExpr AS n_blocked
       |  FROM $table)
       |SELECT s.doc_id, s.lang, s.n_words, s.quality_x1e6,
       |  r.dup_line_frac_x1e6, r.top2_frac_x1e6, r.top3_frac_x1e6,
       |  s.n_blocked,
       |  CASE WHEN s.lang NOT IN ($langList) THEN 'drop:lang'
       |       WHEN s.n_words < $MinWords OR s.n_words > $MaxWords
       |         THEN 'drop:word_count'
       |       WHEN s.quality_x1e6 < $MinQualityX1e6 THEN 'drop:quality'
       |       WHEN r.dup_line_frac_x1e6 > $MaxDupLineX1e6
       |         OR r.top2_frac_x1e6 > $MaxTop2X1e6
       |         OR r.top3_frac_x1e6 > $MaxTop3X1e6 THEN 'drop:repetition'
       |       WHEN s.n_blocked > 0 THEN 'drop:blocklist'
       |       ELSE 'keep' END AS verdict
       |FROM sig s JOIN rep r ON s.doc_id = r.doc_id""".stripMargin
  }

  // ---- training-batch assembly: token-budget sequence packing -------------

  /** Token-budget sequence packing (the data-side half of GPT-style
    * sequence packing for training batches): assign documents to
    * consecutive packs per shard so each pack holds ~`budget` whitespace
    * tokens. A document joins the pack indexed by
    * floor(exclusive-prefix-tokens / budget) in deterministic
    * (shard, doc_id) order — packs are budget-aligned and may overrun by
    * at most one document. EXACT first-fit packing is inherently
    * sequential; this prefix-sum form is the scalable equivalent.
    *
    * The prefix sum is TWO-LEVEL, because Spark's WindowExec materializes
    * each window partition into a (spillable) row buffer before emitting —
    * a single per-shard window would buffer a dominant shard's entire row
    * set on one task (the same full-partition-buffer failure class the
    * BoundedEnds bucket cap exists for). Instead: documents are cut into
    * sub-shards of ≤ `subShardIds` consecutive doc-ids; the inner running
    * sum windows over (shard, sub) partitions whose buffers are bounded by
    * construction, and the sub-shard token totals (one row per sub-shard)
    * get their own prefix window over the tiny totals table, broadcast
    * back as offsets. cum = sub_offset + within_sub_prefix is EXACTLY the
    * per-shard prefix a single window would compute — the output is
    * identical (spec-pinned) — but no task ever buffers more than one
    * sub-shard. Integer arithmetic throughout, so the assignment is
    * engine- and cluster-size-reproducible. Output
    * (shard, doc_id, n_tokens, pack_id).
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shardCol: String,
      budget: Long,
      subShardIds: Long = 262144L): DataFrame = {
    require(budget > 0, "packSequences requires budget > 0")
    require(subShardIds > 0, "packSequences requires subShardIds > 0")
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col(shardCol).as("shard"), col(idCol).cast("long").as("doc_id"),
        size(filter(split(coalesce(col(textCol), lit("")), " +", -1),
          x => length(x) > 0)).cast("long").as("n_tokens"))
      .withColumn("sub", expr(s"doc_id div ${subShardIds}L"))
    // level 1: per-sub-shard totals (one row per sub-shard), exclusive
    // prefix over the sub-shards of each shard — tiny window partitions
    val wSub = Window.partitionBy(col("shard")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tok.groupBy(col("shard"), col("sub"))
      .agg(sum(col("n_tokens")).as("sub_total"))
      .withColumn("sub_offset",
        coalesce(sum(col("sub_total")).over(wSub), lit(0L)))
      .select(col("shard"), col("sub"), col("sub_offset"))
    // level 2: exclusive prefix WITHIN a sub-shard — buffer ≤ subShardIds
    // rows per window partition by construction
    val wIn = Window.partitionBy(col("shard"), col("sub"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // NULL-SAFE rejoin (ADVICE r4 medium): groupBy and window partitioning
    // both treat a NULL shard as its own group/partition — matching the
    // DuckDB mirror's single PARTITION BY shard window — but a plain
    // usingColumns join would silently DROP those rows on the Spark side
    // only. <=> keeps NULL-shard documents flowing through identically in
    // both engines.
    tok
      .withColumn("in_sub", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .alias("t")
      .join(offsets.alias("o"),
        col("t.shard") <=> col("o.shard") && col("t.sub") <=> col("o.sub"))
      .withColumn("cum", col("sub_offset") + col("in_sub"))
      .withColumn("pack_id", expr(s"cum div ${budget}L"))
      .select(col("t.shard").as("shard"), col("doc_id"), col("n_tokens"),
        col("pack_id"))
  }

  /** Token budget per pack of the tq_pack_sequences and tq_corpus_prep
    * queries and of [[packSequencesSql]].
    */
  val PackBudget = 2048L

  /** DuckDB mirror of [[packSequences]] over a (doc_id, source, text)
    * table, sharded by `source` (same window frame, same integer div).
    */
  def packSequencesSql(table: String): String =
    s"""SELECT shard, doc_id, n_tokens,
       |  CAST(cum // $PackBudget AS BIGINT) AS pack_id
       |FROM (
       |  SELECT shard, doc_id, n_tokens,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM (
       |    SELECT source AS shard, doc_id,
       |      CAST(len(list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |        x -> len(x) > 0)) AS BIGINT) AS n_tokens
       |    FROM $table))""".stripMargin

  // ---- statistical fluency score (count-based perplexity stand-in) --------

  /** Statistical fluency score — the count-based stand-in for a
    * CCNet-style LM-perplexity filter, with NO float logs so the score is
    * EXACT across engines: each adjacent word pair contributes
    * floor(log2(c)) where c is the pair's corpus-wide occurrence count
    * (floor-log2 = binary-digit-count − 1, pure integer in both engines).
    * Text built from common collocations scores high per bigram; rare-
    * junk text scores near zero — rank by sum_log2c / n_bigrams to
    * filter. Trained on the scored corpus itself (the CCNet trick of a
    * reference corpus is the same join against an external counts table).
    *
    * Scale shape: narrow bigram explode; ONE groupBy(bigram) whose
    * map-side partial aggregation absorbs the Zipf head (the hottest
    * bigrams combine earliest); one shuffle join back on bigram (AQE
    * skew-join handles residual head keys); final partial-aggregated
    * groupBy(doc). Output (doc_id, n_bigrams, sum_log2c) — zero row
    * values for docs with fewer than two tokens.
    *
    * The bigram projection feeds BOTH the counts aggregate and the
    * scoring join (plus a pruned doc_id-only scan for short docs): at
    * 100 TB persist/checkpoint the docs projection before calling, or
    * accept one tokenize recompute — the same caller-owned-cache contract
    * as [[Dedup.exactSubstringDedup]] (the per-doc output here is too
    * large to eagerly materialize the way minhashLsh's small pair list
    * is).
    */
  def ngramLogFreqScore(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      filter(split(coalesce(col(textCol), lit("")), " +", -1),
        w => length(w) > 0).as("w"))
    val bigrams = base.select(col("doc_id"),
      explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val counts = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val scored = bigrams.join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("c"))) - 1).cast("long").as("sum_log2c"))
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "sum_log2c"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_log2c"))
  }

  /** DuckDB mirror of [[ngramLogFreqScore]] over a (doc_id, text) table. */
  def ngramLogFreqScoreSql(table: String): String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |      x -> len(x) > 0) AS w
       |  FROM $table),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |    THEN list_transform(generate_series(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i + 1])
       |    ELSE CAST([] AS VARCHAR[]) END) AS bg
       |  FROM base),
       |c AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
       |scored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(length(bin(c.c)) - 1) AS BIGINT) AS sum_log2c
       |  FROM bg JOIN c USING (bg) GROUP BY doc_id)
       |SELECT b.doc_id,
       |  coalesce(s.n_bigrams, 0) AS n_bigrams,
       |  coalesce(s.sum_log2c, 0) AS sum_log2c
       |FROM base b LEFT JOIN scored s ON s.doc_id = b.doc_id""".stripMargin

  // ---- long-document chunking (fixed token windows with overlap) ----------

  /** Fixed-token-window chunking (the long-document splitter feeding
    * sequence packing / training): whitespace tokens, windows of
    * `chunkTokens` advancing by `chunkTokens - overlapTokens`; the last
    * window keeps the tail (may be shorter), documents with no tokens
    * yield no chunks. Chunk count k = ceil((n - chunk)/step) + 1 for
    * n > chunk, else 1 — pure integer arithmetic, and the slices are
    * 1-based inclusive in both engines, so the output is engine-exact.
    * Row-local (explode only), ZERO shuffle — at 100 TB this runs inside
    * the scan stage. Output (doc_id, chunk_ix, n_tokens, chunk_text).
    */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlapTokens: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      "chunkDocuments requires chunkTokens > overlapTokens >= 0")
    val step = chunkTokens - overlapTokens
    // r6: carryCols ride the row-local explode (per-doc payload columns
    // repeated onto each chunk) so a composing pipeline needn't re-join
    // the base table to recover them; default Nil = the r5 plan exactly.
    // n_tokens = least(chunkTokens, size(w) - i*step) — arithmetic identity
    // of size(slice(w, i*step+1, chunkTokens)) over the sequence's i range
    // (the bound guarantees i*step < size(w)), saving one slice allocation
    // per chunk in the interpreted transform
    docs
      .select(Seq(col(idCol).cast("long").as("doc_id"),
        filter(split(coalesce(col(textCol), lit("")), " +", -1),
          w => length(w) > 0).as("w")) ++ carryCols.map(col): _*)
      .filter(size(col("w")) > 0)
      .select(Seq(col("doc_id"), expr(
        s"""explode(transform(
           |  sequence(0, CASE WHEN size(w) <= $chunkTokens THEN 0
           |    ELSE (size(w) - $chunkTokens + $step - 1) div $step END),
           |  i -> struct(CAST(i AS INT) AS chunk_ix,
           |    CAST(least($chunkTokens, size(w) - i * $step) AS BIGINT)
           |      AS n_tokens,
           |    array_join(slice(w, i * $step + 1, $chunkTokens), ' ')
           |      AS chunk_text)))""".stripMargin).as("c")) ++
        carryCols.map(col): _*)
      .select(Seq(col("doc_id"), col("c.chunk_ix"), col("c.n_tokens"),
        col("c.chunk_text")) ++ carryCols.map(col): _*)
  }

  /** Collision-free packed chunk id — 20-bit shift, so a document can
    * yield up to 2^20 chunks before colliding into the next doc's id
    * space (the old ×1000 packing collided at 1000 chunks — a ~48k-token
    * document at 64/16 windows, exactly the long documents chunking
    * exists for; VERDICT r4 #2). chunk_ix ≥ 2^20 raises instead of
    * silently aliasing.
    */
  val chunkIdShift: Long = 1L << 20

  def packedChunkId(docId: Column, chunkIx: Column): Column =
    docId * chunkIdShift +
      when(chunkIx < chunkIdShift, chunkIx.cast("long"))
        .otherwise(raise_error(
          lit(s"packedChunkId: chunk_ix >= $chunkIdShift overflows packing")))

  /** Window and overlap, in tokens, that the corpus-prep queries pass to
    * [[chunkDocuments]] and that [[chunkDocumentsSql]] mirrors.
    */
  val ChunkTokens = 64
  val ChunkOverlap = 16

  /** DuckDB mirror of [[chunkDocuments]] over a (doc_id, text) table, at
    * [[ChunkTokens]]/[[ChunkOverlap]].
    */
  def chunkDocumentsSql(table: String): String = {
    val step = ChunkTokens - ChunkOverlap
    s"""SELECT doc_id, CAST(c.i AS INT) AS chunk_ix,
       |  CAST(len(w[c.i * $step + 1 : c.i * $step + $ChunkTokens]) AS BIGINT)
       |    AS n_tokens,
       |  array_to_string(w[c.i * $step + 1 : c.i * $step + $ChunkTokens], ' ')
       |    AS chunk_text
       |FROM (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |      x -> len(x) > 0) AS w
       |  FROM $table) t,
       |  LATERAL unnest(generate_series(0,
       |    CASE WHEN len(w) <= $ChunkTokens THEN 0
       |      ELSE (len(w) - $ChunkTokens + $step - 1) // $step END)) c(i)
       |WHERE len(w) > 0""".stripMargin
  }

  // ---- content-defined chunking (FastCDC-style word boundaries) ----------

  /** Content-defined chunking over words: a chunk boundary falls AFTER
    * word i whenever the md5 of the 3-gram ending at i starts with hex
    * nibble '0' (p = 1/16 → mean chunk ≈ 16 words). Unlike the
    * fixed-window [[chunkDocuments]], boundaries move WITH the content,
    * so an insertion near the start of a document shifts only the chunks
    * it touches — the property that makes CDC the edit-robust chunker for
    * substring-level dedup (the same role gear/Rabin boundaries play in
    * FastCDC, Xia et al., USENIX ATC 2016).
    *
    * md5 is the boundary hash ON PURPOSE: both engines compute identical
    * digests over UTF-8 bytes, so the oracle re-derives every boundary
    * exactly. Stateless boundaries (no min/max chunk clamps) keep the
    * operator row-local AND mirror-exact; production min/max bounds are a
    * stateful scan over the same boundary stream.
    *
    * Scale shape: pure row-local flatMap (the minhashSigsDf class) — no
    * shuffle, runs inside the scan stage. Output
    * (doc_id, chunk_ix, n_tokens, fp) with fp = md5 of the chunk text.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(" +").filter(_.nonEmpty)
        if (ws.isEmpty) Iterator.empty
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          def nibble0(gram: String): Boolean = {
            md.reset()
            val d = md.digest(gram.getBytes("UTF-8"))
            (d(0) & 0xf0) == 0 // first hex char == '0'
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, String)]
          var start = 0 // 0-based inclusive
          var ix = 0
          var i = 2 // 0-based index of the word ENDING a 3-gram
          while (i < ws.length) {
            if (nibble0(s"${ws(i - 2)} ${ws(i - 1)} ${ws(i)}")) {
              val chunk = ws.slice(start, i + 1).mkString(" ")
              out += ((id, ix, (i + 1 - start).toLong,
                Hashing.md5Hex(chunk)))
              ix += 1
              start = i + 1
            }
            i += 1
          }
          if (start < ws.length) {
            val chunk = ws.slice(start, ws.length).mkString(" ")
            out += ((id, ix, (ws.length - start).toLong,
              Hashing.md5Hex(chunk)))
          }
          out.iterator
        }
      }
      .toDF("doc_id", "chunk_ix", "n_tokens", "fp")
  }

  /** DuckDB mirror of [[cdcChunks]] over a (doc_id, text) table — the
    * boundary stream, segment assembly and chunk fingerprints re-derived
    * entirely from md5, which both engines compute identically.
    */
  def cdcChunksSql(table: String): String =
    s"""SELECT doc_id, CAST(k - 1 AS INT) AS chunk_ix,
       |  CAST(e - s + 1 AS BIGINT) AS n_tokens,
       |  md5(array_to_string(ws[s:e], ' ')) AS fp
       |FROM (
       |  SELECT doc_id, ws, k,
       |    CASE WHEN k = 1 THEN 1 ELSE cut[k - 1] + 1 END AS s,
       |    CASE WHEN k <= len(cut) THEN cut[k] ELSE len(ws) END AS e
       |  FROM (
       |    SELECT doc_id, ws,
       |      list_filter(list_transform(generate_series(3, len(ws)),
       |        i -> CASE WHEN substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 1, 1) = '0'
       |             THEN i ELSE NULL END), x -> x IS NOT NULL) AS cut
       |    FROM (
       |      SELECT doc_id,
       |        list_filter(string_split_regex(coalesce(text, ''), ' +'),
       |          x -> len(x) > 0) AS ws
       |      FROM $table)
       |    WHERE len(ws) > 0) c,
       |  LATERAL unnest(generate_series(1, len(cut) + 1)) t(k))
       |WHERE s <= e""".stripMargin

  // ---- domain-mix temperature rebalancing ---------------------------------

  /** Temperature-based domain rebalancing (downsample-toward-rarest): keep
    * a document of domain d with probability sqrt(n_min / n_d) — the
    * alpha = 0.5 unigram-mix temperature that flattens the domain
    * histogram halfway toward uniform, so dominant web domains stop
    * swamping the training mix while rare domains are kept whole.
    *
    * Deterministic and engine-exact BY CONSTRUCTION: sqrt is correctly
    * rounded in IEEE-754 (unlike pow — which is why alpha is fixed at
    * 0.5), the keep-rate is scaled by 2^20 (power-of-two scaling is
    * exact) and compared in integers against an md5-derived uniform. A
    * rerun, the DuckDB oracle, or a 1000-executor cluster keeps exactly
    * the same documents.
    *
    * Scale shape: one tiny groupBy(domain) histogram (thousands of rows at
    * any corpus size) broadcast back, then a narrow filter that runs
    * inside the scan stage. Output (doc_id, domain). NULL-domain rows are
    * DROPPED, and excluded from the histogram too — left in, a tiny NULL
    * group could become n_min and silently over-downsample every real
    * domain while its own rows vanish in the null-unsafe join anyway.
    */
  def domainMixSample(
      docs: DataFrame, idCol: String, domainCol: String): DataFrame = {
    val nonNull = docs.filter(col(domainCol).isNotNull)
    val counts = nonNull.groupBy(col(domainCol)).agg(count(lit(1)).as("nd"))
    val nmin = counts.agg(min(col("nd")).as("nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(domainCol),
        floor(sqrt(col("nmin").cast("double") / col("nd")) * 1048576d)
          .as("rate_x2p20"))
    nonNull.join(broadcast(rates), Seq(domainCol))
      .filter(md5Bucket(col(idCol), 1048576L) < col("rate_x2p20"))
      .select(col(idCol), col(domainCol))
  }

  /** DuckDB mirror of [[domainMixSample]] over a (doc_id, source) table
    * (same NULL-domain exclusion).
    */
  def domainMixSampleSql(table: String): String =
    s"""WITH c AS (SELECT source, count(*) AS nd FROM $table
       |           WHERE source IS NOT NULL GROUP BY source),
       |m AS (SELECT min(nd) AS nmin FROM c),
       |r AS (SELECT source,
       |        CAST(floor(sqrt(CAST(nmin AS DOUBLE) / nd) * 1048576) AS BIGINT)
       |          AS rate
       |      FROM c, m)
       |SELECT d.doc_id, d.source
       |FROM $table d JOIN r ON d.source = r.source
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 1048576 < r.rate""".stripMargin

  /** Epoch-aware up-sampling materialization — the consumer of a
    * temperature rebalance that actually EMITS the repeated training mix
    * (one output row per (document, epoch)). Rates go the other direction
    * from [[domainMixSample]]: a domain d is repeated
    * sqrt(n_max / n_d) times (alpha = 0.5 toward the LARGEST domain), so
    * rare domains gain whole epochs plus a fractional remainder epoch
    * sampled by id-hash, capped at `maxEpochs` — the data-constrained
    * repetition ceiling (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models": ~4 epochs of repeated data are
    * near-as-good as fresh; beyond that returns decay, so mixes cap it).
    *
    * Integer-exact by the same construction as [[domainMixSample]]:
    * IEEE-correctly-rounded sqrt, 2^20 power-of-two rate scaling,
    * md5-uniform compare — so
    * n_copies(doc) = rate div 2^20 + [hash(id) < rate mod 2^20]
    * is the same on any engine or cluster size. The whole-epoch part is
    * identical for every doc of the domain; only the remainder epoch is
    * per-doc sampled. The largest domain's rate is exactly 2^20 (sqrt(1)),
    * i.e. one epoch, no remainder.
    *
    * Scale shape: tiny domain histogram broadcast back (same as the mix),
    * then a NARROW per-row explode of `sequence(1, n_copies)` — n_copies
    * ≤ maxEpochs, so the blow-up is bounded and row-local; zero shuffle
    * beyond the histogram. Output (id, domain, epoch) with epoch in
    * [1, n_copies].
    */
  def domainEpochSample(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      maxEpochs: Int): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val scale = 1048576L
    val nonNull = docs.filter(col(domainCol).isNotNull)
    val counts = nonNull.groupBy(col(domainCol)).agg(count(lit(1)).as("nd"))
    val nmax = counts.agg(max(col("nd")).as("nmax"))
    val rates = counts.crossJoin(broadcast(nmax))
      .select(col(domainCol),
        least(
          floor(sqrt(col("nmax").cast("double") / col("nd")) * scale.toDouble)
            .cast("long"),
          lit(maxEpochs * scale)).as("rate_x2p20"))
    nonNull.join(broadcast(rates), Seq(domainCol))
      .withColumn("n_copies",
        expr(s"rate_x2p20 div $scale") +
          when(md5Bucket(col(idCol), scale) < col("rate_x2p20") % scale, 1L)
            .otherwise(0L))
      // rate >= 2^20 always (nd <= nmax), so n_copies >= 1; the guard only
      // protects the explode from sequence(1, 0)'s DESCENDING surprise if
      // a future caller feeds sub-1 rates
      .withColumn("epoch",
        explode(when(col("n_copies") >= 1L,
          sequence(lit(1L), col("n_copies")))
          .otherwise(lit(null).cast("array<bigint>"))))
      .select(col(idCol), col(domainCol), col("epoch"))
  }

  /** Domain column and epoch cap that the epoch-sampling query passes to
    * [[domainEpochSample]] and that [[domainEpochSampleSql]] mirrors.
    */
  val EpochDomain = "lang"
  val EpochCap = 4

  /** DuckDB mirror of [[domainEpochSample]] over a (doc_id, [[EpochDomain]])
    * table at [[EpochCap]] — same histogram, rate arithmetic and hash
    * remainder; the epoch fan-out is a LATERAL unnest of generate_series
    * (empty below 1, matching the guarded explode).
    */
  def domainEpochSampleSql(table: String): String = {
    val domainCol = EpochDomain
    s"""WITH c AS (SELECT $domainCol, count(*) AS nd FROM $table
       |           WHERE $domainCol IS NOT NULL GROUP BY $domainCol),
       |m AS (SELECT max(nd) AS nmax FROM c),
       |r AS (SELECT $domainCol,
       |        least(CAST(floor(sqrt(CAST(nmax AS DOUBLE) / nd) * 1048576)
       |                AS BIGINT), CAST(${EpochCap.toLong * 1048576L} AS BIGINT)) AS rate
       |      FROM c, m),
       |d AS (SELECT t.doc_id, t.$domainCol,
       |        r.rate // 1048576 +
       |        CASE WHEN CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)),
       |                          1, 8)) AS BIGINT) % 1048576
       |                  < r.rate % 1048576
       |             THEN 1 ELSE 0 END AS n
       |      FROM $table t JOIN r ON t.$domainCol = r.$domainCol)
       |SELECT doc_id, $domainCol, CAST(k AS BIGINT) AS epoch
       |FROM d, LATERAL unnest(generate_series(1, n)) u(k)""".stripMargin
  }

  /** md5 buckets of [[corpusShuffle]] and [[corpusShuffleSql]]. */
  val ShuffleBuckets = 8

  /** Deterministic training-order shuffle: a reproducible pseudo-random
    * global permutation of the corpus (the "shuffle once, read in order"
    * step before sequence packing / epoch serving) WITHOUT a global total
    * sort. Docs hash into [[ShuffleBuckets]] md5 buckets; each bucket is sorted
    * independently by (full md5, id) and positions are made global by
    * adding per-bucket offsets from a prefix sum over the tiny bucket
    * histogram. Readers consume buckets in order — the permutation is a
    * pure function of the ids, identical across engines, runs and cluster
    * sizes.
    *
    * Scale shape: this is hash-range terasort made explicit — B
    * independent O(N/B log N/B) sorts instead of one global
    * range-partitioned sort; size [[ShuffleBuckets]] so N/B rows fit a task
    * (B ≈ N / 10^6 at 100 TB). The per-bucket rank is a window whose
    * partition IS the bucket — each task buffers exactly one bucket,
    * which is what B controls. The offset prefix sum runs on B rows
    * (single-partition window on the histogram — B is cluster-scale
    * metadata, not data).
    */
  def corpusShuffle(docs: DataFrame, idCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"))
      .withColumn("bucket", md5Bucket(col(idCol), ShuffleBuckets.toLong))
      .withColumn("h", md5(col(idCol).cast("string")))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("h").asc, col("doc_id").asc)
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select(col("bucket"), col("off"))
    base
      .withColumn("pib", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), col("bucket"),
        (col("off") + col("pib")).as("pos"))
  }

  /** DuckDB mirror of [[corpusShuffle]] over a (doc_id) table. */
  def corpusShuffleSql(table: String): String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $ShuffleBuckets AS bucket,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM $table),
       |p AS (
       |  SELECT doc_id, bucket,
       |    CAST(row_number() OVER (PARTITION BY bucket
       |      ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pib
       |  FROM b),
       |c AS (SELECT bucket, count(*) AS bn FROM b GROUP BY bucket),
       |o AS (
       |  SELECT bucket,
       |    coalesce(sum(bn) OVER (ORDER BY bucket ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM c)
       |SELECT p.doc_id, p.bucket, CAST(o.off + p.pib AS BIGINT) AS pos
       |FROM p JOIN o ON p.bucket = o.bucket""".stripMargin

  // ---- keyword extraction (integer-exact tf/df ranking) -------------------

  /** Top-k characteristic terms per document, ranked by (tf DESC, df ASC,
    * term ASC) — term frequency first, corpus document-frequency as the
    * stopword demoter. The lexicographic integer ranking is chosen over
    * float tf·idf ON PURPOSE: ln() is not correctly-rounded and differs
    * across engines (the same pitfall that made the fluency score use
    * binary digit counts), while this ordering is integer-exact and
    * engine-stable, and demotes ubiquitous terms the same way idf does.
    *
    * Scale shape: one groupBy(doc,term) partial-aggregated tf, one
    * vocab-sized groupBy(term) df reduced FROM the tf table (not a second
    * corpus scan), a term-keyed join (broadcastable vocab at small corpora,
    * SMJ at web scale — both correct), then the rank filter that rewrites
    * to WindowGroupLimitExec (O(k) per doc, no full-partition buffering).
    */
  def keywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokenArray(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rk").cast("int").as("rk"))
  }

  /** Terms per document of the tq_keywords query and of [[keywordsSql]]. */
  val KeywordsPerDoc = 3

  /** DuckDB mirror of [[keywords]] over a (doc_id, text) table. */
  def keywordsSql(table: String): String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(${tokenArraySql("text")}) AS term
       |  FROM $table),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM terms GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
       |SELECT doc_id, term, tf, df, CAST(rk AS INT) AS rk FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
       |  FROM tf JOIN df USING (term))
       |WHERE rk <= $KeywordsPerDoc""".stripMargin

  // ---- deterministic corpus split (hash-assigned train/val/test) ----------

  /** Split fractions as (label, percent), cumulative over a 100-bucket
    * md5 hash of the id — the SINGLE SOURCE OF TRUTH for [[hashSplit]]
    * and [[hashSplitSql]]. Percents sum to 100 (every row gets exactly
    * one label).
    */
  val Splits: Seq[(String, Int)] =
    Seq("train" -> 80, "val" -> 10, "test" -> 10)

  /** Assign every document a deterministic split label by hashing its id
    * into 100 buckets (train/val/test partition of the corpus; the
    * id-hash makes the assignment stable across runs, engines, cluster
    * sizes and re-shuffles — a row's split NEVER depends on which
    * executor saw it, unlike randomSplit). Narrow: runs inside the scan
    * stage, zero shuffle at any corpus size.
    */
  def hashSplit(docs: DataFrame, idCol: String): DataFrame = {
    val b = md5Bucket(col(idCol), 100L)
    val cum = Splits.scanLeft(0)(_ + _._2).tail
    val labeled = Splits.zip(cum).dropRight(1)
      .foldRight(lit(Splits.last._1)) { case (((label, _), hi), acc) =>
        when(b < hi, lit(label)).otherwise(acc)
      }
    docs.withColumn("split", labeled)
  }

  /** DuckDB mirror of the [[hashSplit]] label expression over `idExpr`,
    * generated from the same split table.
    */
  def hashSplitSql(idExpr: String): String = {
    val bucket = s"CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 8))" +
      s" AS BIGINT) % 100"
    val cum = Splits.scanLeft(0)(_ + _._2).tail
    val whens = Splits.zip(cum).dropRight(1)
      .map { case ((label, _), hi) =>
        s"WHEN $bucket < $hi THEN ${sqlLit(label)}"
      }
      .mkString(" ")
    s"CASE $whens ELSE ${sqlLit(Splits.last._1)} END"
  }

  // ---- per-domain document cap (C4/RefinedWeb host quota) -----------------

  /** Documents [[domainCap]] keeps per domain. */
  val DomainCapDocs = 10

  /** Keep at most [[DomainCapDocs]] documents per domain, by a deterministic priority
    * (orderCol DESC, id ASC — "the k longest pages of every host", the
    * C4/RefinedWeb guard against a single boilerplate-heavy domain
    * swamming the mix; [[domainMixSample]] is its probabilistic sibling).
    *
    * Scale shape: written as the textbook rank-filter so Catalyst rewrites
    * it into WindowGroupLimitExec (Spark 3.5+ InferWindowGroupLimit):
    * each task keeps an O(k) heap per group BOTH map-side (partial, before
    * the shuffle) and reduce-side, so a 10⁸-page domain never buffers —
    * the naive WindowExec would sort and hold the whole domain partition.
    * The spec pins the operator's presence in the physical plan.
    * NULL ordering is pinned explicitly (engines differ on defaults);
    * NULL domains form one capped group like any other, matching the
    * mirror's PARTITION BY semantics.
    */
  def domainCap(
      docs: DataFrame,
      idCol: String,
      domainCol: String,
      orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col(orderCol).desc_nulls_last, col(idCol).asc_nulls_last)
    docs.select(col(domainCol), col(idCol), col(orderCol))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DomainCapDocs)
  }

  /** DuckDB mirror of [[domainCap]] over a (doc_id, source, n_chars)
    * table.
    */
  def domainCapSql(table: String): String =
    s"""SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk FROM (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS LAST) AS rk
       |  FROM $table)
       |WHERE rk <= $DomainCapDocs""".stripMargin

  // ---- unicode text normalization (ftfy-lite cleanup pass) ----------------

  /** Render a Scala string as a DuckDB VARCHAR expression: quoted runs for
    * printable ASCII, `chr(cp)` for everything else (control characters,
    * non-ASCII, quotes stay in-band via '' doubling). Lets planted fixture
    * strings containing NUL/BOM/combining marks embed safely in generated
    * oracle SQL — a raw literal would be corrupted by the first layer that
    * re-encodes or strips the file.
    */
  def sqlLit(s: String): String = {
    if (s.isEmpty) return "''"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new java.lang.StringBuilder
    def flush(): Unit = if (run.length > 0) {
      parts += "'" + run.toString.replace("'", "''") + "'"
      run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x20 && cp <= 0x7e) run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
      i += Character.charCount(cp)
    }
    flush()
    parts.mkString(" || ")
  }

  /** Ordered cleanup regex steps shared by [[normalizeText]] and
    * [[normalizeTextSql]] — patterns in the Java∩RE2 common subset,
    * replacements literal. Applied AFTER NFC composition:
    * line-ending unification, C0/DEL control strip (tab+newline survive —
    * tab is collapsed next, newline is structure), invisible-codepoint
    * strip (zero-widths / BOM / soft hyphen — the classic web-text
    * mojibake residue), horizontal-whitespace collapse, then
    * space-around-newline trim.
    */
  val normalizeSteps: Seq[(String, String)] = Seq(
    "\\r\\n?" -> "\n",
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]" -> "",
    "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]" -> "",
    "[ \\t]+" -> " ",
    " ?\\n ?" -> "\n")

  /** Unicode + whitespace text normalization (the ftfy-lite cleanup every
    * pretraining pipeline runs before fingerprint/dedup): NFC composition
    * via the codegen [[graft.functions.NfcNormalize]] expression, then the
    * shared [[normalizeSteps]], then a space/newline trim. Pure row-local
    * expression chain — runs inside the scan stage at any scale, zero
    * shuffle, whole-stage codegen throughout.
    */
  def normalizeText(text: Column): Column = {
    val composed =
      graft.functions.NfcNormalize.nfc_normalize(coalesce(text, lit("")))
    val cleaned = normalizeSteps.foldLeft(composed) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    btrim(cleaned, lit(" \n"))
  }

  /** DuckDB mirror of [[normalizeText]], generated from the SAME
    * [[normalizeSteps]] (DuckDB's builtin `nfc_normalize` and the JVM's
    * `java.text.Normalizer` implement the same Unicode NFC — probed
    * codepoint-for-codepoint on combining marks, jamo and singletons).
    */
  def normalizeTextSql(expr0: String): String = {
    val cleaned = normalizeSteps.foldLeft(s"nfc_normalize(coalesce($expr0, ''))") {
      case (e, (p, r)) =>
        s"regexp_replace($e, '${p.replace("'", "''")}', ${sqlLit(r)}, 'g')"
    }
    s"trim($cleaned, ' ' || chr(10))"
  }

  // ---- fingerprinting -----------------------------------------------------

  /** Whitespace class shared by [[fingerprint]] and [[fingerprintSql]] —
    * an EXPLICIT char class in the Java∩RE2 common subset. Java's `\s` is
    * `[ \t\n\x0B\f\r]` while RE2's (DuckDB) is `[\t\n\f\r ]`; a bare `\s+`
    * in both engines fingerprints text containing `\x0B` differently. The
    * explicit class makes both regexes the same automaton.
    */
  val fingerprintWs: String = "[ \\t\\n\\f\\r]+"

  /** Normalized content fingerprint: lowercase, whitespace-collapsed, md5 —
    * both engines produce identical bytes (md5 is md5; whitespace class is
    * the shared [[fingerprintWs]]).
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, fingerprintWs, " ")))

  /** DuckDB mirror of [[fingerprint]], generated from the SAME
    * [[fingerprintWs]] pattern (single source of truth — a drifted inline
    * mirror is exactly the cross-engine divergence class ADVICE r4 flagged).
    */
  def fingerprintSql(textExpr: String): String =
    // DuckDB plain string literals pass backslashes through untouched, so
    // the Scala-side regex string embeds verbatim
    s"md5(lower(regexp_replace($textExpr, '$fingerprintWs', ' ', 'g')))"

  // ---- HyperLogLog distinct-token sketch -----------------------------------

  /** Register count for [[hllRegisters]] (m = 2^8; rse ≈ 1.04/√m ≈ 6.5%). */
  val hllBuckets = 256

  /** Deterministic HyperLogLog register table over the corpus token stream
    * (Flajolet et al. 2007, "HyperLogLog: the analysis of a near-optimal
    * cardinality estimation algorithm") — the vocabulary-size / distinct-id
    * data-card stat that CANNOT be computed exactly at 100 TB without a
    * corpus-wide distinct shuffle. The sketch needs NO distinct: duplicates
    * cannot move a max, so the whole job is one narrow scan + one
    * 256-group partial-aggregated max — bytes shuffled are O(m), not O(corpus).
    *
    * Unlike `approx_count_distinct` (whose HLL++ register layout is
    * engine-private and version-dependent), every bit here is pinned:
    * bucket = the md5 top byte (first 2 hex digits), rho = leading-zero
    * count of the next 56 bits + 1 (via `length(bin(v))` — both engines render
    * minimal binary), so the full sketch STATE is oracle-checkable, and
    * merging two corpora's sketches is an element-wise max (the property
    * that makes it a distributed aggregate; spec-pinned).
    *
    * Output: exactly [[hllBuckets]] rows (bucket, r), absent buckets at 0.
    * The estimate (spec-checked against exact distinct within the HLL
    * error bound) is [[hllEstimate]] over these rows.
    */
  def hllRegisters(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    // ONE md5 per token, sliced (bucket = hex digits 1-2, v = digits 3-16)
    // — r6: via the fused codegen Md5Slices expression (one digest, direct
    // nibble walk) instead of md5's 32-char hex render + two
    // substring+conv string parses per token; value-identical by
    // Md5SlicesSpec
    val v = col("s").getItem(1)
    val rho = when(v === 0, lit(57L))
      .otherwise(lit(57L) - length(bin(v)).cast("long"))
    val regs = docs
      .select(explode(tokenArray(col(textCol))).as("w"))
      .select(graft.functions.Md5Slices.md5_slices(col("w"), Seq(2, 14))
        .as("s"))
      .select(col("s").getItem(0).as("bucket"), rho.as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("r"))
    spark.range(hllBuckets).toDF("bucket")
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("r"), lit(0L)).as("r"))
  }

  /** DuckDB mirror of [[hllRegisters]] (same md5 slices, same bin()-based
    * rho, same dense 0..m-1 bucket spine).
    */
  def hllRegistersSql(table: String, textExpr: String): String =
    s"""WITH tok AS (
       |  SELECT unnest(${tokenArraySql(textExpr)}) AS w
       |  FROM $table),
       |pr AS (SELECT
       |    CAST(('0x' || substr(md5(w), 1, 2)) AS BIGINT) AS bucket,
       |    CAST(('0x' || substr(md5(w), 3, 14)) AS BIGINT) AS v
       |  FROM tok),
       |rr AS (SELECT bucket,
       |    max(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END) AS r
       |  FROM pr GROUP BY bucket)
       |SELECT gs.bucket, CAST(coalesce(rr.r, 0) AS BIGINT) AS r
       |FROM (SELECT unnest(generate_series(0, ${hllBuckets - 1})) AS bucket) gs
       |LEFT JOIN rr USING (bucket)""".stripMargin

  /** Driver-side HLL estimate from a collected register table, with the
    * standard small-range (linear counting) correction. Plain doubles are
    * fine here: this runs on m values on the driver, determinism across
    * engines is carried by the REGISTERS (the oracle-checked state), and
    * the estimate is only ever compared against an error bound. The
    * estimator over the rows of [[hllRegistersSql]].
    */
  def hllEstimate(registers: Map[Long, Long]): Double = {
    val m = hllBuckets.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val z = (0 until hllBuckets)
      .map(b => math.pow(2.0, -registers.getOrElse(b.toLong, 0L).toDouble))
      .sum
    val raw = alpha * m * m / z
    val zeros = (0 until hllBuckets)
      .count(b => registers.getOrElse(b.toLong, 0L) == 0L)
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else raw
  }

  /** Count-Min sketch depth (d independent hash rows) and width (counters
    * per row). ε = e/w ≈ 0.53% of stream mass, δ = e^-d ≈ 1.8%.
    */
  val cmsDepth = 4
  val cmsWidth = 512

  /** Deterministic Count-Min sketch of the corpus token stream (Cormode &
    * Muthukrishnan 2005, "An improved data stream summary: the count-min
    * sketch and its applications") — point-frequency / heavy-hitter
    * estimates ("how often does this phrase occur corpus-wide?") in
    * O(d·w) space, where the exact answer is a corpus-sized groupBy.
    *
    * Same stance as [[hllRegisters]]: the full counter STATE is pinned
    * cross-engine, the estimate ([[cmsEstimate]]) is spec-checked against
    * exact counts. The d row-hashes are the d non-overlapping 32-bit
    * SLICES of ONE md5 digest per token (pairwise-independence is per
    * slice, which is all CMS requires) — hashing is the dominant cost of
    * a sketch pass at corpus scale, and d digests per token would
    * quadruple it for nothing. The job is one narrow scan with a fixed
    * ×[[cmsDepth]] row blowup and ONE partial-aggregated groupBy onto at
    * most d·w = 2048 keys — shuffle bytes are O(d·w),
    * corpus-independent; sketches of two corpora merge by element-wise
    * ADDITION (spec-pinned), which is what makes it a distributed
    * aggregate.
    *
    * Output: exactly d·w rows (r, c, cnt), absent cells at 0.
    */
  def cmsCounters(docs: DataFrame, textCol: String): DataFrame = {
    require(cmsDepth * 8 <= 32, "md5 has 32 hex digits to slice")
    val spark = docs.sparkSession
    // r6: ONE fused Md5Slices call per token (one digest, four 32-bit
    // slices walked directly off the digest bytes) + posexplode, replacing
    // the hex render + ×depth row blowup carrying the 32-char string +
    // per-row substring/conv parse; value-identical by Md5SlicesSpec
    val cells = docs
      .select(explode(tokenArray(col(textCol))).as("w"))
      .select(posexplode(graft.functions.Md5Slices
        .md5_slices(col("w"), Seq.fill(cmsDepth)(8))).as(Seq("r", "v")))
      .select(col("r"), (col("v") % cmsWidth).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
    spark.range(cmsDepth.toLong * cmsWidth)
      .select(expr(s"id div $cmsWidth").as("r"),
        (col("id") % cmsWidth).as("c"))
      .join(cells.select(col("r").cast("long").as("r"), col("c"),
        col("cnt")), Seq("r", "c"), "left")
      .select(col("r"), col("c"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** DuckDB mirror of [[cmsCounters]] (same one-digest-four-slices
    * layout, same dense (r, c) spine).
    */
  def cmsCountersSql(table: String, textExpr: String): String =
    s"""WITH tok AS (
       |  SELECT md5(unnest(${tokenArraySql(textExpr)})) AS h
       |  FROM $table),
       |cells AS (SELECT r,
       |    CAST(('0x' || substr(h, 1 + 8 * r, 8)) AS BIGINT)
       |      % $cmsWidth AS c
       |  FROM tok, (SELECT unnest(generate_series(0, ${cmsDepth - 1})) AS r)),
       |agg AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
       |spine AS (SELECT r, c
       |  FROM (SELECT unnest(generate_series(0, ${cmsDepth - 1})) AS r),
       |       (SELECT unnest(generate_series(0, ${cmsWidth - 1})) AS c))
       |SELECT CAST(spine.r AS BIGINT) AS r, CAST(spine.c AS BIGINT) AS c,
       |  CAST(coalesce(agg.cnt, 0) AS BIGINT) AS cnt
       |FROM spine LEFT JOIN agg ON spine.r = agg.r AND spine.c = agg.c""".stripMargin

  /** The column a token hashes to in row `r` — the same digest slice the
    * distributed sketch uses, for driver-side point queries.
    */
  def cmsColumn(r: Int, token: String): Long =
    java.lang.Long.parseLong(
      graft.util.Hashing.md5Hex(token).substring(8 * r, 8 * r + 8),
      16) % cmsWidth

  /** Point-frequency estimate from a collected sketch: min over rows of
    * the addressed counter — an OVERestimate of the true count, never
    * under (the CMS guarantee; spec-pinned both ways). The estimator over
    * the rows of [[cmsCountersSql]].
    */
  def cmsEstimate(counters: Map[(Long, Long), Long], token: String): Long =
    (0 until cmsDepth)
      .map(r => counters.getOrElse((r.toLong, cmsColumn(r, token)), 0L))
      .min

  /** 64-bit polynomial rolling hash of the normalized text (the non-SQL
    * fingerprint; used for cheap near-line dedup joins).
    */
  def rollingHash(text: String): Long = {
    if (text == null) return 0L
    var h = 1125899906842597L
    var i = 0
    var prevSpace = false
    while (i < text.length) {
      var c = text.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      val isSpace = c == ' ' || c == '\t' || c == '\n' || c == '\r'
      if (!(isSpace && prevSpace)) {
        h = 31 * h + (if (isSpace) ' ' else c)
      }
      prevSpace = isSpace
      i += 1
    }
    h
  }
}
