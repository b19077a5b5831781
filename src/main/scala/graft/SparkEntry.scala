package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Driver contract — oracle-checked operator surface (SURVEY.md §2) plus the
  * KG pipeline itself as rows-only entries.
  *
  * Numeric outputs avoid float accumulation entirely (money → cents as
  * BIGINT) so Spark and DuckDB hash identically regardless of summation
  * order.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  /** Demo domain blocklist shared by the tq_url_blocklist query and its
    * generated-VALUES oracle (single source of truth, like refinedDict).
    */
  private val urlBlocklist = Seq("ads.example.com", "spam-site.biz")

  /** Planted duplicate line for the tq_filter_pipeline repetition branch
    * (single source of truth for the Spark query and its SQL mirror).
    */
  private val plantedDupLine = "this line repeats"

  /** Planted host-graph links shared by web_host_rank and web_host_hits:
    * a src->src ring (multi-hop flow that makes 3 power iterations
    * meaningful), a hub every third doc, and a fan of site<k> leaves.
    * Spark and SQL forms generated side by side (single source of truth).
    */
  private def plantedLinkAug(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      coalesce(col("text"), lit("")),
      lit(" link https://src"), ((col("doc_id") + 1) % 20).cast("string"),
      lit("/page"),
      when(col("doc_id") % 3 === 0,
        lit(" see https://hub.example.com/x")).otherwise(lit("")),
      lit(" via https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.net/p")))

  private val plantedLinkAugSql: String =
    """SELECT doc_id, source,
      |  coalesce(text, '')
      |  || ' link https://src' || CAST((doc_id + 1) % 20 AS VARCHAR)
      |  || '/page'
      |  || CASE WHEN doc_id % 3 = 0
      |       THEN ' see https://hub.example.com/x' ELSE '' END
      |  || ' via https://site' || CAST(doc_id % 7 AS VARCHAR)
      |  || '.example.net/p' AS text
      |FROM documents""".stripMargin
  private val plantedDupCount = 6

  /** Planted multi-component host graph for web_host_components (single
    * source of truth for the Spark query and the generated oracle): hosts
    * h0..h39 with one edge h{i} → h{(i+5)%40} — the step-5 ring splits
    * mod-40 space into FIVE disjoint 8-host cycles (residue classes
    * mod 5) — plus leaf hosts keyed by the same residue so each component
    * also has degree-1 members. Five components by construction, so the
    * CC cross-check is non-trivial (the rank/hits planted graph is one
    * giant weak component).
    */
  private def plantedComponentAug(docs: DataFrame): DataFrame =
    docs.select(
      concat(lit("h"), (col("doc_id") % 40).cast("string"),
        lit(".example.org")).as("host"),
      concat(
        lit(" https://h"), ((col("doc_id") + 5) % 40).cast("string"),
        lit(".example.org/p https://leaf"),
        (col("doc_id") % 5).cast("string"), lit("-"),
        (col("doc_id") % 2).cast("string"),
        lit(".example.net/x")).as("text"))

  private val plantedComponentAugSql: String =
    """SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.org' AS host,
      |  ' https://h' || CAST((doc_id + 5) % 40 AS VARCHAR)
      |  || '.example.org/p https://leaf' || CAST(doc_id % 5 AS VARCHAR)
      |  || '-' || CAST(doc_id % 2 AS VARCHAR) || '.example.net/x' AS text
      |FROM documents""".stripMargin

  /** Shared recursive-CTE prefix of the cluster-dedup oracles: the
    * rare-shingle edge derivation (the Dedup.sharedRareShingleEdges
    * semantics: 3-shingles over ' +'-split words, df=2 inverted index,
    * ≥2 shared shingles) + transitive-closure components, ending at
    * comp(v, cluster) with cluster = min member id. dedup_cluster_pick and
    * dedup_cluster_best compose their keep policies on top.
    */
  private val clusterCompCtes: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
      |      WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
      |      ELSE list_transform(generate_series(1, len(words)-2),
      |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, ' +'), w -> len(w) > 0) AS words
      |        FROM documents)),
      |expl AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |rare AS (SELECT g, min(doc_id) AS a, max(doc_id) AS b
      |         FROM expl GROUP BY g HAVING count(*) = 2 AND min(doc_id) != max(doc_id)),
      |edges AS (SELECT a AS src, b AS dst FROM rare GROUP BY a, b HAVING count(*) >= 2),
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |vertices AS (SELECT DISTINCT doc_id AS v FROM documents),
      |reach(v, u) AS (
      |  SELECT v, v FROM vertices
      |  UNION
      |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src
      |),
      |comp AS (SELECT v, min(u) AS cluster FROM reach GROUP BY v)""".stripMargin

  /** Planted messy-URL variants for tq_url_canon (single source of truth
    * for the Spark query and the generated oracle): A and D canonicalize
    * to the same url (case/www/tracking/fragment/slash), as do B and C
    * (tracking params stripped in both positions).
    */
  private val plantedUrls =
    " read https://WWW.Example.com/Article/?utm_source=feed#top" +
      " or http://news.site.org/story?id=7&utm_campaign=x&fbclid=zz" +
      " or http://news.site.org/story?id=7" +
      " or https://example.com/Article"

  /** Planted cross-document boilerplate for the dedup_substring oracle
    * (15 words — with k=8 its interior windows duplicate across every
    * planted doc, so all but the first occurrence get removed).
    */
  private val plantedBoilerplate = "subscribe to our newsletter for the " +
    "latest updates and follow us on social media today"

  /** Planted messy-unicode suffix for tq_normalize_text (single source of
    * truth; the oracle side is rendered through TextOps.sqlLit so control
    * characters survive as chr() calls). Exercises every normalizeSteps
    * rule plus the NFC cases: combining acute (e+U+0301), zero-widths/BOM,
    * CRLF and bare CR, C0 controls + DEL, run-of-space/tab collapse, ohm
    * singleton (U+2126→U+03A9), decomposed jamo (→ precomposed hangul),
    * soft hyphen, and a ligature NFC must PRESERVE.
    */
  // built from \\u escapes ONLY: raw invisible/control characters in a
  // source literal are corrupted by the first tool that re-encodes the file
  private val messyText =
    " caf" + "e\u0301" +                              // combining acute
      " \u200bzero\u200dwidth\ufeff " +               // zero-widths + BOM
      "CR\r\nLF\rbare " +                             // CRLF + bare CR
      // NUL deliberately absent: DuckDB VARCHARs cannot carry \x00, so a
      // NUL in the planted fixture truncates the ORACLE side only
      "bell\u0007soh\u0001del\u007f " +               // C0 controls + DEL
      "two  spaces\tand\ttabs " +                     // collapse
      "\u2126 ohm \u1112\u1161\u11ab hangul \u00adsoft " + // singleton/jamo/soft hyphen
      "\ufb01 ligature kept"                          // NFC preserves

  /** Flagship: KG triples from the synthetic corpus (driver smoke-checks
    * rows > 0 on sf0.001).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.Pipeline.triples(spark, 20, 4).toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A1/A4-family aggregation (classic pricing summary) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"))
    }),
    // ---- J1: large-large equi-join (sort-merge) + agg ----
    "j1_join_lineage" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    }),
    // ---- J2/J3: broadcast-hash join through two small dims ----
    "j2_broadcast_dim" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(cents(col("c_acctbal"))).as("acctbal_cents"))
    }),
    // ---- A1: per-group latest value (group + argmax by recency) ----
    // r6: struct-max partial aggregate instead of the row_number window —
    // the window sorted and buffered every (possibly unbounded) customer
    // group per task; max(struct(date, orderkey, price)) is algebraic, so
    // hot customers combine map-side before the shuffle (guide §2.3
    // "aggregate before you shuffle"; the clusterCanonicalBest argmax
    // shape). Tie order preserved: max struct = max date, then max
    // orderkey (o_orderkey is unique per customer, so the carried price is
    // never compared). Result identical to rn=1.
    "a1_group_latest" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))).as("b"))
        .select(col("o_custkey"),
          cents(col("b.o_totalprice")).as("latest_price_cents"))
    }),
    // ---- A3: max-prob dedup (argmax per key with tie-break) ----
    // r6: same window → struct-max rewrite (see a1). Ordering was
    // (price DESC, linenumber ASC): max(struct(price, -linenumber)) picks
    // max price, tie → max(-linenumber) = MIN linenumber — identical row.
    "a3_argmax_dedup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(struct(col("l_extendedprice"),
          (-col("l_linenumber")).as("negLine"))).as("b"))
        .select(col("l_orderkey"),
          cents(col("b.l_extendedprice")).as("max_price_cents"),
          (-col("b.negLine")).as("l_linenumber"))
    }),
    // ---- A4: frequency count ----
    "a4_freq_count" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),
    // ---- A5: weight normalization (per-group share, integer basis points) --
    "a5_weight_norm" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
        .withColumn("bal_cents", cents(col("s_acctbal")))
      val w = Window.partitionBy(col("s_nationkey"))
      sup.withColumn("nation_total", sum(col("bal_cents")).over(w))
        .select(col("s_suppkey"), col("s_nationkey"),
          expr("(bal_cents * 10000) div nation_total").as("weight_bp"))
    }),
    // ---- A12: head-id assignment (dense rank over group keys) ----
    "a12_head_id" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .withColumn("head_id",
          dense_rank().over(Window.orderBy(col("c_mktsegment"))))
    }),
    // ---- W1: global reindex ----
    "w1_reindex" -> ((s, dir) => {
      t(s, dir, "nation")
        .select(col("n_name"),
          row_number().over(Window.orderBy(col("n_name"))).as("rn"))
    }),
    // ---- U1/A2: union + distinct ----
    "u1_union_dedup" -> ((s, dir) => {
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .union(t(s, dir, "customer")
          .select(col("c_nationkey").as("nationkey")))
        .distinct()
    }),
    "a2_dedupe" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderstatus"))
        .dropDuplicates()
    }),
    // ---- U2: except / set difference (users who err but never purchase) ----
    "u2_except" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "error" && col("value") > 150)
        .select(col("user_id")).distinct()
        .except(ev.filter(col("event_type") === "purchase" &&
          col("value") > 150).select(col("user_id")).distinct())
    }),
    // ---- as-of join: each click to the user's latest prior-or-equal
    // purchase (one key-partitioned carry-forward window — the equi-plan
    // for a join Spark can only otherwise run as a nested loop) ----
    "ev_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Temporal.asOf(
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts"),
            col("event_id").as("lid")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("k"), col("ts"),
            col("event_id").as("rid"), col("value").as("pay")))
    }),
    // ---- bounded range-count: clicks in the day before each purchase
    // (bucketed bin equi-join, fixed ×2 probe blowup — the interval-join
    // shape; the oracle is the direct inequality formulation) ----
    "ev_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Temporal.rangeCount(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("k"), col("ts"),
            col("event_id").as("lid")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts")),
        86400000000L)
    }),
    // ---- J-family: anti-join (parts never ordered) ----
    "j_anti_no_orders" -> ((s, dir) => {
      t(s, dir, "part")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_unsold"))
    }),
    // ---- J-family: semi-join (EXISTS) ----
    "j_semi_sold_high" -> ((s, dir) => {
      t(s, dir, "part")
        .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_sold_high"))
    }),
    // ---- window frame: running sum (rowsBetween) ----
    "w_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("long")).over(w).as("running_qty"))
    }),
    // ---- rollup with subtotals (nulls coalesced for cross-engine hash) ----
    "a_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))
    }),
    // ---- A13: mode (deterministic tie-break, not engine-dependent mode()) --
    // r6: second-level struct-MIN aggregate instead of the per-bucket
    // window (see a1): min(struct(-c, event_type)) = max count, tie → MIN
    // event_type — the window's (c DESC, event_type ASC) order exactly;
    // (bucket, event_type) is unique so the carried count never compares.
    "a13_mode" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("bucket", col("user_id") % 100)
        .groupBy(col("bucket"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("bucket"))
        .agg(min(struct((-col("c")).as("negC"), col("event_type"),
          col("c"))).as("b"))
        .select(col("bucket"), col("b.event_type").as("mode_type"),
          col("b.c").as("c"))
    }),
    // ---- W2: offset ids ----
    "w2_offset_ids" -> ((s, dir) => {
      t(s, dir, "region").select(col("r_name"),
        (row_number().over(Window.orderBy(col("r_name"))) + lit(700000))
          .as("souc_id"))
    }),
    // ---- P4: sentence split + length guard (explode/split) ----
    "p4_sentence_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), "\\. ")).as("sentence"))
        .filter(length(col("sentence")) > 3)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sentences"))
    }),
    // ---- P13: null/length guards ----
    "p13_filter_guards" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("n_chars") > 200 && col("text").isNotNull)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    }),
    // ---- training-data ops: exact dedup by content hash ----
    "dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"))
    }),
    // ---- bloom-prefiltered exact membership: new crawl vs stored corpus.
    // Corpus = doc_id%3!=0; new crawl = doc_id%3==0 plus re-crawls of
    // corpus docs (doc_id%21==1, content identical, shifted ids) that the
    // gate must drop. Oracle is the plain anti-join — the bloom has no
    // false negatives, so the result is exactly SQL-expressible ----
    "dedup_bloom_membership" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      val recrawl = corpus.filter(col("doc_id") % 21 === 1)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
      val newCrawl = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(recrawl)
      graft.textops.Dedup.bloomNewDocs(newCrawl, "doc_id", "text", corpus)
    }),
    // ---- ExactSubstr dedup (Lee et al. 2022): remove duplicated k-word
    // spans, keep-first; boilerplate planted on doc_id%6 so removal is
    // exercised corpus-wide and re-derived exactly in DuckDB
    "dedup_substring" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 6 === 0, lit(" " + plantedBoilerplate))
            .otherwise(lit(""))).as("text"))
      graft.textops.Dedup.exactSubstringDedup(aug, "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_removed"),
          md5(col("kept_text")).as("kept_md5"))
    }),
    // ---- training-data ops: token counting ----
    "tq_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          size(filter(split(col("text"), " "),
            x => length(x) > 3)).as("tokens"))
        .groupBy(col("source"))
        .agg(sum(col("tokens")).as("total_tokens"),
          count(lit(1)).as("n_docs"))
    }),
    // ---- training-data ops: quality features (engine-exact arithmetic) ----
    "tq_quality_cols" -> ((s, dir) => {
      t(s, dir, "documents").selectExpr(
        "doc_id",
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words",
        """CAST(length(replace(text, ' ', '')) * 100 AS BIGINT) div
          | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
          | AS mean_word_len_x100""".stripMargin)
    }),
    // ---- training-data ops: BPE-ish token counting ----
    "tq_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          graft.textops.TextOps.bpeTokenCount(col("text")).as("toks"))
        .groupBy(col("source"))
        .agg(sum(col("toks")).as("bpe_tokens"), count(lit(1)).as("n_docs"))
    }),
    // ---- training-data ops: normalized content fingerprint ----
    "tq_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(graft.textops.TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"))
    }),
    // ---- unicode/whitespace normalization (ftfy-lite) over a corpus with
    // a planted messy-unicode suffix; NFC runs through the codegen
    // NfcNormalize expression, the oracle through DuckDB's builtin ----
    "tq_normalize_text" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")),
            when(col("doc_id") % 4 === 1, lit(messyText))
              .otherwise(lit(""))).as("text"))
      val norm = graft.textops.TextOps.normalizeText(col("text"))
      aug.select(col("doc_id"), norm.as("text_norm"),
        (norm =!= col("text")).cast("int").as("changed"),
        call_function("octet_length", col("text")).cast("long")
          .as("n_bytes_raw"),
        call_function("octet_length", norm).cast("long").as("n_bytes_norm"))
    }),
    // ---- similarity search: exact brute-force cosine top-k ----
    "sim_topk_bruteforce" -> ((s, dir) => {
      graft.textops.Similarity.bruteForceTopK(
        t(s, dir, "embeddings"), (0L until 20L).toSeq, 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    // ---- probabilistic-structure queries, oracled via the {OUT}-dump
    // pattern: the only non-SQL piece (hyperplane signs / splitmix
    // permutations / k-means cells) is dumped as an input table and DuckDB
    // re-derives candidate generation, capping, verification and ranking
    // from it in plain SQL ----
    "sim_topk_lsh" -> ((s, dir) => {
      graft.textops.Similarity.lshTopK(
        t(s, dir, "embeddings"), (0L until 20L).toSeq, 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      graft.textops.Similarity.ivfTopK(
        t(s, dir, "embeddings"), (0L until 20L).toSeq, 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    "dedup_minhash_lsh" -> ((s, dir) => {
      // n_eq = est_sim·128 is EXACT (den is a power of two); jaccard is
      // floor-scaled to 1e6 — one IEEE division + multiply, identical in
      // both engines
      graft.textops.Dedup.minhashLsh(
        withNearDupes(s, t(s, dir, "documents")), "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          (col("est_sim") * 128).cast("int").as("n_eq"),
          floor(col("jaccard") * 1e6).cast("long").as("jac_x1e6"))
    }),
    "dedup_simhash" -> ((s, dir) => {
      graft.textops.Dedup.simhashDedup(
        withNearDupes(s, t(s, dir, "documents")), "doc_id", "text", 6)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long")
          .as("hamming"))
    }),
    // input dumps feeding the oracles above (rows-only by design).
    // The 128-long signature is posexploded to SCALAR rows (id, pos, val):
    // the driver's pandas-based checker cannot hash ndarray cells (the
    // mm_features digest lesson), and the consumer oracle rebuilds the
    // array with one list(val ORDER BY pos) GROUP BY id CTE.
    // r6: sig-only signature pass (minhashSigOnlyDf) — the dumped layout
    // never carried shingles, but the 3-column form encoded the shingle
    // array through the typed encoder just to drop it here
    "dedup_minhash_sigs" -> ((s, dir) => {
      graft.textops.Dedup.minhashSigOnlyDf(
        withNearDupes(s, t(s, dir, "documents")), "doc_id", "text")
        .select(col("id"), posexplode(col("sig")).as(Seq("pos", "val")))
    }),
    // exact-copy signature invariance: identical text ⇒ identical 128-long
    // MinHash signature (pins signature determinism with a trivially-SQL
    // oracle — every planted +10M twin must agree with its original).
    // ONE signature pass: original and twin meet under the same base id
    // (id % 10M) and equality is a same-engine digest compare — a two-
    // branch self-join would recompute the 128-hash map per branch.
    "dedup_minhash_sig_parity" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.withColumn("doc_id", col("doc_id") + lit(10000000L))
      graft.textops.Dedup.minhashSigOnlyDf(
        docs.unionByName(twins), "doc_id", "text")
        .select((col("id") % 10000000L).as("id"),
          xxhash64(col("sig").cast("string")).as("h"))
        .groupBy(col("id"))
        .agg((countDistinct(col("h")) === 1 && count(lit(1)) === 2)
          .as("sigs_equal"))
    }),
    "dedup_simhash_sigs" -> ((s, dir) => {
      graft.textops.Dedup.simhashSigsDf(
        withNearDupes(s, t(s, dir, "documents")), "doc_id", "text")
    }),
    "sim_lsh_buckets" -> ((s, dir) => {
      graft.textops.Similarity.lshBucketsDf(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("bucket"))
    }),
    "sim_ivf_cells" -> ((s, dir) => {
      graft.textops.Similarity.ivfAssignments(
        t(s, dir, "embeddings"), (0L until 20L).toSeq)._1
        .select(col("vec_id"), col("cell"))
    }),
    "sim_ivf_probes" -> ((s, dir) => {
      graft.textops.Similarity.ivfAssignments(
        t(s, dir, "embeddings"), (0L until 20L).toSeq)._2
    }),
    // sim column intentionally dropped: membership is the oracle-checkable
    // contract (planted twins at cos≈1 vs organic max 0.51 at sf0.01 — far
    // from the 0.95 threshold on both sides)
    "dedup_embedding_cos" -> ((s, dir) => {
      graft.textops.Similarity.embeddingNearDup(
        withPerturbedEmbeddings(s, t(s, dir, "embeddings")))
        .select(col("id_a"), col("id_b"))
    }),
    // ---- SemDeDup semantic dedup (embedding-level, beside MinHash) ----
    // cells dump = the one non-SQL piece (k-means assignment); the green
    // consumer re-derives capping + cosine verification + the recursive-CTE
    // component pick entirely in SQL over it
    "dedup_semantic_cells" -> ((s, dir) => {
      graft.textops.Similarity.semanticCells(
        withPerturbedEmbeddings(s, t(s, dir, "embeddings")))
        .select(col("vec_id"), col("cell"))
    }),
    "dedup_semantic" -> ((s, dir) => {
      graft.textops.Similarity.semanticDedup(
        withPerturbedEmbeddings(s, t(s, dir, "embeddings")))
    }),
    // planted-twin recovery contracts — each deterministic by construction,
    // so the oracle is the exact planted list over the base table:
    //  - minhash: docs ≥250 chars ⇒ ≥40 shingles ⇒ pair-band match prob
    //    1-(1-j^8)^16 with j=(W-2)/(W-1) ⇒ miss prob < 1e-12
    //  - simhash: exact copies ⇒ hamming 0 ⇒ same 16-bit chunks in all bands
    //  - LSH ANN: positive scaling preserves every hyperplane sign ⇒ twin
    //    shares all buckets; cos(v, 1.0001v)≈1 ⇒ rank-1
    "dedup_minhash_planted" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("n_chars") >= 250)
      graft.textops.Dedup.minhashLsh(
        withNearDupes(s, docs), "doc_id", "text")
        .filter(col("id_b") === col("id_a") + 10000000L)
        .select(col("id_a"), col("id_b"))
    }),
    // incremental crawl-vs-corpus near-dup: new docs are planted twins of
    // the stored corpus; the planted list IS the oracle (same ≥40-shingle
    // band-match argument as dedup_minhash_planted: miss prob < 1e-12).
    // The argument additionally relies on the sf corpora being duplicate-
    // free by construction (TESTDATA.md): a >MaxBucket cluster of
    // IDENTICAL corpus docs containing a planted partner mid-range would
    // cut that partner from every band's capped bucket at once — the
    // documented cap tradeoff, not an engine defect
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpusSigs = graft.textops.Dedup.minhashSigsDf(
        docs, "doc_id", "text")
      val newDocs = docs
        .filter(col("doc_id") % 10 === 0 && col("n_chars") >= 250)
        .withColumn("doc_id", col("doc_id") + lit(10000000L))
        .withColumn("text", concat(col("text"), lit(" nearduplicate")))
      graft.textops.Dedup.incrementalMinhash(
        newDocs, "doc_id", "text", corpusSigs)
        .filter(col("corpus_id") === col("new_id") - 10000000L)
        .select(col("new_id"), col("corpus_id"))
    }),
    "dedup_simhash_planted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val copies = docs.withColumn("doc_id", col("doc_id") + lit(10000000L))
      graft.textops.Dedup.simhashDedup(
        docs.unionByName(copies), "doc_id", "text", 6)
        .filter(col("id_b") === col("id_a") + 10000000L)
        .select(col("id_a"), col("id_b"))
    }),
    "sim_lsh_planted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.textops.Similarity.lshTopK(
        withPlantedTwins(s, emb), (0L until 20L).toSeq, 1)
        .select(col("query_id"), col("neighbor_id"))
    }),
    // IVF can lose a twin across a cell boundary (IvfProbes < Nlist), so the
    // contract is a checked recall BOUND, not the exact list
    "sim_ivf_planted" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val found = graft.textops.Similarity.ivfTopK(
        withPlantedTwins(s, emb), (0L until 20L).toSeq, 1)
        .filter(col("neighbor_id") === col("query_id") + 10000000L)
        .count()
      Seq((20L, found >= 17L)).toDF("n_queries", "recall_ok")
    }),
    // column-expression language ID (codegen'd; SQL-mirrored for the oracle)
    "tq_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.textops.TextOps.langIdCol(col("text")).as("pred_lang"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }),
    // integer-scaled composite quality score (engine-exact, oracle-checked)
    "tq_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          graft.textops.TextOps.qualityScoreX1e6(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(sum(col("q")).as("q_sum_x1e6"), count(lit(1)).as("n_docs"))
    }),
    // ---- cluster dedup: rare-feature graph → CC → canonical pick ----
    // (the KG connected-components engine applied to corpus dedup; the
    // oracle recomputes components via a recursive-CTE transitive closure —
    // a full cross-engine check of the CC implementation)
    "dedup_cluster_pick" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.textops.Dedup.clusterCanonical(
        docs.select(col("doc_id")),
        graft.textops.Dedup.sharedRareShingleEdges(docs, "doc_id", "text"))
    }),
    // ---- deterministic stratified sampling (downsample majority lang) ----
    // ---- PII redaction over a corpus with planted emails/IPs/phones ----
    // (placeholder-count columns use the replace-length trick so both
    // engines produce the same BIGINTs; fp pins the exact redacted text)
    "tq_redact_pii" -> ((s, dir) => {
      // r6: single-scan augmentation — the filter-each-branch + union form
      // scanned the base table twice; a row-local when() plants the same
      // values in one pass (guide §2.4: one scan, no union)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" reach user"),
            col("doc_id").cast("string"),
            lit("@mail.example.org at 192.168.1.77 or +1 555-123-4567")))
          .otherwise(col("text")).as("text"))
      val red = graft.textops.TextOps.redactPii(col("text"))
      def cnt(tok: String): org.apache.spark.sql.Column =
        ((length(red) - length(replace(red, lit(tok), lit("")))) /
          lit(tok.length)).cast("long")
      aug.select(col("doc_id"), md5(red).as("fp"),
        cnt("<EMAIL>").as("n_email"), cnt("<IP>").as("n_ip"),
        cnt("<PHONE>").as("n_phone"))
    }),
    // ---- URL/domain blocklist filter over a corpus with planted links ----
    // (blocklist is a broadcast-joined DataFrame, not a literal — the
    // production shape for million-domain RefinedWeb-style lists)
    "tq_url_blocklist" -> ((s, dir) => {
      import s.implicits._
      // r6: single-scan augmentation (see tq_redact_pii)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" see https://ads.example.com/x?id="),
            col("doc_id").cast("string"),
            lit(" and https://en.wikipedia.org/wiki/Page"),
            lit(" plus https://ads.example.com/y")))
          .otherwise(col("text")).as("text"))
      graft.textops.TextOps.urlBlocklistVerdict(
        aug, "doc_id", "text", urlBlocklist.toDF("domain"))
    }),
    // ---- URL canonicalization (normalize-before-URL-dedup) ----
    "tq_url_canon" -> ((s, dir) => {
      // r6: single-scan augmentation (see tq_redact_pii)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(plantedUrls)))
          .otherwise(col("text")).as("text"))
      aug
        .select(explode(call_function("regexp_extract_all",
          coalesce(col("text"), lit("")),
          lit(graft.textops.TextOps.urlFullPattern), lit(0))).as("raw"))
        .select(graft.textops.TextOps.urlCanonicalize(col("raw"))
          .as("canon_url"), col("raw"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("raw")).as("n_raw_forms"))
    }),
    // ---- composed C4/Gopher-style filter pipeline (one scan, all signals) --
    // links planted on doc_id%7, duplicate lines on doc_id%11, so every
    // verdict branch (lang/word_count/quality/repetition/blocklist/keep)
    // is exercised and oracle-checked
    "tq_filter_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" visit https://spam-site.biz/offer now")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(("\n" + plantedDupLine) * plantedDupCount)).otherwise(lit(""))))
      graft.textops.TextOps.qualityFilterPipeline(
        aug, "doc_id", "text", urlBlocklist)
    }),
    // ---- CCNet-style boilerplate line removal (planted footers) ----
    "tq_boilerplate_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\nall rights reserved example corp")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit("\ncookie policy applies")).otherwise(lit(""))).as("text"))
      graft.textops.TextOps.boilerplateLineRemoval(aug, "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_removed"),
          md5(col("kept_text")).as("kept_md5"))
    }),
    // ---- per-domain link stats over the planted-link corpus ----
    "tq_domain_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.withColumn("text", concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 5 === 0,
          lit(" see https://ads.example.com/x and" +
            " https://en.wikipedia.org/wiki/Page")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit(" via https://news.example.org/story")).otherwise(lit(""))))
      graft.textops.TextOps.domainStats(aug, "doc_id", "text")
    }),
    // ---- Gopher-style repetition quality signals (dup lines, top n-grams) --
    "tq_repetition" -> ((s, dir) => {
      graft.textops.TextOps.repetitionSignalsDf(
        t(s, dir, "documents"), "doc_id", "text")
    }),
    "tq_sample_stratified" -> ((s, dir) => {
      graft.textops.TextOps.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 10), defaultRate = 50)
        .select(col("doc_id"), col("lang"))
    }),
    // ---- keyword extraction: top-3 terms per doc, integer-exact
    // (tf DESC, df ASC, term ASC) ranking — no float idf ----
    "tq_keywords" -> ((s, dir) => {
      graft.textops.TextOps.keywords(t(s, dir, "documents"),
        "doc_id", "text", 3)
    }),
    // ---- deterministic hash split: every doc gets exactly one of
    // train/val/test, stable across runs/engines/cluster sizes ----
    "tq_hash_split" -> ((s, dir) => {
      graft.textops.TextOps.hashSplit(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("split"), col("n_chars"))
    }),
    // ---- training-batch assembly: token-budget sequence packing ----
    "tq_pack_sequences" -> ((s, dir) => {
      graft.textops.TextOps.packSequences(
        t(s, dir, "documents"), "doc_id", "text", "source", 2048L)
    }),
    // ---- domain-mix temperature rebalancing (alpha = 0.5) ----
    "tq_domain_mix" -> ((s, dir) => {
      graft.textops.TextOps.domainMixSample(
        t(s, dir, "documents"), "doc_id", "source")
    }),
    // ---- epoch-aware up-sampling materialization (the mix's consumer:
    // one row per (doc, epoch), rare domains repeated toward the largest,
    // capped at 4 epochs). Domain = lang, the SKEWED column of the test
    // corpus (en 2-3x the rest), so whole-epoch fan-out AND fractional
    // remainders are both exercised on real rows ----
    "tq_domain_epochs" -> ((s, dir) => {
      graft.textops.TextOps.domainEpochSample(
        t(s, dir, "documents"), "doc_id", graft.textops.TextOps.EpochDomain,
        graft.textops.TextOps.EpochCap)
    }),
    // ---- the composed corpus-prep pipeline (the "user story" query):
    // quality filter → exact keep-first dedup → chunk → pack, each stage a
    // proven operator, oracled end-to-end by composing the generated
    // sub-mirrors (the tq_filter_pipeline pattern, one level up).
    // The keep-list joins plan as shuffle joins (both sides corpus-sized —
    // correct); at 100 TB a production run persists each stage's output
    // between steps (the snapshot pattern KgRunner uses) rather than
    // re-deriving the lineage as this single-query demo does ----
    "tq_corpus_prep" -> ((s, dir) => {
      // r6: the verdict pass now CARRIES text+source onto its output rows
      // (qualityFilterPipeline keepText/carryCol) and the chunk explode
      // carries source per chunk — the r5 form re-joined the base table
      // twice to recover them (guide §8 "audit how the proxy's decisions
      // get re-attached"): 3 base scans + 3 joins → 1 scan + 1 join (the
      // fingerprint keep-list join, the only decision that genuinely needs
      // corpus-wide state). A persist-based variant was also tried and
      // measured SLOWER (text cache encode > post-shuffle re-execution) —
      // this form removes the recompute structurally instead of caching it.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val kept1 = graft.textops.TextOps.qualityFilterPipeline(
        docs, "doc_id", "text", blockedDomains = urlBlocklist,
        keepText = true, carryCol = Some("source"))
        .filter(col("verdict") === "keep")
        .select(col("doc_id"), col("text"), col("source"))
        // materialized ONCE: kept1's two consumers reach it through
        // different exchanges (fingerprint agg vs doc_id join), so without
        // this the expensive verdict map would run twice — in the r5 shape
        // the re-join's identical exchanges were, accidentally, the shared
        // materialization point
        .localCheckpoint(true)
      val keepIds = kept1
        .groupBy(graft.textops.TextOps.fingerprint(col("text")).as("f"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val kept2 = kept1.join(keepIds, Seq("doc_id"))
      val chunks = graft.textops.TextOps
        .chunkDocuments(kept2, "doc_id", "text",
          graft.textops.TextOps.ChunkTokens,
          graft.textops.TextOps.ChunkOverlap, carryCols = Seq("source"))
      val cw = chunks.select(
        graft.textops.TextOps.packedChunkId(col("doc_id"), col("chunk_ix"))
          .as("cid"),
        col("chunk_text"), col("source"))
      graft.textops.TextOps
        .packSequences(cw, "cid", "chunk_text", "source", 2048L)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("pack_tokens"))
    }),
    // ---- count-based fluency score (integer-exact perplexity stand-in) ----
    "tq_fluency_score" -> ((s, dir) => {
      graft.textops.TextOps.ngramLogFreqScore(
        t(s, dir, "documents"), "doc_id", "text")
    }),
    // ---- long-document chunking (fixed 64-token windows, 16 overlap) ----
    "tq_chunk_docs" -> ((s, dir) => {
      graft.textops.TextOps.chunkDocuments(
        t(s, dir, "documents"), "doc_id", "text",
        graft.textops.TextOps.ChunkTokens, graft.textops.TextOps.ChunkOverlap)
    }),
    // ---- content-defined chunking (md5-nibble FastCDC-style boundaries,
    // edit-robust — the dedup-oriented complement of the fixed windows) ----
    "tq_cdc_chunks" -> ((s, dir) => {
      graft.textops.TextOps.cdcChunks(
        t(s, dir, "documents"), "doc_id", "text")
    }),
    // ---- per-domain document cap (C4/RefinedWeb host quota; k=10 of 25
    // docs per source so the cap binds on every domain) ----
    "tq_domain_cap" -> ((s, dir) => {
      graft.textops.TextOps.domainCap(
        t(s, dir, "documents"), "doc_id", "source", "n_chars", 10)
    }),
    // ---- host-graph PageRank over planted links (integer fixed-point;
    // the RefinedWeb-style domain-ranking curation signal). Links are
    // planted three ways so the graph has real structure: a src->src ring
    // (multi-hop flow that makes 3 power iterations meaningful), a hub
    // every third doc, and a fan of site<k> leaves ----
    "web_host_rank" -> ((s, dir) => {
      val aug = plantedLinkAug(t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
      graft.textops.WebGraph.hostRank(
        graft.textops.WebGraph.hostGraphEdges(aug, "source", "text"),
        graft.textops.WebGraph.RankIterations)
    }),
    // ---- HITS hubs/authorities over the same planted host graph ----
    "web_host_hits" -> ((s, dir) => {
      val aug = plantedLinkAug(t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
      graft.textops.WebGraph.hits(
        graft.textops.WebGraph.hostGraphEdges(aug, "source", "text"))
    }),
    // ---- weakly-connected components over a planted FIVE-component host
    // graph (site-family analysis; exercises the string-graph → md5-id →
    // CC-engine path against a recursive-CTE oracle) ----
    "web_host_components" -> ((s, dir) => {
      val aug = plantedComponentAug(
        t(s, dir, "documents").select(col("doc_id")))
      graft.textops.WebGraph.hostComponents(
        graft.textops.WebGraph.hostGraphEdges(aug, "host", "text"))
    }),
    // ---- per-host triangle counts over the planted link graph (degree-
    // ordered compact-forward; the oracle enumerates canonically ordered
    // triples — different strategy, same counts) ----
    "web_host_triangles" -> ((s, dir) => {
      val aug = plantedLinkAug(t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
      graft.textops.WebGraph.triangleCounts(
        graft.textops.WebGraph.hostGraphEdges(aug, "source", "text"))
    }),
    // ---- word-trigram LM count table with min-count pruning (the KenLM
    // count-collection pass; one partial-aggregated shuffle) ----
    "tok_ngram_counts" -> ((s, dir) =>
      graft.textops.Tokenizer.ngramCounts(
        t(s, dir, "documents"), "text", graft.textops.Tokenizer.NgramOrder,
        graft.textops.Tokenizer.NgramMinCount)),
    // ---- HyperLogLog distinct-token sketch: the full register STATE is
    // the oracle row set (every bit pinned, unlike approx_count_distinct's
    // engine-private HLL++ layout); estimate accuracy is spec-checked ----
    "tq_hll_registers" -> ((s, dir) =>
      graft.textops.TextOps.hllRegisters(t(s, dir, "documents"), "text")),
    // ---- Count-Min sketch: point-frequency/heavy-hitter counters in
    // O(d·w) space; counter STATE oracled, estimates spec-checked ----
    "tq_cms_counters" -> ((s, dir) =>
      graft.textops.TextOps.cmsCounters(t(s, dir, "documents"), "text")),
    // ---- URL-level dedup: canonicalize-then-keep-first — the stage every
    // web pipeline runs BEFORE content dedup (two crawls of one page under
    // tracking-param/case/www variants are one document). Synthetic per-doc
    // urls: messy form for even docs, clean form for odd — both canonicalize
    // to doc_id % 25 (25 canonical groups), so every canonical group spans
    // messy+clean variants.
    // keep = min doc_id per canonical url (partial-agg min + rejoin, the
    // dedup_exact shape — no per-group window) ----
    "dedup_url_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("url",
          when(col("doc_id") % 2 === 0,
            concat(lit("https://WWW.Example.com/Doc/"),
              (col("doc_id") % 25).cast("string"),
              lit("?utm_source=crawl&fbclid=zz#frag")))
            .otherwise(concat(lit("https://example.com/Doc/"),
              (col("doc_id") % 25).cast("string"), lit("/"))))
      // r6: canon feeds BOTH the min-id aggregate and the keep join; the
      // two exchanges have different children (partial-agg vs plain), so
      // ReuseExchange cannot fire and the multi-step regex canonicalization
      // chain ran twice over every URL. Persist the narrow (id, canon_url)
      // projection (guide §8: decide with small rows), materialize the
      // result, release the cache — one canonicalization pass total.
      // Both join sides fit under the broadcast threshold; the hint pins the
      // build side to canon, so the streamed `first` emits rows grouped by
      // URL, and the written file is the same, smaller one on every run.
      val canon = docs.select(col("doc_id"),
        graft.textops.TextOps.urlCanonicalize(col("url")).as("canon_url"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val first = canon.groupBy(col("canon_url"))
          .agg(min(col("doc_id")).as("first_doc"))
        broadcast(canon).join(first, Seq("canon_url"))
          .select(col("doc_id"), col("canon_url"),
            (col("doc_id") === col("first_doc")).as("keep"))
          .localCheckpoint(true)
      } finally {
        canon.unpersist(false)
        ()
      }
    }),
    // ---- cluster dedup, keep-BEST-quality variant (same rare-shingle
    // edges + CC engine as dedup_cluster_pick; representative = quality
    // argmax instead of keep-first) ----
    "dedup_cluster_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        graft.textops.TextOps.qualityScoreX1e6(col("text")).as("score"))
      graft.textops.Dedup.clusterCanonicalBest(scored,
        graft.textops.Dedup.sharedRareShingleEdges(docs, "doc_id", "text"))
    }),
    // ---- model-based quality filter: count-trained linear classifier
    // (fastText/DCLM shape) — train on the hash-assigned 'train' split
    // with lang='en' as the demo label, score the whole corpus ----
    "tq_classifier_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = graft.textops.TextOps.hashSplit(docs, "doc_id")
        .filter(col("split") === "train")
        .withColumn("y", col("lang") === "en")
      val w = graft.textops.Classifier.classifierWeights(
        labeled, "text", "y", 3L)
      graft.textops.Classifier.classifierScore(docs, "doc_id", "text", w)
    }),
    // ---- deterministic training-order shuffle (bucketed permutation,
    // no global sort; pos is a pure function of the ids) ----
    "tq_corpus_shuffle" -> ((s, dir) => {
      graft.textops.TextOps.corpusShuffle(t(s, dir, "documents"), "doc_id")
    }),
    // ---- BPE tokenizer training (merge table learned distributively on
    // the fixture corpus; oracle = generated VALUES from the sequential
    // in-repo reference — distributed == sequential, checked as data) ----
    "tok_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      graft.textops.Tokenizer.bpeTrain(
        graft.textops.Tokenizer.fixtureCorpus.toDF("text"), "text", 12)
    }),
    // ---- dataset-card corpus statistics (per-lang × quality-bucket
    // doc/char/word mass; fixed buckets, not quantiles — one partial agg) --
    "tq_corpus_stats" -> ((s, dir) => {
      graft.textops.TextOps.corpusStats(
        t(s, dir, "documents"), "text", "lang")
    }),
    // ---- benchmark-contamination scan (train/test leakage check) ----
    "tq_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.textops.TextOps.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5).select(col("text")))
    }),
    // ---- rolling-hash fingerprint via the native Catalyst expression ----
    "tq_rolling_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(graft.functions.RollingHash.rolling_hash(col("text"))
          .as("rh"))
        .agg(count(lit(1)).as("n"))
    }),
    // array columns projected to scalars: the driver's pandas-based oracle
    // harness can't hash ndarray cells (the array-valued API stays
    // underneath). The float features are mapped BACK to the exact integer
    // byte-histogram counts (round(f·n_bytes) — exact for counts ≤ 2^23) so
    // the generated-VALUES oracle can pin them engine-independently; the
    // decode itself remains the declared stub (no codecs in container).
    "mm_features" -> ((s, _) => {
      graft.textops.Multimodal.extractFeatures(
        graft.textops.Multimodal.mediaTable(s, 200))
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("resized_w"), col("resized_h"),
          concat_ws(",", transform(col("features"),
            f => round(f * col("n_bytes"), 0).cast("int").cast("string")))
            .as("hist"),
          size(col("frame_offsets")).as("n_frames"),
          concat_ws(",", transform(col("frame_offsets"),
            x => x.cast("string"))).as("frames"))
    }),
    // ---- REAL media decode (uncompressed formats): BMP pixel stats and
    // WAV amplitude stats parsed from genuine byte layouts on executors;
    // the generated-VALUES oracle replays the same encode→decode
    // driver-side. All-integer stats → hash-exact ----
    "mm_decode" -> ((s, _) => {
      graft.textops.Multimodal.decodeMedia(
        graft.textops.Multimodal.decodableTable(s, 120))
    }),
    // ---- A11: seen/unseen dictionary words (distinct + except) ----
    // r6: the seen-surface set feeds BOTH branches (the union's seen arm
    // and the except's right side). AQE stage reuse mostly already shares
    // the pipeline subtree under the distinct's exchange (measured warm
    // parity), but materializing the tiny distinct-word set once makes the
    // one-pass execution structural — independent of exchange-canonical-
    // ization luck — and removes the duplicated post-shuffle stages from
    // the plan (fewer jobs/codegen units in the cold driver run).
    "kg_seen_unseen" -> ((s, _) => {
      import s.implicits._
      val seenWords = seenSurfaces(s).localCheckpoint(true)
      val seen = seenWords.withColumn("status", lit("seen"))
      val refined = s.createDataset(
        graft.corpus.Vocab.refinedDict.keys.toSeq).toDF("word")
      val unseen = refined.except(seenWords)
        .withColumn("status", lit("unseen"))
      seen.unionByName(unseen)
    }),
    // ---- n-gram Jaccard over adjacent-doc pairs (dedup modality #4) ----
    // integer (n_inter, n_union) over STRING shingles: exact in both engines
    // (a double jaccard would hash-mismatch on division rounding)
    "dedup_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, txt) =>
          (id, graft.textops.Dedup.shingleStrings(txt).distinct)
        }.toDF("doc_id", "sh")
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
            .as("n_inter"),
          size(array_union(col("sh_a"), col("sh_b"))).cast("long")
            .as("n_union"))
    }),
    // ---- custom TypedImperativeAggregate: bounded top-k frequent items ----
    "kg_top_surfaces" -> ((s, _) => {
      graft.pipeline.Pipeline.triples(s, 250, 8).toDF()
        .groupBy(col("objType"))
        .agg(graft.functions.TopKFreq.top_k_freq(col("obj"), 5).as("top5"))
        .select(col("objType"), explode(col("top5")).as("t"))
        .select(col("objType"), col("t.item").as("surface"),
          col("t.cnt").as("n"))
    }),
    // ---- KG pipeline entries ----
    "kg_triples" -> ((s, _) => graft.pipeline.Pipeline.triples(s, 250, 8).toDF()),
    "kg_group_taboo" -> ((s, _) => graft.pipeline.Pipeline.groupTriples(s).toDF()),
    // input/intermediate dumps feeding the {OUT}-based oracles above/below:
    // kg_drug_instructions lets DuckDB re-derive kg_group_taboo (P11 taboo
    // CASE priority + unpivot + dedup, cross-engine); kg_entity_surfaces +
    // kg_refined_dict let it re-derive kg_seen_unseen (A11/U2 set ops)
    "kg_drug_instructions" -> ((s, _) => {
      import s.implicits._
      s.createDataset(graft.corpus.Fixtures.drugInstructions(
        graft.pipeline.Pipeline.NDrugs)).toDF()
    }),
    "kg_refined_dict" -> ((s, _) => {
      import s.implicits._
      graft.corpus.Vocab.refinedDict.keys.toSeq.sorted.toDF("word")
    }),
    "kg_entity_surfaces" -> ((s, _) => seenSurfaces(s)),
    // consumer content-check for the kg_entity_surfaces dump (VERDICT r4
    // #5 — the one dump nothing re-derived): Spark joins its OWN
    // freshly-computed surfaces set against its OWN freshly-computed
    // triples; the oracle re-derives the same per-surface triple counts
    // purely from the two dumped parquets. A drifted surfaces dump (row
    // lost/added in the write path) diverges from the in-memory join.
    // Two artifact passes (one per consumer) is the intended cost: the
    // nested artifact rows are deliberately recomputed rather than cached
    // (persisting them costs ~3x the recompute — see KgRunner), and a
    // shared-Dataset derivation would still execute the subtree once per
    // consumer in the joined plan.
    "kg_surface_triples" -> ((s, _) => {
      val triples = graft.pipeline.Pipeline.triples(s, 250, 8).toDF()
      triples.join(seenSurfaces(s), triples("obj") === col("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_triples"),
          countDistinct(col("objType")).as("n_types"))
    }),
    // raw per-sentence entity rows + lineage (same 250-page corpus as
    // kg_triples): lets the DuckDB oracle re-derive the FLAGSHIP triple
    // assembly — 0.7 short-dict-prob adjust, A3 max-prob dedup with the
    // reference's model-category rank tie-break, essential-type filter,
    // lineage projection — entirely in SQL
    "kg_sentence_entities" -> ((s, _) => {
      import s.implicits._
      implicit val sp = s
      graft.pipeline.Pipeline.artifacts(
        graft.corpus.Corpus.pages(s, 250, 8))
        .flatMap { a =>
          a.entities.map(e => (a.row.ind, a.row.entity1, a.row.entity1Type,
            a.row.paragraph, e.model, e.entName, e.entType, e.start, e.prob))
        }.toDF("ind", "entity1", "entity1Type", "paragraph", "model",
          "entName", "entType", "start", "prob")
    })
  )

  /** Distinct essential-type segmentation surfaces over the 250-page
    * corpus — the A11 "seen" set, shared by kg_seen_unseen,
    * kg_entity_surfaces (the dump) and kg_surface_triples (the dump's
    * content consumer).
    */
  private def seenSurfaces(s: SparkSession): DataFrame = {
    import s.implicits._
    implicit val sp = s
    graft.pipeline.Pipeline.artifacts(
      graft.corpus.Corpus.pages(s, 250, 8))
      .flatMap(_.row.seg
        .filter(t => graft.model.Ontology.essentialTypes.contains(t.tag))
        .map(_.word)).distinct().toDF("word")
  }

  /** Seed deterministic near-duplicates (id + 10_000_000, one word appended)
    * so the near-dup detectors have planted positives to find in the
    * otherwise duplicate-free synthetic corpus.
    */
  private def withNearDupes(s: SparkSession, docs: DataFrame): DataFrame = {
    val dupes = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text", concat(col("text"), lit(" nearduplicate")))
    docs.unionByName(dupes)
  }

  /** Same idea for embeddings: slightly perturbed copies (cos ≈ 0.9999). */
  private def withPerturbedEmbeddings(s: SparkSession, emb: DataFrame): DataFrame = {
    val pert = emb.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.001)).cast("float")))
    emb.unionByName(pert)
  }

  /** Twin per ANN query vector (vec_id < 20 → id+10M, × 1.0001): a positive
    * scalar multiple keeps every random-hyperplane dot-product sign, so the
    * twin shares ALL sign-LSH buckets with its query deterministically.
    */
  private def withPlantedTwins(s: SparkSession, emb: DataFrame): DataFrame = {
    val twins = emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.0001)).cast("float")))
    emb.unionByName(twins)
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "j1_join_lineage" ->
      """SELECT o_orderstatus, count(*) AS n,
        | count(DISTINCT o_orderkey) AS n_orders,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    "j2_broadcast_dim" ->
      """SELECT r_name, count(*) AS n_customers,
        | CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "a1_group_latest" ->
      """SELECT o_custkey,
        | CAST(round(o_totalprice*100,0) AS BIGINT) AS latest_price_cents
        |FROM (SELECT o_custkey, o_totalprice, row_number() OVER
        |  (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)
        |  AS rn FROM orders) WHERE rn = 1""".stripMargin,
    "a3_argmax_dedup" ->
      """SELECT l_orderkey,
        | CAST(round(l_extendedprice*100,0) AS BIGINT) AS max_price_cents,
        | l_linenumber
        |FROM (SELECT l_orderkey, l_extendedprice, l_linenumber,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,
    "a4_freq_count" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "a5_weight_norm" ->
      """SELECT s_suppkey, s_nationkey,
        | CAST((bal_cents * 10000) // nation_total AS BIGINT) AS weight_bp
        |FROM (SELECT s_suppkey, s_nationkey,
        |  CAST(round(s_acctbal*100,0) AS BIGINT) AS bal_cents,
        |  sum(CAST(round(s_acctbal*100,0) AS BIGINT)) OVER
        |    (PARTITION BY s_nationkey) AS nation_total
        |  FROM supplier)""".stripMargin,
    "a12_head_id" ->
      """SELECT c_mktsegment, CAST(dense_rank() OVER (ORDER BY c_mktsegment)
        | AS INT) AS head_id
        |FROM (SELECT DISTINCT c_mktsegment FROM customer)""".stripMargin,
    "w1_reindex" ->
      """SELECT n_name, CAST(row_number() OVER (ORDER BY n_name) AS INT) AS rn
        |FROM nation""".stripMargin,
    "u1_union_dedup" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT s_nationkey AS nationkey FROM supplier
        | UNION ALL SELECT c_nationkey AS nationkey FROM customer)""".stripMargin,
    "a2_dedupe" ->
      "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",
    "u2_except" ->
      """SELECT DISTINCT user_id FROM events
        | WHERE event_type = 'error' AND value > 150
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        | WHERE event_type = 'purchase' AND value > 150""".stripMargin,
    "j_anti_no_orders" ->
      """SELECT p_brand, count(*) AS n_unsold FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 48)
        |GROUP BY p_brand""".stripMargin,
    "j_semi_sold_high" ->
      """SELECT p_brand, count(*) AS n_sold_high FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 48)
        |GROUP BY p_brand""".stripMargin,
    "w_running_sum" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |   PARTITION BY l_orderkey ORDER BY l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS running_qty
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
    "a_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "a13_mode" ->
      """SELECT bucket, event_type AS mode_type, c FROM (
        | SELECT bucket, event_type, c, row_number() OVER
        |   (PARTITION BY bucket ORDER BY c DESC, event_type ASC) AS rn
        | FROM (SELECT user_id % 100 AS bucket, event_type, count(*) AS c
        |       FROM events GROUP BY 1, 2)) WHERE rn = 1""".stripMargin,
    "w2_offset_ids" ->
      """SELECT r_name, CAST(row_number() OVER (ORDER BY r_name) + 700000
        | AS INT) AS souc_id FROM region""".stripMargin,
    "p4_sentence_split" ->
      """SELECT doc_id, count(*) AS n_sentences FROM (
        | SELECT doc_id, unnest(string_split(text, '. ')) AS sentence
        | FROM documents)
        |WHERE length(sentence) > 3 GROUP BY doc_id""".stripMargin,
    "p13_filter_guards" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE n_chars > 200 AND text IS NOT NULL GROUP BY lang""".stripMargin,
    "dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS n FROM documents GROUP BY md5(text)",
    "dedup_bloom_membership" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |nc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM corpus WHERE doc_id % 21 = 1)
        |SELECT n.doc_id, md5(coalesce(n.text, '')) AS fp
        |FROM nc n
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c
        |  WHERE md5(coalesce(c.text, '')) = md5(coalesce(n.text, '')))"""
        .stripMargin,
    "dedup_substring" -> {
      val k = 8
      s"""WITH base AS (
         |  SELECT doc_id, coalesce(text, '')
         |    || CASE WHEN doc_id % 6 = 0 THEN ' $plantedBoilerplate'
         |       ELSE '' END AS text
         |  FROM documents),
         |wrds AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, ' +'), x -> len(x) > 0) AS w
         |  FROM base),
         |sh AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(w) - $k + 1, 0)),
         |      i -> {'start': i, 'gram': array_to_string(w[i:i+${k - 1}], ' ')})) AS s
         |  FROM wrds),
         |shf AS (SELECT doc_id, s.start AS start, s.gram AS gram FROM sh),
         |ranked AS (SELECT doc_id, start,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, start) AS rn,
         |    count(*) OVER (PARTITION BY gram) AS c
         |  FROM shf),
         |dsp AS (SELECT doc_id, start FROM ranked WHERE c > 1 AND rn > 1),
         |cov AS (SELECT DISTINCT doc_id,
         |    unnest(generate_series(start, start + $k - 1)) AS idx
         |  FROM dsp),
         |pw AS (SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(w)),
         |      i -> {'idx': i, 'word': w[i]})) AS p
         |  FROM wrds),
         |pwf AS (SELECT doc_id, p.idx AS idx, p.word AS word FROM pw),
         |kept AS (SELECT pwf.doc_id AS doc_id, pwf.idx AS idx, pwf.word AS word
         |  FROM pwf
         |  LEFT JOIN cov ON cov.doc_id = pwf.doc_id AND cov.idx = pwf.idx
         |  WHERE cov.doc_id IS NULL),
         |ka AS (SELECT doc_id, string_agg(word, ' ' ORDER BY idx) AS txt
         |       FROM kept GROUP BY doc_id),
         |rc AS (SELECT doc_id, count(*) AS nrem FROM cov GROUP BY doc_id)
         |SELECT w.doc_id AS doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
         |  CAST(coalesce(rc.nrem, 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(ka.txt, '')) AS kept_md5
         |FROM wrds w
         |LEFT JOIN rc ON rc.doc_id = w.doc_id
         |LEFT JOIN ka ON ka.doc_id = w.doc_id""".stripMargin
    },
    "tq_quality_cols" ->
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
        | CAST(length(replace(text, ' ', '')) * 100 AS BIGINT) //
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |  AS mean_word_len_x100
        |FROM documents""".stripMargin,
    "tq_bpe_tokens" ->
      """SELECT source,
        | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
        | count(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,
    "tq_fingerprint" ->
      s"""SELECT ${graft.textops.TextOps.fingerprintSql("text")} AS fp,
        | count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "tq_normalize_text" ->
      s"""WITH aug AS (
        |  SELECT doc_id, coalesce(text, '') ||
        |    CASE WHEN doc_id % 4 = 1
        |         THEN ${graft.textops.TextOps.sqlLit(messyText)}
        |         ELSE '' END AS text
        |  FROM documents),
        |n AS (SELECT doc_id, text,
        |  ${graft.textops.TextOps.normalizeTextSql("text")} AS text_norm
        |  FROM aug)
        |SELECT doc_id, text_norm,
        |  CAST(text_norm <> text AS INT) AS changed,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes_raw,
        |  CAST(strlen(text_norm) AS BIGINT) AS n_bytes_norm
        |FROM n""".stripMargin,
    "sim_topk_bruteforce" ->
      """SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        | SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(q.embedding, e.embedding), 6) DESC,
        |             e.vec_id ASC) AS rank
        | FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
        | WHERE q.vec_id < 20) WHERE rank <= 3""".stripMargin,
    "tq_token_count" ->
      """SELECT source,
        | CAST(sum(len(list_filter(string_split(text, ' '), x -> len(x) > 3)))
        |   AS BIGINT) AS total_tokens,
        | count(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,
    "tq_langid" ->
      s"""SELECT ${graft.textops.TextOps.langIdSql("documents.text")} AS pred_lang,
         | count(*) AS n
         |FROM documents GROUP BY 1""".stripMargin,
    "tq_quality_score" ->
      s"""SELECT source,
         | CAST(sum(${graft.textops.TextOps.qualityScoreX1e6Sql("documents.text")}) AS BIGINT) AS q_sum_x1e6,
         | count(*) AS n_docs
         |FROM documents GROUP BY source""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |      ELSE list_transform(generate_series(1, len(words)-2),
        |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, ' +'), w -> len(w) > 0) AS words
        |        FROM documents)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
        |  CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS n_union
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "dedup_embedding_cos" ->
      """SELECT vec_id AS id_a, vec_id + 10000000 AS id_b
        |FROM embeddings WHERE vec_id % 20 = 0""".stripMargin,
    // EXACT re-derivation of the SemDeDup pipeline over the dumped k-means
    // cells: perturbed twins rebuilt in SQL (same double-multiply-then-
    // float-cast as withPerturbedEmbeddings), both-ends MaxBucket=50 cap,
    // intra-cell pairs, cosine >= 0.95 verification (organic max 0.51 at
    // this sf — membership is decided with a huge margin on both engines),
    // recursive-CTE connected components, keep-first pick
    "dedup_semantic" ->
      """WITH RECURSIVE cells AS (
        |  SELECT vec_id, cell
        |  FROM read_parquet('{OUT}/dedup_semantic_cells/*.parquet')),
        |emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000000,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.001 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |buckets AS (SELECT cell, list_sort(list(vec_id)) AS all_ids
        |  FROM cells GROUP BY cell),
        |capped AS (SELECT CASE WHEN len(all_ids) <= 50 THEN all_ids
        |    ELSE all_ids[1:25] || all_ids[len(all_ids)-24:len(all_ids)] END AS ids
        |  FROM buckets WHERE len(all_ids) > 1),
        |pairs AS (SELECT DISTINCT p.a AS id_a, p.b AS id_b
        |  FROM capped, unnest(flatten(list_transform(generate_series(1, len(ids)),
        |    i -> list_transform(ids[i+1:], bb -> {a: ids[i], b: bb})))) AS t(p)),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  JOIN emb ea ON ea.vec_id = id_a JOIN emb eb ON eb.vec_id = id_b
        |  WHERE round(list_cosine_similarity(ea.embedding, eb.embedding), 6) >= 0.95),
        |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |vertices AS (SELECT vec_id AS v FROM cells),
        |reach(v, u) AS (
        |  SELECT v, v FROM vertices
        |  UNION
        |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src)
        |SELECT c.vec_id, CAST(c.cell AS INT) AS cell, comp.cluster,
        |  (c.vec_id = comp.cluster) AS keep
        |FROM cells c JOIN (SELECT v, min(u) AS cluster FROM reach GROUP BY v)
        |  comp ON comp.v = c.vec_id""".stripMargin,
    "dedup_minhash_planted" ->
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b
        |FROM documents WHERE doc_id % 10 = 0 AND n_chars >= 250""".stripMargin,
    "dedup_simhash_planted" ->
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b
        |FROM documents""".stripMargin,
    "dedup_minhash_sig_parity" ->
      "SELECT doc_id AS id, CAST(TRUE AS BOOLEAN) AS sigs_equal FROM documents",
    "dedup_incremental" ->
      """SELECT doc_id + 10000000 AS new_id, doc_id AS corpus_id
        |FROM documents WHERE doc_id % 10 = 0 AND n_chars >= 250""".stripMargin,
    "sim_lsh_planted" ->
      """SELECT vec_id AS query_id, vec_id + 10000000 AS neighbor_id
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    "sim_ivf_planted" ->
      "SELECT CAST(20 AS BIGINT) AS n_queries, CAST(1 AS BOOLEAN) AS recall_ok",
    // EXACT re-derivation of the MinHash LSH pipeline over the dumped
    // 128-long signatures: band keys are the signature slices themselves
    // (bucket equality ⇔ slice equality, modulo negligible 64-bit mix
    // collisions which could only ADD a Spark pair), both-ends MaxBucket=50
    // cap replicated, pairs, n_eq verification against the same sigs, exact
    // jaccard re-derived from STRING shingles over the re-built augmented
    // corpus (hashed-set sizes equal string-set sizes barring fnv1a64
    // collisions)
    "dedup_minhash_lsh" ->
      """WITH sigs AS (SELECT id, list(val ORDER BY pos) AS sig
        |    FROM read_parquet('{OUT}/dedup_minhash_sigs/*.parquet')
        |    GROUP BY id),
        |banded AS (
        |  SELECT b.band, s.id, s.sig[b.band*8+1 : b.band*8+8] AS key
        |  FROM sigs s, (SELECT unnest(generate_series(0,15)) AS band) b),
        |buckets AS (
        |  SELECT band, key, list_sort(list(id)) AS all_ids
        |  FROM banded GROUP BY band, key),
        |capped AS (
        |  SELECT CASE WHEN len(all_ids) <= 50 THEN all_ids
        |    ELSE all_ids[1:25] || all_ids[len(all_ids)-24:len(all_ids)] END AS ids
        |  FROM buckets WHERE len(all_ids) > 1),
        |pairs AS (
        |  SELECT DISTINCT p.a AS id_a, p.b AS id_b
        |  FROM capped, unnest(flatten(list_transform(generate_series(1, len(ids)),
        |    i -> list_transform(ids[i+1:], bb -> {a: ids[i], b: bb})))) AS t(p)),
        |aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text || ' nearduplicate'
        |  FROM documents WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |      ELSE list_transform(generate_series(1, len(words)-2),
        |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, ' +'), w -> len(w) > 0) AS words
        |        FROM aug)),
        |jac AS (
        |  SELECT p.id_a, p.id_b,
        |    len(list_intersect(a.s, b.s)) AS n_i,
        |    len(list_distinct(list_concat(a.s, b.s))) AS n_u
        |  FROM pairs p JOIN sh a ON a.doc_id = p.id_a
        |               JOIN sh b ON b.doc_id = p.id_b)
        |SELECT j.id_a, j.id_b,
        |  CAST(len(list_filter(generate_series(1, 128),
        |    i -> sa.sig[i] = sb.sig[i])) AS INT) AS n_eq,
        |  CAST(floor((CASE WHEN j.n_u = 0 THEN 1.0
        |    ELSE CAST(j.n_i AS DOUBLE) / j.n_u END) * 1000000.0) AS BIGINT) AS jac_x1e6
        |FROM jac j JOIN sigs sa ON sa.id = j.id_a
        |           JOIN sigs sb ON sb.id = j.id_b
        |WHERE (CASE WHEN j.n_u = 0 THEN 1.0
        |  ELSE CAST(j.n_i AS DOUBLE) / j.n_u END) >= 0.5""".stripMargin,
    // EXACT re-derivation of the SimHash pipeline over the dumped 64-bit
    // signatures: unsigned 16-bit chunk banding via HUGEINT arithmetic
    // (replicating Java's >>> on the two's-complement long), both-ends cap,
    // pairs, xor/bit_count hamming verification (DuckDB bit_count matches
    // Long.bitCount on the 64-bit pattern)
    "dedup_simhash" ->
      """WITH sigs AS (
        |  SELECT id, sig,
        |    CASE WHEN sig < 0 THEN CAST(sig AS HUGEINT) + 18446744073709551616
        |         ELSE CAST(sig AS HUGEINT) END AS u
        |  FROM read_parquet('{OUT}/dedup_simhash_sigs/*.parquet')),
        |banded AS (
        |  SELECT band.b AS band, id, CAST((u // band.dv) % 65536 AS BIGINT) AS bucket
        |  FROM sigs, (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
        |    (2, 4294967296::HUGEINT), (3, 281474976710656::HUGEINT)) band(b, dv)),
        |buckets AS (SELECT band, bucket, list_sort(list(id)) AS all_ids
        |  FROM banded GROUP BY band, bucket),
        |capped AS (SELECT CASE WHEN len(all_ids) <= 50 THEN all_ids
        |    ELSE all_ids[1:25] || all_ids[len(all_ids)-24:len(all_ids)] END AS ids
        |  FROM buckets WHERE len(all_ids) > 1),
        |pairs AS (SELECT DISTINCT p.a AS id_a, p.b AS id_b
        |  FROM capped, unnest(flatten(list_transform(generate_series(1, len(ids)),
        |    i -> list_transform(ids[i+1:], bb -> {a: ids[i], b: bb})))) AS t(p))
        |SELECT p.id_a, p.id_b,
        |  CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM pairs p JOIN sigs sa ON sa.id = p.id_a
        |             JOIN sigs sb ON sb.id = p.id_b
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 6""".stripMargin,
    // EXACT re-derivation of multi-table sign-LSH ANN over the dumped
    // (vec_id, bucket) assignments: bucket-join candidates, cosine scoring
    // and top-k ranking in SQL (same rounding/tie-break as the green
    // brute-force oracle)
    "sim_topk_lsh" ->
      """WITH b AS (SELECT vec_id, bucket
        |    FROM read_parquet('{OUT}/sim_lsh_buckets/*.parquet')),
        |q AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < 20),
        |cand AS (SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
        |  FROM q JOIN b USING (bucket) WHERE b.vec_id != q.query_id),
        |scored AS (SELECT c.query_id, c.neighbor_id,
        |    row_number() OVER (PARTITION BY c.query_id ORDER BY
        |      round(list_cosine_similarity(qe.embedding, ne.embedding), 6) DESC,
        |      c.neighbor_id ASC) AS rank
        |  FROM cand c JOIN embeddings qe ON qe.vec_id = c.query_id
        |              JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        |FROM scored WHERE rank <= 3""".stripMargin,
    // EXACT re-derivation of IVF ANN over the dumped quantizer assignments
    // (corpus cell per vector, IvfProbes probe cells per query)
    "sim_topk_ivf" ->
      """WITH cells AS (SELECT vec_id, cell
        |    FROM read_parquet('{OUT}/sim_ivf_cells/*.parquet')),
        |probes AS (SELECT query_id, cell
        |    FROM read_parquet('{OUT}/sim_ivf_probes/*.parquet')),
        |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        |  FROM probes p JOIN cells c USING (cell) WHERE c.vec_id != p.query_id),
        |scored AS (SELECT c.query_id, c.neighbor_id,
        |    row_number() OVER (PARTITION BY c.query_id ORDER BY
        |      round(list_cosine_similarity(qe.embedding, ne.embedding), 6) DESC,
        |      c.neighbor_id ASC) AS rank
        |  FROM cand c JOIN embeddings qe ON qe.vec_id = c.query_id
        |              JOIN embeddings ne ON ne.vec_id = c.neighbor_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
        |FROM scored WHERE rank <= 3""".stripMargin,
    // shared shingle-set CTE text (string shingles over ' +'-split words,
    // the Dedup.shingleStrings tiling) reused by several oracles below
    "dedup_cluster_pick" ->
      s"""$clusterCompCtes
        |SELECT v AS doc_id, cluster, (v = cluster) AS keep FROM comp""".stripMargin,
    // same components, quality-argmax representative (score mirror is the
    // generated qualityScoreX1e6Sql; ties → min doc_id via the window order)
    "dedup_cluster_best" ->
      s"""$clusterCompCtes,
        |q AS (SELECT doc_id,
        |        ${graft.textops.TextOps.qualityScoreX1e6Sql("text")} AS score
        |      FROM documents),
        |lab AS (SELECT q.doc_id, c.cluster, q.score
        |        FROM q JOIN comp c ON c.v = q.doc_id),
        |best AS (SELECT cluster, doc_id AS best_doc,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY score DESC, doc_id ASC) AS rn
        |  FROM lab)
        |SELECT l.doc_id, l.cluster, (l.doc_id = b.best_doc) AS keep
        |FROM lab l JOIN (SELECT cluster, best_doc FROM best WHERE rn = 1) b
        |  ON l.cluster = b.cluster""".stripMargin,
    "tq_redact_pii" -> {
      val redSql = graft.textops.TextOps.redactPiiSql("text")
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
         |  UNION ALL
         |  SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.org at 192.168.1.77 or +1 555-123-4567'
         |  FROM documents WHERE doc_id % 7 = 0),
         |red AS (SELECT doc_id, $redSql AS r FROM aug)
         |SELECT doc_id, md5(r) AS fp,
         |  CAST((length(r) - length(replace(r, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_email,
         |  CAST((length(r) - length(replace(r, '<IP>', ''))) // 4 AS BIGINT) AS n_ip,
         |  CAST((length(r) - length(replace(r, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phone
         |FROM red""".stripMargin
    },
    "tq_url_blocklist" -> {
      val values = urlBlocklist
        .map(d => "('" + d.replace("'", "''") + "')").mkString(", ")
      val pat = graft.textops.TextOps.urlHostPattern.replace("'", "''")
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
         |  UNION ALL
         |  SELECT doc_id, text || ' see https://ads.example.com/x?id='
         |    || CAST(doc_id AS VARCHAR)
         |    || ' and https://en.wikipedia.org/wiki/Page'
         |    || ' plus https://ads.example.com/y'
         |  FROM documents WHERE doc_id % 5 = 0),
         |hosts AS (SELECT doc_id,
         |  regexp_extract_all(coalesce(text, ''), '$pat', 1) AS hs FROM aug),
         |ex AS (SELECT doc_id, unnest(hs) AS host FROM hosts),
         |bl(domain) AS (VALUES $values),
         |blk AS (SELECT doc_id, COUNT(*) AS nb
         |        FROM ex JOIN bl ON ex.host = bl.domain GROUP BY doc_id)
         |SELECT h.doc_id, CAST(len(h.hs) AS BIGINT) AS n_urls,
         |  CAST(coalesce(b.nb, 0) AS BIGINT) AS n_blocked,
         |  CASE WHEN coalesce(b.nb, 0) > 0 THEN 'drop' ELSE 'keep' END
         |    AS verdict
         |FROM hosts h LEFT JOIN blk b ON h.doc_id = b.doc_id""".stripMargin
    },
    "tq_filter_pipeline" -> {
      val augSql =
        s"""SELECT doc_id, text
           |  || CASE WHEN doc_id % 7 = 0
           |       THEN ' visit https://spam-site.biz/offer now' ELSE '' END
           |  || CASE WHEN doc_id % 11 = 0
           |       THEN repeat(chr(10) || '$plantedDupLine', $plantedDupCount)
           |       ELSE '' END AS text
           |FROM documents""".stripMargin
      val body = graft.textops.TextOps
        .qualityFilterPipelineSql("aug", urlBlocklist)
        .stripPrefix("WITH ")
      s"WITH aug AS ($augSql),\n$body"
    },
    "tq_boilerplate_lines" -> {
      val augSql =
        s"""SELECT doc_id, coalesce(text, '')
           |  || CASE WHEN doc_id % 4 = 0
           |       THEN chr(10) || 'all rights reserved example corp'
           |       ELSE '' END
           |  || CASE WHEN doc_id % 9 = 0
           |       THEN chr(10) || 'cookie policy applies' ELSE '' END AS text
           |FROM documents""".stripMargin
      val body = graft.textops.TextOps.boilerplateLineRemovalSql("aug")
        .stripPrefix("WITH ")
      s"WITH aug AS ($augSql),\n$body"
    },
    "tq_domain_stats" -> {
      val augSql =
        s"""SELECT doc_id, coalesce(text, '')
           |  || CASE WHEN doc_id % 5 = 0
           |       THEN ' see https://ads.example.com/x and https://en.wikipedia.org/wiki/Page'
           |       ELSE '' END
           |  || CASE WHEN doc_id % 3 = 0
           |       THEN ' via https://news.example.org/story' ELSE '' END AS text
           |FROM documents""".stripMargin
      val body = graft.textops.TextOps.domainStatsSql("aug")
        .stripPrefix("WITH ")
      s"WITH aug AS ($augSql),\n$body"
    },
    "tq_repetition" ->
      graft.textops.TextOps.repetitionSignalsSql("documents"),
    "tq_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |      < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)""".stripMargin,
    "tq_hash_split" ->
      s"""SELECT doc_id, ${graft.textops.TextOps.hashSplitSql("doc_id")}
        |  AS split, n_chars
        |FROM documents""".stripMargin,
    "tq_keywords" ->
      graft.textops.TextOps.keywordsSql("documents", 3),
    // the planted-link augmentation mirrors the Spark query's concat; the
    // rank/hits derivations are GENERATED from the same WebGraph constants
    "web_host_rank" ->
      (s"WITH aug AS ($plantedLinkAugSql),\n" +
        graft.textops.WebGraph.hostRankSql("aug").stripPrefix("WITH ")),
    "web_host_hits" ->
      (s"WITH aug AS ($plantedLinkAugSql),\n" +
        graft.textops.WebGraph.hitsSql("aug").stripPrefix("WITH ")),
    "web_host_components" ->
      (s"WITH RECURSIVE aug AS ($plantedComponentAugSql),\n" +
        graft.textops.WebGraph.hostComponentsSql("aug")
          .stripPrefix("WITH RECURSIVE ")),
    "web_host_triangles" ->
      (s"WITH aug AS ($plantedLinkAugSql),\n" +
        graft.textops.WebGraph.triangleCountsSql("aug")
          .stripPrefix("WITH ")),
    "tok_ngram_counts" ->
      graft.textops.Tokenizer.ngramCountsSql("documents", "text"),
    "tq_hll_registers" ->
      graft.textops.TextOps.hllRegistersSql("documents", "text"),
    "tq_cms_counters" ->
      graft.textops.TextOps.cmsCountersSql("documents", "text"),
    "dedup_url_exact" -> {
      val canon = graft.textops.TextOps.urlCanonicalizeSql("url")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN 'https://WWW.Example.com/Doc/' || CAST(doc_id % 25 AS VARCHAR)
         |        || '?utm_source=crawl&fbclid=zz#frag'
         |      ELSE 'https://example.com/Doc/' || CAST(doc_id % 25 AS VARCHAR) || '/'
         |    END AS url
         |  FROM documents),
         |c AS (SELECT doc_id, $canon AS canon_url FROM d),
         |f AS (SELECT canon_url, min(doc_id) AS first_doc
         |      FROM c GROUP BY canon_url)
         |SELECT c.doc_id, c.canon_url, (c.doc_id = f.first_doc) AS keep
         |FROM c JOIN f USING (canon_url)""".stripMargin
    },
    "ev_asof_join" -> graft.operators.Temporal.asOfSql(
      """SELECT user_id AS k, ts, event_id AS lid FROM events
        | WHERE event_type = 'click'""".stripMargin,
      """SELECT user_id AS k, ts, event_id AS rid, value AS pay FROM events
        | WHERE event_type = 'purchase'""".stripMargin),
    "ev_range_join" -> graft.operators.Temporal.rangeCountSql(
      """SELECT user_id AS k, ts, event_id AS lid FROM events
        | WHERE event_type = 'purchase'""".stripMargin,
      """SELECT user_id AS k, ts FROM events
        | WHERE event_type = 'click'""".stripMargin,
      86400000000L),
    "tq_classifier_score" ->
      graft.textops.Classifier.classifierSql(
        "documents", "doc_id", "lang = 'en'", 3L),
    "tq_corpus_stats" ->
      graft.textops.TextOps.corpusStatsSql("documents"),
    "tok_bpe_merges" ->
      graft.textops.Tokenizer.bpeMergesSql(12),
    "tq_corpus_shuffle" ->
      graft.textops.TextOps.corpusShuffleSql("documents"),
    // mirrors GENERATED from the same TextOps builders (single source of
    // truth for the window frame / integer div / sqrt-rate arithmetic)
    "tq_pack_sequences" ->
      graft.textops.TextOps.packSequencesSql("documents", 2048L),
    "tq_domain_mix" ->
      graft.textops.TextOps.domainMixSampleSql("documents"),
    "tq_domain_epochs" ->
      graft.textops.TextOps.domainEpochSampleSql("documents"),
    "tq_domain_cap" ->
      graft.textops.TextOps.domainCapSql("documents", 10),
    "tq_chunk_docs" ->
      graft.textops.TextOps.chunkDocumentsSql("documents"),
    "tq_cdc_chunks" ->
      graft.textops.TextOps.cdcChunksSql("documents"),
    "tq_fluency_score" ->
      graft.textops.TextOps.ngramLogFreqScoreSql("documents"),
    // end-to-end corpus prep, composed from the SAME generated sub-mirrors
    // the individual stages are green under (filter pipeline, fingerprint,
    // chunking, packing) — each stage's CTE is a complete generated SELECT
    "tq_corpus_prep" -> {
      val verd = graft.textops.TextOps.qualityFilterPipelineSql(
        "documents", blockedDomains = urlBlocklist)
      val chunks = graft.textops.TextOps.chunkDocumentsSql("kept2")
      val pack = graft.textops.TextOps.packSequencesSql("cw", 2048L)
      s"""WITH verd AS ($verd),
         |kept1 AS (
         |  SELECT d.doc_id, d.text, d.source FROM documents d
         |  JOIN verd v ON v.doc_id = d.doc_id AND v.verdict = 'keep'),
         |fp AS (SELECT min(doc_id) AS doc_id FROM (
         |    SELECT doc_id,
         |      ${graft.textops.TextOps.fingerprintSql("text")} AS f
         |    FROM kept1) GROUP BY f),
         |kept2 AS (SELECT k.* FROM kept1 k JOIN fp USING (doc_id)),
         |chunks AS ($chunks),
         |cw AS (
         |  SELECT c.doc_id * ${graft.textops.TextOps.chunkIdShift} + c.chunk_ix AS doc_id,
         |    c.chunk_text AS text, k.source
         |  FROM chunks c JOIN kept2 k ON k.doc_id = c.doc_id),
         |pk AS ($pack)
         |SELECT shard, pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
         |FROM pk GROUP BY shard, pack_id""".stripMargin
    },
    "tq_url_canon" -> {
      val pat = graft.textops.TextOps.urlFullPattern.replace("'", "''")
      val canon = graft.textops.TextOps.urlCanonicalizeSql("raw")
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
         |  UNION ALL
         |  SELECT doc_id, text || '${plantedUrls.replace("'", "''")}'
         |  FROM documents WHERE doc_id % 5 = 0),
         |raws AS (
         |  SELECT unnest(regexp_extract_all(coalesce(text, ''), '$pat'))
         |    AS raw
         |  FROM aug)
         |SELECT $canon AS canon_url, CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_forms
         |FROM raws GROUP BY 1""".stripMargin
    },
    "tq_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
        |      WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |      ELSE list_transform(generate_series(1, len(words)-2),
        |             i -> array_to_string(words[i:i+2], ' ')) END) AS s
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, ' +'), w -> len(w) > 0) AS words
        |        FROM documents)),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 5),
        |expl AS (SELECT doc_id, unnest(s) AS g FROM sh)
        |SELECT doc_id, count(*) AS n_shared
        |FROM expl JOIN bench USING (g) GROUP BY doc_id""".stripMargin,
    // the FLAGSHIP triple assembly re-derived in SQL over the dumped raw
    // entity rows: 0.7 short-dict adjust, A3 max-prob dedup (rank
    // tie-break), essential filter, lineage projection. Ties on
    // (prob, rank) may pick a different surviving row than Scala's
    // encounter-order minBy, but every output-visible column of tied rows
    // is identical, so the emitted bag matches exactly.
    "kg_triples" -> {
      val essentials = graft.model.Ontology.essentialTypes.toSeq.sorted
        .map(t => s"'$t'").mkString(", ")
      s"""SELECT entity1 AS subj, entity1Type AS subjType, paragraph AS pred,
         |  entName AS obj, entType AS objType, ind, prob
         |FROM (
         |  SELECT ind, entity1, entity1Type, paragraph, entName, entType, prob,
         |    row_number() OVER (PARTITION BY ind, entName, entType, start
         |                       ORDER BY prob DESC, rnk ASC) AS rn
         |  FROM (SELECT ind, entity1, entity1Type, paragraph, entName,
         |          entType, start,
         |          CASE WHEN model IN ('refined_dictionary', 'other_dictionary')
         |                AND length(entName) <= 2 THEN 0.7 ELSE prob END AS prob,
         |          CASE WHEN model IN ('refined_dictionary', 'other_dictionary') THEN 1
         |               WHEN model = 'rules_merging' THEN 2 ELSE 0 END AS rnk
         |        FROM read_parquet('{OUT}/kg_sentence_entities/*.parquet')))
         |WHERE rn = 1 AND entName != '' AND entType IN ($essentials)""".stripMargin
    },
    // P11 taboo classification re-derived in SQL over the dumped drug
    // instructions: CASE priority (prohibited > notrecommended/caution,
    // with the reference's 调整用量→慎用人群 remap folded in), 3-way unpivot,
    // dedup — keyword lists generated from the same Seqs as the Scala path
    "kg_group_taboo" -> {
      def anyContains(words: Seq[String]): String =
        words.map(w => s"contains(txt, '$w')").mkString(" OR ")
      s"""SELECT DISTINCT product AS entity1, gname AS entity2,
         |  CASE WHEN ${anyContains(graft.pipeline.Triples.prohibited)} THEN '禁用人群'
         |       WHEN ${anyContains(graft.pipeline.Triples.notrecommended ++ graft.pipeline.Triples.caution)} THEN '慎用人群'
         |       ELSE '' END AS relation,
         |  txt AS sentence, 'DRU' AS entityType1, 'GRP' AS entityType2,
         |  'KBMS' AS domain
         |FROM (SELECT product,
         |        unnest(['孕妇', '儿童', '老人']) AS gname,
         |        unnest([woman, children, agedness]) AS txt
         |      FROM read_parquet('{OUT}/kg_drug_instructions/*.parquet'))""".stripMargin
    },
    // deterministic-fixture dumps pinned by VALUES literals GENERATED from
    // the same Scala sources (single source of truth — the dumps feed the
    // kg_seen_unseen / kg_group_taboo oracles, so their content is now
    // checked directly too, not only through consumers)
    "kg_refined_dict" -> {
      val words = graft.corpus.Vocab.refinedDict.keys.toSeq.sorted
        .map(w => "'" + w.replace("'", "''") + "'").mkString(", ")
      s"SELECT unnest([$words]) AS word"
    },
    "kg_drug_instructions" -> {
      def q(s: String) = "'" + s.replace("'", "''") + "'"
      val rows = graft.corpus.Fixtures
        .drugInstructions(graft.pipeline.Pipeline.NDrugs).map { d =>
        s"(${q(d.product)}, ${q(d.woman)}, ${q(d.children)}, ${q(d.agedness)})"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $rows) t(product, woman, children, agedness)"
    },
    // the stub features are DETERMINISTIC, so mm_features is pinned by
    // VALUES literals generated from the same Scala row/feature functions
    // (Multimodal.mediaRow/byteHistogram/resizeDims/frameOffsets — single
    // source of truth); only the decode itself remains a declared stub
    "mm_features" -> {
      val rows = (0L until 200L).map { i =>
        val m = graft.textops.Multimodal.mediaRow(i)
        val hist = graft.textops.Multimodal.byteHistogram(m.bytes)
        val (rw, rh) = graft.textops.Multimodal
          .resizeDims(m.meta.width, m.meta.height, 256)
        val fo = graft.textops.Multimodal.frameOffsets(m.meta.durationMs, 4)
        s"(${m.mediaId}, '${m.kind}', ${m.bytes.length}, $rw, $rh, " +
          s"'${hist.mkString(",")}', ${fo.length}, '${fo.mkString(",")}')"
      }.mkString(", ")
      s"""SELECT CAST(media_id AS BIGINT) AS media_id, kind,
         |  CAST(n_bytes AS INT) AS n_bytes, CAST(resized_w AS INT) AS resized_w,
         |  CAST(resized_h AS INT) AS resized_h, hist,
         |  CAST(n_frames AS INT) AS n_frames, frames
         |FROM (VALUES $rows)
         | t(media_id, kind, n_bytes, resized_w, resized_h, hist, n_frames, frames)""".stripMargin
    },
    // REAL BMP/WAV decode pinned by VALUES generated from the same
    // encode→decode round-trip the executors run (decodableRow →
    // decodeBmp/decodeWav; all-integer stats). Deterministic by
    // construction — the oracle proves the distributed decode
    // matches the driver-side reference decode byte-for-byte.
    "mm_decode" -> {
      val rows = (0L until 120L).map { i =>
        val m = graft.textops.Multimodal.decodableRow(i)
        val st =
          if (m.kind == "image") graft.textops.Multimodal.decodeBmp(m.bytes)
          else graft.textops.Multimodal.decodeWav(m.bytes)
        s"(${m.mediaId}, '${m.kind}', ${m.bytes.length}, ${st.width}, " +
          s"${st.height}, ${st.sumR}, ${st.sumG}, ${st.sumB}, " +
          s"${st.minLum}, ${st.maxLum}, ${st.sampleRate}, " +
          s"${st.nChannels}, ${st.nSamples}, ${st.ampMin}, ${st.ampMax}, " +
          s"${st.sumAbs}, ${st.zeroCross})"
      }.mkString(", ")
      s"""SELECT CAST(media_id AS BIGINT) AS media_id, kind,
         |  CAST(n_bytes AS INT) AS n_bytes,
         |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
         |  CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
         |  CAST(sum_b AS BIGINT) AS sum_b,
         |  CAST(min_lum AS INT) AS min_lum, CAST(max_lum AS INT) AS max_lum,
         |  CAST(sample_rate AS INT) AS sample_rate,
         |  CAST(n_channels AS INT) AS n_channels,
         |  CAST(n_samples AS INT) AS n_samples,
         |  CAST(amp_min AS INT) AS amp_min, CAST(amp_max AS INT) AS amp_max,
         |  CAST(sum_abs AS BIGINT) AS sum_abs,
         |  CAST(zero_cross AS INT) AS zero_cross
         |FROM (VALUES $rows)
         | t(media_id, kind, n_bytes, width, height, sum_r, sum_g, sum_b,
         |   min_lum, max_lum, sample_rate, n_channels, n_samples,
         |   amp_min, amp_max, sum_abs, zero_cross)""".stripMargin
    },
    // A11/U2 set semantics re-derived over the dumped seen-surface and
    // refined-dictionary tables
    "kg_seen_unseen" ->
      """SELECT word, 'seen' AS status
        |FROM read_parquet('{OUT}/kg_entity_surfaces/*.parquet')
        |UNION ALL
        |SELECT word, 'unseen' AS status
        |FROM read_parquet('{OUT}/kg_refined_dict/*.parquet')
        |WHERE word NOT IN (
        |  SELECT word FROM read_parquet('{OUT}/kg_entity_surfaces/*.parquet'))""".stripMargin,
    // per-surface triple counts re-derived from the kg_triples and
    // kg_entity_surfaces dumps — the surfaces dump's content check
    "kg_surface_triples" ->
      """SELECT s.word, CAST(count(*) AS BIGINT) AS n_triples,
        |  CAST(count(DISTINCT t.objType) AS BIGINT) AS n_types
        |FROM read_parquet('{OUT}/kg_triples/*.parquet') t
        |JOIN read_parquet('{OUT}/kg_entity_surfaces/*.parquet') s
        |  ON t.obj = s.word
        |GROUP BY s.word""".stripMargin,
    // the custom codegen RollingHash Expression, recomputed independently in
    // SQL: per-char fold with HUGEINT mod-2^64 arithmetic replicating JVM
    // long wraparound, lowercase A-Z, whitespace-run collapse
    "tq_rolling_fingerprint" ->
      """SELECT rh, count(*) AS n FROM (
        | SELECT CAST(CASE WHEN r.h >= 9223372036854775808::HUGEINT
        |   THEN r.h - 18446744073709551616::HUGEINT ELSE r.h END AS BIGINT) AS rh
        | FROM documents, LATERAL (
        |  SELECT list_reduce(
        |    list_concat([{h: 1125899906842597::HUGEINT, p: false}],
        |      list_transform(split(text, ''), c -> {h: unicode(c)::HUGEINT, p: false})),
        |    (acc, x) -> CASE
        |      WHEN (x.h IN (32, 9, 10, 13)) AND acc.p THEN acc
        |      WHEN (x.h IN (32, 9, 10, 13)) THEN {h: ((31::HUGEINT * acc.h + 32::HUGEINT) % 18446744073709551616::HUGEINT), p: true}
        |      ELSE {h: ((31::HUGEINT * acc.h + (CASE WHEN x.h BETWEEN 65 AND 90 THEN x.h + 32 ELSE x.h END)) % 18446744073709551616::HUGEINT), p: false}
        |    END) AS r))
        |GROUP BY rh""".stripMargin,
    // checks the custom TypedImperativeAggregate (TopKFreq) against a plain
    // SQL windowed top-k over the SAME dumped triples ({OUT} is substituted
    // by Verify with the output directory)
    "kg_top_surfaces" ->
      """SELECT objType, surface, n FROM (
        |  SELECT objType, obj AS surface, CAST(count(*) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY objType
        |      ORDER BY count(*) DESC, obj ASC) AS rn
        |  FROM read_parquet('{OUT}/kg_triples/*.parquet')
        |  GROUP BY objType, obj) WHERE rn <= 5""".stripMargin
  )
}
