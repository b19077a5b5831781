package graft.textops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Observed

/** Host-level link-graph analytics for web corpora: edge extraction from
  * document text plus an integer-exact damped PageRank (Page et al. 1999,
  * "The PageRank Citation Ranking") — the curation signal RefinedWeb /
  * Common-Crawl-style pipelines use to rank domains for quality priors
  * and crawl scheduling.
  *
  * Everything is fixed-point BIGINT arithmetic (ranks scaled by 10^6,
  * floor division) so the distributed result is bit-identical to the
  * generated DuckDB mirror — no float transport, no summation-order
  * sensitivity.
  */
object WebGraph {

  /** Rank fixed-point scale (rank 1.0 == 10^6). */
  val rankScale = 1000000L

  /** Damping factor as an integer percent (0.85). */
  val dampPct = 85L

  /** The teleport base every node receives each iteration:
    * (1 - d) * scale, in integer math.
    */
  val rankBase: Long = (100L - dampPct) * rankScale / 100L

  /** Directed host-graph edges from a corpus: one (src, dst) row per link
    * occurrence (duplicates KEPT — a page linking a host 40 times casts 40
    * weighted votes, matching the duplicate-host stance of
    * [[TextOps.urlHosts]]). src is the document's own origin column, dst
    * every linked host in the text; both lowercased (the host charset is
    * ASCII by [[TextOps.urlHostPattern]], so `lower` agrees across
    * engines). NULL endpoints are dropped — NULL join/group semantics
    * differ between engines and a NULL host is not a node.
    *
    * Narrow: explode inside the scan stage, no shuffle.
    */
  def hostGraphEdges(
      docs: DataFrame,
      srcCol: String,
      textCol: String): DataFrame = {
    docs
      .select(lower(col(srcCol)).as("src"),
        explode(TextOps.urlHosts(col(textCol))).as("dst0"))
      .select(col("src"), lower(col("dst0")).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
  }

  /** Power steps of the web_host_rank query and of [[hostRankSql]]. */
  val RankIterations = 3

  /** Damped PageRank over a (src, dst) edge table, `iterations` synchronous
    * power-method steps, all integer:
    *
    *   contrib(e)  = rank(src) div outdeg(src)
    *   rank'(v)    = rankBase + (dampPct * sum contrib(e into v)) div 100
    *
    * Nodes = distinct src ∪ dst; every node starts at [[rankScale]]; a node
    * with no in-links settles at [[rankBase]]. Dangling mass (ranks of
    * hosts with no out-links) is dropped rather than redistributed — the
    * standard simplification; it rescales, never reorders. All divisions
    * are floor divisions of non-negative BIGINTs, so Spark's `div` and
    * DuckDB's `//` agree exactly.
    *
    * Scale shape: edges are hash-partitioned by `src` ONCE and persisted —
    * each iteration's rank join then co-partitions on src (one exchange for
    * the rank side, none for the corpus-sized edge side), and the
    * `groupBy(dst)` transpose is the per-iteration shuffle PageRank cannot
    * avoid (partial-aggregated map-side, so a hub host receives one merged
    * row per partition, not a skewed fan-in). The rank table is |hosts|
    * rows — millions at 100 TB, far smaller than the corpus but not
    * broadcastable, hence the keyed joins. The rank table is checkpointed
    * EVERY iteration (the [[graft.canon.Canon]] stance): iterative plans
    * otherwise nest one join+agg layer per step, and Catalyst re-analyzes,
    * re-optimizes and re-codegens the whole accumulated tree each pass —
    * measured 17.3 s cold / 3.4 s warm at sf0.1 for 3 iterations lazy vs
    * 11.5 s / 1.9 s checkpointed; at production counts (20+, to
    * convergence) the lazy form is super-linear while the checkpointed
    * form stays linear in iterations.
    */
  def hostRank(edges0: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    // (src, dst, deg): reuses edges' src partitioning — AQE sees both
    // sides pre-partitioned on src, no extra exchange for the edge side.
    // r6: PERSISTED — left lazy, every iteration's checkpoint job re-ran
    // the outdeg groupBy + degree join from the edge cache (3 extra
    // edge-sized stages at 3 iterations; linear in iteration count at
    // convergence-level counts). The degree join is computed once and each
    // power step reads the cached (src, dst, deg) table directly.
    // Memory: both caches are MEMORY_AND_DISK (spill, not OOM); at
    // production scale drop the raw `edges` cache once withDeg and nodes
    // have materialized — here both live only for the call.
    val withDeg = {
      val outdeg = edges.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
      edges.join(outdeg, Seq("src")).persist()
    }
    try {
      val nodes = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host")))
        .distinct().persist()
      var rank = nodes.select(col("host"),
        lit(rankScale).as("rank_x1e6"))
      for (_ <- 1 to iterations) {
        val contrib = withDeg
          .join(rank, col("src") === col("host"))
          .select(col("dst"), expr("rank_x1e6 div deg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        rank = nodes.join(contrib, col("host") === col("dst"), "left")
          .select(col("host"),
            expr(s"CAST($rankBase + ($dampPct * coalesce(m, CAST(0 AS BIGINT)))" +
              " div 100 AS BIGINT)").as("rank_x1e6"))
          .localCheckpoint(true)
      }
      // rank is already materialized; the persisted inputs can go
      nodes.unpersist()
      rank
    } finally {
      withDeg.unpersist()
      edges.unpersist()
      ()
    }
  }

  /** The shared edge-extraction + node CTE prefix of the SQL mirrors
    * (exr/ex/nodes — the [[hostGraphEdges]] semantics in DuckDB).
    */
  private def edgeCtes(table: String, srcCol: String = "source"): String = {
    val pat = TextOps.urlHostPattern.replace("'", "''")
    s"""exr AS (
       |  SELECT lower($srcCol) AS src,
       |    unnest(regexp_extract_all(coalesce(text, ''), '$pat', 1)) AS dst0
       |  FROM $table),
       |ex AS (
       |  SELECT src, lower(dst0) AS dst FROM exr
       |  WHERE src IS NOT NULL AND dst0 IS NOT NULL),
       |nodes AS (SELECT src AS host FROM ex UNION SELECT dst FROM ex)""".stripMargin
  }

  /** DuckDB mirror of [[hostGraphEdges]] + [[hostRank]] over a
    * (source, text) table — generated from the same constants and
    * [[RankIterations]] power steps, one CTE layer per step.
    */
  def hostRankSql(table: String): String = {
    val iters = (1 to RankIterations).map { i =>
      s"""r$i AS (
         |  SELECT n.host,
         |    CAST($rankBase + ($dampPct * coalesce(s.m, 0)) // 100 AS BIGINT)
         |      AS rank_x1e6
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS host, sum(r.rank_x1e6 // o.deg) AS m
         |    FROM ex e
         |    JOIN r${i - 1} r ON e.src = r.host
         |    JOIN outdeg o ON e.src = o.src
         |    GROUP BY e.dst) s ON n.host = s.host)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(table)},
       |outdeg AS (SELECT src, count(*) AS deg FROM ex GROUP BY src),
       |r0 AS (SELECT host, CAST($rankScale AS BIGINT) AS rank_x1e6
       |       FROM nodes),
       |$iters
       |SELECT host, rank_x1e6 FROM r$RankIterations""".stripMargin
  }

  /** Deterministic 60-bit host id: the leading 15 hex digits of md5(host),
    * the [[TextOps.md5Bucket]] bridge widened to an id space. Both engines
    * render it identically (`conv(substr(md5(h),1,15),16,10)` vs
    * `CAST('0x' || substr(md5(h),1,15) AS BIGINT)`), 15 hex digits = 60
    * bits so the BIGINT is always positive and never overflows. A
    * collision would merge two components on the Spark side ONLY (the SQL
    * mirror closes over host STRINGS and applies the id just for the final
    * min-label), so a collision shows up as a red oracle rather than a
    * silent agreement — acceptable because even odds need ~2^30 distinct
    * hosts (birthday bound), far above any real host count.
    */
  def hostId(host: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(host), 1, 15), 16, 10).cast("long")

  /** SQL rendering of [[hostId]] over a host expression. */
  def hostIdSql(hostExpr: String): String =
    s"CAST(('0x' || substr(md5($hostExpr), 1, 15)) AS BIGINT)"

  /** Weakly-connected components of a host graph: the crawl-frontier /
    * mirror-site-family analysis (a component of hosts that only link each
    * other is one "site family" — the unit RefinedWeb-style pipelines
    * apply per-site quality decisions to). Hosts are mapped to [[hostId]]
    * longs and run through the KG CC engine
    * ([[graft.canon.Canon.connectedComponents]]: min-label propagation,
    * pointer jumping, observed-metric convergence) — the same engine
    * corpus dedup uses. `component_id` = min [[hostId]] in the component;
    * a host with no non-self edges is its own singleton component (the CC
    * engine drops self-loops, so the left join coalesces those back).
    *
    * Output: (host, component_id) covering every host in the edge set.
    */
  def hostComponents(edges0: DataFrame): DataFrame = {
    // persisted: consumed by BOTH the host spine and the CC engine — the
    // hostRank stance; without it the corpus-scan link extraction behind
    // edges0 runs twice (different projections, no exchange reuse)
    val edges = edges0.select(col("src"), col("dst")).persist()
    try {
      val hosts = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host")))
        .distinct()
        .withColumn("hid", hostId(col("host")))
      val cc = graft.canon.Canon.connectedComponents(
        edges.select(hostId(col("src")).as("src"),
          hostId(col("dst")).as("dst")))
      hosts.join(cc, hosts("hid") === cc("v"), "left")
        .select(col("host"),
          coalesce(col("component"), col("hid")).as("component_id"))
        // materialize before the finally releases the edge cache
        .localCheckpoint(true)
    } finally { edges.unpersist(); () }
  }

  /** DuckDB mirror of [[hostGraphEdges]] + [[hostComponents]] over a
    * (host, text) table: recursive-CTE transitive closure (the
    * [[graft.textops.Dedup.clusterCanonical]] oracle pattern) with the
    * same md5 id space — a full cross-engine check of the string-graph →
    * CC path.
    */
  def hostComponentsSql(table: String): String =
    s"""WITH RECURSIVE ${edgeCtes(table, "host")},
       |sym AS (SELECT src, dst FROM ex WHERE src != dst
       |        UNION SELECT dst, src FROM ex WHERE src != dst),
       |reach(v, u) AS (
       |  SELECT host, host FROM nodes
       |  UNION
       |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src)
       |SELECT v AS host, min(${hostIdSql("u")}) AS component_id
       |FROM reach GROUP BY v""".stripMargin

  /** Per-host triangle counts over the undirected host graph — the local
    * clustering signal link-spam detection uses (spam farms are near-
    * cliques; organic link neighborhoods are sparse). Implements the
    * degree-ordered "compact-forward" scheme (Chiba & Nishizeki 1985;
    * Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    * Last Reducer"): every edge is oriented from its lower-(degree, host)
    * endpoint to the higher, so wedges are only generated AT the lowest-
    * ranked vertex of each triangle — total wedge volume is O(E^1.5)
    * regardless of skew, where the naive join explodes quadratically on
    * the first hub host.
    *
    * Shuffle shape: one distinct (undirected edge set), one degree
    * groupBy, the wedge self-join keyed on the low vertex, and the closing
    * -edge join keyed on (v, w) — all partial-aggregatable or co-
    * partitioned; no all-pairs stage exists. Output (host, n_tri) covers
    * every host with at least one NON-SELF edge, zeros included —
    * self-loop-only hosts are dropped with their loops (they cannot be in
    * a triangle; join [[hostComponents]], which keeps them as singletons,
    * for a full-spine view). The mirror drops them identically.
    */
  def triangleCounts(edges0: DataFrame): DataFrame = {
    val und = edges0
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist()
    try {
      val deg = und.select(col("a").as("host"))
        .union(und.select(col("b").as("host")))
        .groupBy(col("host")).agg(count(lit(1)).as("d"))
      // orient each undirected edge low→high in (degree, host) order
      val oriented = und
        .join(deg.select(col("host").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("host").as("b"), col("d").as("db")), Seq("b"))
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"),
              col("db").as("dv")))
            .otherwise(struct(col("b").as("u"), col("a").as("v"),
              col("da").as("dv"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
        .persist()
      try {
        // wedges at the lowest-ranked vertex: (u, v, w) with v before w
        val wedges = oriented.select(col("u"), col("v"), col("dv"))
          .join(oriented.select(col("u"), col("v").as("w"),
            col("dv").as("dw")), Seq("u"))
          .filter(col("dv") < col("dw") ||
            (col("dv") === col("dw") && col("v") < col("w")))
        // the closing edge (v, w) is oriented v→w by the rank order above
        val tri = wedges.join(
          oriented.select(col("u").as("v"), col("v").as("w")),
          Seq("v", "w"))
        val counts = tri
          .select(explode(array(col("u"), col("v"), col("w"))).as("host"))
          .groupBy(col("host")).agg(count(lit(1)).as("n_tri"))
        deg.select(col("host"))
          .join(counts, Seq("host"), "left")
          .select(col("host"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"))
          // observed during the checkpoint materialization (zero extra
          // jobs); ALSO what lets PlanGuardSpec capture the real internal
          // plan from the listener channel — the returned DF is a
          // checkpoint scan (the minhashLsh caveat)
          .observe("graft.webgraph.triangles",
            count(lit(1)).as("n_hosts"),
            sum(col("n_tri")).as("tri_mass"))
          // materialize before the persisted inputs are released below
          .localCheckpoint(true)
      } finally { oriented.unpersist(); () }
    } finally { und.unpersist(); () }
  }

  /** DuckDB mirror of [[hostGraphEdges]] + [[triangleCounts]]: canonical
    * a<b<c triple-join enumeration (each triangle once) — a deliberately
    * DIFFERENT enumeration strategy from the degree-ordered Spark plan, so
    * the oracle checks the count semantics, not the plan.
    */
  def triangleCountsSql(table: String): String =
    s"""WITH ${edgeCtes(table)},
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM ex WHERE src != dst),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pern AS (SELECT unnest([x, y, z]) AS host FROM tri),
       |dn AS (SELECT a AS host FROM und UNION SELECT b FROM und)
       |SELECT dn.host, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tri
       |FROM dn LEFT JOIN (
       |  SELECT host, count(*) AS n FROM pern GROUP BY host) c
       |  ON dn.host = c.host""".stripMargin

  /** HITS fixed-point scale (score 1.0 == 2^20; power-of-two so the
    * normalizing divisor `max div 2^20` is exact integer arithmetic).
    */
  val hitsScale = 1048576L

  /** Synchronous rounds of [[hits]] and [[hitsSql]]. */
  val HitsIterations = 3

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources in a
    * Hyperlinked Environment") over a (src, dst) edge table,
    * [[HitsIterations]] synchronous rounds, all integer:
    *
    *   auth_raw(v) = Σ_{u→v} hub(u);   auth = auth_raw div (amax div S, min 1)
    *   hub_raw(u)  = Σ_{u→v} auth(v);  hub  = hub_raw  div (hmax div S, min 1)
    *
    * Max-normalization (not L2 — no square roots in integer math) keeps
    * scores in ~[0, 2S]. CRITICALLY the normalizer is TWO floor divisions
    * rather than `raw * S div max`: the multiply form overflows Long once
    * raw > 2^43 (a 10^7-in-link hub), while the division form never
    * multiplies, so sums stay ≤ |E| · 2S ≈ 2·10^15 at 10^9 edges — safe at
    * any web-graph size. All operands non-negative, so Spark `div` and
    * DuckDB `//` agree exactly.
    *
    * A node with no in-links has authority 0; no out-links, hub 0. Same
    * scale shape as [[hostRank]]: edges partitioned by one endpoint and
    * persisted, the per-half-step transpose groupBy is the unavoidable
    * shuffle (partial-aggregated), the max is a broadcast singleton, and
    * scores are checkpointed per iteration (same re-codegen lesson).
    * Output (host, hub_x2p20, auth_x2p20).
    */
  def hits(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    // r6: HITS probes edges from BOTH endpoints every round — the auth
    // half-step joins on src (co-partitioned with the cache above, free),
    // but the hub half-step joins on dst, which re-shuffled the whole
    // corpus-sized edge table by dst ONCE PER ITERATION (the round-to-round
    // hub input differs, so AQE stage reuse cannot carry the exchange
    // across rounds). A second persisted copy partitioned by dst pays that
    // shuffle exactly once; each round's hub join is then exchange-free on
    // the edge side — per-iteration shuffle drops to the score tables only.
    val edgesByDst = edges.repartition(col("dst")).persist()
    try {
      val nodes = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host")))
        .distinct().persist()
      var hub = nodes.select(col("host"), lit(hitsScale).as("s"))
      var auth: DataFrame = null
      // r6: each half-step's RAW table is checkpointed with its maximum
      // collected as an OBSERVED metric during that same materialization
      // (the Canon convergence-read pattern — zero extra jobs); the
      // normalization is then a lazy projection over the checkpoint with
      // the divisor as a LITERAL. The r5 form computed the max as a
      // broadcast scalar (crossJoin(broadcast(agg))) — an extra stage set
      // per half-step, plus the post-shuffle half-step aggregate executed
      // twice (once under the broadcast, once under the join; stage reuse
      // shares only the exchange). Same integer math, same divisors, same
      // scores (warm 2.31 → 1.26 s at sf0.1 for the 3-iteration query).
      def rawMax(df: DataFrame): (DataFrame, Long) = {
        val obs = Observation()
        val ck = df.observe(obs, max(col("raw")).as("mx"))
          .localCheckpoint(true)
        val row = Observed.await(obs)
        (ck, if (row.isNullAt(0)) 0L else row.getLong(0))
      }
      for (_ <- 1 to HitsIterations) {
        val (ar, amx) = rawMax(
          edges.join(hub, col("src") === col("host"))
            .groupBy(col("dst")).agg(sum(col("s")).as("raw")))
        val aDiv = math.max(amx / hitsScale, 1L)
        auth = ar.select(col("dst"),
          expr(s"raw div CAST($aDiv AS BIGINT)").as("s"))
        val (hr, hmx) = rawMax(
          edgesByDst
            .join(auth.withColumnRenamed("dst", "adst"),
              col("dst") === col("adst"))
            .groupBy(col("src")).agg(sum(col("s")).as("raw")))
        val hDiv = math.max(hmx / hitsScale, 1L)
        hub = hr.select(col("src").as("host"),
          expr(s"raw div CAST($hDiv AS BIGINT)").as("s"))
      }
      val out = nodes
        .join(hub.withColumnRenamed("s", "hub_x2p20"), Seq("host"), "left")
        .join(auth.withColumnRenamed("dst", "host")
          .withColumnRenamed("s", "auth_x2p20"), Seq("host"), "left")
        .select(col("host"),
          coalesce(col("hub_x2p20"), lit(0L)).as("hub_x2p20"),
          coalesce(col("auth_x2p20"), lit(0L)).as("auth_x2p20"))
        .localCheckpoint(true)
      nodes.unpersist()
      out
    } finally {
      edgesByDst.unpersist()
      edges.unpersist()
      ()
    }
  }

  /** DuckDB mirror of [[hostGraphEdges]] + [[hits]] over a (source, text)
    * table — one a/h CTE pair per round, scalar-subquery maxima, same
    * two-floor-division normalizer.
    */
  def hitsSql(table: String): String = {
    val iters = (1 to HitsIterations).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst, sum(h.s) AS raw FROM ex e
         |  JOIN h${i - 1} h ON e.src = h.host GROUP BY e.dst),
         |a$i AS (
         |  SELECT dst, raw // greatest((SELECT max(raw) FROM ar$i)
         |    // $hitsScale, 1) AS s FROM ar$i),
         |hr$i AS (
         |  SELECT e.src, sum(a.s) AS raw FROM ex e
         |  JOIN a$i a ON e.dst = a.dst GROUP BY e.src),
         |h$i AS (
         |  SELECT src AS host, raw // greatest((SELECT max(raw) FROM hr$i)
         |    // $hitsScale, 1) AS s FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeCtes(table)},
       |h0 AS (SELECT host, CAST($hitsScale AS BIGINT) AS s FROM nodes),
       |$iters
       |SELECT n.host,
       |  CAST(coalesce(h.s, 0) AS BIGINT) AS hub_x2p20,
       |  CAST(coalesce(a.s, 0) AS BIGINT) AS auth_x2p20
       |FROM nodes n
       |LEFT JOIN h$HitsIterations h ON n.host = h.host
       |LEFT JOIN a$HitsIterations a ON n.host = a.dst""".stripMargin
  }
}
