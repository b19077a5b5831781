package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Divide
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape regression guards, enforced as tests so a refactor can't
  * silently regress them — filter pushdown reaching the scan, broadcast
  * joins on dim tables, no accidental cartesian products, the bounded dedup
  * aggregate actually planning as an object-hash aggregate (partial merge,
  * no full-bucket sort buffer), the link profiles shuffling the
  * `mention_tokens` snapshot once, the link score reading those profiles
  * once, `dedup_url_exact` building its join from the same side on every
  * run, and the triple pipeline up to emission planning no shuffle.
  */
class PlanGuardSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestBase.spark
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // let AQE finalize
    df.queryExecution.executedPlan.toString
  }

  /** Executed plan of the INTERNAL action for the eagerly-materialized
    * dedup calls: minhashLsh/simhashDedup persist their signature stage and
    * checkpoint the verified output, so the returned DataFrame's own plan
    * is just a checkpoint scan — the real pipeline plan is captured from
    * the listener channel, keyed by the observe-node metric name.
    */
  private def internalExecutedPlan(name: String, metricName: String): String =
    capturedPlan(name)((_, qe) => qe.observedMetrics.contains(metricName))
      .toString

  /** Executed plan of the first action of query `name` that `pick` selects,
    * by the action's name and its query execution.
    */
  private def capturedPlan(name: String)(
      pick: (String, QueryExecution) => Boolean): SparkPlan = {
    @volatile var captured: Option[SparkPlan] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (captured.isEmpty && pick(funcName, qe))
          captured = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sf).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      captured.getOrElse(fail(s"internal plan for $name never surfaced"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("filters are pushed to the parquet scan (p13)") {
    val p = executedPlan("p13_filter_guards")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)")
      || p.contains("GreaterThan(n_chars,200)"), p.take(800))
  }

  test("dim joins broadcast; no sort-merge on the dim side (j2)") {
    val p = executedPlan("j2_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("no cartesian product in any oracle query except the documented broadcast-NL baseline") {
    // brute-force ANN is an intentional broadcast nested-loop (tiny side
    // broadcast); everything else must be equi-join shaped
    val exempt = Set("sim_topk_bruteforce")
    // keep runtime bounded: guard the join-bearing query family
    val guarded = Seq("j1_join_lineage", "j2_broadcast_dim",
      "j_anti_no_orders", "j_semi_sold_high", "dedup_embedding_cos",
      "sim_topk_lsh", "sim_topk_ivf",
      "tq_contamination", "dedup_cluster_pick")
    guarded.filterNot(exempt).foreach { name =>
      val p = executedPlan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${p.take(800)}")
    }
    // the eagerly-materialized dedup calls: audit the INTERNAL plan
    Seq("dedup_minhash_lsh" -> "graft.dedup.minhash_buckets",
      "dedup_simhash" -> "graft.dedup.simhash_buckets").foreach {
      case (name, metric) =>
        val p = internalExecutedPlan(name, metric)
        assert(!p.contains("CartesianProduct"),
          s"$name plans a cartesian product:\n${p.take(800)}")
    }
  }

  test("the capped dedup bucket stage plans as ObjectHashAggregate") {
    val p = internalExecutedPlan("dedup_simhash", "graft.dedup.simhash_buckets")
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    // and the old full-bucket collect_list is gone from the bucket stage
    assert(!p.contains("collect_list"), "collect_list back in the cap path")
    // the persisted signature stage is actually read from cache in the
    // internal plan (the single-pass contract)
    assert(p.contains("InMemoryTableScan"), "sigs cache not in the plan")
  }

  test("dedup_url_exact builds its join from canon (BroadcastHashJoin, BuildLeft)") {
    // the query's result is a local checkpoint: its plan comes from the
    // listener channel. Building from canon streams the 25-row `first`, so
    // the written rows are grouped by URL on every run
    val p = capturedPlan("dedup_url_exact")((f, _) => f == "localCheckpoint")
    val joins = collect(p) { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1 && joins.head.buildSide == BuildLeft &&
      joins.head.left.output.exists(_.name == "doc_id"), p.toString.take(1200))
  }

  test("as-of join is ONE window over the union — no join operator at all") {
    val df = SparkEntry.queries("ev_asof_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Window"), p.take(800))
    assert(!p.contains("Join"), s"as-of must not plan a join:\n${p.take(800)}")
  }

  test("range-count and triangle counting plan as equi-joins (no nested loop)") {
    val pr = executedPlan("ev_range_join")
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"), pr.take(800))
    // triangles return a checkpoint scan; the real plan surfaces through
    // the observe-metric listener channel (the minhashLsh audit pattern)
    val pt = internalExecutedPlan("web_host_triangles",
      "graft.webgraph.triangles")
    assert(!pt.contains("CartesianProduct") &&
      !pt.contains("BroadcastNestedLoopJoin"), pt.take(800))
    // and the wedge stage is really join-shaped (not collapsed to a scan)
    assert(pt.contains("Join"), pt.take(800))
  }

  /** Every node of `p` paired with whether it runs inside an in-memory
    * cache: descends through AQE stages and subqueries, and into the plan
    * of each cached relation it scans.
    */
  private def deepNodes(p: SparkPlan,
      inCache: Boolean = false): Seq[(SparkPlan, Boolean)] =
    collectWithSubqueries(p) { case n => n }.flatMap {
      case c: InMemoryTableScanExec =>
        (c, inCache) +: deepNodes(c.relation.cachedPlan, inCache = true)
      case n => Seq((n, inCache))
    }

  private def surfaceKeyed(n: SparkPlan): Boolean = n match {
    case e: ShuffleExchangeExec => e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.flatMap(_.references).exists(_.name == "surface")
      case _ => false
    }
    case _ => false
  }

  test("link profiles over mention_tokens shuffle once on surface, into the tf cache") { SparkTestBase.withTempDir("plan") { tmp =>
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.col
    val dir = tmp.toString + "/mt"
    val arts = graft.pipeline.Pipeline.artifacts(
      graft.corpus.Corpus.pages(spark, 40, 4))
    // the committed snapshot, read back as KgRunner's links stage reads it
    // on the first build and on every resume
    val mentionTokens = graft.snapshot.Snapshot.stage(spark, dir,
      "mention_tokens")(graft.link.Link.mentionTokens(arts))
    Seq(true, false).foreach { aqe =>
      val before = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val nodes = try {
        val profiles = graft.link.Link.contextProfiles(
          mentionTokens.select(col("surface"), col("token")))
        profiles.collect()
        deepNodes(profiles.queryExecution.executedPlan)
      } finally {
        spark.catalog.clearCache() // the tf cache: fresh per plan
        spark.conf.set("spark.sql.adaptive.enabled", before)
      }
      val keyed = nodes.filter(n => surfaceKeyed(n._1)).distinct
      assert(keyed.size == 1 && keyed.head._2,
        s"aqe=$aqe: " + keyed.mkString("\n"))
      assert(!nodes.exists {
        case (_: FileSourceScanExec, inCache) => !inCache
        case _ => false
      }, s"aqe=$aqe: the corpus is scanned outside the tf cache")
    }
  }}

  test("links read the context profiles once: one profile subtree, at most 12 jobs") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val sc = spark.sparkContext
    SparkTestBase.withTempDir("planlinks") { tmp =>
      val b = graft.pipeline.Pipeline.broadcasts(spark)
      val arts = graft.pipeline.Pipeline.artifacts(
        graft.corpus.Corpus.pages(spark, 40, 4), b)
      val mentionTokens = graft.snapshot.Snapshot.stage(spark,
        s"$tmp/mt", "mention_tokens")(graft.link.Link.mentionTokens(arts))
      val group = "plan-guard-links"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null &&
              j.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet()
      }
      val before = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      sc.addSparkListener(listener)
      val plan = try {
        sc.setJobGroup(group, "links")
        val links = graft.link.Link.linkTableFromTokens(mentionTokens, b.trie,
          graft.model.Ontology.jiebaReverse)
        links.collect()
        org.apache.spark.graft.Bus.drain(sc)
        links.queryExecution.executedPlan
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
        spark.catalog.clearCache() // the tf cache: fresh per plan
        spark.conf.set("spark.sql.adaptive.enabled", before)
      }
      // the two-join score ran 36 jobs here
      assert(jobs.get <= 12, s"links ran ${jobs.get} jobs")
      // a profile subtree ends in the projection that divides the weighted
      // tf `w` by its surface's norm; one copy of it means no two exchanges
      // can sit over copies of the same profiles
      val profileRoots = collectWithSubqueries(plan) {
        case p: ProjectExec if p.projectList.exists(_.exists {
          case d: Divide => d.left.references.exists(_.name == "w")
          case _ => false
        }) => p
      }
      assert(profileRoots.size == 1, plan.toString.take(4000))
    }
  }

  test("pages → extract → annotate → triples is narrow: no shuffle exchange") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val triples = graft.pipeline.Triples.fromArtifacts(
        graft.pipeline.Pipeline.artifacts(graft.corpus.Corpus.pages(spark, 40, 4),
          graft.pipeline.Pipeline.broadcasts(spark)))
      assert(triples.collect().nonEmpty)
      val exchanges = collectWithSubqueries(triples.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, exchanges.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("langid stays a narrow single-scan aggregation (no join, no extra scan)") {
    val df = SparkEntry.queries("tq_langid")(spark, sf)
    df.collect()
    // AQE plan strings embed an "Initial Plan" section that duplicates
    // every node — count scans in the Final Plan part only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), p.take(800))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans")
  }
}
