package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.Observed

/** Canonicalization of typed surfaces, and the connected-components pass
  * the curation queries share.
  *
  * Reference analog: head_id grouping (clean_and_save.py:1174-1180) assigns
  * one id per identical (head, predicate, catalog, source) group — i.e. CC of
  * the identity graph. We generalize to alias edges so surface variants
  * (boundary-jittered mentions, suffix-merged forms) collapse onto one
  * canonical node.
  *
  * [[canonicalize]] labels the alias graph in closed form: it is a forest of
  * stars (see there), so one aggregate and one join give every vertex its
  * component label, with no iteration and no driver action. A hub is a
  * centre with many leaves; `min` is algebraic, so Spark's map-side partial
  * aggregation absorbs it before the shuffle.
  *
  * [[connectedComponents]] serves general graphs (dedup, similarity, web
  * host components): min-label propagation as DataFrame joins. Each round
  * every vertex adopts the minimum label among itself and its neighbors,
  * then takes one pointer-jumping hop (it adopts its label's label), so a
  * path converges in about log2(diameter) rounds. Per-iteration
  * localCheckpoint truncates lineage so plans don't grow exponentially
  * (SURVEY.md §4.2); AQE skew-join splitting (the session's
  * spark.sql.adaptive.*) covers the hot-key join side.
  *
  * Determinism: component label = min vertex id, vertex ids are
  * content-hashes ([[vertexId]]), so labels are stable across runs,
  * partitionings and cluster sizes — required for resume and for the
  * MERGE materialization to be idempotent.
  */
object Canon {

  private val MaxIter = 20 // connectedComponents round cap

  /** The vertex id of a typed surface: xxhash64 of `surface|entType`,
    * masked to 63 bits so ids and min-labels are non-negative.
    */
  def vertexId(surface: Column, entType: Column): Column =
    xxhash64(concat_ws("|", surface, entType)).bitwiseAND(lit(Long.MaxValue))

  /** edges: DataFrame(src: Long, dst: Long), undirected.
    * Returns DataFrame(v: Long, component: Long) covering every vertex
    * appearing in the edge set; component = min vertex id in the component.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // symmetrize + dedup once; self-loops dropped. r6: partitioned by dst
    // ONCE at persist — every iteration's propagate step joins e on dst,
    // and the distinct's (src, dst) partitioning satisfied none of those
    // joins, so the edge set re-shuffled by dst each round (the
    // WebGraph.hits lesson); one setup exchange now replaces an
    // edge-sized exchange per iteration.
    val e = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .filter($"src" =!= $"dst")
      .distinct()
      .repartition($"dst")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // r6 NOTE (measured, not kept): an isEmpty fast path for edge-free
    // graphs was tried and REVERTED — the probe executes the caller's
    // edge-derivation aggregation up to its first row, which on the
    // non-empty graphs every real caller has is most of the edge cost
    // paid twice (dedup_cluster_pick warm 0.87 → 0.99 s, +0.7 MB
    // shuffle). The two no-op iterations an edge-free graph pays are
    // cheaper than probing for it.

    // labels: v -> current candidate component (min over seen neighbors).
    // Both labels persists (this one and each round's, over an output that
    // is already a localCheckpoint) stay: without them the dedup_semantic
    // query fails in Catalyst, `java.util.NoSuchElementException: key not
    // found: v#1704L` at `UnionBase.rewriteConstraints`
    // (basicLogicalOperators.scala:527); dropping only the per-round one
    // fails the same way. The last round's persist is released on return:
    // the result reads that round's checkpoint.
    var labels: DataFrame = null
    try {
      labels = e.select($"src".as("v")).distinct()
        .withColumn("label", $"v")
        .persist(StorageLevel.MEMORY_AND_DISK)

      // Convergence detection: labels only ever DECREASE under min-propagation,
      // so Σ labels is strictly monotone until the fixpoint — equality of the
      // exact decimal sum across iterations ⟺ no label changed. The sum is an
      // OBSERVED metric collected during the localCheckpoint materialization,
      // so convergence costs zero extra jobs (round 1 ran a labels⋈labels
      // diff-join + count per iteration). decimal(38,0) keeps the 63-bit id
      // sums exact (a Long sum would overflow and could alias).
      var prevSum: java.math.BigDecimal = null
      var iter = 0
      var converged = false
      while (!converged && iter < MaxIter) {
        // propagate: each vertex adopts min(label of neighbors, own label)
        val prop = e.join(labels, e("dst") === labels("v"))
          .select(e("src").as("v"), labels("label"))
          .union(labels.select($"v", $"label"))
          .groupBy($"v").agg(min($"label").as("label"))
        // second hop (pointer-jumping): adopt the label's label — this is what
        // makes convergence logarithmic instead of linear in diameter
        val obs = Observation()
        val jumped = prop.as("p")
          .join(prop.select($"v".as("lv"), $"label".as("llabel")).as("q"),
            col("p.label") === col("q.lv"), "left")
          .select(col("p.v"),
            least(col("p.label"), coalesce(col("q.llabel"), col("p.label")))
              .as("label"))
          .observe(obs, sum(col("label").cast("decimal(38,0)")).as("label_sum"))
          .localCheckpoint(eager = true)
        // NULL sum = EMPTY vertex set (sum over no rows): read as zero
        val sumNow = Option(Observed.await(obs).getDecimal(0))
          .getOrElse(java.math.BigDecimal.ZERO)
        val changed = prevSum == null || sumNow.compareTo(prevSum) != 0
        prevSum = sumNow
        labels.unpersist(blocking = false)
        labels = jumped.persist(StorageLevel.MEMORY_AND_DISK)
        converged = !changed
        iter += 1
      }
      labels.select($"v", $"label".as("component"))
    } finally {
      if (labels != null) labels.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  /** DuckDB mirror of [[connectedComponents]] as a recursive-CTE closure:
    * the sym/reach/comp CTEs over an `edges` (src, dst) table and a
    * one-column `vertices` query, comp = (v, component) with component the
    * min `label` (an SQL expression over the reached vertex `u`).
    */
  def componentsSql(edges: String, vertices: String, label: String): String =
    s"""sym AS (SELECT src, dst FROM $edges WHERE src != dst
       |        UNION SELECT dst, src FROM $edges WHERE src != dst),
       |reach(v, u) AS (
       |  SELECT v, v FROM ($vertices) t(v)
       |  UNION
       |  SELECT r.v, s.dst FROM reach r JOIN sym s ON r.u = s.src),
       |comp AS (SELECT v, min($label) AS component FROM reach GROUP BY v)""".stripMargin

  /** Canonicalize typed surfaces: vertices = (surface, entType) hashed by
    * [[vertexId]]; returns (surface, entType, canonId), canonId = the
    * [[connectedComponents]] label, or the vertex's own id off the edges.
    *
    * `aliasEdges` must be a star forest: no vertex is both the `src` of a
    * non-self edge and the `dst` of another, and each `src` is in at most
    * one non-self edge row. [[graft.link.Link.aliasEdges]] of linker output
    * is one (PropertySpec pins it): a surface has at most one candidate, a
    * gazetteer word, and a word's own candidate is itself. A star's label
    * is then min(centre, min leaf).
    */
  def canonicalize(
      nodes: DataFrame, // (surface, entType)
      aliasEdges: DataFrame // (src, dst) over vertexId
  ): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val spokes = aliasEdges.filter($"src" =!= $"dst")
      .select($"src".as("v"), $"dst".as("c"))
    val centres = spokes.groupBy($"c")
      .agg(least($"c", min($"v")).as("label"))
    val labels = spokes.join(centres, "c").select($"v", $"label")
      .union(centres.select($"c".as("v"), $"label"))
    // vertices not in any edge keep their own id as component
    nodes.withColumn("v", vertexId($"surface", $"entType"))
      .join(labels, Seq("v"), "left")
      .withColumn("canonId", coalesce($"label", $"v"))
      .select($"surface", $"entType", $"canonId")
  }
}
