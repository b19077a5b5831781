package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Hashing

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * sign-LSH variant (Charikar, STOC 2002; multi-table amplification per
  * Indyk/Motwani, STOC 1998) as the scale path.
  *
  * Scale notes: brute-force is a broadcast nested-loop (queries broadcast,
  * corpus streamed — right when |queries| is small and the corpus is huge);
  * the LSH variant turns that into ONE shuffle on bucket keys with per-bucket
  * candidate search, trading recall (measured in the spec) for a corpus-sized
  * instead of corpus×queries-sized cost.
  */
object Similarity {

  /** Width of every embedding this object reads. */
  val Dim = 64
  /** Hyperplanes per sign-LSH table ([[hyperplanes]]): one bucket bit each. */
  val SignBits = 8
  /** Tables per vector: sign-LSH ANN ([[lshBucketsDf]], [[lshTopK]]) and
    * embedding near-dup banding ([[embeddingNearDup]]).
    */
  val LshTables = 8
  val NearDupTables = 4
  /** The IVF coarse quantizer: cells, Lloyd iterations, training-sample
    * cap, and the cells [[ivfTopK]] probes per query.
    */
  val Nlist = 16
  val KmeansIters = 5
  val MaxTrain = 4096
  val IvfProbes = 4
  /** Cosine at or above which two embeddings are duplicates
    * ([[semanticDedup]], [[embeddingNearDup]]).
    */
  val DupCosine = 0.95

  /** Cosine similarity between two float-array columns, computed in double.
    * Since round 3 this is the native codegen Catalyst expression
    * [[graft.functions.CosineSim]] — one fused generated loop instead of
    * four interpreted higher-order-function array walks (HOFs are
    * CodegenFallback; the cosine is the innermost kernel of every ANN /
    * near-dup candidate pair, so it must live inside the codegen stage).
    * Zero-norm vectors yield NULL (try_divide parity: 0/0 would throw under
    * ANSI mode, NaN without it — and NaN sorts GREATEST under `desc`,
    * outranking every real neighbor); ranking paths map that NULL to -1.0
    * via [[simOrNeg]] so degenerate vectors sort last instead of first or
    * crashing the job. Bit-exact parity with [[cosineHof]] is spec-pinned.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosine_sim(a, b)

  /** The pre-round-3 pure-`functions._` composition, kept as the reference
    * implementation the parity spec checks the native expression against.
    */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    try_divide(dot, na * nb)
  }

  /** Hardened rounded cosine for ranking: zero-norm → -1.0 (sorts last). */
  private def simOrNeg(a: Column, b: Column): Column =
    coalesce(nanvl(round(cosine(a, b), 6), lit(-1.0)), lit(-1.0))

  /** Exact brute-force top-k: queries (small) broadcast × corpus, cosine,
    * window top-k per query. Output (query_id, neighbor_id, sim, rank).
    */
  def bruteForceTopK(
      embeddings: DataFrame, // (vec_id, embedding)
      queryIds: Seq[Long],
      k: Int
  ): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val queries = embeddings
      .filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val scored = embeddings.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("sim", simOrNeg($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"sim".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"sim", $"rank")
  }

  /** Deterministic random hyperplanes for table `t`: [[SignBits]] × [[Dim]]
    * sign matrix from hashing (each table gets an independent set).
    */
  def hyperplanes(table: Int): Array[Array[Double]] =
    Array.tabulate(SignBits, Dim) { (b, d) =>
      // centered uniform from splitmix — adequate for sign-LSH
      (Hashing.unit(Hashing.mix(0x51a7e5L ^ (table.toLong << 32),
        (b * 1315 + d).toLong)) - 0.5)
    }

  /** Sign-LSH bucket of one embedding over `planes`, on a primitive array —
    * the UDFs receive embeddings as Seq[Float] (WrappedArray), and every
    * element access through that interface boxes; converting once per row
    * keeps the tables × SignBits × Dim inner loop on primitive reads (r6: the
    * bucket-assignment UDF was warm-time-bound on boxed accesses, ~66M per
    * sf0.1 pass).
    */
  private[textops] def signBucketArr(
      emb: Array[Float], planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var b = 0
    while (b < planes.length) {
      var dot = 0.0
      val p = planes(b)
      var d = 0
      val n = math.min(p.length, emb.length)
      while (d < n) { dot += p(d) * emb(d); d += 1 }
      if (dot > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  private[textops] def toArr(emb: Seq[Float]): Array[Float] = emb match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case other => other.toArray
  }

  /** All table buckets for one vector: element t = (t << 24) | bucket_t, so
    * bucket keys never collide across tables.
    */
  def signBuckets(emb: Seq[Float], tables: Array[Array[Array[Double]]]): Seq[Int] = {
    val a = toArr(emb)
    tables.indices.map(t => (t << 24) | signBucketArr(a, tables(t)))
  }

  /** Multi-table LSH ANN: each vector lands in [[LshTables]] sign buckets;
    * queries search the union of their buckets. Output
    * (query_id, neighbor_id, sim, rank).
    *
    * Recall/cost trade: P(candidate found) = 1 − (1 − p^SignBits)^LshTables
    * with p = 1 − θ/π. High-sim neighbors (the ANN contract) are recovered with
    * near-certainty; low-sim "neighbors" of random noise are not — that is
    * the saving vs brute force, not a defect. The spec measures recall on
    * planted near-identical twins.
    */
  /** The (vec_id, bucket) multi-table sign-LSH assignment — the ONLY
    * non-SQL-expressible piece of [[lshTopK]], exposed so the oracle can
    * dump it and re-derive candidate generation + scoring + ranking in
    * plain SQL over it (the {OUT}-dump pattern).
    */
  def lshBucketsDf(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val tables = spark.sparkContext.broadcast(
      Array.tabulate(LshTables)(t => hyperplanes(t)))
    val bucketsUdf = udf { (emb: Seq[Float]) =>
      signBuckets(emb, tables.value)
    }
    embeddings.withColumn("bucket", explode(bucketsUdf($"embedding")))
  }

  def lshTopK(
      embeddings: DataFrame, // (vec_id, embedding)
      queryIds: Seq[Long],
      k: Int
  ): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bucketed = lshBucketsDf(embeddings)
    val queries = bucketed
      .filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"bucket")
    val scored = bucketed.join(queries, "bucket")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"q_emb", $"vec_id", $"embedding")
      .distinct() // a pair can collide in several tables
      .withColumn("sim", simOrNeg($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"sim".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"sim", $"rank")
  }

  /** IVF (inverted-file) ANN: a deterministic Lloyd's k-means coarse
    * quantizer partitions the corpus into [[Nlist]] cells; queries search only
    * their [[IvfProbes]] nearest cells. The second scale path beside sign-LSH —
    * better recall/cost trade when the data has cluster structure.
    *
    * Scale shape: quantizer training reads a bounded hash-capped sample
    * (distributed top-K, driver memory O(MaxTrain)); assignment is a
    * broadcast-centroid narrow map; search shuffles once on cell id.
    * Deterministic: sample and initial centroids are hash-picked, fixed
    * iteration count, ties broken by cell index.
    */
  def kmeansCentroids(
      embeddings: DataFrame // (vec_id, embedding)
  ): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // Quantizer training set: deterministic hash-capped sample. orderBy+limit
    // plans as TakeOrderedAndProject — each partition keeps its local
    // top-MaxTrain by xxhash64(vec_id) and the driver merges, so driver
    // memory is O(MaxTrain) REGARDLESS of corpus size (the round-1 version
    // collected the whole table — a driver OOM at real scale). The hash
    // order is a uniform pseudo-random permutation, so the cap is an
    // unbiased sample; ties (none for distinct ids) break by vec_id.
    val sample = embeddings.select($"vec_id", $"embedding")
      .orderBy(xxhash64($"vec_id").asc, $"vec_id".asc)
      .limit(MaxTrain)
      .as[(Long, Seq[Float])].collect()
      .sortBy(_._1)
      // primitive arrays once — the Lloyd iterations below do
      // iters × |sample| × nlist × dim element reads (r6: boxed Seq access
      // in the inner loop)
      .map { case (id, v) => (id, toArr(v)) }
    if (sample.isEmpty) return Array.empty // empty corpus → no quantizer
    var centroids = Array.tabulate(Nlist) { k =>
      val idx = (Hashing.mix(0x1f5eedL, k.toLong) & Long.MaxValue) %
        sample.length
      sample(idx.toInt)._2.map(_.toDouble)
    }
    def nearest(v: Array[Float], cs: Array[Array[Double]]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cs.length) {
        var d = 0.0
        var i = 0
        val c = cs(k)
        val n = math.min(c.length, v.length)
        while (i < n) { val x = v(i) - c(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      best
    }
    var it = 0
    while (it < KmeansIters) {
      val sums = Array.fill(Nlist)(new Array[Double](Dim))
      val counts = new Array[Long](Nlist)
      sample.foreach { case (_, v) =>
        val k = nearest(v, centroids)
        counts(k) += 1
        var i = 0
        val n = math.min(Dim, v.length)
        while (i < n) { sums(k)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(Nlist) { k =>
        if (counts(k) == 0) centroids(k)
        else sums(k).map(_ / counts(k))
      }
      it += 1
    }
    centroids
  }

  /** The IVF quantizer assignments — corpus cell per vector plus the
    * [[IvfProbes]] probe cells per query — the only non-SQL-expressible
    * pieces of [[ivfTopK]] (deterministic: same input → same hash-picked
    * training sample → same centroids → same assignments, so a
    * separately-run dump sees byte-identical cells). Returned as
    * (cells, probes) where cells = (vec_id, embedding, cell) and
    * probes = (query_id, cell).
    */
  def ivfAssignments(
      embeddings: DataFrame,
      queryIds: Seq[Long]
  ): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val trained = kmeansCentroids(embeddings)
    if (trained.isEmpty) { // empty corpus: empty frames, stable schemas
      val cells = embeddings.limit(0)
        .select($"vec_id", $"embedding", lit(0).as("cell"))
      val probes = embeddings.limit(0)
        .select($"vec_id".as("query_id"), lit(0).as("cell"))
      return (cells, probes)
    }
    val cents = spark.sparkContext.broadcast(trained)
    // primitive-array distance kernel (r6: the assignment UDF reads
    // nlist × dim elements per row — boxed Seq access dominated it)
    def dist2(v: Array[Float], c: Array[Double]): Double = {
      var d = 0.0
      var i = 0
      val n = math.min(c.length, v.length)
      while (i < n) { val x = v(i) - c(i); d += x * x; i += 1 }
      d
    }
    val cellUdf = udf { (emb: Seq[Float]) =>
      val a = toArr(emb)
      val cs = cents.value
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = dist2(a, cs(i))
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    val probeUdf = udf { (emb: Seq[Float]) =>
      val a = toArr(emb)
      cents.value.indices
        .map(i => (dist2(a, cents.value(i)), i))
        .sorted.take(IvfProbes).map(_._2)
    }
    val cells = embeddings
      .select($"vec_id", $"embedding", cellUdf($"embedding").as("cell"))
    val probes = embeddings
      .filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id".as("query_id"),
        explode(probeUdf($"embedding")).as("cell"))
    (cells, probes)
  }

  def ivfTopK(
      embeddings: DataFrame,
      queryIds: Seq[Long],
      k: Int
  ): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (cells, probes) = ivfAssignments(embeddings, queryIds)
    val queries = probes
      .join(embeddings.select($"vec_id".as("query_id"),
        $"embedding".as("q_emb")), "query_id")
    val scored = cells.join(queries, "cell")
      .filter($"vec_id" =!= $"query_id")
      .withColumn("sim", simOrNeg($"q_emb", $"embedding"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"sim".desc, $"vec_id".asc)
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"sim", $"rank")
  }

  /** The k-means cell assignment (vec_id, embedding, cell) used by
    * [[semanticDedup]] — the IVF coarse quantizer with no probe side. This
    * is the ONLY non-SQL-expressible piece of the semantic-dedup path,
    * exposed so the oracle can dump it and re-derive capping, cosine
    * verification and the component pick in plain SQL ({OUT} pattern).
    */
  def semanticCells(embeddings: DataFrame): DataFrame =
    ivfAssignments(embeddings, Seq.empty)._1

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv
    * 2303.09540): embedding-level duplicate removal for pairs that share
    * MEANING but not shingles — the modern pass a training pipeline runs
    * beside MinHash.
    *
    * Shape: (1) k-means cells from the IVF coarse quantizer — candidate
    * pairs form ONLY inside a cell, so the corpus-wide all-pairs cosine the
    * paper replaces never exists here either; (2) intra-cell candidates
    * through the same BoundedEnds-capped bucket stage as every dedup path
    * (cap observable on `graft.dedup.semantic_cells`); (3) exact cosine
    * verification at [[DupCosine]]; (4) connected components over verified
    * edges with keep-first (min-id) canonical pick — the same skew-guarded
    * CC engine as KG canonicalization.
    *
    * Output (vec_id, cell, cluster, keep) covering EVERY input vector.
    * The cells frame feeds three consumers (banding + both verify sides);
    * at 100 TB persist [[semanticCells]]' output first (the caller-owned-
    * cache contract of [[TextOps.ngramLogFreqScore]]) — quantizer TRAINING
    * runs once per call regardless (driver-side on a bounded sample).
    */
  def semanticDedup(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // The cell-assignment stage feeds FOUR consumers (banding, both sides
    // of the cosine verify, the final labeled output). Same shape as
    // minhashLsh's signature stage: persist for the duration of the call,
    // eagerly materialize the verified edge set (the small end of the
    // funnel — orders of magnitude below the corpus), release the cache in
    // finally. The returned frame re-derives cells ONCE lazily at
    // consumption (narrow scan + assignment UDF, no shuffle), so the total
    // is 2 corpus passes instead of 5.
    val cells = semanticCells(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = cells.select(lit(0).as("band"),
        $"cell".cast("long").as("bucket"), $"vec_id".as("id"))
      val pairs = Dedup.cappedPairs(banded, "graft.dedup.semantic_cells")
      val edges = pairs
        .join(cells.select($"vec_id".as("id_a"), $"embedding".as("emb_a")),
          "id_a")
        .join(cells.select($"vec_id".as("id_b"), $"embedding".as("emb_b")),
          "id_b")
        .withColumn("sim", round(cosine($"emb_a", $"emb_b"), 6))
        .filter($"sim" >= DupCosine)
        .select($"id_a".as("src"), $"id_b".as("dst"))
        .localCheckpoint(true)
      // CC materializes its labels internally (iterative, checkpointed per
      // round), so it runs entirely against the tiny edge set
      val cc = graft.canon.Canon.connectedComponents(edges)
      // ONE pass over cells for the labeled output (clusterCanonical's
      // docIds-join-then-cell-join shape would scan cells twice)
      cells.join(cc, cells("vec_id") === cc("v"), "left")
        .select(cells("vec_id"), $"cell",
          coalesce($"component", cells("vec_id")).as("cluster"))
        .withColumn("keep", $"vec_id" === $"cluster")
    } finally {
      cells.unpersist(false)
      ()
    }
  }

  /** Embedding-cosine near-duplicate pairs via multi-table LSH buckets (the
    * 5th dedup modality): pairs sharing any table's sign bucket with
    * sim >= [[DupCosine]].
    *
    * Candidates flow through [[Dedup.cappedPairs]] — the same MaxBucket-
    * capped, observably-truncating bucket stage as the minhash/simhash
    * paths. The round-2 version joined bucket-against-bucket UNCAPPED over
    * only 2^SignBits fixed buckets, so bucket size grew O(N) with the corpus
    * and within-bucket pairs O(N²) — the one remaining all-pairs risk at
    * 100 TB. Multi-table banding (band = table id) plus the cap bounds
    * per-bucket fan-out at MaxBucket²/2 regardless of corpus size, with
    * dropped candidates counted in the `graft.dedup.embedding_buckets`
    * observe metrics. Recall for near-identical pairs survives the
    * trade: a twin at cos≈1 shares every table's bucket, so it gets
    * NearDupTables independent chances to land in an un-truncated slice.
    */
  def embeddingNearDup(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val tables = spark.sparkContext.broadcast(
      Array.tabulate(NearDupTables)(t => hyperplanes(t)))
    val bucketsUdf = udf { (emb: Seq[Float]) =>
      signBuckets(emb, tables.value)
    }
    val banded = embeddings
      .select($"vec_id".as("id"), $"embedding")
      .withColumn("b", explode(bucketsUdf($"embedding")))
      // band = table id (top bits of the combined key), bucket = full key
      .select(shiftright($"b", 24).as("band"), $"b".as("bucket"), $"id")
    val pairs = Dedup.cappedPairs(banded, "graft.dedup.embedding_buckets")
    pairs
      .join(embeddings.select($"vec_id".as("id_a"),
        $"embedding".as("emb_a")), "id_a")
      .join(embeddings.select($"vec_id".as("id_b"),
        $"embedding".as("emb_b")), "id_b")
      .withColumn("sim", round(cosine($"emb_a", $"emb_b"), 6))
      .filter($"sim" >= DupCosine)
      .select($"id_a", $"id_b", $"sim")
  }
}
