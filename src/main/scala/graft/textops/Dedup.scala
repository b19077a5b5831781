package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.{CacheScope, Hashing}

/** Near-duplicate detection at training-data scale: MinHash+LSH (Broder,
  * "On the resemblance and containment of documents", 1997; banding per
  * Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3), SimHash
  * (Charikar, "Similarity estimation techniques from rounding algorithms",
  * STOC 2002; hamming-banding per Manku et al., WWW 2007), n-gram Jaccard
  * verification, embedding-cosine near-dup.
  *
  * Shape (identical for all variants, and the part that matters at 100 TB):
  *   1. per-doc signature — row-local, narrow, no shuffle;
  *   2. banding — explode to (band, bucket) keys, ONE shuffle on bucket;
  *   3. candidate pairs inside buckets — bounded fan-out (bucket lists are
  *      capped; a bucket of identical boilerplate would otherwise explode
  *      quadratically — cap + count is the standard guard);
  *   4. verification — join text/signature back, exact metric row-local.
  * Total: 2-3 shuffles regardless of corpus size; everything else narrow.
  */
object Dedup {

  final val NumHashes = 128
  final val Bands = 16
  final val RowsPerBand = NumHashes / Bands // 8
  final val MaxBucket = 50 // cap candidate fan-out per bucket
  final val ShingleWords = 3 // words per shingle
  final val MinhashThreshold = 0.5 // exact Jaccard a minhash pair must reach
  final val BloomFpp = 0.01 // corpus bloom false-positive rate
  final val RareMinShared = 2 // df=2 shingles a rare-feature edge needs
  final val SubstrWords = 8 // words per exact-substring gram

  /** Word [[ShingleWords]]-gram shingles, hashed to 64-bit. r6: the windows are
    * hashed by streaming each window's chars (words joined by one space)
    * straight through the fnv1a64 fold — no per-shingle mkString/sliding
    * allocation; value-identical to fnv1a64(window.mkString(" ")), pinned
    * by PropertySpec against [[shingleStrings]].
    */
  def shingles(text: String): Array[Long] = {
    if (text == null) return Array.empty
    val words = text.split(" +").filter(_.nonEmpty)
    if (words.length < ShingleWords) {
      if (words.isEmpty) Array.empty
      else Array(Hashing.fnv1a64(words.mkString(" ")))
    } else {
      val out = new Array[Long](words.length - ShingleWords + 1)
      var i = 0
      while (i < out.length) {
        var h = Hashing.FnvOffset
        var j = i
        while (j < i + ShingleWords) {
          if (j > i) { // the ' ' joiner, folded as its two UTF-16 bytes
            h ^= 0x20L; h *= Hashing.FnvPrime
            h *= Hashing.FnvPrime // high byte 0: h ^= 0 is a no-op
          }
          val w = words(j)
          var k = 0
          while (k < w.length) {
            val c = w.charAt(k)
            h ^= (c & 0xff).toLong; h *= Hashing.FnvPrime
            h ^= ((c >> 8) & 0xff).toLong; h *= Hashing.FnvPrime
            k += 1
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** Word n-gram shingles as strings — the un-hashed form of [[shingles]]
    * (same tiling semantics), for paths that must be recomputable by a SQL
    * engine (e.g. the DuckDB n-gram-Jaccard oracle). The hashed form stays
    * the hot-path representation.
    */
  def shingleStrings(text: String): Array[String] = {
    if (text == null) return Array.empty
    val words = text.split(" +").filter(_.nonEmpty)
    if (words.length < ShingleWords) {
      if (words.isEmpty) Array.empty else Array(words.mkString(" "))
    } else {
      words.sliding(ShingleWords).map(_.mkString(" ")).toArray
    }
  }

  /** DuckDB mirror of [[shingleStrings]], distinct per document: a
    * (doc_id, s) select over a (doc_id, text) table.
    */
  def shingleSetSql(table: String): String =
    s"""SELECT doc_id,
       |    list_distinct(CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
       |      WHEN len(words) < $ShingleWords THEN [array_to_string(words, ' ')]
       |      ELSE list_transform(generate_series(1, len(words)-${ShingleWords - 1}),
       |             i -> array_to_string(words[i:i+${ShingleWords - 1}], ' ')) END) AS s
       |  FROM (SELECT doc_id,
       |          list_filter(string_split_regex(text, ' +'), w -> len(w) > 0) AS words
       |        FROM $table)""".stripMargin

  /** mix(s, h) = mix(s ^ mix(h)) — the inner mix(h) depends only on the
    * permutation index, so the 128 values are precomputed once (r6: halves
    * the dominant per-(shingle, permutation) work of the signature kernel;
    * value-identical by [[Hashing.mix]]'s own definition).
    */
  private val permSeed: Array[Long] =
    Array.tabulate(NumHashes)(h => Hashing.mix(h.toLong))

  /** MinHash signature: NumHashes permutations via splitmix64 re-mix. */
  def minhashSignature(sh: Array[Long]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val seeds = permSeed
    var i = 0
    while (i < sh.length) {
      val s = sh(i)
      var h = 0
      while (h < NumHashes) {
        val v = Hashing.mix(s ^ seeds(h))
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  def exactJaccard(a: Array[Long], b: Array[Long]): Double = {
    val sa = a.toSet
    val sb = b.toSet
    val union = sa.union(sb).size
    if (union == 0) 1.0 else sa.intersect(sb).size.toDouble / union
  }

  /** Band keys for a (id, sig[128]) signature table — THE single banding
    * definition (seed 0xcafebabe ^ band, RowsPerBand sig values mixed per
    * band) shared by [[minhashLsh]], [[minhashBucketStats]] and
    * [[incrementalMinhash]]: a seed or band-count drift between producers
    * would silently empty every bucket join, so there is exactly one body.
    */
  private[textops] def bandedSigs(
      sigs: DataFrame, outCol: String): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    sigs.select($"id", $"sig").as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until Bands).map { b =>
          var h = 0xcafe_babeL ^ b.toLong
          var r = 0
          while (r < RowsPerBand) {
            h = Hashing.mix(h, sig(b * RowsPerBand + r)); r += 1
          }
          (b, h, id)
        }
      }.toDF("band", "bucket", outCol)
  }

  /** Capped per-bucket id lists — the BoundedEnds + observe stage shared
    * by [[cappedPairs]] (same-table pairing) and [[incrementalMinhash]]
    * (cross-table join): (band, bucket, n_total, ids) with `ids` the
    * MaxBucket/2 smallest + largest members and the truncation metrics on
    * the named observe node.
    */
  private[textops] def cappedBuckets(
      banded: DataFrame, metricName: String): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded
      .groupBy($"band", $"bucket")
      .agg(graft.functions.BoundedEnds
        .bounded_ends($"id", MaxBucket / 2).as("be"))
      .select($"band", $"bucket", $"be.n_total".as("n_total"),
        $"be.ids".as("ids"))
      .observe(metricName,
        sum(when($"n_total" > MaxBucket, 1L).otherwise(0L))
          .as("truncated_buckets"),
        sum(greatest($"n_total" - MaxBucket, lit(0L))).as("dropped_ids"),
        max($"n_total").as("max_bucket_size"))
  }

  /** Per-bucket candidate generation with the MaxBucket cap, shared by the
    * MinHash, SimHash and embedding-LSH paths. Input (band, bucket, id);
    * output distinct (id_a, id_b) with id_a < id_b.
    *
    * The cap keeps the MaxBucket/2 SMALLEST and MaxBucket/2 LARGEST ids of
    * an oversize bucket (not a one-sided prefix): a one-sided cap
    * systematically drops whichever end of the id space sorts last, so a
    * near-dup pair whose members straddle the cap boundary (e.g. a late
    * re-crawl of an early page, or this repo's planted +10M-offset twins)
    * would silently vanish from every bucket with ≥ MaxBucket members.
    * Both-ends slicing keeps extreme-id pairs discoverable while still
    * bounding within-bucket fan-out at MaxBucket²/2 pairs.
    *
    * Truncation is OBSERVABLE, not silent ("cap + count" contract): the
    * bucket stage carries an `observe` with named metrics
    * (`truncated_buckets`, `dropped_ids`, `max_bucket_size`) surfaced to any
    * QueryExecutionListener; callers that return the lazy plan
    * (embeddingNearDup) also expose them on
    * `df.queryExecution.observedMetrics` after an action, while the
    * eagerly-materialized callers (minhashLsh / simhashDedup) surface them
    * through the listener channel during their internal action.
    * [[minhashBucketStats]] gives the same numbers as a first-class audit
    * query.
    */
  private[textops] def cappedPairs(
      banded: DataFrame, metricName: String): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    // the custom BoundedEnds TypedImperativeAggregate computes EXACTLY
    // sort_array(collect_list(id)) capped to its MaxBucket/2 smallest +
    // largest ids, in O(MaxBucket) buffer memory per bucket with map-side
    // partial merge — a collect_list here materializes the FULL bucket in
    // the agg buffer first, which OOMs on a pathological boilerplate bucket
    // (10^8 identical docs) even though only 50 ids survive the cap
    cappedBuckets(banded, metricName)
      .filter(size($"ids") > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          | transform(slice(ids, i + 2, size(ids)), b -> struct(a, b))))"""
          .stripMargin)).as("p"))
      .select($"p.a".as("id_a"), $"p.b".as("id_b"))
      .distinct()
  }

  /** DuckDB mirror of [[cappedPairs]]: the buckets/capped/pairs CTEs over
    * a `table` of `id`s grouped by the `keys` columns, each bucket's sorted
    * ids cut to their MaxBucket/2 smallest and largest.
    */
  def cappedPairsSql(table: String, id: String, keys: String): String =
    s"""buckets AS (SELECT $keys, list_sort(list($id)) AS all_ids
       |  FROM $table GROUP BY $keys),
       |capped AS (SELECT CASE WHEN len(all_ids) <= $MaxBucket THEN all_ids
       |    ELSE all_ids[1:${MaxBucket / 2}] || all_ids[len(all_ids)-${MaxBucket / 2 - 1}:len(all_ids)] END AS ids
       |  FROM buckets WHERE len(all_ids) > 1),
       |pairs AS (SELECT DISTINCT p.a AS id_a, p.b AS id_b
       |  FROM capped, unnest(flatten(list_transform(generate_series(1, len(ids)),
       |    i -> list_transform(ids[i+1:], bb -> {a: ids[i], b: bb})))) AS t(p))""".stripMargin

  /** Audit view of the MinHash LSH bucket distribution:
    * (band, bucket, n_total, truncated). Run this to quantify how many
    * candidate ids the MaxBucket cap drops on a given corpus (boilerplate-
    * heavy crawls are the risk case). The audit twin of the
    * `graft.dedup.minhash_buckets` metric [[minhashLsh]] observes.
    */
  def minhashBucketStats(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedSigs(minhashSigsDf(docs, idCol, textCol), "id")
      .groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("n_total"))
      .withColumn("truncated", $"n_total" > MaxBucket)
  }

  /** MinHash+LSH candidate pairs with exact n-gram-Jaccard verification.
    * Input df must have (id: Long, text: String). Output:
    * (id_a, id_b, est_sim, jaccard) with id_a < id_b, jaccard >=
    * [[MinhashThreshold]].
    */
  /** Per-doc (id, sig[128], shingles) — the row-local signature stage of
    * [[minhashLsh]], exposed so oracles can dump the signatures and
    * re-derive banding, capping, pairing and verification in plain SQL
    * (the {OUT}-dump pattern: the splitmix permutations are the only
    * non-SQL-expressible piece).
    */
  def minhashSigsDf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val sh = shingles(text)
        (id, minhashSignature(sh), sh)
      }
      .toDF("id", "sig", "shingles")
  }

  /** (id, sig[128]) — [[minhashSigsDf]] minus the shingle column, for
    * consumers that need only signatures (the sig dump, sig-parity): column
    * pruning cannot reach inside a typed map, so the 3-column form encodes
    * the corpus-token-sized shingle array just to drop it (r6). Same
    * [[minhashSignature]] ∘ [[shingles]] values by construction.
    */
  def minhashSigOnlyDf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, minhashSignature(shingles(text))) }
      .toDF("id", "sig")
  }

  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    // the signature stage (128 splitmix mixes per shingle over the WHOLE
    // corpus) is consumed by banding and both verify sides; uncached, it
    // ran once per consumer (measured 5.1 s → ~2 s at sf0.1)
    val sigs = minhashSigsDf(docs, idCol, textCol)
    CacheScope(sigs) {
      val pairs = cappedPairs(bandedSigs(sigs, "id"),
        "graft.dedup.minhash_buckets")
      verifyMinhash(pairs, "id_a", sigs, "id_b", sigs)
    }
  }

  /** Exact verification of MinHash candidate pairs `(a, b)` against their
    * [[minhashSigsDf]] tables: est_sim is the share of equal signature
    * slots, jaccard the exact shingle Jaccard, kept at ≥
    * [[MinhashThreshold]]. Output (a, b, est_sim, jaccard).
    */
  private def verifyMinhash(pairs: DataFrame, a: String, sigsA: DataFrame,
      b: String, sigsB: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .join(sigsA.select($"id".as(a), $"shingles".as("sh_a"),
        $"sig".as("sig_a")), a)
      .join(sigsB.select($"id".as(b), $"shingles".as("sh_b"),
        $"sig".as("sig_b")), b)
      .as[(Long, Long, Array[Long], Array[Long], Array[Long], Array[Long])]
      .map { case (idB, idA, shA, sigA, shB, sigB) =>
        var eq = 0
        var i = 0
        while (i < NumHashes) { if (sigA(i) == sigB(i)) eq += 1; i += 1 }
        (idA, idB, eq.toDouble / NumHashes, exactJaccard(shA, shB))
      }
      .toDF(a, b, "est_sim", "jaccard")
      .filter($"jaccard" >= MinhashThreshold)
  }

  /** INCREMENTAL near-dup: a new crawl against an EXISTING corpus
    * signature table ((id, sig, shingles) — the [[minhashSigsDf]] layout,
    * which the caller computes from the corpus and passes in; this function
    * never recomputes it, so a caller can reuse one table across crawls).
    * New-side signatures are computed fresh (the new crawl is
    * the small side), both sides are banded, the CORPUS side is capped
    * per bucket with the same both-ends BoundedEnds guard as
    * [[cappedPairs]] (an unbounded boilerplate bucket on the corpus side
    * would explode the join), and candidates are verified by exact
    * shingle Jaccard. Returns (new_id, corpus_id, est_sim, jaccard) with
    * jaccard ≥ [[MinhashThreshold]]. Truncation is observable via the
    * `graft.dedup.incr_buckets` observe metrics (listener channel — the
    * result is eagerly materialized like [[minhashLsh]]'s). A corpus table
    * the caller has cached stays cached.
    */
  def incrementalMinhash(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame
  ): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val newSigs = minhashSigsDf(newDocs, idCol, textCol)
    // the corpus side is consumed by banding AND the verify join
    CacheScope(newSigs, corpusSigs) {
      val corpusBuckets = cappedBuckets(bandedSigs(corpusSigs, "id"),
        "graft.dedup.incr_buckets")
        .withColumnRenamed("ids", "corpus_ids")
      // NOTE on id namespaces: new and corpus ids are INDEPENDENT — a pair
      // with new_id == corpus_id is reported like any other (a stable-id
      // re-crawl IS a duplicate of its stored version; filtering equal ids
      // here would silently pass exactly those duplicates through)
      val pairs = bandedSigs(newSigs, "new_id")
        .join(corpusBuckets, Seq("band", "bucket"))
        .select($"new_id", explode($"corpus_ids").as("corpus_id"))
        .distinct()
      verifyMinhash(pairs, "new_id", newSigs, "corpus_id", corpusSigs)
    }
  }

  // ---- exact-membership prefilter (Bloom filter over content hashes) ------

  /** Content key shared by the bloom build and the resolve join. */
  private def contentFp(textCol: String): Column =
    md5(coalesce(col(textCol), lit("")))

  /** Bloom filter over the corpus' content fingerprints (tree-aggregated
    * by Spark's sketch builder), sized to the corpus: ~1.2 GB at 10⁹ keys
    * and [[BloomFpp]] — broadcastable; beyond ~10⁹ corpus documents skip
    * the prefilter and run the plain anti-join of [[bloomNewDocs]]'s
    * resolve stage over everything. A zero-row sketch aggregate leaves the
    * bit buffer null, so an empty corpus gets a valid empty filter
    * (mightContain always false).
    */
  private def corpusBloom(
      corpus: DataFrame,
      textCol: String): org.apache.spark.util.sketch.BloomFilter = {
    val keys = corpus.select(contentFp(textCol).as("fp"))
    val n = keys.count()
    if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, BloomFpp)
    else keys.stat.bloomFilter("fp", n, BloomFpp)
  }

  /** Exact-membership dedup of a new crawl against a stored corpus with a
    * Bloom prefilter — the crawl-pipeline "have we seen this exact page
    * content before" gate ([[incrementalMinhash]] is its NEAR-dup
    * sibling). Output: (doc_id, fp) of the genuinely-new documents, EXACTLY
    * equal to the plain content-hash anti-join — a Bloom filter has no
    * false negatives, so the prefilter can only route rows, never change
    * the result (the spec pins the equality; the oracle is the plain
    * anti-join in SQL).
    *
    * Scale shape: rows the bloom clears ("definitely new", the vast
    * majority of a typical crawl) bypass the shuffle entirely and flow
    * straight from the scan; only bloom candidates (true dups + the fpp
    * sliver) enter the anti-join against the corpus key table. The
    * candidate/total split is observable on the returned plan's
    * CollectMetrics (`graft.dedup.bloom_definite` / `..._candidates`).
    * The probe itself is a broadcast-read UDF — no public might_contain
    * expression exists (Spark's BloomFilterMightContain is optimizer-
    * internal), and the O(1)-per-row probe is not the bottleneck the
    * shuffle it removes was. COST NOTE: the two branches are independent
    * filters over the same uncached projection, so the crawl source is
    * scanned (and md5+bloom-probed) twice — deliberate: two NARROW scans
    * of the crawl are the price of removing the corpus-wide shuffle for
    * the definite-new majority, and caching a 100 TB crawl to avoid the
    * second scan would cost more than it saves (persist the projection
    * yourself at small scale if the input is expensive to recompute).
    * Within-crawl duplicates are NOT collapsed
    * here (that is exact dedup's job); each new row is judged against the
    * corpus independently, like the SQL anti-join.
    */
  def bloomNewDocs(
      newCrawl: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame): DataFrame = {
    val spark = newCrawl.sparkSession
    val bf = corpusBloom(corpus, textCol)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain =
      udf((fp: String) => bfB.value.mightContainString(fp))
    val flagged = newCrawl.select(
      col(idCol).cast("long").as("doc_id"),
      contentFp(textCol).as("fp"),
      mightContain(contentFp(textCol)).as("maybe"))
    val definite = flagged.filter(!col("maybe"))
      .observe("graft.dedup.bloom_definite", count(lit(1)).as("n"))
    val candidates = flagged.filter(col("maybe"))
      .observe("graft.dedup.bloom_candidates", count(lit(1)).as("n"))
    val corpusFps = corpus.select(contentFp(textCol).as("fp"))
    val resolved = candidates.join(corpusFps, Seq("fp"), "left_anti")
    definite.select("doc_id", "fp")
      .unionByName(resolved.select("doc_id", "fp"))
  }

  /** Similarity-graph edges by RARE-FEATURE linking: two documents are
    * linked when they share at least [[RareMinShared]] shingles that occur in
    * EXACTLY two documents corpus-wide (the df=2 inverted-index trick).
    * Scale shape: explode → one groupBy(shingle) whose output is bounded by
    * the rare-feature count, then one groupBy(pair) — never all-pairs, and
    * ubiquitous shingles (df > 2) drop out before the pair stage, so no hot
    * keys reach the second shuffle.
    *
    * r6 (`hashShingles=true`, the [[exactSubstringDedup]] hashed-gram stance):
    * the inverted index is keyed on [[shingles]]' streamed fnv1a64 hashes
    * instead of the shingle strings — the exploded rows and both shuffles
    * carry an 8-byte long where the string form carries the n-word window
    * text, and the flatMap never materializes the window string at all
    * (guide §2.3 "shuffle keys instead of payloads"). Identical edges as
    * long as fnv1a64 is injective on the corpus's shingle set: a collision
    * could only MERGE two df=1 shingles into a phantom df=2 edge (or knock
    * a real df=2 shingle out via df=3). Above ~2^32 distinct shingles
    * (birthday bound) collisions are EXPECTED, and they are SILENT: nothing
    * here detects them, and only an oracle comparison against the string
    * path would show the changed edge or cluster label. `hashShingles=false`
    * is the collision-free path (it keys on the window strings themselves)
    * and is kept for that and for direct SQL-recomputability.
    */
  def sharedRareShingleEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      hashShingles: Boolean = true
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
    val expl =
      if (hashShingles)
        base.flatMap { case (id, txt) =>
          shingles(txt).distinct.map(g => (id, g))
        }.toDF("id", "g")
      else
        base.flatMap { case (id, txt) =>
          shingleStrings(txt).distinct.map(g => (id, g))
        }.toDF("id", "g")
    expl.groupBy($"g")
      .agg(min($"id").as("src"), max($"id").as("dst"),
        count(lit(1)).as("df"))
      .filter($"df" === 2 && $"src" =!= $"dst")
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= RareMinShared)
      .select($"src", $"dst")
  }

  /** Canonical-document selection: connected components over near-duplicate
    * edges, cluster label = min doc id in the component, keep = the cluster
    * representative. Reuses the KG canonicalization CC (min-label
    * propagation with pointer jumping) — corpus dedup at 100 TB IS a
    * graph problem, and this is the same engine.
    * Output: (doc_id, cluster, keep) covering EVERY input doc (docs in no
    * edge are their own singleton cluster).
    */
  def clusterCanonical(
      docIds: DataFrame, // (doc_id)
      edges: DataFrame // (src, dst)
  ): DataFrame = {
    val spark = docIds.sparkSession
    import spark.implicits._
    val cc = graft.canon.Canon.connectedComponents(edges)
    docIds.join(cc, docIds("doc_id") === cc("v"), "left")
      .select(docIds("doc_id"),
        coalesce($"component", docIds("doc_id")).as("cluster"))
      .withColumn("keep", $"doc_id" === $"cluster")
  }

  /** Quality-argmax canonical selection: like [[clusterCanonical]], but the
    * cluster representative is the member with the HIGHEST `score` (ties →
    * min doc id) instead of keep-first — the production dedup policy when a
    * quality signal exists (keep the best-written duplicate, not the first-
    * crawled one; Penedo et al. 2023 RefinedWeb §3.4 keep decisions).
    *
    * The argmax is a partial-aggregatable struct-max (`max(struct(score,
    * -doc_id))` — fields compare in order, so the negated id breaks ties
    * toward the SMALLEST id), NOT a per-cluster window: a window would
    * buffer whole clusters per task, and boilerplate clusters at corpus
    * scale are exactly the unbounded-group case [[graft.functions.BoundedEnds]]
    * exists for. Cluster label stays min-id (the CC invariant); only the
    * keep choice changes. Output: (doc_id, cluster, keep) covering every
    * input doc; singleton docs keep themselves.
    */
  def clusterCanonicalBest(
      scoredDocs: DataFrame, // (doc_id, score: Long)
      edges: DataFrame // (src, dst)
  ): DataFrame = {
    val spark = scoredDocs.sparkSession
    import spark.implicits._
    val cc = graft.canon.Canon.connectedComponents(edges)
    // r6: labeled feeds the argmax aggregate AND the keep join; the two
    // consume it through DIFFERENT exchange children (partial-agg vs
    // plain), so AQE stage reuse cannot share it and the score scan + CC
    // join ran twice. The projection is NARROW (id, cluster, score — no
    // text), so caching it is cheap.
    val labeled = scoredDocs
      .join(cc, scoredDocs("doc_id") === cc("v"), "left")
      .select(scoredDocs("doc_id"),
        coalesce($"component", scoredDocs("doc_id")).as("cluster"),
        scoredDocs("score"))
    CacheScope(labeled) {
      val best = labeled
        .groupBy($"cluster")
        .agg(max(struct($"score", (-$"doc_id").as("negId"))).as("b"))
        .select($"cluster".as("bc"), (-$"b.negId").as("best_doc"))
      // the best table is |clusters| rows — corpus-sized when
      // singleton-heavy, tiny when duplication is heavy — so no broadcast
      // hint: AQE decides from the measured size at runtime
      labeled.join(best, $"cluster" === $"bc")
        .select($"doc_id", $"cluster", ($"doc_id" === $"best_doc").as("keep"))
    }
  }

  /** 64-bit SimHash over whitespace tokens (tf-weighted). */
  def simhash(text: String): Long = {
    if (text == null) return 0L
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.split(" +").foreach { w =>
      if (w.nonEmpty) counts.update(w, counts.getOrElse(w, 0) + 1)
    }
    val acc = new Array[Int](64)
    counts.foreach { case (w, tf) =>
      val h = Hashing.fnv1a64(w)
      var b = 0
      while (b < 64) {
        // branchless ±tf: bit 1 → +tf, bit 0 → -tf (identical sums)
        acc(b) += (((h >>> b) & 1L).toInt * 2 - 1) * tf
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Per-doc (id, 64-bit simhash) — the row-local signature stage of
    * [[simhashDedup]], exposed for the same {OUT}-dump oracle pattern as
    * [[minhashSigsDf]].
    */
  def simhashSigsDf(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash(t)) }
      .toDF("id", "sig")
  }

  /** SimHash near-dup: pigeonhole banding on 4×16-bit chunks, verify by
    * Hamming distance. Output (id_a, id_b, hamming) with hamming <= maxDist.
    */
  def simhashDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // consumed by banding and both verify sides
    val sigs = simhashSigsDf(docs, idCol, textCol)
    CacheScope(sigs) {
      val banded = sigs.as[(Long, Long)].flatMap { case (id, sig) =>
        (0 until 4).map(b => (b, (sig >>> (b * 16)) & 0xffffL, id))
      }.toDF("band", "bucket", "id")
      val pairs = cappedPairs(banded, "graft.dedup.simhash_buckets")
      pairs
        .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), "id_a")
        .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), "id_b")
        .withColumn("hamming", bit_count($"sig_a".bitwiseXOR($"sig_b")))
        .filter($"hamming" <= maxDist)
        .select($"id_a", $"id_b", $"hamming")
    }
  }

  /** Exact substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — the ExactSubstr method): remove
    * every [[SubstrWords]]-word span whose text occurs elsewhere in the corpus, keeping
    * the globally-first occurrence ((doc_id, start)-minimal per gram).
    * Words covered by ANY removed duplicate window are dropped; the kept
    * text is the surviving words joined by single spaces (whitespace is
    * normalized — the standard behavior of word-level ExactSubstr).
    *
    * Scale shape (the suffix-array of the paper is replaced by the
    * shuffle-native equivalent): shingling is narrow; the duplicate-gram
    * table is ONE groupBy(gram) with map-side partial aggregation
    * (count + min-occurrence — deliberately NOT a window over gram, which
    * could not partial-aggregate); unique grams (the overwhelming majority
    * at any scale) die in the partial agg. Coverage and reconstruction are
    * keyed by (doc_id, idx) — partitioned by doc, per-doc memory bounded
    * by the document's own word count. The duplicate-gram table is keyed by
    * `xxhash64(gram)` instead of the k-word string — 8 bytes/row through the
    * corpus-wide shuffle instead of the gram text (measured ~8× fewer
    * gram-stage shuffle bytes at sf0.1, see BASELINE.md). A 64-bit
    * collision (~n²/2⁶⁵) could only MERGE two distinct grams' occurrence
    * groups — deterministic, and it would surface as a removal diff against
    * the string-keyed DuckDB oracle, which stays the exact reference on the
    * gram TEXT.
    *
    * The (doc_id, words) projection feeds three consumers (shingles,
    * positions, final counts); at 100 TB cache/checkpoint that projection
    * before calling (left to the caller — a library function should not
    * pin executor memory behind the caller's back).
    *
    * Returns (doc_id, n_words, n_removed, kept_text).
    */
  def exactSubstringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val k = SubstrWords
    val base = docs.select(
      col(idCol).cast("long").as("doc_id"),
      filter(split(coalesce(col(textCol), lit("")), " +", -1),
        w => length(w) > 0).as("w"))
    val sh = base.select(col("doc_id"),
      explode(when(size(col("w")) >= k,
        transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => struct(i.as("start"),
            array_join(slice(col("w"), i, lit(k)), " ").as("gram"))))
        .otherwise(array().cast("array<struct<start:int,gram:string>>")))
        .as("s"))
      .select(col("doc_id"), col("s.start").as("start"),
        xxhash64(col("s.gram")).as("gram"))
    val firsts = sh.groupBy("gram").agg(
      count(lit(1)).as("c"),
      min(struct(col("doc_id"), col("start"))).as("first"))
      .filter(col("c") > 1)
    val dsp = sh.join(firsts, "gram")
      .filter(struct(col("doc_id"), col("start")) =!= col("first"))
      .select("doc_id", "start")
    val cov = dsp.select(col("doc_id"),
      explode(sequence(col("start"), col("start") + (k - 1))).as("idx"))
      .distinct()
    val pw = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "word")))
      .select(col("doc_id"), (col("p") + 1).as("idx"), col("word"))
    TextOps.keptText(
      base.select(col("doc_id"), size(col("w")).cast("long").as("n_words")),
      pw.join(cov, Seq("doc_id", "idx"), "left_anti"), "idx", "word", " ",
      cov)
  }
}
