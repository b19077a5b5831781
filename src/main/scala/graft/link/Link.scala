package graft.link

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.dict.Trie
import graft.pipeline.Annotate.SentenceArtifacts

/** Entity linking (north star: "candidate generation via a broadcast alias
  * trie, entity-link scoring with TF-IDF/Jaccard context similarity").
  *
  * Reference analogs: refined-dict membership J5 (clean_and_save.py:484-490)
  * and head-type lookup J4 (EnsemblePredict_all.py:413-414) — the reference
  * links by exact dictionary membership only; the north star upgrades this to
  * contextual scoring, which is what resolves boundary-jittered mention
  * variants onto their canonical gazetteer entry.
  *
  * Scale design:
  *   - linking operates on DISTINCT (surface, entType) pairs, not on mention
  *     occurrences — the dedup happens first, so the expensive part is bounded
  *     by vocabulary size, not corpus size;
  *   - candidate generation is a broadcast trie probe (no shuffle);
  *   - TF-IDF profiles are algebraic aggregations (map-side combinable);
  *   - the final cosine join joins profile vectors keyed by token — token df
  *     caps the fan-out, and hot tokens (stopword-ish) get pruned by an idf
  *     floor exactly so they cannot create a skewed join.
  */
object Link {

  private val MinIdf = 0.1 // lower-idf tokens are pruned from profiles
  private val MinScore = 0.3 // lower-scoring links are not alias edges

  /** Candidate pairs via broadcast trie: canonical = longest gazetteer word
    * of the same type that prefixes the surface (catches jitter-extended
    * variants), plus exact membership. Emits (surface, entType, candidate).
    */
  def candidates(
      surfaces: Dataset[(String, String)], // (surface, entType)
      trieB: Broadcast[Trie],
      typeOfTag: Map[String, String]
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    surfaces.flatMap { case (surface, entType) =>
      val trie = trieB.value
      val m = trie.longestMatch(surface, 0)
      val cand =
        if (m == null) None
        else {
          val (end, tag) = m
          val word = surface.substring(0, end)
          val candType = typeOfTag.getOrElse(tag, "x")
          // same-type prefix, at most 2 extra chars (jitter is +1, merges more)
          if (candType == entType && surface.length - end <= 2 && end >= 2)
            Some(word)
          else None
        }
      cand.map(c => (surface, entType, c))
    }.toDF("surface", "entType", "candidate")
  }

  /** TF-IDF context profiles per surface: contexts are the seg tokens of
    * sentences where the surface was extracted. Returns
    * (surface, token, weight) L2-normalized per surface.
    *
    * Shuffle shape (round-2 rework — round 1 shuffled at tf, idf, norms AND
    * the norm join, plus ran a separate count() job for nSurfaces):
    *   - ONE surface-hash partitioning up front; tf (groupBy surface,token),
    *     norms (groupBy surface) and the norm join are all satisfied by it —
    *     Catalyst inserts no further exchange;
    *   - idf is a vocabulary-sized aggregate joined back by BROADCAST (the
    *     gazetteer-driven token vocabulary is dictionary-scale; an open-web
    *     vocabulary would flip this to a shuffle join);
    *   - nSurfaces is a broadcast 1-row aggregate inside the same DAG, not a
    *     driver-side count() job.
    */
  def contextProfiles(
      mentionContexts: DataFrame // (surface, token)
  ): DataFrame = {
    val spark = mentionContexts.sparkSession
    import spark.implicits._
    val bySurface = mentionContexts.repartition($"surface")
    // tf is the multi-consumer hub, and its consumers reach it through
    // different exchanges (idf by token, nSurfaces global, w and norms
    // none), so stage reuse cannot share it and each would re-aggregate
    // it: persist the vocabulary-sized aggregate. The cache preserves the
    // surface partitioning, so norms and the norm join add no exchange.
    // Long-lived sessions: clearCache()/unpersist after consuming (the KG
    // build clears the session cache when its last stage has ended).
    val tf = bySurface.groupBy($"surface", $"token")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurfaces = tf.agg(
      countDistinct($"surface").cast("double").as("n_surfaces"))
    val idf = tf.groupBy($"token")
      .agg(countDistinct($"surface").as("df"))
      .crossJoin(broadcast(nSurfaces))
      .withColumn("idf", log((col("n_surfaces") + 1.0) / (col("df") + 1.0)))
      .filter($"idf" >= MinIdf) // prune ubiquitous tokens → no hot-key join
      .drop("n_surfaces")
    val w = tf.join(broadcast(idf), "token")
      .withColumn("w", $"tf" * $"idf")
    val norms = w.groupBy($"surface")
      .agg(sqrt(sum($"w" * $"w")).as("norm"))
    w.join(norms, "surface")
      .select($"surface", $"token", ($"w" / $"norm").as("weight"))
  }

  /** Cosine similarity between mention-surface profiles and candidate
    * profiles; returns (surface, entType, candidate, sim).
    */
  def score(
      candidatePairs: DataFrame, // (surface, entType, candidate)
      profiles: DataFrame // (surface, token, weight)
  ): DataFrame = {
    val spark = candidatePairs.sparkSession
    import spark.implicits._
    val mp = profiles.toDF("surface", "token", "mw")
    val cp = profiles.toDF("candidate", "token", "cw")
    candidatePairs
      .join(mp, Seq("surface"), "left")
      .join(cp, Seq("candidate", "token"), "left")
      .groupBy($"surface", $"entType", $"candidate")
      .agg(coalesce(sum($"mw" * $"cw"), lit(0.0)).as("sim"))
  }

  /** Char-bigram Jaccard between two surfaces (the cheap string-side signal
    * blended with the contextual one).
    */
  def bigramJaccard(a: String, b: String): Double = {
    def grams(s: String): Set[String] =
      if (s.length < 2) Set(s) else s.sliding(2).toSet
    val (ga, gb) = (grams(a), grams(b))
    val inter = ga.intersect(gb).size.toDouble
    val union = ga.union(gb).size.toDouble
    if (union == 0) 0.0 else inter / union
  }

  /** Link contexts from pipeline artifacts: every ensemble_strong mention
    * paired with each seg token (length ≥ 2) of its sentence. Returns
    * (surface, entType, token).
    */
  def mentionTokens(arts: Dataset[SentenceArtifacts])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    arts.flatMap { a =>
      val tokens = a.row.seg.map(_.word).filter(_.length >= 2)
      a.entities
        .filter(e => e.model == "ensemble_strong" && e.entName.length >= 2)
        .flatMap(e => tokens.map(t => (e.entName, e.entType, t)))
    }.toDF("surface", "entType", "token")
  }

  /** Full linking pass over a [[mentionTokens]] table: distinct mention
    * surfaces → candidates → blended score; accepted links become alias
    * edges for [[graft.canon.Canon]]. Returns (surface, entType, candidate,
    * score). The snapshot-stage entry point used by the resumable runner.
    */
  def linkTableFromTokens(
      mentionTokens: DataFrame,
      trieB: Broadcast[Trie],
      typeOfTag: Map[String, String]
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val surfaces = mentionTokens.select($"surface", $"entType").distinct()
      .as[(String, String)]
    val cands = candidates(surfaces, trieB, typeOfTag)
    val profiles = contextProfiles(mentionTokens.select($"surface", $"token"))
    val ctxScore = score(cands, profiles)
    val blend = udf { (s: String, c: String, sim: Double) =>
      0.5 * bigramJaccard(s, c) + 0.5 * sim
    }
    // score rounded to 9dp: the cosine/norm sums are double reductions whose
    // partial-merge order varies run to run (ULP-level jitter, e.g.
    // 0.9999999999999999 vs 1.0) — rounding collapses that so the persisted
    // links snapshot is byte-identical across runs/parallelism like every
    // other table (the filter then sees a stable value too)
    ctxScore
      .withColumn("score", round(blend($"surface", $"candidate", $"sim"), 9))
      .filter($"score" >= MinScore)
      .select($"surface", $"entType", $"candidate", $"score")
  }

  /** Alias edges (src, dst) over [[Canon.vertexId]] from accepted links. */
  def aliasEdges(links: DataFrame): DataFrame =
    links.select(
      Canon.vertexId(col("surface"), col("entType")).as("src"),
      Canon.vertexId(col("candidate"), col("entType")).as("dst"))
}
