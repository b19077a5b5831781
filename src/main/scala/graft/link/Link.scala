package graft.link

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *   - the cosine score reads the profiles once: each candidate pair asks
  *     for its surface's and its candidate's profile in one row set, joined
  *     to the profiles on surface, so both sides share one profile subtree
  *     under one exchange; hot tokens (stopword-ish) are pruned by an idf
  *     floor, which caps the per-pair token fan-out.
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
    * Shuffle shape:
    *   - ONE surface-hash partitioning up front; tf (groupBy surface,token)
    *     and the norm (a window over surface) are both satisfied by it —
    *     Catalyst inserts no further exchange, and the weighted tf has one
    *     consumer, so the plan computes it once;
    *   - idf is a vocabulary-sized aggregate joined back by BROADCAST (the
    *     gazetteer-driven token vocabulary is dictionary-scale; an open-web
    *     vocabulary would flip this to a shuffle join); a token's df is a
    *     plain row count, since tf holds one row per (surface, token);
    *   - nSurfaces is a broadcast 1-row aggregate inside the same DAG, not a
    *     driver-side count() job;
    *   - [[linkTableFromTokens]] consumes the result through ONE join, so
    *     the plan holds one copy of this subtree, not one per pair side.
    */
  def contextProfiles(
      mentionContexts: DataFrame // (surface, token)
  ): DataFrame = {
    val spark = mentionContexts.sparkSession
    import spark.implicits._
    val bySurface = mentionContexts.repartition($"surface")
    // tf is the multi-consumer hub, and its consumers reach it through
    // different exchanges (idf by token, nSurfaces global, w none), so
    // stage reuse cannot share it and each would re-aggregate it: persist
    // the vocabulary-sized aggregate. The cache preserves the surface
    // partitioning, so the norm window adds no exchange.
    // Long-lived sessions: clearCache()/unpersist after consuming (the KG
    // build clears the session cache when its last stage has ended).
    val tf = bySurface.groupBy($"surface", $"token")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurfaces = tf.agg(
      countDistinct($"surface").cast("double").as("n_surfaces"))
    val idf = tf.groupBy($"token")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nSurfaces))
      .withColumn("idf", log((col("n_surfaces") + 1.0) / (col("df") + 1.0)))
      .filter($"idf" >= MinIdf) // prune ubiquitous tokens → no hot-key join
      .drop("n_surfaces")
    val w = tf.join(broadcast(idf), "token")
      .withColumn("w", $"tf" * $"idf")
    val norm = sqrt(sum($"w" * $"w").over(Window.partitionBy($"surface")))
    w.select($"surface", $"token", ($"w" / norm).as("weight"))
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
    // cosine of the surface's and the candidate's profiles: each pair asks
    // for both in one row set (side 0 its surface, side 1 its candidate),
    // read through one left join, so a pair with no shared token, or with a
    // side that has no profile, keeps sim 0. One pair-keyed exchange serves
    // both aggregates, the per-token product and the per-pair sum
    val pair = Seq($"surface", $"entType", $"candidate")
    def side(i: Int) = max(when($"side" === i, $"weight"))
    val ctxScore = cands
      .select(pair :+ explode(array(
        struct($"surface".as("p"), lit(0).as("side")),
        struct($"candidate".as("p"), lit(1).as("side")))).as("s"): _*)
      .select(pair :+ $"s.p".as("p") :+ $"s.side".as("side"): _*)
      .join(profiles.withColumnRenamed("surface", "p"), Seq("p"), "left")
      .repartition(pair: _*)
      .groupBy(pair :+ $"token": _*)
      .agg((side(0) * side(1)).as("dot"))
      .groupBy(pair: _*)
      .agg(coalesce(sum($"dot"), lit(0.0)).as("sim"))
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
