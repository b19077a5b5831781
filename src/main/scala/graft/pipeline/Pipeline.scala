package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.{Corpus, Fixtures, Vocab}
import graft.dict.Gazetteer
import graft.extract.Extract
import graft.model._

/** End-to-end KG-construction pipeline over the synthetic page corpus:
  * pages → extract → sentences → annotate → triples (+ group-taboo triples).
  *
  * Broadcast state (trie, weights, eval matrix) is built once on the driver —
  * O(dictionary) bytes, shipped once per executor; every stage up to triple
  * emission is narrow (no shuffle; PlanGuardSpec pins it). Shuffles appear
  * only downstream: in the link profiles and score, in canonicalization's
  * one aggregate and join, and in the partitioned node/edge writes.
  */
object Pipeline {

  final case class Broadcasts(
      trie: org.apache.spark.broadcast.Broadcast[graft.dict.Trie],
      weights: org.apache.spark.broadcast.Broadcast[Map[String, Map[String, Double]]],
      eval: org.apache.spark.broadcast.Broadcast[Map[String, Map[String, Map[String, Array[Double]]]]],
      refined: org.apache.spark.broadcast.Broadcast[Set[String]],
      suffix: org.apache.spark.broadcast.Broadcast[Map[String, String]]
  )

  /** Default broadcasts use the FROZEN shipped artifacts
    * (Fixtures.modelWeights / Fixtures.evalMatrix — the analog of the
    * reference's pretrained model_weights.json + eval pickles): output
    * goldens pin these. A retraining flow passes the data-derived matrices
    * instead (graft.ner.ModelEval.derivedWeights / .evalMatrix) via the
    * overload below.
    */
  def broadcasts(spark: SparkSession): Broadcasts =
    broadcasts(spark, Fixtures.modelWeights, Fixtures.evalMatrix)

  def broadcasts(
      spark: SparkSession,
      weights: Map[String, Map[String, Double]],
      eval: Map[String, Map[String, Map[String, Array[Double]]]]
  ): Broadcasts = {
    val sc = spark.sparkContext
    Broadcasts(
      sc.broadcast(Gazetteer.buildTrie(Vocab.jiebaDict)),
      sc.broadcast(weights),
      sc.broadcast(eval),
      sc.broadcast(Vocab.refinedDict.keySet),
      sc.broadcast(Vocab.suffixDict)
    )
  }

  def artifacts(pages: Dataset[Page])(
      implicit spark: SparkSession): Dataset[Annotate.SentenceArtifacts] =
    artifacts(pages, broadcasts(spark))

  /** Overload with caller-owned broadcasts — multi-stage runners build the
    * trie/weight broadcasts ONCE and reuse them across every consuming stage
    * (rebuilding per stage re-ships the dictionary to every executor).
    */
  def artifacts(pages: Dataset[Page], b: Broadcasts)(
      implicit spark: SparkSession): Dataset[Annotate.SentenceArtifacts] =
    Annotate.annotate(sentences(pages), b)

  /** The extract layer: pages → sections → sentence rows. Annotate copies
    * these nine fields 1:1 into each artifact's row, so a table that reads
    * only them is fed from here and skips annotate.
    */
  def sentences(pages: Dataset[Page])(
      implicit spark: SparkSession): Dataset[SentenceRow] =
    Extract.sentencesOf(Extract.sectionsOf(pages))

  /** Full run from n synthetic pages to the triple table. */
  def triples(spark: SparkSession, nPages: Long, partitions: Int): Dataset[Triple] = {
    implicit val s: SparkSession = spark
    Triples.fromArtifacts(artifacts(Corpus.pages(spark, nPages, partitions)))
  }

  /** Rows of the synthetic drug-instruction table. */
  val NDrugs = 60

  /** Group-taboo triples from the synthetic drug-instruction table. */
  def groupTriples(spark: SparkSession): Dataset[Triples.GroupTriple] = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    Triples.groupTriples(spark.createDataset(Fixtures.drugInstructions(NDrugs)))
  }
}
