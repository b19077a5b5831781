package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{Ontology, Triple}

/** Node/edge table materialization (reference §1.3 final tables:
  * source_segment ≈ node/head table clean_and_save.py:1140-1188, ner_result ≈
  * edge/mention table :1306-1320), canonicalized and partitioned by
  * entity-type + hash bucket per the north star.
  *
  * Partitioning rationale at 10^12 docs: entity-type is low-cardinality and
  * drives predicate pushdown for per-type queries; the hash bucket bounds
  * file counts and spreads writers. Both are content-derived → idempotent
  * overwrite per partition = MERGE semantics.
  */
object Materialize {

  val NumBuckets = 32

  /** Distinct (surface, entType) over subjects and objects: the vocabulary
    * canon labels, so every node and edge endpoint finds its canonId.
    */
  def surfaces(triples: Dataset[Triple]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.select($"obj".as("surface"), $"objType".as("entType"))
      .union(triples.select($"subj".as("surface"), $"subjType".as("entType")))
      .distinct()
  }

  /** Canonical node table: (surface, entType, canonId, ontoId, bucket).
    * canonMap already holds one row per [[surfaces]] vocabulary entry with
    * its canonId, so a node is a canon row plus its ontology id and hash
    * bucket: a narrow projection, no aggregate and no join.
    */
  def nodes(canonMap: DataFrame): DataFrame =
    canonMap
      .withColumn("ontoId", Ontology.ontologyIdCol(col("entType")))
      .withColumn("bucket", pmod(col("canonId"), lit(NumBuckets)).cast("int"))

  /** The same node table as the one-argument `nodes`; `triples` is not
    * read. Kept only because the benchmark's layer timings
    * (`perfbench/src/perfbench/Layers.scala`) call this signature.
    */
  def nodes(triples: Dataset[Triple], canonMap: DataFrame): DataFrame =
    nodes(canonMap)

  /** Canonical edge table: triples with subj/obj resolved to canon ids.
    * canonMap is vocabulary-sized → broadcast both joins (no shuffle of the
    * triple table itself).
    */
  def edges(triples: Dataset[Triple], canonMap: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val objMap = broadcast(canonMap
      .select($"surface".as("obj"), $"entType".as("objType"),
        $"canonId".as("objId")))
    val subjMap = broadcast(canonMap
      .select($"surface".as("subj"), $"entType".as("subjType"),
        $"canonId".as("subjId")))
    triples.toDF()
      .join(objMap, Seq("obj", "objType"), "left")
      .join(subjMap, Seq("subj", "subjType"), "left")
      .withColumn("bucket", pmod($"ind", lit(NumBuckets)).cast("int"))
      .select($"subjId", $"subj", $"subjType", $"pred", $"objId", $"obj",
        $"objType", $"ind", $"prob", $"bucket")
  }
}
