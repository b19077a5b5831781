package graft.model

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** The fixed type system of the pipeline — a faithful port of the reference
  * ontology (config.yaml:55-114).
  */
object Ontology {

  /** Triple-forming entity types (config.yaml:55-64 `RE`). */
  val essential: Map[String, String] = Map(
    "DIS" -> "疾病",
    "BFL" -> "体液",
    "EQM" -> "医疗器械",
    "SUR" -> "操作",
    "SYM" -> "临床表现",
    "TES" -> "观测操作",
    "ORG" -> "人体组织形态",
    "DRU" -> "药品",
    "OGN" -> "生物",
    "OBJ" -> "物质"
  )

  /** Auxiliary types (config.yaml:66-78 `RE_nonessential`). */
  val nonessential: Map[String, String] = Map(
    "DEG" -> "程度词",
    "FW" -> "频率词",
    "DUR" -> "时间段",
    "TP" -> "时间点",
    "TES" -> "检查",
    "CL" -> "条件词",
    "PSB" -> "可能性词",
    "PT" -> "既往信息词",
    "AT" -> "否认词",
    "O" -> "非关键词",
    "NBP" -> "待处理",
    "BRS" -> "血亲情况",
    "SPS" -> "配偶状况"
  )

  val essentialTypes: Set[String] = essential.keySet
  val tagMapping: Map[String, String] = nonessential ++ essential

  /** Type → 2-letter lowercase gazetteer tag (config.yaml:80-97
    * `jieba_inverted`).
    */
  val jiebaInverted: Map[String, String] = Map(
    "DIS" -> "ds",
    "BFL" -> "bl",
    "EQM" -> "eq",
    "SUR" -> "sr",
    "SYM" -> "sm",
    "TES" -> "ts",
    "ORG" -> "og",
    "DRU" -> "du",
    "OGN" -> "om",
    "FW" -> "fw",
    "DEG" -> "dg",
    "DUR" -> "dr",
    "O" -> "oo",
    "AT" -> "at",
    "PT" -> "pt",
    "PSB" -> "pb",
    "EXP" -> "ep",
    "OBJ" -> "oj"
  )

  /** lowercase tag → TYPE (clean_and_save.py:461 reverse_mapping). */
  val jiebaReverse: Map[String, String] = jiebaInverted.map(_.swap)

  /** config.yaml:80-97 key order — the reference iterates this Python dict in
    * insertion order when building fuzzy-combiner candidate sequences
    * (clean_and_save.py:417, 181-184), and the combiners are first-match-only
    * so order is semantics.
    */
  val jiebaKeyOrder: Seq[String] = Seq(
    "DIS", "BFL", "EQM", "SUR", "SYM", "TES", "ORG", "DRU", "OGN",
    "FW", "DEG", "DUR", "O", "AT", "PT", "PSB", "EXP", "OBJ"
  )

  /** all_tags of clean_and_save.py:417 (+ 'x'); exl_tags (:447) are lowercase
    * jieba flags of which only 'x' intersects — so the fuzzy middle wildcard
    * ranges over exactly the 18 uppercase keys.
    */
  val fuzzyMiddleTags: Seq[String] = jiebaKeyOrder

  /** Type → ontology id — the reference's exact `ontology_mapping`
    * (config.yaml:100-114, all 14 entries verbatim, including the auxiliary
    * DEG/FW/DUR/MAT rows and the deliberate BFL/OBJ and MAT/EQM id shares).
    * These ids flow into source_segment.head_onto_id and ner_result.onto_id,
    * so exact parity is an output-format invariant (pinned in OntologySpec).
    */
  val ontologyMapping: Map[String, String] = Map(
    "DIS" -> "omahaT018",
    "SYM" -> "omahaT001",
    "BFL" -> "omahaT005",
    "DEG" -> "omahaT028",
    "FW" -> "omahaT044",
    "TES" -> "omahaT065",
    "ORG" -> "omahaT010",
    "OGN" -> "omahaT011",
    "SUR" -> "omahaT002",
    "MAT" -> "omahaT033",
    "DRU" -> "omahaT004",
    "OBJ" -> "omahaT005",
    "DUR" -> "omahaT054",
    "EQM" -> "omahaT033"
  )

  /** Type → ontology id, "" for a type `ontologyMapping` lacks. */
  def ontologyId(entType: String): String = ontologyMapping.getOrElse(entType, "")

  /** The column form of [[ontologyId]]; lazy, so the Spark-free callers of
    * this object (OnlineNer) never build a UDF.
    */
  lazy val ontologyIdCol: UserDefinedFunction = udf(ontologyId _)

  /** A mention that forms a triple and a ner_result row: a non-empty name
    * of an essential type.
    */
  def essentialMention(e: EntityRow): Boolean =
    e.entName.nonEmpty && essentialTypes.contains(e.entType)

  /** The 4 CRF-style scorer/model codes mirroring the reference's prediction
    * model list params_o_cnn_{kd,a,c,d}.pkl (config.yaml:48-49).
    */
  val models: Seq[String] = Seq("kd", "a", "c", "d")
}
