package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import graft.model.{EntityRow, SentenceRow, Token}

/** Source/sink surface (reference S2/S3/S6/S7/S8).
  *
  * The reference moves every stage boundary through pandas CSV / JSON blobs
  * with inferred schemas (pre_labeling.py:74,120…; generation.py:149-151;
  * clean_and_save.py:507-508…). Spark-side rules applied here:
  *   - ALWAYS explicit schemas (never inference — at 100 TB schema inference
  *     is a full extra pass and a correctness hazard);
  *   - parquet for stage boundaries (columnar, predicate pushdown), CSV/JSON
  *     only at the edges for interchange;
  *   - the BIO char-per-line text sink (generation.py:64-98) is kept for
  *     fixture parity with NER training-file consumers.
  */
object Sources {

  /** Explicit schema for the annotated-sentence interchange JSON (S3) —
    * mirrors pre_labeling.py:4-16 keys.
    */
  val sentenceJsonSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("book", StringType),
    StructField("location", StringType),
    StructField("paragraph", StringType),
    StructField("sentence", StringType),
    StructField("entity1", StringType),
    StructField("entity1Type", StringType),
    StructField("source", StringType),
    StructField("ind", LongType)
  ))

  /** S3: JSON record scan with explicit schema (no inference) — the
    * annotated-sentence `json.load` of generation.py:149-151.
    */
  def readSentencesJson(spark: SparkSession, path: String): Dataset[SentenceRow] = {
    import spark.implicits._
    spark.read.schema(sentenceJsonSchema).json(path).as[SentenceRow]
  }

  /** S7: JSON sink for stage-boundary interchange — the record-array
    * `json.dump` of generation.py:164-165.
    */
  def writeSentencesJson(ds: Dataset[SentenceRow], path: String): Unit =
    ds.write.mode(SaveMode.Overwrite).json(path)

  /** Explicit schema for entity-row CSV interchange (S2/S6) — the
    * extraction-results table shape (EnsemblePredict_all.py:582-585).
    */
  val entityCsvSchema: StructType = StructType(Seq(
    StructField("ind", LongType),
    StructField("model", StringType),
    StructField("entName", StringType),
    StructField("entType", StringType),
    StructField("start", IntegerType),
    StructField("end", IntegerType),
    StructField("prob", DoubleType),
    StructField("probPartial", DoubleType),
    StructField("probExact", DoubleType),
    StructField("probType", DoubleType)
  ))

  /** S2: entity-row CSV scan with [[entityCsvSchema]] — reads back the
    * extraction-results table of EnsemblePredict_all.py:582-585.
    */
  def readEntitiesCsv(spark: SparkSession, path: String): Dataset[EntityRow] = {
    import spark.implicits._
    spark.read.schema(entityCsvSchema).option("header", "true").csv(path)
      .as[EntityRow]
  }

  /** S6: entity-row CSV sink — the extraction-results `to_csv` of
    * EnsemblePredict_all.py:582-585.
    */
  def writeEntitiesCsv(ds: Dataset[EntityRow], path: String): Unit =
    ds.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S8: BIO training-file sink — one char per line `char\tB-TYPE`, blank
    * line between sentences (generation.py:64-98, 442-461). One file shape
    * the reference's NER trainer consumes; emitted as a text dataset.
    */
  def bioLines(sentence: String, seg: Seq[Token]): Seq[String] = {
    val tags = Array.fill(sentence.length)("O")
    seg.foreach { t =>
      if (graft.model.Ontology.essentialTypes.contains(t.tag) &&
        t.start >= 0 && t.start < sentence.length) {
        tags(t.start) = s"B-${t.tag}"
        var i = t.start + 1
        while (i < math.min(t.end, sentence.length)) {
          tags(i) = s"I-${t.tag}"; i += 1
        }
      }
    }
    sentence.toCharArray.toSeq.zip(tags.toSeq)
      .map { case (c, tag) => s"$c\t$tag" } :+ ""
  }

  /** The reference's `notin_types`: auxiliary types the dictionary lacks. */
  val NotinTypes: Set[String] = Set("FW", "DEG", "AT", "DUR", "PSB", "PT")

  private val SeparatorChars = Set('、', '；', '，', ';')

  /** NER-type substitution for dictionary-missing auxiliary types
    * (generation.py:216-238): a model mention whose type is in `notin_types`
    * and whose [start, end) span EXACTLY equals a seg token's span replaces
    * that token's type. Mentions containing a list separator (、；，;) are
    * skipped — the reference treats those as mis-merged enumerations.
    * Row-local, no shuffle.
    */
  def substituteNotinTypes(
      seg: Seq[Token],
      ner: Seq[graft.model.Mention]
  ): Seq[Token] = {
    val candidates = ner.filter(m => NotinTypes.contains(m.tpe) &&
      !m.word.exists(SeparatorChars.contains))
    if (candidates.isEmpty) seg
    else {
      val byPos = candidates.map(m => (m.start, m.end) -> m.tpe).toMap
      seg.map { t =>
        byPos.get((t.start, t.end)) match {
          case Some(tpe) => t.copy(tag = tpe)
          case None      => t
        }
      }
    }
  }

  /** Train/validation/test assignment by corpus ordinal
    * (generation.py:446-455): i%80==0 → validation, else i%90==0 → test,
    * else training (so i=0 is validation — the reference checks %80 first).
    */
  def bioSplitLabel(i: Long): String =
    if (i % 80 == 0) "validation"
    else if (i % 90 == 0) "test"
    else "training"

  /** S8 with the reference's three-way split (generation.py:446-455): ONE
    * scan, partitioned write — `path/split=training|validation|test`. Input
    * carries the corpus ordinal (the reference's enumerate index).
    */
  def writeBioSplit(
      ds: Dataset[(Long, String, Seq[Token])],
      path: String
  ): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { case (i, sent, seg) =>
      val split = bioSplitLabel(i)
      bioLines(sent, seg).map(l => (split, l))
    }.toDF("split", "value")
      .write.partitionBy("split").mode(SaveMode.Overwrite).text(path)
  }
}
