package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.CacheScope

/** Model-based document filtering: a count-trained linear text classifier
  * in the fastText / DCLM quality-filter shape (Joulin et al. 2016, "Bag
  * of Tricks for Efficient Text Classification"; Li et al. 2024,
  * "DataComp-LM") — train a bag-of-words scorer on a labeled subset, then
  * score and filter the whole corpus with it.
  *
  * Weights are integer per-million RATE differences (the prior-corrected
  * multinomial direction — raw count differences degenerate under class
  * imbalance, scoring everything toward the bigger class):
  *
  *   w(term) = (n_pos · 10^6) div T_pos  -  (n_neg · 10^6) div T_neg
  *
  * where n_pos/n_neg are the term's token-occurrence counts in the
  * positive/negative training docs and T_pos/T_neg the per-class token
  * totals. A document's score is the tf-weighted sum of its terms'
  * weights. Everything is BIGINT with floor divisions of non-negative
  * operands, so the distributed result is bit-identical to the generated
  * DuckDB mirror (no float log-odds — same stance as tq_fluency_score's
  * no-float-logs and tq_keywords' no-float-idf), and magnitudes stay
  * LINEAR in training-set size (n · 10^6 — no cross-products of totals),
  * so a Long overflows only past ~9·10^12 training tokens, far beyond any
  * labeled quality-classifier training set.
  *
  * Tokenization is the shared whitespace-split-lowercase of
  * [[TextOps.keywords]], kept identical in both engines.
  */
object Classifier {

  /** Min-count cut of the tq_classifier_score query and of
    * [[classifierSql]].
    */
  val WeightMinCount = 3L

  /** Train: per-term occurrence counts by class over the labeled docs,
    * emitted as (term, weight) with the rate-difference weight of the
    * object doc. Terms with fewer than `minCount` total occurrences are
    * dropped — the fastText min-count cut; it denoises AND bounds the
    * weight table to the frequent vocabulary, which is what makes the
    * apply-side broadcast feasible at corpus scale. The per-class token
    * totals T_pos/T_neg are taken over ALL training tokens (before the
    * min-count cut) — they are the denominators of true rates, not of the
    * surviving vocabulary.
    *
    * ONE partial-aggregated groupBy(term): hot terms ("the") combine
    * map-side to a single row per partition, so the Zipfian key skew never
    * reaches the shuffle as raw occurrences. The totals row re-aggregates
    * the per-term counts (vocabulary-sized, not corpus-sized) and joins
    * back as a broadcast singleton.
    */
  def classifierWeights(
      docs: DataFrame,
      textCol: String,
      labelCol: String,
      minCount: Long): DataFrame = {
    val counts = docs
      .select(col(labelCol).as("y"),
        explode(TextOps.tokenArray(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"))
    // cached: the totals row and the weight projection share ONE pass over
    // the training corpus
    CacheScope(counts) {
      val totals = counts.agg(
        sum(col("n_pos")).as("tpos"), sum(col("n_neg")).as("tneg"))
      counts
        .crossJoin(broadcast(totals))
        .filter(col("n_pos") + col("n_neg") >= minCount)
        // greatest(T, 1) guards the all-one-class corpus: if a class has
        // zero tokens every numerator on that side is zero too, so the
        // clamped denominator changes nothing except avoiding div-by-zero
        .select(col("term"),
          expr("CAST((n_pos * CAST(1000000 AS BIGINT))" +
            " div greatest(tpos, CAST(1 AS BIGINT))" +
            " - (n_neg * CAST(1000000 AS BIGINT))" +
            " div greatest(tneg, CAST(1 AS BIGINT)) AS BIGINT)")
            .as("weight"))
    }
  }

  /** Apply: score every document as Σ tf(term) · w(term) over the weight
    * table; docs whose terms all miss the vocabulary score 0. verdict =
    * keep iff score >= 0 (the sign boundary of the count-difference
    * weights).
    *
    * Scale shape: the corpus side stays narrow (explode inside the scan) —
    * the weight lookup is a BROADCAST join on term, so the Zipfian term
    * skew costs nothing (no term-keyed shuffle exists), and the only
    * shuffle is the partial-aggregated groupBy on the already-carried doc
    * id. The broadcast is safe because [[classifierWeights]] bounds the
    * vocabulary via minCount; a weight table too big to broadcast is a
    * sign the cut is too loose, not a reason for a shuffle join.
    */
  def classifierScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame): DataFrame = {
    val hits = docs
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokenArray(col(textCol))).as("term"))
      .join(broadcast(weights), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("weight")).as("score"),
        count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("score"), lit(0L)) >= 0L, "keep")
          .otherwise("drop").as("verdict"))
  }

  /** DuckDB mirror of train-on-split + score-all over a
    * (idExpr, text, labelExpr) table: weights from the hash-assigned
    * 'train' docs (the [[TextOps.hashSplit]] assignment, generated from
    * the same split table), scores over every doc. `labelExpr` must be a
    * SQL boolean over the table's columns matching the Spark query's
    * label column.
    */
  def classifierSql(
      table: String,
      idExpr: String,
      labelExpr: String): String = {
    val split = TextOps.hashSplitSql(idExpr)
    s"""WITH tr AS (
       |  SELECT $idExpr AS doc_id, text, $labelExpr AS y FROM $table
       |  WHERE ($split) = 'train'),
       |trterms AS (
       |  SELECT y, unnest(${TextOps.tokenArraySql("text")}) AS term
       |  FROM tr),
       |tot AS (
       |  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS tpos,
       |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS tneg
       |  FROM trterms),
       |w AS (
       |  SELECT term,
       |    CAST((sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000)
       |        // greatest((SELECT tpos FROM tot), 1)
       |      - (sum(CASE WHEN y THEN 0 ELSE 1 END) * 1000000)
       |        // greatest((SELECT tneg FROM tot), 1) AS BIGINT) AS weight
       |  FROM trterms GROUP BY term
       |  HAVING count(*) >= $WeightMinCount),
       |terms AS (
       |  SELECT $idExpr AS doc_id, unnest(${TextOps.tokenArraySql("text")}) AS term
       |  FROM $table),
       |hits AS (
       |  SELECT t.doc_id, CAST(sum(w.weight) AS BIGINT) AS score,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM terms t JOIN w USING (term) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  coalesce(h.score, 0) AS score,
       |  coalesce(h.n_hits, 0) AS n_hits,
       |  CASE WHEN coalesce(h.score, 0) >= 0 THEN 'keep' ELSE 'drop' END
       |    AS verdict
       |FROM (SELECT $idExpr AS doc_id FROM $table) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin
  }
}
