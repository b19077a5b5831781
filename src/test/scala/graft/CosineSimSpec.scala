package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.textops.Similarity

/** The native codegen cosine expression: bit-exact parity with the
  * higher-order-function composition it replaced, plus the NULL contract
  * (zero norm, length mismatch, null element) and codegen participation.
  */
class CosineSimSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("bit-exact parity with the HOF composition on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(60)
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .filter(col("vec_id") < col("id2"))
    val both = pairs.select(
      Similarity.cosine(col("embedding"), col("e2")).as("native"),
      Similarity.cosineHof(col("embedding"), col("e2")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // bit-exact: same IEEE accumulation order by construction
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }

  test("NULL contract: zero norm, length mismatch, null element") {
    import spark.implicits._
    val rows = Seq(
      ("zero", Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      ("mismatch", Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)),
      ("fine", Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))
    ).toDF("k", "a", "b")
    val out = rows.select(col("k"),
      Similarity.cosine(col("a"), col("b")).as("c"),
      Similarity.cosineHof(col("a"), col("b")).as("h")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
         if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out("zero") == ((None, None)))
    assert(out("mismatch") == ((None, None)))
    assert(out("fine")._1.contains(1.0) && out("fine")._2.contains(1.0))
    // null element → null (parity with zip_with null propagation)
    val withNull = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](1.0f, 2.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(
        col("a").cast("array<float>"), col("b").cast("array<float>")).as("c"))
      .collect().head
    assert(withNull.isNullAt(0))
  }

  test("participates in whole-stage codegen (no fallback in the projection)") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val executed = emb.queryExecution.executedPlan.toString
    assert(executed.linesIterator.exists(_.trim.startsWith("*(")),
      s"no codegen stage in:\n$executed")
    assert(emb.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }
}
