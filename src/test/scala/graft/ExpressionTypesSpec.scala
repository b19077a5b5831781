package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._
import graft.functions.{BoundedEnds, CosineSim, Md5Slices, NfcNormalize, RollingHash}

/** The custom Catalyst expressions type-check through Spark's
  * `ExpectsInputTypes`: a wrong-typed input fails at analysis, before any
  * row is read.
  */
class ExpressionTypesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("each custom expression rejects a wrong-typed input at analysis") {
    import spark.implicits._
    val df = Seq((1L, "a", Seq(1.0f), 2.5)).toDF("n", "s", "f", "d")
    // name → (accepted input, wrong-typed input)
    val cases: Seq[(String, Column => Column, Column, Column)] = Seq(
      ("nfc_normalize", NfcNormalize.nfc_normalize, col("s"), col("n")),
      ("rolling_hash", RollingHash.rolling_hash, col("s"), col("n")),
      ("md5_slices", Md5Slices.md5_slices(_, Seq(8)), col("s"), col("n")),
      ("cosine_sim", c => CosineSim.cosine_sim(c, c), col("f"),
        array(col("d"))),
      ("bounded_ends", BoundedEnds.bounded_ends(_, 2), col("n"), col("d")))
    cases.foreach { case (name, f, ok, wrong) =>
      assert(df.select(f(ok)).collect().length == 1, name)
      val e = intercept[AnalysisException](df.select(f(wrong)))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$name: $e")
    }
  }
}
