package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Degenerate-input resilience: at 100 TB empty partitions, empty filter
  * results and skewed-to-zero strata are routine — every contract query must
  * survive a fully EMPTY (schema-only) input without throwing. Plus
  * scalar/column agreement for the language-ID forms.
  */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("every sf-reading contract query survives empty input tables") { SparkTestBase.withTempDir("empty_sf") { tmp =>
    // schema-identical, zero-row copies of every sf table
    val emptyDir = tmp.toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }
    // these entries synthesize their own input and never read sfDir
    val selfSourced = Set("kg_triples", "kg_group_taboo", "kg_seen_unseen",
      "kg_top_surfaces", "mm_features", "kg_drug_instructions",
      "kg_refined_dict", "kg_entity_surfaces")
    val failures = SparkEntry.queries.toSeq.collect {
      case (name, fn) if !selfSourced(name) =>
        try { fn(spark, emptyDir).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }.flatten
    assert(failures.isEmpty, failures.mkString("\n"))
  }}

  test("langIdCol agrees with the scalar langId on real documents") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val colSide = docs
      .select(col("doc_id"),
        graft.textops.TextOps.langIdCol(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.as[(Long, String)].collect().foreach { case (id, t) =>
      assert(colSide(id) == graft.textops.TextOps.langId(t),
        s"doc $id: col=${colSide(id)} scalar=${graft.textops.TextOps.langId(t)}")
    }
  }

  test("langIdCol agrees with the scalar langId on 400 adversarial random strings") {
    import spark.implicits._
    // BMP-only generator (the two forms intentionally agree on BMP text;
    // astral chars differ by construction: substring counts code points,
    // charAt counts UTF-16 units): stopwords of all five languages mixed
    // with latin noise, CJK runs, digits and punctuation, engineered to sit
    // near the tie-break and CJK-ratio boundaries
    val rnd = new scala.util.Random(20260816L)
    val stop = graft.textops.TextOps.stopwords.values.flatten.toVector
    val noise = Vector("zz", "qqq", "医", "的", "123", "-", ",", "  ", "x")
    def randString(): String = {
      val n = rnd.nextInt(40)
      (0 until n).map { _ =>
        if (rnd.nextBoolean()) stop(rnd.nextInt(stop.size))
        else noise(rnd.nextInt(noise.size))
      }.mkString(" ")
    }
    val samples = (0L until 400L).map(i => (i, randString()))
    val colSide = samples.toDF("id", "text")
      .select(col("id"),
        graft.textops.TextOps.langIdCol(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    samples.foreach { case (id, t) =>
      val want = graft.textops.TextOps.langId(t)
      assert(colSide(id) == want, s"[$t]: col=${colSide(id)} scalar=$want")
    }
  }

  test("langIdCol edge values: null, empty, CJK shortcut, zero hits") {
    import spark.implicits._
    val rows = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "患者的病情是在好转了他的了的了"),
      (4L, "zzz qqq xxx"),
      (5L, "the cat and the dog of the house")
    ).toDF("id", "text")
      .select(col("id"), graft.textops.TextOps.langIdCol(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "und" && rows(2L) == "und")
    assert(rows(3L) == "zh")
    assert(rows(4L) == "und")
    assert(rows(5L) == "en")
  }
}
