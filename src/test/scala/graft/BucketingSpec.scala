package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.snapshot.Snapshot

class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = "/root/testdata/sf0.001"

  /** True if the executed plan contains a shuffle exchange. */
  private def hasExchange(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution.executedPlan.toString.contains("Exchange")
  }

  test("same-bucketed tables join with zero shuffle; unbucketed join shuffles") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val base = java.nio.file.Files.createTempDirectory("bucketing").toString
    // disable broadcast so the comparison is shuffle-vs-colocated, and
    // keep AQE from rewriting the bucketed side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val lb = Snapshot.stageBucketed(spark, s"$base/li", "li_b", "li",
        "l_orderkey", buckets = 8)(li)
      val ob = Snapshot.stageBucketed(spark, s"$base/o", "o_b", "o",
        "o_orderkey", buckets = 8)(o)
      val colocated = lb.join(ob, lb("l_orderkey") === ob("o_orderkey"))
      assert(!hasExchange(colocated), "bucketed join must not shuffle")
      val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      assert(hasExchange(plain),
        "control: unbucketed sort-merge join should shuffle")
      // same results either way
      assert(colocated.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
