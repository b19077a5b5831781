package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.BoundedEnds

/** BoundedEnds TypedImperativeAggregate: exact equivalence with
  * sort_array(collect_list) + both-ends slice, under partial merges.
  */
class BoundedEndsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def reference(values: Seq[Long], k: Int): (Long, Seq[Long]) = {
    val sorted = values.sorted
    val ids =
      if (sorted.length <= 2 * k) sorted
      else sorted.take(k) ++ sorted.takeRight(k)
    (values.length.toLong, ids)
  }

  test("exact both-ends semantics across sizes, duplicates, merge orders") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // groups of varied size around the 2k boundary, with duplicates and
    // extreme ids; 7 partitions force map-side partial buffers + merges
    val k = 25
    val rows = (0 until 40).flatMap { g =>
      val size = Seq(0, 1, 2, 24, 25, 49, 50, 51, 75, 200)(g % 10) + (g / 10)
      (0 until size).map { _ =>
        val v = rnd.nextInt(60) match {
          case x if x < 5 => 10000000L + rnd.nextInt(100) // planted-style ids
          case _          => rnd.nextInt(1000).toLong
        }
        (g.toLong, v)
      }
    }
    val df = rows.toDF("g", "v").repartition(7)
    val got = df.groupBy($"g")
      .agg(BoundedEnds.bounded_ends($"v", k).as("be"))
      .select($"g", $"be.n_total", $"be.ids")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2))))
      .toMap
    val byGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byGroup.foreach { case (g, vs) =>
      val (refN, refIds) = reference(vs, k)
      val (gotN, gotIds) = got(g)
      assert(gotN == refN, s"group $g count")
      assert(gotIds == refIds, s"group $g ids: got $gotIds want $refIds")
    }
    // empty groups never appear (no rows), matching collect_list semantics
    assert(!got.contains(-1L))
  }

  test("design point: 10^5-member bucket, flat buffer memory, exact ends") {
    // the 10^8-boilerplate-bucket claim, demonstrated at its memory
    // invariant: the buffer is a FIXED 2k+1 long array regardless of input
    // count, and its serialized form never exceeds 12 + 16k bytes
    val k = 25
    val buf = new graft.functions.EndsBuffer(k)
    val rnd = new scala.util.Random(7)
    val values = Array.fill(100000)(rnd.nextLong())
    val agg = graft.functions.BoundedEnds(
      org.apache.spark.sql.GraftBridge.expression(lit(0L)), k)
    var maxSer = 0
    values.zipWithIndex.foreach { case (v, i) =>
      buf.count += 1
      buf.add(v)
      if (i % 10000 == 0) maxSer = math.max(maxSer, agg.serialize(buf).length)
    }
    maxSer = math.max(maxSer, agg.serialize(buf).length)
    assert(buf.arr.length == 2 * k + 1) // allocation never grows
    assert(buf.n <= 2 * k)
    assert(maxSer <= 12 + 16 * k, s"serialized buffer grew: $maxSer bytes")
    val sorted = values.sorted
    assert(buf.arr.take(buf.n).toSeq == (sorted.take(k) ++ sorted.takeRight(k)).toSeq)
    // and through 1000-way partial-buffer merges in adversarial order
    val partials = values.grouped(100).map { chunk =>
      val b = new graft.functions.EndsBuffer(k)
      chunk.foreach { v => b.count += 1; b.add(v) }
      b
    }.toSeq
    val merged = partials.sortBy(_.arr.headOption.getOrElse(0L)).reverse
      .reduce { (a, b) => agg.merge(a, b) }
    assert(merged.count == 100000L)
    assert(merged.arr.take(merged.n).toSeq ==
      (sorted.take(k) ++ sorted.takeRight(k)).toSeq)
  }

  test("10^5 identical docs in ONE bucket survive the full dedup path") {
    // the exact scenario the cap exists for: a pathological boilerplate
    // bucket. All 10^5 docs share every simhash band bucket; the pipeline
    // must produce exactly the C(50,2) pairs among the 25 smallest + 25
    // largest ids without materializing the bucket
    import spark.implicits._
    val n = 100000
    val docs = spark.range(n)
      .select(col("id").as("doc_id"),
        lit("the same boilerplate sentence repeated everywhere").as("text"))
    val pairs = graft.textops.Dedup.simhashDedup(docs, "doc_id", "text", 0)
      .collect()
    val kept = (0L until 25L) ++ (n - 25L until n.toLong)
    val expected = (for {
      a <- kept; b <- kept if a < b
    } yield (a, b)).toSet
    assert(pairs.length == expected.size) // C(50,2) = 1225
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(pairs.forall(_.getInt(2) == 0))
  }

  test("integral input widens to BIGINT (no mid-query ClassCastException)") {
    import spark.implicits._
    val r = (1 to 100).map(v => (0, v)).toDF("g", "v")
      .groupBy($"g")
      .agg(BoundedEnds.bounded_ends($"v", 3).as("be"))
      .select($"be.n_total", $"be.ids").collect().head
    assert(r.getLong(0) == 100L)
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L, 98L, 99L, 100L))
  }

  test("single giant group stays bounded and exact (the OOM case)") {
    import spark.implicits._
    val k = 25
    val n = 200000
    val df = spark.range(n).select(lit(0L).as("g"),
      // shuffled distinct values via a bijective-ish mix, plus known extremes
      (pmod(col("id") * 2654435761L, lit(1000000007L)) + 100).as("v"))
      .union(Seq((0L, 1L), (0L, 99999999999L)).toDF("g", "v"))
      .repartition(16)
    val r = df.groupBy($"g")
      .agg(BoundedEnds.bounded_ends($"v", k).as("be"))
      .select($"be.n_total", $"be.ids").collect().head
    assert(r.getLong(0) == n + 2L)
    val ids = r.getSeq[Long](1)
    assert(ids.length == 2 * k)
    assert(ids.head == 1L && ids.last == 99999999999L)
    assert(ids == ids.sorted)
  }
}
