package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.textops.{Dedup, Multimodal, Similarity, TextOps}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val sf = "/root/testdata/sf0.001"

  test("langId: CJK shortcut and stopword argmax") {
    assert(TextOps.langId("患者的病情是在好转了") == "zh")
    assert(TextOps.langId("the cat and the dog of the house") == "en")
    assert(TextOps.langId("el gato y la casa de los perros") == "es")
    assert(TextOps.langId("") == "und")
    assert(TextOps.langId("zzz qqq xxx") == "und")
  }

  test("rollingHash: whitespace-collapse + case normalization") {
    assert(TextOps.rollingHash("A  b\tC") == TextOps.rollingHash("a b c"))
    assert(TextOps.rollingHash("ab") != TextOps.rollingHash("ba"))
  }

  test("minhash LSH finds planted near-duplicates with high jaccard") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dupes = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text", concat(col("text"), lit(" nearduplicate")))
    val all = docs.unionByName(dupes)
    val planted = docs.filter(col("doc_id") % 10 === 0).count()
    val pairs = Dedup.minhashLsh(all, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 500L by 10L)
      .count(i => pairs.contains((i, i + 10000000L)) ||
        pairs.contains((i + 10000000L, i)))
    assert(found.toDouble / planted >= 0.9, s"$found/$planted")
    // est_sim tracks exact jaccard within 0.15 on found pairs
    val rows = Dedup.minhashLsh(all, "doc_id", "text", 0.5).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 0.15,
        s"est=${r.getDouble(2)} exact=${r.getDouble(3)}")
    }
  }

  test("simhash: identical text → distance 0; planted dupes found") {
    assert(Dedup.simhash("a b c") == Dedup.simhash("a b c"))
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(100)
    val dupes = docs.withColumn("doc_id", col("doc_id") + lit(10000000L))
    val pairs = Dedup.simhashDedup(docs.unionByName(dupes), "doc_id", "text", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact copies must appear at hamming 0
    val found = (0L until 100L)
      .count(i => pairs.contains((i, i + 10000000L)) ||
        pairs.contains((i + 10000000L, i)))
    assert(found >= 95, s"$found/100")
  }

  test("LSH top-k recovers planted high-sim twins (the ANN contract)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // plant twins: vec_id+10M with tiny perturbation (cos ≈ 0.99999)
    val twins = emb.filter(col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.0001)).cast("float")))
    val all = emb.unionByName(twins)
    val qs = (0L until 30L).toSeq
    val lsh = Similarity.lshTopK(all, qs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val found = qs.count(q => lsh.get(q).contains(q + 10000000L))
    assert(found >= 27, s"twin recall $found/30")
    // and brute force agrees on those same twins (ground truth)
    val bf = Similarity.bruteForceTopK(all, qs.take(10), 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 10L).forall(q => bf(q) == q + 10000000L))
  }

  test("IVF top-k recovers planted twins and matches brute force on them") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val twins = emb.filter(col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.0001)).cast("float")))
    val all = emb.unionByName(twins)
    val qs = (0L until 30L).toSeq
    val ivf = Similarity.ivfTopK(all, qs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // a twin is near-identical → same IVF cell → rank-1 neighbor
    val found = qs.count(q => ivf.get(q).contains(q + 10000000L))
    assert(found >= 28, s"ivf twin recall $found/30")
    // determinism: same centroids, same result
    val again = Similarity.ivfTopK(all, qs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == ivf)
  }

  test("LSH bucket truncation is observable: stats view + observed metrics") {
    import spark.implicits._
    // 60 identical docs land in one bucket per band — over the MaxBucket=50
    // cap, so candidates are dropped and the drop must be visible
    val boiler = (0L until 60L)
      .map(i => (i, "the same boilerplate text repeated again and again here"))
      .toDF("doc_id", "text")
    val stats = Dedup.minhashBucketStats(boiler, "doc_id", "text").collect()
    val truncated = stats.filter(_.getBoolean(3))
    assert(truncated.nonEmpty, "no truncated bucket reported")
    assert(truncated.forall(_.getLong(2) == 60L))
    // the observe() metric on the pair path reports the same drop.
    // minhashLsh materializes its output eagerly (single-pass signature
    // cache), so the metric surfaces through the session-wide
    // QueryExecutionListener channel (fired by the internal action), not on
    // the returned DataFrame's own queryExecution
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("graft.dedup.minhash_buckets")
          .foreach(r => captured = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.minhashLsh(boiler, "doc_id", "text", 0.5).collect()
      // the listener bus is asynchronous
      val deadline = System.nanoTime() + 10000000000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = captured.getOrElse(fail("observed metrics never surfaced"))
      assert(m.getAs[Long]("truncated_buckets") == Dedup.Bands.toLong)
      assert(m.getAs[Long]("dropped_ids") == Dedup.Bands.toLong * 10)
      assert(m.getAs[Long]("max_bucket_size") == 60L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("incrementalMinhash: new crawl finds its corpus near-dups; fresh docs don't") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusSigs = Dedup.minhashSigsDf(docs, "doc_id", "text")
    val twins = docs.filter(col("doc_id") % 5 === 0 && col("n_chars") >= 250)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text", concat(col("text"), lit(" nearduplicate")))
      .select("doc_id", "text")
    val fresh = Seq((20000000L,
      "completely unrelated fresh words matching nothing in that corpus body"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(
      twins.unionByName(fresh), "doc_id", "text", corpusSigs, 0.5).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter(col("doc_id") % 5 === 0 && col("n_chars") >= 250)
      .select("doc_id").as[Long].collect()
    assert(planted.nonEmpty)
    planted.foreach(i => assert(pairs.contains((i + 10000000L, i)), s"doc $i"))
    assert(!pairs.exists(_._1 == 20000000L), "fresh doc matched the corpus")
  }

  test("bucket cap keeps BOTH ends: extreme-id pair survives a truncated bucket") {
    import spark.implicits._
    // 80 identical docs, ids 0..78 plus one far outlier id 10_000_050: a
    // one-sided cap (50 smallest) would drop the outlier from every bucket;
    // both-ends slicing must keep the (0, 10_000_050) pair discoverable
    val ids = (0L until 79L) :+ 10000050L
    val boiler = ids
      .map(i => (i, "the same boilerplate text repeated again and again here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(boiler, "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 10000050L)),
      "pair straddling the cap boundary was dropped")
  }

  test("embeddingNearDup: capped bucket path finds perturbed twins, observable metrics") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val twins = emb.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.001)).cast("float")))
    val res = Similarity.embeddingNearDup(emb.unionByName(twins), 0.95)
    val got = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000000L)).toSet
    assert(expected.subsetOf(got), s"missed twins: ${expected.diff(got)}")
    // truncation metrics ride the same observe contract as minhash/simhash
    val m = res.queryExecution
      .observedMetrics("graft.dedup.embedding_buckets")
    assert(m.getAs[Long]("dropped_ids") >= 0L)
  }

  test("semanticDedup: twins collapse keep-first inside cells, organics all kept") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val twins = emb.filter(col("vec_id") % 20 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
      .withColumn("embedding",
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * lit(1.001)).cast("float")))
    val all = emb.unionByName(twins)
    val out = Similarity.semanticDedup(all, 0.95).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val n = emb.count()
    assert(out.size == n + (out.keys.count(_ >= 10000000L)))
    // organic corpus is duplicate-free at 0.95 → every organic keeps itself
    out.filter(_._1 < 10000000L).foreach { case (id, (_, cluster, keep)) =>
      assert(keep && cluster == id, s"organic $id lost its own cluster")
    }
    // a twin sharing its original's k-means cell MUST collapse keep-first
    val cellOf = Similarity.semanticCells(all)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val twinIds = out.keys.filter(_ >= 10000000L).toSeq
    assert(twinIds.nonEmpty)
    val sameCell = twinIds.filter(t => cellOf(t) == cellOf(t - 10000000L))
    // 1.001-scaling barely moves a vector: nearly all twins stay in-cell
    assert(sameCell.size * 10 >= twinIds.size * 8,
      s"only ${sameCell.size}/${twinIds.size} twins kept their cell")
    sameCell.foreach { tw =>
      val (_, cluster, keep) = out(tw)
      assert(!keep && cluster == tw - 10000000L, s"twin $tw not collapsed")
    }
  }

  test("semanticDedup: oversized cell is capped but keeps the extreme-id pair") {
    import spark.implicits._
    // 80 IDENTICAL vectors (one cell, one bucket) + a far outlier id: the
    // both-ends cap must keep (0, outlier) discoverable — and everything
    // verified collapses into one keep-first cluster
    val ids = (0L until 79L) :+ 10000050L
    val same = ids.map(i => (i, Array.fill(8)(0.5f).toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(same, 0.95, nlist = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 80)
    val outlier = out.find(_._1 == 10000050L).get
    assert(outlier._2 == 0L && !outlier._3,
      "outlier must collapse into the keep-first cluster through the cap")
    // the cap keeps the 25 smallest (ids 0..24) + 25 largest (ids 55..78 +
    // the outlier) of the 80-member bucket; the 30 mid-range ids 25..54
    // never enter a candidate pair and stay singletons — the DOCUMENTED
    // both-ends-cap tradeoff (observable via dropped_ids)
    val capped = out.filter(r => r._1 >= 25L && r._1 <= 54L)
    assert(capped.length == 30)
    assert(capped.forall(r => r._3 && r._2 == r._1),
      "cap-dropped mid-range ids must remain their own singletons")
    assert(out.count(_._3) == 1 + capped.length, "one canonical + singletons")
    assert(out.filter(r => r._1 <= 24L || (r._1 >= 55L && r._1 < 100L))
      .forall(r => r._2 == 0L), "both kept ends collapse into cluster 0")
  }

  test("repetition signals: Gopher-style dup lines and top n-gram coverage") {
    // duplicate-line fraction: "aaaa" appears twice among 3 lines
    val withDup = "aaaa\naaaa\nbb cc dd"
    val (dl, _, _) = TextOps.repetitionSignals(withDup)
    assert(dl == 8L * 1000000L / 16L) // 2x4 dup chars over 16 line chars
    // top-bigram coverage on a single line (words split on spaces only):
    // bigrams (dup dup),(dup x),(x dup),(dup dup) -> "dup dup" c=2 len=7
    val t = "dup dup x dup dup"
    val (d0, g2, g3) = TextOps.repetitionSignals(t)
    assert(d0 == 0L) // one unique line
    assert(g2 == 2L * 7L * 1000000L / t.length)
    // trigrams all c=1 -> smallest gram "dup dup x" (9 chars)
    assert(g3 == 9L * 1000000L / t.length)
    assert(TextOps.repetitionSignals("") == ((0L, 0L, 0L)))
    assert(TextOps.repetitionSignals(null) == ((0L, 0L, 0L)))
    val (d2, _, _) = TextOps.repetitionSignals("a b c")
    assert(d2 == 0L)
  }

  test("empty embeddings: no quantizer, empty IVF result (no crash)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.kmeansCentroids(empty).isEmpty)
    val res = Similarity.ivfTopK(empty, Seq(0L, 1L), 3)
    assert(res.count() == 0)
    assert(res.columns.toSeq ==
      Seq("query_id", "neighbor_id", "sim", "rank"))
  }

  test("zero-norm vectors never outrank real neighbors (NaN guard)") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(50)
    val zero = Seq((99999999L, Seq.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val all = base.unionByName(zero)
    val top = Similarity.bruteForceTopK(all, Seq(0L), 3).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      assert(r.getLong(1) != 99999999L, "zero-norm vector ranked in top-k")
      assert(!r.getDouble(2).isNaN)
    }
  }

  test("multimodal: stub features are normalized histograms; resize/frames per kind") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, 90))
      .collect()
    assert(feats.length == 90)
    feats.foreach { r =>
      val f = r.getSeq[Float](3)
      assert(f.length == Multimodal.FeatureDim)
      assert(math.abs(f.sum - 1.0f) < 1e-3)
      val kind = r.getString(1)
      val offsets = r.getSeq[Int](6)
      if (kind == "image") assert(offsets.isEmpty)
      else assert(offsets.nonEmpty)
      if (kind == "image") {
        assert(r.getInt(4) <= 256 && r.getInt(5) <= 256)
      }
    }
  }

  test("resizeDims preserves aspect ratio and caps the long side") {
    assert(Multimodal.resizeDims(512, 256, 256) == ((256, 128)))
    assert(Multimodal.resizeDims(100, 400, 256) == ((64, 256)))
    assert(Multimodal.resizeDims(100, 100, 256) == ((100, 100)))
  }

  test("redactPii: emails/IPs/phones → typed placeholders, email wins over IP") {
    import spark.implicits._
    def red(s: String): String =
      Seq(s).toDF("t").select(TextOps.redactPii(col("t"))).head.getString(0)
    assert(red("mail bob.smith+x@sub.example.co.uk now") ==
      "mail <EMAIL> now")
    assert(red("host 10.0.255.1 up") == "host <IP> up")
    assert(red("call +86 555-123-4567 ok") == "call <PHONE> ok")
    assert(red("call 1 555 123 4567 ok") == "call <PHONE> ok")
    // email rule must fire before the IP rule: numeric-dotted mail hosts
    assert(red("a@192.168.1.77.example.com") == "<EMAIL>")
    // plain prose with loose digits is untouched
    assert(red("in 1987 some 42 items") == "in 1987 some 42 items")
    assert(red(null) == "")
    // the SQL mirror is generated from the SAME pattern table
    val sql = TextOps.redactPiiSql("text")
    TextOps.piiPatterns.foreach { case (pat, repl) =>
      assert(sql.contains(repl))
      assert(sql.contains(pat.replace("'", "''")))
    }
  }

  test("boilerplateLineRemoval: hot lines dropped everywhere, order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\nfooter line\nbody a"),
      (2L, "unique two\nfooter line"),
      (3L, "footer line\nunique three"),
      (4L, "solo doc\n\nwith blank"), // blank lines never count as hot
      (5L, "")).toDF("doc_id", "text")
    val out = TextOps.boilerplateLineRemoval(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "unique one\nbody a"))) // no copy kept
    assert(out(2L) == ((2L, 1L, "unique two")))
    assert(out(3L) == ((2L, 1L, "unique three")))
    assert(out(4L) == ((3L, 0L, "solo doc\n\nwith blank")))
    assert(out(5L) == ((1L, 0L, ""))) // empty text = one blank line, kept
  }

  test("domainStats: link-weighted counts, distinct docs, quality mass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a https://x.com/a b https://x.com/b c https://y.org/only"),
      (2L, "d https://x.com/c end"),
      (3L, "no links here at all")).toDF("doc_id", "text")
    val out = TextOps.domainStats(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("x.com")._1 == 3L) // three links
    assert(out("x.com")._2 == 2L) // from two docs
    assert(out("y.org")._1 == 1L)
    assert(!out.contains("")) // linkless docs contribute no host rows
    // quality mass: doc 1 counted once per link (link-weighted by design)
    val q1 = TextOps.qualityScoreX1e6(org.apache.spark.sql.functions.lit(
      "a https://x.com/a b https://x.com/b c https://y.org/only"))
    val q1v = docs.sparkSession.range(1).select(q1).head.getLong(0)
    assert(out("y.org")._3 == q1v)
  }

  test("exactSubstringDedup: keep-first, overlap coverage, short docs") {
    import spark.implicits._
    val dup = "a1 a2 a3 a4 a5 a6 a7 a8" // exactly one k=8 window
    val docs = Seq(
      (1L, s"intro words here $dup tail one"),
      (2L, s"other prefix $dup different suffix"), // dup removed (not first)
      (3L, s"$dup x $dup"),   // two occurrences in one doc, both non-first
      (4L, "too short to shingle"),
      (5L, "unique eight word sentence nothing shared at all")
    ).toDF("doc_id", "text")
    val res = Dedup.exactSubstringDedup(docs, "doc_id", "text", k = 8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(1L) == ((13L, 0L, s"intro words here $dup tail one")))
    assert(res(2L) == ((12L, 8L, "other prefix different suffix")))
    // doc 3: both windows duplicate doc 1's → all 16 dup words removed
    assert(res(3L) == ((17L, 16L, "x")))
    assert(res(4L) == ((4L, 0L, "too short to shingle")))
    assert(res(5L) == ((8L, 0L,
      "unique eight word sentence nothing shared at all")))
  }

  test("qualityFilterPipeline: one verdict per doc, fixed rule precedence") {
    import spark.implicits._
    val en = "The quick brown fox jumps over the lazy dog near the river " +
      "bank and keeps running through the quiet green fields every single " +
      "morning before the sun rises over the distant hills again today"
    val docs = Seq(
      (1L, en),                                        // keep
      (2L, "el perro corre por el parque " * 10),      // drop:lang
      (3L, "short text only"),                         // drop (few words)
      (4L, en + ("\nrepeat me" * 40)),                 // drop:repetition
      (5L, en + " see https://spam-site.biz/x now ok") // drop:blocklist
    ).toDF("doc_id", "text")
    val out = TextOps.qualityFilterPipeline(
      docs, "doc_id", "text", Seq("spam-site.biz"))
      .collect().map(r => r.getLong(0) -> r.getString(8)).toMap
    assert(out(1L) == "keep")
    assert(out(2L) == "drop:lang")
    assert(out(3L).startsWith("drop:")) // word_count or lang, both valid drops
    assert(out(4L) == "drop:repetition")
    assert(out(5L) == "drop:blocklist")
  }

  test("qualityFilterPipelineSql guards empty lists (no `IN ()` syntax error)") {
    val sqlBoth = TextOps.qualityFilterPipelineSql(
      "documents", blockedDomains = Nil, allowedLangs = Nil)
    assert(!sqlBoth.contains("IN ()"), "empty IN-list leaked into the SQL")
    assert(sqlBoth.contains("CAST(0 AS BIGINT)")) // empty blocklist → 0
    assert(sqlBoth.contains("WHEN TRUE THEN 'drop:lang'")) // no langs → drop all
    // and the Spark side agrees: empty lists behave, every doc drop:lang
    import org.apache.spark.sql.SparkSession
    val spark2 = SparkTestBase.spark
    import spark2.implicits._
    val out = TextOps.qualityFilterPipeline(
      Seq((1L, "some text here")).toDF("doc_id", "text"),
      "doc_id", "text", blockedDomains = Nil, allowedLangs = Nil)
      .collect()
    assert(out.length == 1 && out.head.getString(8) == "drop:lang")
    assert(out.head.getLong(7) == 0L) // n_blocked
  }

  test("incrementalMinhash truncation is observable on oversized corpus buckets") {
    import spark.implicits._
    // 60 identical corpus docs overflow MaxBucket=50; the new doc must
    // still find capped-end partners and the drop must surface on the
    // listener channel (the result is eagerly materialized)
    val corpus = (0L until 60L)
      .map(i => (i, "the same boilerplate text repeated again and again here"))
      .toDF("doc_id", "text")
    val corpusSigs = Dedup.minhashSigsDf(corpus, "doc_id", "text")
    val newDoc = Seq(
      (500L, "the same boilerplate text repeated again and again here"))
      .toDF("doc_id", "text")
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("graft.dedup.incr_buckets")
          .foreach(r => captured = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.incrementalMinhash(
        newDoc, "doc_id", "text", corpusSigs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // both-ends cap: partners are the 25 smallest + 25 largest corpus ids
      val kept = ((0L until 25L) ++ (35L until 60L)).map(i => (500L, i)).toSet
      assert(pairs == kept, s"got ${pairs.size} pairs")
      val deadline = System.nanoTime() + 10000000000L
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = captured.getOrElse(fail("incr metrics never surfaced"))
      assert(m.getAs[Long]("truncated_buckets") == Dedup.Bands.toLong)
      assert(m.getAs[Long]("max_bucket_size") == 60L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("ngramLogFreqScore: common collocations score high, junk near zero") {
    import spark.implicits._
    // "the cat sat" repeated 8x → its bigrams have corpus count ≥ 8
    // (floor log2 ≥ 3 each); junk doc of unique words → every bigram
    // count 1 → contributes 0; one-word and empty docs → zero rows kept
    val fluent = (1L to 8L).map(i => (i, "the cat sat on the mat"))
    val junk = Seq((100L, "qz7 xv9 kk3 mm1 zz5"))
    val tiny = Seq((200L, "solo"), (201L, ""))
    val out = TextOps.ngramLogFreqScore(
      (fluent ++ junk ++ tiny).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == 5) // 6 words → 5 bigrams
    assert(out(1L)._2 == 5 * 3) // every bigram count 8 → floor log2 = 3
    assert(out(100L) == ((4L, 0L))) // all-unique junk: 4 bigrams, score 0
    assert(out(200L) == ((0L, 0L)) && out(201L) == ((0L, 0L)))
    assert(out.size == 11)
  }

  test("urlCanonicalize: fragment/tracking/case/www/slash normalization") {
    import spark.implicits._
    val cases = Seq(
      "https://WWW.Example.com/Article/?utm_source=feed#top" ->
        "https://example.com/Article",
      "https://example.com/Article" -> "https://example.com/Article",
      "http://news.site.org/story?id=7&utm_campaign=x&fbclid=z" ->
        "http://news.site.org/story?id=7",
      // bare ref is a legitimate routing param (branch refs, referers) —
      // NOT stripped, unlike the unambiguous trackers
      "https://code.host/org/repo/blob/f?ref=main" ->
        "https://code.host/org/repo/blob/f?ref=main",
      // redirect links: the www strip must not rewrite URLs embedded in
      // query-string VALUES (host-only strip)
      "https://t.co/r?url=https://www.example.com/x" ->
        "https://t.co/r?url=https://www.example.com/x",
      "http://news.site.org/story?id=7" -> "http://news.site.org/story?id=7",
      "https://a.com/x?utm_source=1&utm_medium=2" -> "https://a.com/x",
      "https://a.com/Path/Is/CaseSensitive" ->
        "https://a.com/Path/Is/CaseSensitive",
      "http://b.com/p?keep=1&fbclid=abc&also=2" ->
        "http://b.com/p?keep=1&also=2",
      // CRLF text: \r is excluded from extraction, so no line-terminator
      // char can reach the canonicalizer where Java/RE2 anchors diverge
      "https://a.com/x/" -> "https://a.com/x")
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.urlCanonicalize(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canon($in) = ${got(in)}")
    }
  }

  test("urlBlocklistVerdict: hosts extracted, dup links counted, keep/drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://ads.example.com/a and http://ads.example.com/b?x=1"),
      (2L, "read https://en.wikipedia.org/wiki/Page for more"),
      (3L, "no links at all"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val bl = Seq("ads.example.com").toDF("domain")
    val out = TextOps.urlBlocklistVerdict(docs, "doc_id", "text", bl)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, "drop"))) // both links counted, not deduped
    assert(out(2L) == ((1L, 0L, "keep")))
    assert(out(3L) == ((0L, 0L, "keep")))
    assert(out(4L) == ((0L, 0L, "keep"))) // null text → no URLs, kept
  }

  test("packSequences: budget-aligned prefix packing per shard, bounded overrun") {
    import spark.implicits._
    val budget = 10L
    val docs = (0L until 40L).map { i =>
      val words = 1 + (i % 7).toInt * 3 // 1..19 tokens, some > budget/2
      (i, if (i % 2 == 0) "a" else "b", Seq.fill(words)("w").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val out = TextOps.packSequences(docs, "doc_id", "text", "source", budget)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40)
    out.groupBy(_._1).foreach { case (shard, rows) =>
      val sorted = rows.sortBy(_._2)
      var cum = 0L
      sorted.foreach { case (_, id, n, pack) =>
        assert(pack == cum / budget, s"shard $shard doc $id")
        cum += n
      }
      // a pack never exceeds budget by more than one document
      val maxDoc = sorted.map(_._3).max
      sorted.groupBy(_._4).foreach { case (p, prows) =>
        assert(prows.map(_._3).sum <= budget + maxDoc, s"pack $p overran")
      }
    }
    // the two-level prefix sum is exactly the single-window prefix:
    // forcing many tiny sub-shards must not change a single assignment
    val fine = TextOps.packSequences(docs, "doc_id", "text", "source",
      budget, subShardIds = 4L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fine.sorted.toSeq == out.sorted.toSeq)
  }

  test("packSequences: NULL-shard rows survive the null-safe rejoin as their own shard") {
    import spark.implicits._
    // ADVICE r4: the old usingColumns rejoin silently dropped NULL-shard
    // rows on the Spark side while the DuckDB mirror's PARTITION BY kept
    // them as one partition
    val docs = (0L until 12L).map { i =>
      (i, if (i % 3 == 0) null else "s", "w w w w w") // 5 tokens each
    }.toDF("doc_id", "source", "text")
    val out = TextOps.packSequences(docs, "doc_id", "text", "source", 10L)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(3)))
    assert(out.length == 12, "NULL-shard rows must not be dropped")
    val nulls = out.filter(_._1.isEmpty).sortBy(_._2)
    assert(nulls.map(_._2).toSeq == Seq(0L, 3L, 6L, 9L))
    // NULL shard packs as ONE partition: prefix 0,5,10,15 → packs 0,0,1,1
    assert(nulls.map(_._3).toSeq == Seq(0L, 0L, 1L, 1L))
  }

  test("packedChunkId: a >=1000-chunk document never collides with the next doc") {
    import spark.implicits._
    // 48*1049 + 64 tokens → 1050 chunks at 64/16 windows: over the old
    // x1000 packing boundary that aliased chunk ids into doc_id+1's space
    val longText = (1 to (48 * 1049 + 64)).map(i => s"t$i").mkString(" ")
    val docs = Seq((7L, longText), (8L, "a b c")).toDF("doc_id", "text")
    val cids = TextOps.chunkDocuments(docs, "doc_id", "text", 64, 16)
      .select(col("doc_id"), col("chunk_ix"),
        TextOps.packedChunkId(col("doc_id"), col("chunk_ix")).as("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val (d7, d8) = cids.partition(_._1 == 7L)
    assert(d7.length == 1050 && d8.length == 1)
    assert(cids.map(_._3).distinct.length == cids.length, "cid collision")
    assert(d7.map(_._3).max < d8.map(_._3).min,
      "doc 7 chunks must stay below doc 8's id space")
    // overflow raises instead of silently aliasing
    val boom = intercept[Exception] {
      Seq((1L, 1 << 20)).toDF("doc_id", "chunk_ix")
        .select(TextOps.packedChunkId(col("doc_id"), col("chunk_ix")))
        .collect()
    }
    assert(boom.getMessage != null)
  }

  test("chunkDocuments: window coverage, overlap stitching, tail and edge docs") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, mk(100)), // multiple full windows + tail
      (2L, mk(10)),  // shorter than one window → single chunk
      (3L, mk(16)),  // exactly one window
      (4L, ""),      // no tokens → no chunks
      (5L, null.asInstanceOf[String]),
      (6L, mk(17))   // one token past a window → 2 chunks
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, "doc_id", "text", 16, 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(c => (c._3, c._4.split(" ").toSeq))).toMap
    assert(!byDoc.contains(4L) && !byDoc.contains(5L))
    assert(byDoc(2L).map(_._1).toSeq == Seq(10L))
    assert(byDoc(3L).map(_._1).toSeq == Seq(16L))
    assert(byDoc(6L).size == 2 && byDoc(6L).last._2.size == 5) // tail window
    // doc 1: step 12 → k = ceil((100-16)/12)+1 = 8 chunks
    assert(byDoc(1L).size == 8)
    val chunks1 = byDoc(1L).map(_._2)
    // overlap stitching: each chunk's first 4 words = previous chunk's last 4
    chunks1.sliding(2).foreach { pair =>
      assert(pair(1).take(4) == pair(0).takeRight(4))
    }
    // full coverage in order: de-overlapped concatenation rebuilds the doc
    val rebuilt = chunks1.head ++ chunks1.tail.flatMap(_.drop(4))
    assert(rebuilt.toSeq == (1 to 100).map(i => s"w$i"))
  }

  test("cdcChunks: coverage, determinism, and edit-robust boundaries") {
    import spark.implicits._
    val words = (1 to 400).map(i => s"tok$i")
    val base = words.mkString(" ")
    // insertion near the START of the document
    val edited = (Seq("tok1", "INSERTED") ++ words.tail).mkString(" ")
    val docs = Seq((1L, base), (2L, edited), (3L, "a b"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.cdcChunks(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // empty doc → no chunks; short doc (no 3-gram boundary) → one chunk
    assert(!byDoc.contains(4L))
    assert(byDoc(3L).map(c => (c._3, c._4)).toSeq ==
      Seq((2L, graft.util.Hashing.md5Hex("a b"))))
    // full coverage: token counts rebuild the doc length, ixs contiguous
    assert(byDoc(1L).map(_._3).sum == 400L)
    assert(byDoc(1L).map(_._2).toSeq == byDoc(1L).indices.toSeq)
    // the CDC property: chunks AFTER the edit point realign — the base and
    // edited docs share most chunk fingerprints (a fixed-window chunker
    // shares none once offsets shift)
    val fps1 = byDoc(1L).map(_._4).toSet
    val fps2 = byDoc(2L).map(_._4).toSet
    val shared = fps1.intersect(fps2).size
    assert(shared >= fps1.size - 3,
      s"only $shared/${fps1.size} chunks survived a single-token insertion")
    // fixed windows lose ALL alignment after the same edit (the contrast
    // that motivates CDC)
    val fw1 = TextOps.chunkDocuments(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", 16, 0).collect().map(_.getString(3)).toSet
    val fw2 = TextOps.chunkDocuments(Seq((2L, edited)).toDF("doc_id", "text"),
      "doc_id", "text", 16, 0).collect().map(_.getString(3)).toSet
    assert(fw1.intersect(fw2).size <= 1)
  }

  test("domainMixSample: rarest domain kept whole, dominant flattened, deterministic") {
    import spark.implicits._
    val docs = ((0 until 400).map(i => (i.toLong, "a")) ++
      (1000 until 1100).map(i => (i.toLong, "b")) ++
      (2000 until 2025).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    val kept = TextOps.domainMixSample(docs, "doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byDom = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byDom("c") == 25) // rate sqrt(25/25) = 1 → every doc kept
    // expected keep-rates sqrt(25/400) = 0.25 and sqrt(25/100) = 0.5
    assert(byDom("a") > 60 && byDom("a") < 140, byDom.toString)
    assert(byDom("b") > 30 && byDom("b") < 70, byDom.toString)
    val again = TextOps.domainMixSample(docs, "doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == kept.toSet)
  }

  test("hllRegisters: duplicate-invariant, merge = elementwise max, estimate in bound") {
    import spark.implicits._
    def regs(texts: Seq[String]): Map[Long, Long] =
      TextOps.hllRegisters(texts.toDF("text"), "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fixed output spine
    val a = regs(Seq("alpha beta gamma", "delta epsilon"))
    assert(a.size == TextOps.hllBuckets)
    assert(a.keySet == (0L until TextOps.hllBuckets.toLong).toSet)
    // duplicates cannot move a max: sketch of the tripled corpus is equal
    val aDup = regs(Seq.fill(3)("alpha beta gamma alpha") :+ "delta epsilon")
    assert(aDup == a)
    // distributed-merge property: sketch(A ∪ B) = elementwise max
    val b = regs(Seq("zeta eta theta iota kappa"))
    val ab = regs(Seq("alpha beta gamma", "delta epsilon",
      "zeta eta theta iota kappa"))
    assert(ab == a.map { case (k, v) => k -> math.max(v, b(k)) })
    // estimate accuracy: 4000 distinct tokens, m=256 -> rse ~6.5%; assert
    // within 3 sigma (deterministic — this pins THIS hash's actual error)
    val big = (0 until 4000).grouped(50)
      .map(g => g.map(i => s"tok$i").mkString(" ")).toSeq
    val est = TextOps.hllEstimate(regs(big))
    assert(math.abs(est - 4000.0) / 4000.0 < 0.2, s"estimate $est")
    // small-range correction kicks in and is sane on tiny corpora
    val tiny = TextOps.hllEstimate(regs(Seq("one two three")))
    assert(tiny > 0.0 && tiny < 30.0, s"tiny estimate $tiny")
  }

  test("cmsCounters: never underestimates, exact on light cells, merges by addition") {
    import spark.implicits._
    def cms(texts: Seq[String]): Map[(Long, Long), Long] =
      TextOps.cmsCounters(texts.toDF("text"), "text").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val corpus = Seq.fill(7)("hot hot hot filler") ++
      (0 until 300).map(i => s"pad$i rare")
    val sk = cms(corpus)
    assert(sk.size == TextOps.cmsDepth * TextOps.cmsWidth)
    // total mass per row = stream length (each token lands once per row)
    val mass = corpus.flatMap(_.split(" ")).size.toLong
    (0L until TextOps.cmsDepth.toLong).foreach { r =>
      assert(sk.collect { case ((`r`, _), c0) => c0 }.sum == mass)
    }
    // CMS guarantee: estimate >= exact (303 distinct tokens over 4x512
    // cells; the min over 4 rows keeps these near-exact, >= is the bound)
    assert(TextOps.cmsEstimate(sk, "hot") >= 21L)
    assert(TextOps.cmsEstimate(sk, "rare") >= 300L)
    assert(TextOps.cmsEstimate(sk, "absent-token") >= 0L)
    // merge = element-wise addition
    val a = cms(Seq("x y z"))
    val b = cms(Seq("x x w"))
    val ab = cms(Seq("x y z", "x x w"))
    assert(ab == a.map { case (k, v) => k -> (v + b(k)) })
  }
}
