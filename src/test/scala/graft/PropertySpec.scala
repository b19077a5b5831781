package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dict.{Gazetteer, Trie}
import graft.link.Link
import graft.ner.{Bio, BioRaw, EnsemblesRaw, Tagged}

/** Property tests (SURVEY.md §5.2). */
class PropertySpec extends AnyFunSuite {

  /** Raw-scalacheck bridge (no scalatestplus jar in the offline cache). */
  def forAll[A](gen: Gen[A], minSuccessful: Int = 60)(body: A => Unit): Unit = {
    val prop = Prop.forAll(gen) { a => body(a); true }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }
  def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  val dictWords = graft.corpus.Vocab.jiebaDict
  val trie = Gazetteer.buildTrie(dictWords)
  val vocabChars: Seq[Char] =
    (dictWords.keys.flatten.toSet ++ "，。的了是在和x ").toSeq

  val sentenceGen: Gen[String] = for {
    n <- Gen.choose(0, 60)
    cs <- Gen.listOfN(n, Gen.oneOf(vocabChars))
  } yield cs.mkString

  test("tokenizer spans tile every sentence end-exclusively, no overlap") {
    forAll(sentenceGen) { s =>
      val toks = Gazetteer.tokenize(trie, s)
      assert(toks.map(t => t.end - t.start).sum == s.length)
      var pos = 0
      toks.foreach { t =>
        assert(t.start == pos && t.end > t.start)
        assert(s.substring(t.start, t.end) == t.word)
        pos = t.end
      }
    }
  }

  val typeGen: Gen[Int] = Gen.choose(-1, 9)

  test("toBio/typesToBio agree between string and int implementations") {
    forAll(Gen.listOf(typeGen)) { types =>
      val names = types.map(t =>
        if (t < 0) "O" else graft.ner.CrfScorer.Types(t))
      val viaString = Bio.toBio(names)
      val viaInt = EnsemblesRaw.typesToBio(types.toArray)
        .map(graft.ner.CrfScorer.Labels(_)).toSeq
      assert(viaString == viaInt)
    }
  }

  test("getPositions: string and raw implementations produce identical spans") {
    forAll(Gen.listOf(typeGen)) { types =>
      val bioInt = EnsemblesRaw.typesToBio(types.toArray)
      val tagged = bioInt.map(l => (graft.ner.CrfScorer.Labels(l), 0.5)).toSeq
      val (sTypes, sSpans, _) = Bio.getPositions(tagged)
      val (rTypes, rSpans) = BioRaw.getPositions(bioInt)
      assert(sSpans == rSpans.toSeq.map(s =>
        (BioRaw.spanStart(s), BioRaw.spanEnd(s))))
      assert(sTypes == rTypes.toSeq.map(graft.ner.CrfScorer.Types(_)))
    }
  }

  test("getPositions spans are disjoint, ordered, in-bounds, len>=1") {
    forAll(Gen.listOf(typeGen)) { types =>
      val bioInt = EnsemblesRaw.typesToBio(types.toArray)
      val (_, spans) = BioRaw.getPositions(bioInt)
      var lastEnd = -1
      spans.foreach { sp =>
        val s = BioRaw.spanStart(sp)
        val e = BioRaw.spanEnd(sp)
        assert(s >= 0 && e <= types.length && s < e)
        assert(s >= lastEnd)
        lastEnd = e
      }
    }
  }

  test("CC: same component => same label; label is the min member") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(1, 25)
      edges <- Gen.listOfN(n,
        Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 30L)))
    } yield edges.filter(e => e._1 != e._2)
    forAll(edgeGen, minSuccessful = 8) { edges =>
      whenever(edges.nonEmpty) {
        val got = graft.canon.Canon
          .connectedComponents(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // union-find reference
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val refComp = vertices.groupBy(v => find(v))
        refComp.foreach { case (_, members) =>
          val labels = members.map(got).distinct
          assert(labels.size == 1, s"split component: $members -> $labels")
          assert(labels.head == members.min)
        }
      }
    }
  }

  test("Link.candidates: at most one per surface, and each is its own candidate") {
    // the invariant that makes every alias graph a star forest, which
    // Canon.canonicalize labels in closed form: a linker that emits several
    // candidates per surface, or chains, fails here
    implicit val spark: org.apache.spark.sql.SparkSession = SparkTestBase.spark
    import spark.implicits._
    val typeOfTag = graft.model.Ontology.jiebaReverse
    val tags = typeOfTag.keys.toSeq.sorted.take(3) // few tags: many same-type hits
    val charGen = Gen.oneOf('甲', '乙', '丙') // few chars: many shared prefixes
    def strGen(lo: Int, hi: Int) =
      Gen.choose(lo, hi).flatMap(Gen.listOfN(_, charGen)).map(_.mkString)
    val caseGen = for {
      dict <- Gen.mapOf(Gen.zip(strGen(1, 4), Gen.oneOf(tags)))
      surfaces <- Gen.listOf(Gen.zip(
        Gen.zip(strGen(1, 4), strGen(0, 3)).map { case (w, s) => w + s },
        Gen.oneOf(tags.map(typeOfTag))))
    } yield (dict, surfaces.distinct)
    var nonSelf = 0
    forAll(caseGen, minSuccessful = 20) { case (dict, surfaces) =>
      val trieB = spark.sparkContext.broadcast(Gazetteer.buildTrie(dict))
      def candidates(in: Seq[(String, String)]) =
        graft.link.Link.candidates(in.toDS(), trieB, typeOfTag)
          .as[(String, String, String)].collect().toSeq
      val out = candidates(surfaces)
      assert(out.groupBy(r => (r._1, r._2)).values.forall(_.size == 1), out)
      val fedBack = out.map(r => (r._3, r._2)).distinct
      assert(candidates(fedBack).sorted ==
        fedBack.map { case (c, t) => (c, t, c) }.sorted)
      nonSelf += out.count(r => r._1 != r._3)
    }
    assert(nonSelf > 0, "no generated surface had a non-self candidate")
  }

  /** The oracle of [[Link.linkTableFromTokens]]: the two-join formulation
    * it replaced. Profiles take a token's df as countDistinct(surface), and
    * the score left-joins the profiles twice, once on the surface and once
    * on (candidate, token). No persist and no partitioning: only the rows
    * matter here.
    */
  private def twoJoinLinks(mentionTokens: DataFrame, trieB: Broadcast[Trie],
      typeOfTag: Map[String, String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cands = Link.candidates(
      mentionTokens.select($"surface", $"entType").distinct()
        .as[(String, String)], trieB, typeOfTag)
    val tf = mentionTokens.groupBy($"surface", $"token")
      .agg(count(lit(1)).as("tf"))
    val nSurfaces = tf.agg(
      countDistinct($"surface").cast("double").as("n_surfaces"))
    val idf = tf.groupBy($"token").agg(countDistinct($"surface").as("df"))
      .crossJoin(nSurfaces)
      .withColumn("idf", log((col("n_surfaces") + 1.0) / (col("df") + 1.0)))
      .filter($"idf" >= 0.1)
      .drop("n_surfaces")
    val w = tf.join(idf, "token").withColumn("w", $"tf" * $"idf")
    val norms = w.groupBy($"surface").agg(sqrt(sum($"w" * $"w")).as("norm"))
    val profiles = w.join(norms, "surface")
      .select($"surface", $"token", ($"w" / $"norm").as("weight"))
    val mp = profiles.toDF("surface", "token", "mw")
    val cp = profiles.toDF("candidate", "token", "cw")
    val blend = udf { (s: String, c: String, sim: Double) =>
      0.5 * Link.bigramJaccard(s, c) + 0.5 * sim
    }
    cands
      .join(mp, Seq("surface"), "left")
      .join(cp, Seq("candidate", "token"), "left")
      .groupBy($"surface", $"entType", $"candidate")
      .agg(coalesce(sum($"mw" * $"cw"), lit(0.0)).as("sim"))
      .withColumn("score", round(blend($"surface", $"candidate", $"sim"), 9))
      .filter($"score" >= 0.3)
      .select($"surface", $"entType", $"candidate", $"score")
  }

  private def linkRows(links: DataFrame): Set[(String, String, String, Double)] =
    links.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet

  test("Link.linkTableFromTokens equals the two-join oracle on generated mention tokens") {
    implicit val spark: SparkSession = SparkTestBase.spark
    import spark.implicits._
    val typeOfTag = graft.model.Ontology.jiebaReverse
    val Seq(tagA, tagB) = typeOfTag.keys.toSeq.sorted.take(2)
    val (typeA, typeB) = (typeOfTag(tagA), typeOfTag(tagB))
    val charGen = Gen.oneOf('甲', '乙', '丙', '丁') // few chars: shared prefixes
    def strGen(lo: Int, hi: Int) =
      Gen.choose(lo, hi).flatMap(Gen.listOfN(_, charGen)).map(_.mkString)
    // fixed gazetteer words and their surfaces, next to generated ones:
    //   甲乙丙  a self-candidate; a1 twice, so tf = 2
    //   甲乙丙丁 links to 甲乙丙 through the shared token a1
    //   甲乙丙乙 links to 甲乙丙 with no shared token: sim 0, Jaccard only
    //   乙丙甲丁 links to 乙丙甲, which is never a surface: no profile
    //   丙甲乙  a self-candidate whose one token is pruned: no profile
    // and every surface has the token `common`, which idf prunes
    val fixedDict = Map("甲乙丙" -> tagA, "乙丙甲" -> tagA, "丙甲乙" -> tagB)
    val fixedRows = Seq(
      ("甲乙丙", typeA, "a1"), ("甲乙丙", typeA, "a1"), ("甲乙丙", typeA, "a2"),
      ("甲乙丙丁", typeA, "a1"), ("甲乙丙丁", typeA, "b1"),
      ("甲乙丙乙", typeA, "e1"),
      ("乙丙甲丁", typeA, "c1"))
    val fixedSurfaces = fixedRows.map(_._1).toSet + "乙丙甲" + "丙甲乙"
    val caseGen = for {
      dict <- Gen.mapOf(Gen.zip(strGen(2, 3), Gen.oneOf(tagA, tagB)))
      rows <- Gen.listOf(Gen.zip(
        Gen.zip(strGen(2, 3), strGen(0, 2)).map { case (w, x) => w + x },
        Gen.oneOf(typeA, typeB), Gen.oneOf("t1", "t2", "t3", "t4", "t5")))
    } yield (dict ++ fixedDict,
      rows.filterNot(r => fixedSurfaces(r._1)) ++ fixedRows)
    forAll(caseGen, minSuccessful = 8) { case (dict, rows) =>
      val trieB = spark.sparkContext.broadcast(Gazetteer.buildTrie(dict))
      val common = rows.map(r => (r._1, r._2, "common")).distinct :+
        (("丙甲乙", typeB, "common"))
      val mentionTokens = (rows ++ common).toDF("surface", "entType", "token")
      val got = try linkRows(
        Link.linkTableFromTokens(mentionTokens, trieB, typeOfTag))
      finally spark.catalog.clearCache() // the tf cache
      assert(got == linkRows(twoJoinLinks(mentionTokens, trieB, typeOfTag)))
      val third = math.round(1e9 / 3) / 1e9 // 0.5 · Jaccard 2/3, sim 0
      assert(got.contains(("丙甲乙", typeB, "丙甲乙", 0.5)) &&
        got.contains(("甲乙丙乙", typeA, "甲乙丙", third)) &&
        got.contains(("乙丙甲丁", typeA, "乙丙甲", third)), got)
      assert(got.exists(r => r._1 == "甲乙丙" && r._3 == "甲乙丙" && r._4 == 1.0))
    }
  }

  test("Link.linkTableFromTokens equals the two-join oracle on 40 pages") {
    implicit val spark: SparkSession = SparkTestBase.spark
    val b = graft.pipeline.Pipeline.broadcasts(spark)
    val mentionTokens = Link.mentionTokens(graft.pipeline.Pipeline.artifacts(
      graft.corpus.Corpus.pages(spark, 40, 4), b)).cache()
    try {
      val typeOfTag = graft.model.Ontology.jiebaReverse
      val got = linkRows(Link.linkTableFromTokens(mentionTokens, b.trie, typeOfTag))
      assert(got.nonEmpty && got.exists(r => r._1 != r._3))
      assert(got == linkRows(twoJoinLinks(mentionTokens, b.trie, typeOfTag)))
    } finally spark.catalog.clearCache()
  }

  test("canonicalize equals connectedComponents on linker-shaped star forests") {
    // CC is the oracle: nodes ⋈ connectedComponents(aliasEdges), a vertex
    // off the edges keeping its own id. Every forest has a hub (a centre
    // with 200+ leaves), self-links, isolated vertices, and some link
    // vertices left out of the nodes.
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.coalesce
    import graft.canon.Canon
    val types = Seq("DIS", "SYM", "DRU")
    val starGen =
      Gen.zip(Gen.choose(0, 6), Gen.oneOf(types), Gen.oneOf(true, false))
    val forestGen = Gen.zip(Gen.listOf(starGen), Gen.choose(200, 240),
      Gen.choose(1, 5), Gen.choose(2, 9))
    forAll(forestGen, minSuccessful = 5) {
      case (stars, hubLeaves, nIsolated, dropEvery) =>
        // (surface, entType, candidate): centre `c<i>`, its leaves `c<i>~<j>`
        val starLinks = ((hubLeaves, "SYM", true) +: stars).zipWithIndex
          .flatMap { case ((leaves, t, selfLink), i) =>
            val c = s"c$i"
            (if (selfLink) Seq((c, t, c)) else Nil) ++
              (1 to leaves).map(j => (s"$c~$j", t, c))
          }
        val isolated = (1 to nIsolated).map(k => (s"iso$k", "DIS"))
        val links = starLinks :+ ("iso1", "DIS", "iso1")
        val vertices = (links.flatMap(r => Seq((r._1, r._2), (r._3, r._2))) ++
          isolated).distinct
        val nodes = vertices.zipWithIndex
          .collect { case (v, k) if k % dropEvery != 1 => v }
          .toDF("surface", "entType")
        val edges = graft.link.Link.aliasEdges(
          links.toDF("surface", "entType", "candidate"))
        val got = Canon.canonicalize(nodes, edges)
          .as[(String, String, Long)].collect().sorted.toSeq
        val want = nodes.withColumn("v", Canon.vertexId($"surface", $"entType"))
          .join(Canon.connectedComponents(edges), Seq("v"), "left")
          .select($"surface", $"entType", coalesce($"component", $"v"))
          .as[(String, String, Long)].collect().sorted.toSeq
        assert(got == want)
        // at most every second hub vertex is left out of the nodes
        assert(got.groupBy(_._3).values.exists(_.size >= hubLeaves / 2),
          "the hub is one group")
    }
  }

  test("streamed shingle hashing == fnv1a64 of the joined string windows") {
    // r6: shingles() folds window chars straight through fnv1a64 (no
    // per-shingle mkString); this pins value-identity with the retained
    // string path, incl. unicode words, repeated spaces, and < n words
    import graft.textops.Dedup
    val wordGen = Gen.oneOf("a", "bc", "word", "高血压", "x1", "ünïc", "zz")
    val docGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, wordGen)
      sep <- Gen.oneOf(" ", "  ", "   ")
    } yield ws.mkString(sep)
    forAll(docGen) { d =>
      val streamed = Dedup.shingles(d).toSeq
      val viaStrings = Dedup.shingleStrings(d)
        .map(graft.util.Hashing.fnv1a64(_)).toSeq
      assert(streamed == viaStrings, s"doc: '$d'")
    }
  }

  test("minhash est_sim is within 0.2 of exact jaccard (128 hashes)") {
    import graft.textops.Dedup
    val docGen = for {
      n <- Gen.choose(5, 40)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    } yield ws.mkString(" ")
    forAll(Gen.zip(docGen, docGen), minSuccessful = 30) { case (d1, d2) =>
      val s1 = Dedup.shingles(d1)
      val s2 = Dedup.shingles(d2)
      whenever(s1.nonEmpty && s2.nonEmpty) {
        val sig1 = Dedup.minhashSignature(s1)
        val sig2 = Dedup.minhashSignature(s2)
        val est = sig1.zip(sig2).count { case (a, b) => a == b }.toDouble /
          Dedup.NumHashes
        val exact = Dedup.exactJaccard(s1, s2)
        assert(math.abs(est - exact) <= 0.2, s"est $est exact $exact")
      }
    }
  }

  test("chunkDocuments equals a sequential reference for random shapes/configs") {
    // pure-Scala reference of the chunking contract, checked against the
    // distributed Column implementation over random doc lengths around the
    // window boundaries, for several (chunk, overlap) configurations
    def reference(nWords: Int, chunk: Int, overlap: Int): Seq[(Int, Int, String)] = {
      if (nWords == 0) return Seq.empty
      val words = (1 to nWords).map(i => s"w$i")
      val step = chunk - overlap
      val k = if (nWords <= chunk) 1 else (nWords - chunk + step - 1) / step + 1
      (0 until k).map { i =>
        val slice = words.slice(i * step, i * step + chunk)
        (i, slice.length, slice.mkString(" "))
      }
    }
    val spark = SparkTestBase.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    Seq((16, 4), (7, 0), (5, 4)).foreach { case (chunk, overlap) =>
      val sizes = Seq(0, 1, chunk - 1, chunk, chunk + 1, 2 * chunk,
        2 * chunk + 1) ++ Seq.fill(40)(rnd.nextInt(90))
      val docs = sizes.zipWithIndex
        .map { case (n, id) => (id.toLong, (1 to n).map(i => s"w$i").mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.textops.TextOps
        .chunkDocuments(docs, "doc_id", "text", chunk, overlap)
        .collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2).toInt, r.getString(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
      sizes.zipWithIndex.foreach { case (n, id) =>
        val want = reference(n, chunk, overlap)
        val have = got.getOrElse(id.toLong, Seq.empty)
        assert(have == want, s"config ($chunk,$overlap) nWords=$n: $have vs $want")
      }
    }
  }
}
