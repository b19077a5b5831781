package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession

/** Regenerates the golden fixtures (FIXTURES.md §4) under
  * src/test/resources/goldens/: the frozen triple set, extracted-text SHAs
  * and group-taboo triples for the 50-page fixture corpus. Run only when a
  * semantic change is INTENDED; GoldenSpec compares against these (P/R
  * ≥ 0.95 bar per the north rule — fixture scale must hit 1.0).
  */
object FreezeGoldens {
  val GoldenDir = "src/test/resources/goldens"
  val FixturePages = 50L

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def tripleLines(spark: SparkSession): Seq[String] = {
    graft.pipeline.Pipeline.triples(spark, FixturePages, 4).collect().toSeq
      .map(t => s"${t.subj}|${t.subjType}|${t.pred}|${t.obj}|${t.objType}|${t.ind}|${t.prob}")
      .sorted
  }

  def textShaLines(): Seq[String] =
    (0L until FixturePages).map { i =>
      val p = graft.corpus.Corpus.page(i)
      s"${p.url},${sha256(p.text)}"
    }

  /** Mention-level ensemble goldens (votes / union / strong spans AND
    * per-span prob min/max) for the first 10 fixture pages — pins A6/A7/A8
    * end-to-end including the probability paths, which the triple goldens
    * (strong path only) don't reach. Pure computation, no Spark.
    */
  def ensembleLines(): Seq[String] = {
    import graft.ner._
    val trie = graft.dict.Gazetteer.buildTrie(graft.corpus.Vocab.jiebaDict)
    val scorers = CrfScorer.productionScorers(trie)
    val wIdx = Ensembles.weightsIdx(graft.corpus.Fixtures.modelWeights)
    val out = Seq.newBuilder[String]
    (0L until 10L).foreach { i =>
      graft.extract.Extract.pageSections(graft.corpus.Corpus.page(i))
        .flatMap(graft.extract.Extract.sentences)
        .foreach { sr =>
          val r = EnsemblesRaw.run(
            CrfScorer.predictAll(trie, scorers, sr.sentence), wIdx)
          def spansOf(t: Tagged, method: String): Unit = {
            val (tys, sps) = BioRaw.getPositions(t.labels)
            sps.indices.foreach { k =>
              val m = BioRaw.mention(sr.sentence, tys(k), sps(k))
              var pmin = 1.0
              var pmax = 0.0
              var j = m.start
              while (j < m.end) {
                val p = t.probs(j)
                if (p < pmin) pmin = p
                if (p > pmax) pmax = p
                j += 1
              }
              out += f"${sr.ind}|$method|${m.word}|${m.tpe}|${m.start}|${m.end}|$pmin%.9f|$pmax%.9f"
            }
          }
          spansOf(r.votes, "votes")
          spansOf(r.union, "union")
          spansOf(r.strong, "strong")
        }
    }
    out.result().sorted
  }

  def groupLines(spark: SparkSession): Seq[String] =
    graft.pipeline.Pipeline.groupTriples(spark).collect().toSeq
      .map(g => s"${g.entity1}|${g.entity2}|${g.relation}|${g.sentence}")
      .sorted

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(GoldenDir))
    Files.write(Paths.get(s"$GoldenDir/triples.golden.txt"),
      tripleLines(spark).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$GoldenDir/text_sha.golden.csv"),
      textShaLines().mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$GoldenDir/group_triples.golden.txt"),
      groupLines(spark).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$GoldenDir/ensembles.golden.txt"),
      ensembleLines().mkString("\n").getBytes("UTF-8"))
    println(s"GOLDENS written to $GoldenDir")
    spark.stop()
  }
}
