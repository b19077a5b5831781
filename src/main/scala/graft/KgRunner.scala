package graft

import org.apache.spark.sql.SparkSession
import graft.canon.{Canon, FinalTables, Materialize}
import graft.corpus.Corpus
import graft.link.Link
import graft.model.{Ontology, Triple}
import graft.pipeline.{Pipeline, Triples}
import graft.snapshot.Snapshot.{Dag, Step}

/** The spark-submit entry point: full KG construction with snapshot-gated
  * resume.
  *
  * Usage: KgRunner <outDir> [nPages] [parallelism]
  *
  * `run` declares the 16 stages once, as a [[Dag]] of name, parents,
  * partition columns and a compute over the parents' committed snapshots:
  *   - the chain, declared first: triples (pages → extract → annotate,
  *     narrow) and mention_tokens → links (trie candidates + TF-IDF cosine)
  *     → canon (labels of the alias star forest: one aggregate, one join)
  *     → nodes / edges (partitioned entType × bucket);
  *   - ner_result, source_segment, corpus_info, group_triples and the
  *     metadata tables (reference §1.3 + 6.3/6.4 table surface);
  *     ner_eval reads model_eval_results, source_labeled reads corpus_info
  *     and training_info.
  * A stage starts on its own thread once its parents have committed.
  *
  * triples, mention_tokens and ner_result each recompute `arts`, so a build
  * scans annotate three times; source_segment and corpus_info read the
  * extract layer's sentence rows, which annotate only copies. Round 1
  * measured persisting the nested artifact rows at ~3x the recompute;
  * ROADMAP Direction 5 re-measures it. On the old 8-core host (r5),
  * hoisting canon's surfaces distinct beside links measured SLOWER (69.6 s
  * → 86-91 s at 80k pages): with every core busy, overlap only adds
  * contention.
  *
  * Kill it at any point and re-run with the same outDir: completed snapshots
  * are skipped (manifest-gated), and because every id is a content hash the
  * resumed run commits byte-identical results.
  */
object KgRunner {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_kg"
    val nPages = if (args.length > 1) args(1).toLong else 200L
    val par = if (args.length > 2) args(2).toInt else
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString).toInt

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$par]"))
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", par.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    run(spark, outDir, nPages, par)
    val secs = (System.nanoTime() - t0) / 1e9
    val triples = graft.snapshot.Snapshot.manifest(spark, s"$outDir/edges").rows
    println(f"""{"stage":"kg_complete","triples":$triples,"sec":$secs%.2f,"triples_per_sec":${triples / secs}%.1f}""")
    spark.stop()
  }

  def run(spark: SparkSession, outDir: String, nPages: Long, par: Int): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val tb0 = System.nanoTime()
    val b = Pipeline.broadcasts(spark) // built + shipped once for all stages
    System.err.println(
      f"[kg] broadcasts built in ${(System.nanoTime() - tb0) / 1e9}%.1f s")
    def pages = Corpus.pages(spark, nPages, par * 4)
    def sentences = Pipeline.sentences(pages)
    def arts = Pipeline.artifacts(pages, b)

    Dag(
      Step("triples")(_ => Triples.fromArtifacts(arts).toDF()),
      Step("mention_tokens")(_ => Link.mentionTokens(arts)),
      Step("links", Seq("mention_tokens")) { case Seq(mentionTokens) =>
        Link.linkTableFromTokens(mentionTokens, b.trie, Ontology.jiebaReverse)
      },
      Step("canon", Seq("links", "triples")) { case Seq(links, triples) =>
        Canon.canonicalize(Materialize.surfaces(triples.as[Triple]),
          Link.aliasEdges(links))
      },
      Step("nodes", Seq("canon", "triples"), Seq("entType", "bucket")) {
        case Seq(canon, triples) => Materialize.nodes(triples.as[Triple], canon)
      },
      Step("edges", Seq("canon", "triples"), Seq("objType", "bucket")) {
        case Seq(canon, triples) => Materialize.edges(triples.as[Triple], canon)
      },
      Step("ner_result")(_ => FinalTables.nerResult(arts)),
      Step("source_segment")(_ => FinalTables.sourceSegment(sentences)),
      Step("corpus_info")(_ => FinalTables.corpusInfo(sentences)),
      Step("group_triples")(_ => Pipeline.groupTriples(spark).toDF()),
      Step("model_info")(_ => FinalTables.modelInfo(spark)),
      Step("model_eval_results")(_ => FinalTables.modelEvalResults(spark)),
      Step("training_info")(_ => FinalTables.trainingInfo(spark)),
      Step("ner_info")(_ => FinalTables.nerInfo(spark)),
      Step("ner_eval", Seq("model_eval_results")) {
        case Seq(modelEval) => FinalTables.nerEval(modelEval)
      },
      Step("source_labeled", Seq("corpus_info", "training_info")) {
        case Seq(corpusInfo, training) => FinalTables.sourceLabeled(training, corpusInfo)
      }
    ).run(spark, outDir)
  }
}
