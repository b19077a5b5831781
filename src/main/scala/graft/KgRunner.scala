package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.{Canon, Materialize}
import graft.corpus.Corpus
import graft.link.Link
import graft.model.Ontology
import graft.pipeline.{Pipeline, Triples}
import graft.snapshot.Snapshot

/** The spark-submit entry point: full KG construction with snapshot-gated
  * resume.
  *
  * Usage: KgRunner <outDir> [nPages] [parallelism]
  *
  * Stages (each a committed snapshot; re-running skips completed ones):
  *   1. triples         — pages → extract → annotate → triples (narrow)
  *   2. mention_tokens  — (surface, entType, token) context table (narrow)
  *   3. links           — trie candidates + TF-IDF cosine (agg shuffles)
  *   4. canon           — component labels of the alias star forest (one
  *                        aggregate and one join)
  *   5. nodes / edges   — canonicalized graph, partitioned entType × bucket
  *   6. group_triples   — drug-group taboo path
  *   7. metadata        — model_info / model_eval_results / training_info /
  *                        ner_info / ner_eval / source_segment /
  *                        corpus_info / source_labeled / ner_result
  *                        (reference §1.3 + 6.3/6.4 full table surface)
  *
  * Annotate runs for its three consumers (triples, mention_tokens,
  * ner_result); source_segment and corpus_info read the extract layer's
  * sentence rows, which annotate only copies.
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
    implicit val s: SparkSession = spark
    import spark.implicits._

    val t0 = System.nanoTime()
    run(spark, outDir, nPages, par)
    val secs = (System.nanoTime() - t0) / 1e9
    val triples = spark.read.parquet(s"$outDir/edges").count()
    println(f"""{"stage":"kg_complete","triples":$triples,"sec":$secs%.2f,"triples_per_sec":${triples / secs}%.1f}""")
    spark.stop()
  }

  def run(spark: SparkSession, outDir: String, nPages: Long, par: Int): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._

    // artifacts are RECOMPUTED per consuming stage (three: triples,
    // mention_tokens, ner_result) rather than cached: the narrow annotate
    // pipeline runs at ~500k sentences/s while persisting the fat nested
    // rows costs ~3x the recompute (serializing Seq[Token]/Seq[EntityRow]
    // per row) — when compute < serialization, caching is a pessimization.
    // Determinism makes recompute safe.
    val tb0 = System.nanoTime()
    val b = Pipeline.broadcasts(spark) // built + shipped once for all stages
    System.err.println(
      f"[kg] broadcasts built in ${(System.nanoTime() - tb0) / 1e9}%.1f s")
    def pages = Corpus.pages(spark, nPages, par * 4)
    def sentences = Pipeline.sentences(pages)
    def arts = Pipeline.artifacts(pages, b)

    // Every stage that depends ONLY on arts starts IMMEDIATELY as a
    // concurrent Spark job (separate driver threads; the scheduler
    // interleaves their stages across the same executors). Round 1 queued
    // the final-table branches behind canon — their serialized latency was
    // part of the ~30 s scale-independent floor. Only nodes/edges truly
    // need canon; only links needs mention_tokens.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // derived once, shared by the training_info snapshot and source_labeled
    // (round-4 code derived it twice, once per future)
    val trainingInfoDf = graft.canon.FinalTables.trainingInfo(spark)
    val independent = Seq(
      Future {
        Snapshot.stage(spark, s"$outDir/group_triples", "group_triples") {
          Pipeline.groupTriples(spark).toDF()
        }
        Snapshot.stage(spark, s"$outDir/model_info", "model_info") {
          graft.canon.FinalTables.modelInfo(spark)
        }
        Snapshot.stage(spark, s"$outDir/model_eval_results",
          "model_eval_results") {
          graft.canon.FinalTables.modelEvalResults(spark)
        }
        Snapshot.stage(spark, s"$outDir/training_info", "training_info") {
          trainingInfoDf
        }
        Snapshot.stage(spark, s"$outDir/ner_info", "ner_info") {
          graft.canon.FinalTables.nerInfo(spark)
        }
        Snapshot.stage(spark, s"$outDir/ner_eval", "ner_eval") {
          graft.canon.FinalTables.nerEval(spark)
        }
      },
      // reference §1.3 final table surface (format parity)
      Future {
        Snapshot.stage(spark, s"$outDir/source_segment", "source_segment") {
          graft.canon.FinalTables.sourceSegment(sentences)
        }
        val ci = Snapshot.stage(spark, s"$outDir/corpus_info",
          "corpus_info") {
          graft.canon.FinalTables.corpusInfo(sentences)
        }
        Snapshot.stage(spark, s"$outDir/source_labeled", "source_labeled",
          parent = "corpus_info") {
          graft.canon.FinalTables.sourceLabeled(trainingInfoDf, ci)
        }
      },
      Future {
        Snapshot.stage(spark, s"$outDir/ner_result", "ner_result") {
          graft.canon.FinalTables.nerResult(arts)
        }
      }
    )

    val triplesF = Future {
      Snapshot.stage(spark, s"$outDir/triples", "triples") {
        Triples.fromArtifacts(arts).toDF()
      }
    }
    // plain parquet like every snapshot, so the first build and a resume
    // run one link plan: one surface exchange, feeding the tf cache
    // (PlanGuardSpec pins it)
    val mentionTokensF = Future {
      Snapshot.stage(spark, s"$outDir/mention_tokens", "mention_tokens") {
        Link.mentionTokens(arts)
      }
    }
    val triples = Await.result(triplesF, Duration.Inf)
    val mentionTokens = Await.result(mentionTokensF, Duration.Inf)

    // canon, the only reader of links, hashes `surface|entType` into alias
    // edge ids and keys nothing on surface, so links is plain parquet
    val links = Snapshot.stage(spark, s"$outDir/links", "links",
      parent = "mention_tokens") {
      Link.linkTableFromTokens(mentionTokens, b.trie, Ontology.jiebaReverse)
    }
    spark.catalog.clearCache() // drop the tf profile cache post-commit

    // NOTE (r5): hoisting the surfaces distinct into a future concurrent
    // with the links stage was tried and MEASURED SLOWER at 80k pages
    // (69.6 s → 86-91 s): with all 8 cores saturated by mention_tokens /
    // links / source_segment, relocating the shuffle just adds contention.
    // Work is conserved under saturation — overlap only pays when cores idle.
    val canonMap = Snapshot.stage(spark, s"$outDir/canon", "canon",
      parent = "links,triples") {
      Canon.canonicalize(Materialize.surfaces(triples.as[graft.model.Triple]),
        Link.aliasEdges(links))
    }

    val materialize = Seq(
      Future {
        Snapshot.stage(spark, s"$outDir/nodes", "nodes",
          partitionBy = Seq("entType", "bucket"), parent = "canon,triples") {
          Materialize.nodes(triples.as[graft.model.Triple], canonMap)
        }
      },
      Future {
        Snapshot.stage(spark, s"$outDir/edges", "edges",
          partitionBy = Seq("objType", "bucket"), parent = "canon,triples") {
          Materialize.edges(triples.as[graft.model.Triple], canonMap)
        }
      }
    )
    (materialize ++ independent).foreach(Await.result(_, Duration.Inf))
  }
}
