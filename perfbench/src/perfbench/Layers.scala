package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.canon.{Canon, Materialize}
import graft.corpus.{Corpus, Fixtures, Vocab}
import graft.extract.Extract
import graft.link.Link
import graft.model._
import graft.ner._
import graft.pipeline.{Annotate, Pipeline, Triples}

/** Per-layer measurements for the traced run. Every layer is reached
  * through its public entry point; Spark layers are forced to the `noop`
  * sink, so a timing covers the computation and no write.
  */
object Layers {
  type Metrics = Seq[(String, Double, String)]

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def seconds(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** The 16 snapshot dirs grouped the way the per-layer metrics name them. */
  val SnapshotStages = Seq("triples", "mention_tokens", "links", "canon",
    "nodes", "edges", "source_segment", "corpus_info", "ner_result",
    "group_triples")
  val MetadataDirs = Seq("model_info", "model_eval_results", "training_info",
    "ner_info", "ner_eval", "source_labeled")
  def stageGroup(dir: String): String =
    if (MetadataDirs.contains(dir)) "metadata_other" else dir

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Snapshot-stage and kgrunner metrics of one traced build. */
  def buildMetrics(trace: Trace, w: Trace.Window, outDir: String,
      startMs: Long, wallS: Double, cores: Int, gcS: Double): Metrics = {
    val owner = trace.attribute(w, outDir)
    val perTask = trace.taskExecs(w)
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2).toDouble
    }
    val stages = (SnapshotStages :+ "metadata_other").flatMap { g =>
      val es = w.execs.filter(e => owner.get(e.id).map(stageGroup).contains(g))
      val ids = es.map(_.id).toSet
      val ts = perTask.collect { case (t, Some(x)) if ids(x) => t }
      val wall =
        if (es.isEmpty) 0.0 else (es.map(_.end).max - es.map(_.time).min) / 1e3
      val dirs = if (g == "metadata_other") MetadataDirs else Seq(g)
      val commitAt = dirs.map { d =>
        (new File(s"$outDir/$d/_manifest.json").lastModified() - startMs) / 1e3
      }.max
      val runs = ts.map(_.runMs)
      val skew = if (runs.isEmpty) 0.0 else runs.max / math.max(median(runs), 1.0)
      Seq(
        (s"snapshot.$g.wall_s", wall, "s"),
        (s"snapshot.$g.cpu_s", ts.map(_.cpuNs).sum / 1e9, "s"),
        (s"snapshot.$g.shuffle_write_mb", ts.map(_.shuffleWriteBytes).sum / 1048576.0, "MB"),
        (s"snapshot.$g.spill_mb", ts.map(_.spillBytes).sum / 1048576.0, "MB"),
        (s"snapshot.$g.task_skew", skew, "ratio"),
        (s"snapshot.$g.commit_at_s", commitAt, "s"))
    }
    val annotateScans = w.execs.filter(e => Trace.scansAnnotate(e.plan))
      .map(_.root).distinct.size
    stages ++ Seq(
      ("kgrunner.jobs", w.jobs.size.toDouble, "count"),
      ("kgrunner.annotate_scans", annotateScans.toDouble, "count"),
      ("kgrunner.executor_busy_frac", w.runS / (wallS * cores), "ratio"),
      ("jvm.gc_s", gcS, "s"))
  }

  /** Tail resume on a committed build: drop canon, nodes and edges, rerun.
    * Checks that exactly those three lack manifests before the rerun and
    * that all 16 have them after; returns the rerun's seconds.
    */
  def tailResume(spark: SparkSession, outDir: String, nPages: Long,
      cores: Int): Double = {
    val tail = Set("canon", "nodes", "edges")
    tail.foreach(d => Inputs.deleteTree(new File(s"$outDir/$d")))
    val before = Inputs.manifestRows(outDir)
    val missing = (SnapshotStages ++ MetadataDirs).filter(d => before.get(d).flatten.isEmpty).toSet
    require(missing == tail, s"before tail resume, dirs without manifest: $missing")
    val s = seconds(graft.KgRunner.run(spark, outDir, nPages, cores))
    val after = Inputs.manifestRows(outDir)
    val stillMissing = (SnapshotStages ++ MetadataDirs).filter(d => after.get(d).flatten.isEmpty)
    require(stillMissing.isEmpty, s"after tail resume, dirs without manifest: $stillMissing")
    s
  }

  /** Narrow stages, link and canon, each on its own, over the build's
    * pages and committed snapshots in `outDir`.
    */
  def sparkLayers(spark: SparkSession, trace: Trace, outDir: String,
      nPages: Long, cores: Int): Metrics = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val b = Pipeline.broadcasts(spark)
    def pages = Corpus.pages(spark, nPages, cores * 4)
    def arts = Pipeline.artifacts(pages, b)
    val pagesS = seconds(noop(pages.toDF()))
    val sents = Extract.sentencesOf(Extract.sectionsOf(pages))
    val sentS = seconds(noop(sents.toDF()))
    val nSent = sents.count()
    val m = trace.mark(spark.sparkContext)
    val annS = seconds(noop(arts.toDF()))
    val annCpu = trace.since(spark.sparkContext, m).cpuS
    val triplesS = seconds(noop(Triples.fromArtifacts(arts).toDF()))

    val mtS = seconds(noop(Link.mentionTokens(arts)))
    val linksS = seconds(noop(Link.linkTableFromTokens(
      spark.read.parquet(s"$outDir/mention_tokens"), b.trie,
      Ontology.jiebaReverse)))
    val links = spark.read.parquet(s"$outDir/links")
    val aliasEdges = Link.aliasEdges(links).count()

    val triples = spark.read.parquet(s"$outDir/triples")
    val allSurfaces = triples
      .select($"obj".as("surface"), $"objType".as("entType"))
      .union(triples.select($"subj".as("surface"), $"subjType".as("entType")))
      .distinct()
    val mc = trace.mark(spark.sparkContext)
    val canonS = seconds(noop(Canon.canonicalize(allSurfaces, Link.aliasEdges(links))))
    val canonJobs = trace.since(spark.sparkContext, mc).jobs.size
    val canonMap = spark.read.parquet(s"$outDir/canon")
    val matS = seconds {
      noop(Materialize.nodes(triples.as[Triple], canonMap))
      noop(Materialize.edges(triples.as[Triple], canonMap))
    }
    Seq(
      ("corpus.pages_s", pagesS, "s"),
      ("extract.sentences_s", sentS, "s"),
      ("extract.sentences", nSent.toDouble, "count"),
      ("annotate.s", annS, "s"),
      ("annotate.cpu_s", annCpu, "s"),
      ("annotate.sentences_per_s", nSent / annS, "1/s"),
      ("triples.s", triplesS, "s"),
      ("link.mention_tokens_s", mtS, "s"),
      ("link.links_s", linksS, "s"),
      ("link.alias_edges", aliasEdges.toDouble, "count"),
      ("canon.canonicalize_s", canonS, "s"),
      ("canon.jobs", canonJobs.toDouble, "count"),
      ("canon.materialize_s", matS, "s"))
  }

  /** Single-thread per-sentence kernels, µs per sentence, over the
    * sentences of the Chinese pages among pages `0 until nPages` (the ones
    * KgRunner annotates). Each step runs on precomputed inputs; the value
    * is the median of `reps` timed passes after one warm pass.
    */
  def kernels(nPages: Int, reps: Int): Metrics = {
    val trie = graft.dict.Gazetteer.buildTrie(Vocab.jiebaDict)
    val scorers = CrfScorer.productionScorers(trie)
    val wIdx = Ensembles.weightsIdx(Fixtures.modelWeights)
    val suffix = graft.merge.Merge.SuffixSets.from(Vocab.suffixDict)
    val ctx = Annotate.Ctx(trie, scorers, Fixtures.modelWeights, wIdx,
      Fixtures.evalMatrix, Vocab.refinedDict.keySet, suffix)
    val sents = (0L until nPages.toLong).flatMap { i =>
      val p = Corpus.page(i)
      if (p.lang != "zh") Seq.empty
      else {
        val source = if (p.url.contains("/med/c/")) "c" else "m"
        Extract.sections(p.url, p.text.takeWhile(_ != '\n'), source, p.text)
          .flatMap(Extract.sentences)
      }
    }.toArray
    val n = sents.length
    val sent = sents.map(_.sentence)
    val seg = sent.map(s => graft.dict.Gazetteer.tokenize(trie, s).map { t =>
      t.copy(tag = Ontology.jiebaReverse.getOrElse(t.tag, "x"))
    })
    val scan = sent.map(s => CrfScorer.dictScan(trie, s))
    val pred = sent.indices.map(i =>
      scorers.map(sc => sc.model -> sc.predictRaw(sent(i), scan(i))).toMap).toArray
    val ens = pred.map(p => EnsemblesRaw.run(p, wIdx))
    val mentions = sent.indices.map { i =>
      Spans.normalize(ens(i).boundaries.toSeq.zip(ens(i).typeIdxs.toSeq).map {
        case (span, ti) =>
          val s = BioRaw.spanStart(span)
          val e = math.min(BioRaw.spanEnd(span), sent(i).length)
          Mention(sent(i).substring(s, e), CrfScorer.Types(ti), s, e, 0.0, 0.0)
      })
    }.toArray
    def evalOf(i: Int) = ctx.eval.getOrElse(sents(i).source, ctx.eval("m"))
    def confidence(i: Int): Seq[EntityRow] =
      scorers.flatMap(sc => Confidence.entityRowsRaw(sents(i).ind, sc.model,
        pred(i)(sc.model), sent(i), evalOf(i), scorers.size)) ++
        Confidence.entityRowsRaw(sents(i).ind, "ensemble_strong", ens(i).strong,
          sent(i), evalOf(i), scorers.size)
    val merged = sent.indices.map(i => graft.merge.Merge.round2(sent(i),
      graft.merge.Merge.round1(sent(i),
        graft.merge.Merge.mergeNerSeg(seg(i), mentions(i))), suffix)).toArray
    val strongSpans = sent.indices.map(i =>
      Confidence.entityRowsRaw(sents(i).ind, "ensemble_strong", ens(i).strong,
        sent(i), evalOf(i), scorers.size).map { r =>
        val (w, s, e) = Boundary.strip(r.entName, r.start, r.end)
        graft.merge.RulesMerging.SpanProb(w, s, e, r.prob)
      }.filter(_.entName.nonEmpty)).toArray
    val dictSpans = seg.map(_.filter(_.tag != "x").map { t =>
      graft.merge.RulesMerging.SpanProb(t.word, t.start, t.end,
        if (ctx.refined.contains(t.word)) 0.95 else 0.9)
    })

    var sink = 0L
    def perSentence(name: String)(f: Int => Int): (String, Double, String) = {
      def pass(): Long = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        System.nanoTime() - t0
      }
      pass()
      val ts = Seq.fill(reps)(pass()).sorted
      (name, ts(reps / 2) / 1e3 / n, "us")
    }
    val out = Seq(
      perSentence("dict.tokenize_us")(i => graft.dict.Gazetteer.tokenize(trie, sent(i)).size),
      perSentence("ner.dict_scan_us")(i => CrfScorer.dictScan(trie, sent(i)).length),
      perSentence("ner.predict_us")(i =>
        scorers.map(_.predictRaw(sent(i), scan(i)).labels.length).sum),
      perSentence("ner.ensemble_us")(i => EnsemblesRaw.run(pred(i), wIdx).strong.labels.length),
      perSentence("ner.confidence_us")(i => confidence(i).size),
      perSentence("merge.rounds_us")(i => graft.merge.Merge.round2(sent(i),
        graft.merge.Merge.round1(sent(i),
          graft.merge.Merge.mergeNerSeg(seg(i), mentions(i))), suffix).size),
      perSentence("merge.rules_us")(i => graft.merge.RulesMerging.entityRows(
        sents(i).ind, sent(i), merged(i), strongSpans(i), dictSpans(i)).size),
      perSentence("annotate.one_us")(i => Annotate.annotateOne(sents(i), ctx).entities.size))
    require(sink != 42L)
    out
  }
}
