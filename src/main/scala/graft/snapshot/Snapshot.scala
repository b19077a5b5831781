package graft.snapshot

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import graft.util.Observed

/** Snapshot-per-stage checkpointing with per-partition lineage + counter
  * metrics (north rule: "resumable from checkpoint with per-partition
  * lineage + metrics").
  *
  * Each pipeline stage writes its output as a partitioned parquet dir plus a
  * `_manifest.json` carrying the stage name, total row count, per-partition
  * row counts, the schema the snapshot is read back with, and its parents:
  * the stages it read, declared once in its [[Step]] and comma-joined
  * (empty for a stage that reads none). A stage whose manifest exists is
  * skipped on resume (idempotent re-run = same bytes because every id is a
  * content hash — no monotonically_increasing_id anywhere).
  *
  * This emulates Iceberg snapshot commits (no iceberg jar ships with
  * Spark): the manifest plays the role of the snapshot metadata file, and
  * "commit" is the rename of a fully written `_manifest.json.tmp` to
  * `_manifest.json` AFTER the parquet write succeeds — readers gate on the
  * manifest, so a half-written stage or manifest is invisible, which is the
  * same correctness contract as an Iceberg MERGE commit. As an Iceberg
  * reader takes the table schema from the metadata, every read-back takes
  * it from the manifest: no parquet footer is read to infer it, so a
  * read-back plans no Spark job.
  */
object Snapshot {

  /** `schema` is the read-back schema: the data columns in write order,
    * then the `partitionBy` columns in `partitionBy` order (the order
    * partition discovery gives), all nullable as parquet reads them.
    */
  final case class Manifest(
      stage: String,
      rows: Long,
      partitions: Map[String, Long],
      schema: StructType,
      parent: String
  )

  def manifestPath(dir: String): String = s"$dir/_manifest.json"

  /** Hadoop options of every commit (the parquet write and the manifest
    * IO): `file:` paths go through [[NioLocalFileSystem]], so creating a
    * dir or file forks no `chmod`. The FileSystem cache is keyed
    * by scheme, not by implementation, so a `file:` instance cached earlier
    * would be reused without the second key. Both keys apply only to
    * `file:`; hdfs:// and s3a:// outDirs are untouched.
    */
  private val nioLocal = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** All manifest IO goes through the Hadoop FileSystem of the target path,
    * so snapshots gate correctly on hdfs:// and s3a:// outDirs as well as
    * local paths (the spark-submit cluster case, not just the sandbox).
    */
  private def fs(spark: SparkSession, path: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    nioLocal.foreach { case (k, v) => conf.set(k, v) }
    new HPath(path).getFileSystem(conf)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new HPath(manifestPath(dir)))

  /** Fields in declaration order, `schema` nested: text readers rely on
    * `rows` coming second (perfbench) and `parent` last (KgRunnerSpec).
    */
  private def toJson(m: Manifest): String = compact(render(JObject(
    "stage" -> JString(m.stage),
    "rows" -> JLong(m.rows),
    "partitions" -> JObject(m.partitions.toList.sortBy(_._1)
      .map { case (k, v) => k -> JLong(v) }),
    "schema" -> parse(m.schema.json),
    "parent" -> JString(m.parent))))

  private implicit val formats: Formats = DefaultFormats

  /** The committed manifest of `dir`. A field it lacks (a manifest written
    * before the field existed) is an `IllegalStateException` naming it.
    */
  def manifest(spark: SparkSession, dir: String): Manifest = {
    val path = manifestPath(dir)
    val in = fs(spark, dir).open(new HPath(path))
    val json = try parse(in) finally in.close()
    def field(k: String) = (json \ k).toOption.getOrElse(
      throw new IllegalStateException(s"no $k in $path"))
    Manifest(field("stage").extract[String], field("rows").extract[Long],
      field("partitions").extract[Map[String, Long]],
      DataType.fromJson(compact(field("schema"))).asInstanceOf[StructType],
      field("parent").extract[String])
  }

  /** Write df → dir (overwrite), then commit the manifest. `partitionBy`
    * columns become physical partitions (e.g. entity type + url-hash
    * bucket). Per-partition counts are computed from the data itself —
    * they double as the counter metrics the reference logs every 1000 rows
    * (EnsemblePredict_all.py:415-416), but exact and queryable.
    *
    * The counts ride on the write as an OBSERVED METRIC (CollectMetrics
    * with the TopKFreq count-by-key aggregate), so the rows are counted
    * while they stream to disk — no post-write re-read job (a re-read per
    * snapshot was once the largest slice of the fixed end-to-end floor).
    * The manifest is written only after the parquet write returns, to a
    * `_`-prefixed temp file that Spark's file index skips, and renamed into
    * place once closed: a file system shows a created file before its bytes
    * are flushed, so a process killed mid-write leaves no empty manifest.
    */
  def write(
      df: DataFrame,
      dir: String,
      stage: String,
      partitionBy: Seq[String] = Nil,
      parent: String = ""
  ): Unit = {
    // A partitioned write first hashes each leaf's rows onto one task, so
    // every leaf dir gets one file instead of one per task. The partition
    // count is given because AQE coalesces an unnumbered repartition of a
    // small stage into ONE partition, and one task then writes every leaf
    // file; a numbered one is never coalesced, so up to
    // `spark.sql.shuffle.partitions` tasks write the leaves.
    val arranged =
      if (partitionBy.nonEmpty)
        df.repartition(
          df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          partitionBy.map(col): _*)
      else df
    val keyCol =
      if (partitionBy.nonEmpty)
        concat_ws("/", partitionBy.map(c => col(c).cast("string")): _*)
      else lit("all")
    val obs = Observation()
    val writer = arranged
      .observe(obs, graft.functions.TopKFreq
        .top_k_freq(keyCol, Int.MaxValue, Int.MaxValue).as("part_counts"))
      .write.mode(SaveMode.Overwrite).options(nioLocal)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir)
    val partCounts = Observed.await(obs).getSeq[Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts =
      if (partCounts.isEmpty && partitionBy.isEmpty) Map("all" -> 0L)
      else partCounts
    val data = df.schema.filterNot(f => partitionBy.contains(f.name))
    val schema = StructType(data ++ partitionBy.map(df.schema(_))).toNullable
    val m = Manifest(stage, counts.values.sum, counts, schema, parent)
    val fileSystem = fs(df.sparkSession, dir)
    val committed = new HPath(manifestPath(dir))
    val tmp = new HPath(s"$committed.tmp")
    val out = fileSystem.create(tmp, true)
    try out.write(toJson(m).getBytes("UTF-8"))
    finally out.close()
    if (!fileSystem.rename(tmp, committed))
      throw new java.io.IOException(s"rename $tmp -> $committed failed")
  }

  /** Manifest-gated stage: skip the compute entirely when the snapshot is
    * already committed (resume path), else run and commit. Either way the
    * snapshot is read back with the schema its manifest records.
    */
  def stage(
      spark: SparkSession,
      dir: String,
      name: String,
      partitionBy: Seq[String] = Nil,
      parent: String = ""
  )(compute: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) {
      val t0 = System.nanoTime()
      write(compute, dir, name, partitionBy, parent)
      System.err.println(
        f"[snapshot] stage $name committed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.read.schema(manifest(spark, dir).schema).parquet(dir)
  }

  /** One declared stage of a [[Dag]]: it commits into `<outDir>/<name>`,
    * `compute` gets the committed DataFrames of `parents` in their declared
    * order, and the manifest's `parent` is `parents.mkString(",")`.
    */
  final case class Step(name: String, parents: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil)(val compute: Seq[DataFrame] => DataFrame)

  /** A stage graph declared once. Names are unique and every parent names an
    * earlier step, so declaration order is a topological order; both are
    * checked here, before any thread or Spark job starts.
    */
  final case class Dag(steps: Step*) {
    steps.foldLeft(Set.empty[String]) { (declared, s) =>
      require(!declared(s.name), s"stage ${s.name} is declared twice")
      s.parents.foreach(p => require(declared(p),
        s"stage ${s.name}: parent $p is not declared before it"))
      declared + s.name
    }

    /** Commit every step into `outDir`, each on its own thread once all its
      * parents have committed (the pool has a thread per step, so no step
      * waits for one); steps without parents start in declaration order. A
      * step whose parent failed never starts. Returns or throws only after
      * every started step has ended; the exception is the first failed
      * step's, in declaration order. The session cache is cleared when the
      * build ends.
      */
    def run(spark: SparkSession, outDir: String): Unit = {
      val pool = Executors.newFixedThreadPool(steps.size)
      try {
        val committed = steps.foldLeft(
            Map.empty[String, CompletableFuture[DataFrame]]) { (done, s) =>
          val ins = s.parents.map(done)
          done + (s.name -> CompletableFuture.allOf(ins: _*).thenApplyAsync(
            (_: Void) => stage(spark, s"$outDir/${s.name}", s.name,
              s.partitionBy, s.parents.mkString(","))(s.compute(ins.map(_.join()))),
            pool))
        }
        steps.flatMap(s => Try(committed(s.name).join()).failed.toOption)
          .headOption.foreach {
            case e: CompletionException => throw e.getCause
            case e => throw e
          }
      } finally {
        pool.shutdown()
        spark.catalog.clearCache()
      }
    }
  }
}
