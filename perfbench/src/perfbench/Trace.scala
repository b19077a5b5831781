package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Listener registered from outside the program for the traced run. It
  * records every SQL execution, job and task; the benchmark reads it only
  * after draining the bus (see `org.apache.spark.perfbench.Bus`).
  *
  * Attribution of a KgRunner build to its snapshot stages:
  *   - an execution whose plan writes `<outDir>/<name>` belongs to `name`,
  *     and so does every execution under the same root execution;
  *   - an execution that writes nothing (Canon's checkpoint iterations, the
  *     DROP TABLE before a bucketed write) belongs to the stage whose write
  *     shares its caller frames below `Snapshot.stage` / `stageBucketed`,
  *     i.e. the same `Snapshot.stage(...) { compute }` call site.
  */
final class Trace extends SparkListener {
  import Trace._

  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Option[Long])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs += Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.time, s.physicalPlanDescription, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        execs.find(_.id == s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs += j.jobId -> exec
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Task(t.stageId, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Position in the event record; `since` reads what happened after it. */
  def mark(sc: SparkContext): Mark = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(Mark(execs.size, jobs.size, tasks.size))
  }

  def since(sc: SparkContext, m: Mark): Window = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(Window(execs.drop(m.execs).toList, jobs.drop(m.jobs).toList,
      tasks.drop(m.tasks).toList))
  }

  /** Snapshot-stage name of every execution in `w`, for a build into
    * `outDir`. Executions nothing can be attributed to are left out.
    */
  def attribute(w: Window, outDir: String): Map[Long, String] = {
    val written = w.execs.flatMap(e => Trace.writeTarget(e.plan, outDir)
      .map(e.root -> _)).toMap
    val bySite = w.execs.flatMap { e =>
      for (t <- written.get(e.root); k <- Trace.callerKey(e.details)) yield k -> t
    }.toMap
    w.execs.flatMap { e =>
      written.get(e.root).orElse(Trace.callerKey(e.details).flatMap(bySite.get))
        .map(e.id -> _)
    }.toMap
  }

  /** Root executions per write target: the self-test requires exactly one
    * per snapshot dir.
    */
  def writeRoots(w: Window, outDir: String): Map[String, Int] =
    w.execs.flatMap(e => Trace.writeTarget(e.plan, outDir).map(_ -> e.root))
      .distinct.groupBy(_._1).map { case (t, rs) => t -> rs.size }

  /** Each task of `w` with the SQL execution its job ran under. */
  def taskExecs(w: Window): Seq[(Task, Option[Long])] = {
    val jobExec = w.jobs.toMap
    val sj = synchronized(stageJob.toMap)
    w.tasks.map(t => t -> sj.get(t.stageId).flatMap(jobExec.get).flatten)
  }
}

object Trace {
  final case class Exec(id: Long, root: Long, time: Long, plan: String,
      details: String, var end: Long = -1L)
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long,
      shuffleWriteBytes: Long, spillBytes: Long)
  final case class Mark(execs: Int, jobs: Int, tasks: Int)
  final case class Window(execs: Seq[Exec], jobs: Seq[(Int, Option[Long])],
      tasks: Seq[Task]) {
    def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
    def runS: Double = tasks.map(_.runMs).sum / 1e3
  }

  private val Arg = """Arguments: file:(\S+?),""".r

  /** First path segment below `outDir` of the plan's write command. */
  def writeTarget(plan: String, outDir: String): Option[String] = {
    val prefix = new java.io.File(outDir).getAbsolutePath + "/"
    Arg.findAllMatchIn(plan).map(_.group(1)).collectFirst {
      case p if p.startsWith(prefix) => p.drop(prefix.length).takeWhile(_ != '/')
    }
  }

  /** The two call-site frames below the program's `Snapshot.stage` (or
    * `stageBucketed`) frame: they name the call site, and the call-site
    * text Spark records is cut after a fixed number of frames, so deeper
    * frames cannot be compared.
    */
  def callerKey(details: String): Option[String] = {
    val lines = details.split("\n").toSeq
    val i = lines.indexWhere(_.startsWith("graft.snapshot.Snapshot$.stage"))
    if (i < 0 || i + 2 >= lines.size) None
    else Some(lines.slice(i + 1, i + 3).mkString("\n"))
  }

  /** The annotate mapPartitions shows in a plan as a MapPartitions node
    * whose output object is `Annotate.SentenceArtifacts`.
    */
  def scansAnnotate(plan: String): Boolean =
    plan.linesIterator.exists(l =>
      l.contains("MapPartitions") && l.contains("Annotate$SentenceArtifacts")) ||
      plan.contains("graft.pipeline.Annotate$$$Lambda")
}

/** In-memory size of the blocks of persisted RDDs and Datasets: the memory
  * cost of the program's persist choices. Block updates give each block's
  * size in memory (0 once evicted to disk); an unpersisted RDD's blocks are
  * removed without per-block updates, so the unpersist event drops them.
  *   - `storedMb`: total over every block ever held in memory. It moves
  *     when a persist is added or dropped or its stored size changes, and
  *     does not depend on timing.
  *   - `peakMb`: peak of the total held at once. It also sees how long data
  *     stays persisted, and so depends on when blocks are dropped, which
  *     for local checkpoints is when the context cleaner gets to them.
  */
final class CacheMeter extends SparkListener {
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private val maxSize = mutable.Map.empty[RDDBlockId, Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        val mem = e.blockUpdatedInfo.memSize
        current += mem - blocks.getOrElse(b, 0L)
        if (mem > 0) blocks(b) = mem else blocks.remove(b)
        peak = math.max(peak, current)
        maxSize(b) = math.max(mem, maxSize.getOrElse(b, 0L))
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toList
      .foreach(b => current -= blocks.remove(b).getOrElse(0L))
  }

  def storedMb(sc: SparkContext): Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(maxSize.values.sum / 1048576.0)
  }

  def peakMb(sc: SparkContext): Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(peak / 1048576.0)
  }
}
