package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared local SparkSession for suites (one per JVM; sbt forks one JVM for
  * all tests).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `action` with a [[QueryExecutionListener]] registered, drains the
    * (asynchronous) listener bus and returns the action's result together
    * with the first `pick(funcName, qe)` that was defined; fails if no
    * successful query execution gave one.
    */
  def onListener[T, A](pick: (String, QueryExecution) => Option[A])(
      action: => T): (T, A) = {
    @volatile var captured: Option[A] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (captured.isEmpty) captured = pick(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = action
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      (out, captured.getOrElse(org.scalatest.Assertions.fail(
        "no query execution on the listener bus gave what was picked")))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` on a fresh temp dir named `prefix…`, then deletes the dir
    * and everything written under it, whether `body` passed or threw.
    */
  def withTempDir[A](prefix: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally {
      val tree = Files.walk(dir)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally tree.close()
    }
  }
}
