package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

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
