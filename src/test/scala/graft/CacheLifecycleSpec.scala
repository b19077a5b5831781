package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One cache lifecycle. A `.persist`, `.cache` or `.unpersist` call in
  * `src/main` code (comment and string-literal text blanked, as in
  * [[ReachabilitySpec]]) must sit in a member on
  * [[CacheLifecycleSpec.allowed]]; every other operator holds its inputs
  * through `graft.util.CacheScope`. A member is the nearest `def` above the
  * call at member indentation (two spaces), so a local `def` inside an
  * operator does not open a new member.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  import CacheLifecycleSpec._

  test("persist, cache and unpersist appear only in the allowlisted members") {
    // the scan itself: code calls count, comment and literal text does not,
    // and a local def stays inside its member
    val src = "object O {\n  def op(): Unit = {\n    def inner() = 1\n" +
      "    x.persist() // y.unpersist()\n    val s = \"z.cache()\"\n" +
      "    w.cache()\n  }\n}\n"
    assert(calls(src) == Seq("op" -> 4, "op" -> 6))

    val found = scan()
    val missing = found.keySet -- allowed.keySet
    val stale = allowed.keySet -- found.keySet
    if (missing.nonEmpty || stale.nonEmpty)
      fail("cache calls outside graft.util.CacheScope (hold the frames with " +
        "CacheScope, or allowlist the member with its reason):\n" +
        missing.toSeq.sorted.map(k => s"  $k (${found(k).mkString(", ")})")
          .mkString("\n") +
        "\nallowlisted but without a cache call now:\n" +
        stale.toSeq.sorted.map("  " + _).mkString("\n"))
  }
}

object CacheLifecycleSpec {
  private val main = Paths.get("src/main/scala")

  /** `<file under src/main/scala> <member>` → why it keeps its own cache
    * calls.
    */
  val allowed: Map[String, String] = Map(
    "graft/util/CacheScope.scala apply" ->
      "the helper: persists the frames an operator holds for one call and releases them in finally",
    "graft/canon/Canon.scala connectedComponents" ->
      "its labels roll from round to round (each round's persist releases the last one); the last labels and the edge cache are released in finally",
    "graft/link/Link.scala contextProfiles" ->
      "its tf cache lives for the session; Dag.run's clearCache releases it"
  )

  private val Call = """\.(?:persist|cache|unpersist)\b""".r
  private val MemberDef = """^  (?:[a-z\[\]]+ +)*def +([A-Za-z_][A-Za-z0-9_]*)""".r

  /** (member, 1-based line) of each cache call in one source text. */
  def calls(src: String): Seq[(String, Int)] = {
    var member = "<none>"
    ReachabilitySpec.code(src).split("\n", -1).toSeq.zipWithIndex.flatMap {
      case (l, n) =>
        MemberDef.findPrefixMatchOf(l).foreach(m => member = m.group(1))
        Call.findAllMatchIn(l).map(_ => member -> (n + 1)).toSeq
    }
  }

  /** `<file> <member>` → the lines of its cache calls. */
  def scan(): Map[String, Seq[Int]] = {
    require(Files.isDirectory(main), s"run from the repository root: no $main")
    val s = Files.walk(main)
    val files: List[Path] =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    files.flatMap { f =>
      calls(Files.readString(f)).map { case (m, n) =>
        s"${main.relativize(f)} $m" -> n }
    }.groupMap(_._1)(_._2)
  }
}
