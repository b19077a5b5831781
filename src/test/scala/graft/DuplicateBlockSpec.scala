package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One definition per rule. No [[DuplicateBlockSpec.Lines]] consecutive
  * non-blank `src/main` lines may occur twice. Lines are compared with
  * whitespace collapsed and comment text blanked (as in
  * [[ReachabilitySpec]]); string-literal text is kept, so a copied SQL
  * mirror counts like copied code. A window counts only if its lines hold
  * at least [[DuplicateBlockSpec.MinChars]] characters together, so short
  * idioms (imports, closing braces, one-line selects) may repeat. A block
  * that has to stay twice goes on [[DuplicateBlockSpec.allowed]], keyed by
  * its first line, with its reason.
  */
class DuplicateBlockSpec extends AnyFunSuite {
  import DuplicateBlockSpec._

  test("no block of five src/main lines is written twice") {
    // the rule itself: a comment line does not break a copy, overlapping
    // windows merge into one group, literal text tells blocks apart, and
    // short lines never count
    val block = (1 to Lines).map(i => s"""  val v$i = f$i("${"x" * 40}")""")
    def obj(name: String, body: Seq[String]) =
      (s"object $name {" +: body :+ "}").mkString("\n")
    val a = obj("A", block)
    assert(duplicates(Seq("A" -> a, "B" -> obj("B", "  // a note" +: block))) ==
      Seq(block.head.trim -> Seq(("A", 2, 7), ("B", 3, 8))))
    assert(duplicates(Seq("A" -> a, "B" -> a.replace("x\"", "y\""))).isEmpty)
    val short = obj("C", block.map(_.take(30)))
    assert(duplicates(Seq("C" -> short, "D" -> short)).isEmpty)

    val found = duplicates(sources()).toMap
    val missing = found.keySet -- allowed.keySet
    val stale = allowed.keySet -- found.keySet
    if (missing.nonEmpty || stale.nonEmpty)
      fail(s"blocks of $Lines lines written more than once (make one " +
        "definition and call it, or allowlist the block with its reason):\n" +
        missing.toSeq.map(found).sortBy(_.head).map(g => "  " + g.map {
          case (f, from, to) => s"$f:$from-$to" }.mkString(", ")).mkString("\n") +
        "\nallowlisted but no longer written twice:\n" +
        stale.toSeq.sorted.map("  " + _).mkString("\n"))
  }
}

object DuplicateBlockSpec {
  val Lines = 5
  val MinChars = 200
  private val main = Paths.get("src/main/scala")

  /** First line of a block (whitespace collapsed) → why it stays twice. */
  val allowed: Map[String, String] = Map.empty

  /** (1-based line, whitespace-collapsed text) of each non-blank line of
    * `src` once comment text is blanked.
    */
  def lines(src: String): Seq[(Int, String)] =
    ReachabilitySpec.uncommented(src).split("\n", -1).toSeq.zipWithIndex
      .map { case (l, n) => (n + 1, l.trim.split("\\s+").mkString(" ")) }
      .filter(_._2.nonEmpty)

  /** Each block written more than once: its first line → the places
    * (file, first line, last line) that hold it. Overlapping windows at
    * the same places merge into one block.
    */
  def duplicates(files: Seq[(String, String)]): Seq[(String, Seq[(String, Int, Int)])] = {
    val windows = (for {
      (f, src) <- files
      w <- lines(src).sliding(Lines) if w.size == Lines
      if w.map(_._2.length).sum >= MinChars
    } yield w.map(_._2) -> (f, w.head._1, w.last._1))
      .groupMap(_._1)(_._2).filter(_._2.size > 1)
      .map { case (text, places) => text.head -> places.sorted }.toSeq
      .sortBy { case (_, places) => (places.head._1, places.head._2) }
    windows.foldLeft(Vector.empty[(String, Seq[(String, Int, Int)])]) {
      case (blocks, (first, places)) => blocks.lastOption match {
        case Some((f0, p0)) if p0.size == places.size && p0.zip(places).forall {
            case ((f, _, to), (g, from, _)) => f == g && from <= to } =>
          blocks.init :+ (f0 -> p0.zip(places).map {
            case ((f, from, _), (_, _, to)) => (f, from, to) })
        case _ => blocks :+ (first -> places)
      }
    }
  }

  /** (path under src/main/scala, text) of every source file. */
  def sources(): Seq[(String, String)] = {
    require(Files.isDirectory(main), s"run from the repository root: no $main")
    val s = Files.walk(main)
    val files: List[Path] =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    files.map(f => main.relativize(f).toString -> Files.readString(f))
  }
}
