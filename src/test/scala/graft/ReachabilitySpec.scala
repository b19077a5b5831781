package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** What only tests reach. Every public name declared in `src/main` that no
  * other line of `src/main` or `perfbench/src` names, once comment text and
  * string-literal text are blanked, must be on [[ReachabilitySpec.allowed]],
  * and every allowed name must still be such a name. Each entry says why the
  * name stays: it is a main or another entry point named from outside the
  * scanned code, a reference port (with the reference file:line it ports)
  * or an oracle (with the column, SQL form or metric it checks).
  *
  * A declaration is a line whose code starts with `def`, `class`, `object`,
  * `val` or `trait`, after any of `final case implicit lazy abstract
  * sealed`, so `private` and `override` members are not matched. A use is
  * the name as a whole word (`[A-Za-z0-9_]`) on a line that does not
  * itself declare that name (public or private), so overloads and
  * same-name members in other files do not reach each other; an
  * interpolated `$x` or `${…}` is code and counts. Two rules narrow a use:
  *   - in a file that declares the name `private` or `protected` (with or
  *     without a `[…]` qualifier) every use resolves to that declaration,
  *     so Gazetteer's `private[dict] final class Node` reaches no public
  *     `Node` declared in another file;
  *   - a use written `Owner.name`, with `Owner` capitalised, reaches only
  *     declarations in a file that declares `Owner`, so
  *     `RulesMerging.entityRows` reaches no `entityRows` of Confidence.
  * What it cannot see:
  *   - a name used only in its own file still counts as reached, e.g. a
  *     class whose companion object names it;
  *   - an unqualified use, or one on an instance (`sc.predictRaw`) or on a
  *     chain broken across lines, counts for every overload and every
  *     other declaration of the name, so a local `val` that shadows a
  *     member keeps the member reached;
  *   - local vals and defs are matched like members.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  test("every public src/main name nothing but tests reach is allowlisted with its reason") {
    // the blanking itself: comments and literal text go, interpolations stay
    val src = "val a = s\"b $c ${d(\"e\")}\" + '\"' + x /* f \"g */ // h\n\"\"\"i\"\"\" j"
    assert(tokens(code(src)) == Seq("val", "a", "c", "d", "x", "j"))
    assert(code(src).count(_ == '\n') == 1)
    // only a capitalised owner right before the dot qualifies a use
    assert(words("r = RulesMerging.entityRows(sc.x, A .y)") == Seq(
      "r" -> None, "RulesMerging" -> None, "entityRows" -> Some("RulesMerging"),
      "sc" -> None, "x" -> None, "A" -> None, "y" -> None))

    val found = unreached()
    val missing = found.keySet -- allowed.keySet
    val stale = allowed.keySet -- found.keySet
    if (missing.nonEmpty || stale.nonEmpty)
      fail("reached only by tests, not allowlisted (delete it or cite why it stays):\n" +
        missing.toSeq.sorted.map(k => s"  $k (${found(k)})").mkString("\n") +
        "\nallowlisted but now reached or gone:\n" +
        stale.toSeq.sorted.map("  " + _).mkString("\n"))
  }
}

object ReachabilitySpec {
  private val main = Paths.get("src/main/scala")
  private val roots = Seq(main, Paths.get("perfbench/src"))

  /** `<file under src/main/scala> <name>` → why it stays. */
  val allowed: Map[String, String] = Map(
    "graft/Bench.scala Bench" -> "main: `runMain graft.Bench`, the query suite and scaling pairs",
    "graft/Verify.scala Verify" -> "main: `runMain graft.Verify <sfDir> <outDir>`, the oracle dump",
    "graft/tools/FreezeGoldens.scala FreezeGoldens" -> "main: regenerates src/test/resources/goldens",
    "graft/tools/ScaleProbe.scala ScaleProbe" -> "main: Bench spawns it with spark-submit `--class graft.tools.ScaleProbe`",
    "graft/Bench.scala main" -> "main: the JVM entry point of `runMain graft.Bench`",
    "graft/KgRunner.scala main" -> "main: the JVM entry point of `runMain graft.KgRunner` and spark-submit",
    "graft/Verify.scala main" -> "main: the JVM entry point of `runMain graft.Verify`",
    "graft/tools/FreezeGoldens.scala main" -> "main: the JVM entry point of `runMain graft.tools.FreezeGoldens`",
    "graft/tools/ScaleProbe.scala main" -> "main: the JVM entry point Bench's spark-submit children run",
    "graft/functions/NfcNormalize.scala register" -> "entry point: registers nfc_normalize, DuckDB's builtin name, for spark.sql queries",
    "graft/functions/RollingHash.scala register" -> "entry point: registers rolling_hash for spark.sql queries",
    "graft/SparkEntry.scala entry" -> "entry point: the flagship triples call a driver smoke-checks (rows > 0 on sf0.001)",
    "graft/functions/NfcNormalize.scala nfcUtf8" -> "codegen entry point: the Java that NfcNormalize.doGenCode emits calls it",
    "graft/merge/Merge.scala wordsCombiner" -> "reference port: words_combiner, clean_and_save.py:65-110",
    "graft/merge/Merge.scala wordsCombinerFuzzy" -> "reference port: words_combiner_fuzzy, clean_and_save.py:177-236",
    "graft/merge/Merge.scala suffixCombiner" -> "reference port: suffix_combiner, clean_and_save.py:266-296",
    "graft/ner/Bio.scala Bio" -> "reference port: the BIO codec of multi_ner_prediction.py:47-61, 174-185, 220-280",
    "graft/ner/Bio.scala toBio" -> "reference port: post_processing, multi_ner_prediction.py:174-185",
    "graft/ner/Bio.scala fromSpans" -> "reference port: the voted_seq reconstruction, EnsemblePredict_all.py:380-389",
    "graft/ner/Bio.scala getPositions" -> "reference port: get_positions, EnsemblePredict_all.py:162-222",
    "graft/merge/Merge.scala isAInX" -> "reference port: is_a_in_x, clean_and_save.py:59-62",
    "graft/ner/MucEvaluator.scala evaluate" -> "reference port: Evaluator(...).evaluate(), multi_ner_prediction.py:595-606",
    "graft/ner/MucEvaluator.scala recall" -> "reference port: the evaluator's recall, multi_ner_prediction.py:595-606",
    "graft/ner/OnlineNer.scala OnlineNer" -> "reference port: the Flask API, app_multi.py:154-253",
    "graft/ner/OnlineNer.scala annotator" -> "reference port: one request of app_multi.py:154-253",
    "graft/sources/Sources.scala Sources" -> "reference port: the S2/S3/S6/S7/S8 sources and sinks of generation.py and EnsemblePredict_all.py",
    "graft/sources/Sources.scala readSentencesJson" -> "reference port: json.load, generation.py:149-151",
    "graft/sources/Sources.scala writeSentencesJson" -> "reference port: json.dump, generation.py:164-165",
    "graft/sources/Sources.scala readEntitiesCsv" -> "reference port: the extraction-results table, EnsemblePredict_all.py:582-585",
    "graft/sources/Sources.scala writeEntitiesCsv" -> "reference port: the extraction-results table, EnsemblePredict_all.py:582-585",
    "graft/sources/Sources.scala substituteNotinTypes" -> "reference port: the notin_types substitution, generation.py:216-238",
    "graft/sources/Sources.scala writeBioSplit" -> "reference port: the three-way BIO split, generation.py:446-455",
    "graft/ner/ModelEval.scala derivedWeights" -> "oracle: the live re-derivation of the shipped Fixtures.modelWeights",
    "graft/textops/Dedup.scala minhashBucketStats" -> "oracle: the audit view of the graft.dedup.minhash_buckets metric minhashLsh observes",
    "graft/textops/TextOps.scala langId" -> "oracle: the scalar form of the langIdCol column",
    "graft/textops/TextOps.scala hllEstimate" -> "oracle: the estimator over the rows of hllRegistersSql",
    "graft/textops/TextOps.scala cmsEstimate" -> "oracle: the estimator over the rows of cmsCountersSql",
  )

  private val Decl =
    """^\s*(?:(?:final|case|implicit|lazy|abstract|sealed) +)*(?:def|class|object|val|trait) +([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Private =
    """^\s*(?:@\w+ +)*(?:(?:final|case|implicit|lazy|abstract|sealed|override) +)*(?:private|protected)(?:\[\w+\])? +(?:(?:final|case|implicit|lazy|abstract|sealed|override) +)*(?:def|class|object|val|var|trait|type) +([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Word = "[A-Za-z0-9_]+".r

  def tokens(line: String): Seq[String] = Word.findAllIn(line).toSeq

  /** `<file> <name>` → `file:line` of each public declaration that no
    * other line names.
    */
  def unreached(): Map[String, String] = {
    require(Files.isDirectory(main), s"run from the repository root: no $main")
    val files = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val lines = files.map(f => f -> code(Files.readString(f)).split("\n", -1).toSeq)
    def declared(l: String) =
      Decl.findPrefixMatchOf(l).orElse(Private.findPrefixMatchOf(l)).map(_.group(1))
    // name → (file, line, owner) per use; owner is the capitalised `Owner`
    // of an `Owner.name` use, None for any other use
    val uses = (for {
      (f, ls) <- lines
      (l, n) <- ls.zipWithIndex
      self = declared(l)
      (w, owner) <- words(l).distinct if !self.contains(w)
    } yield w -> (f, n, owner)).groupMap(_._1)(_._2)
    val declaredIn = lines.map { case (f, ls) => f -> ls.flatMap(declared).toSet }.toMap
    val privateIn = lines.map { case (f, ls) =>
      f -> ls.flatMap(l => Private.findPrefixMatchOf(l).map(_.group(1))).toSet
    }.toMap
    (for {
      (f, ls) <- lines if f.startsWith(main)
      (l, n) <- ls.zipWithIndex
      name <- Decl.findPrefixMatchOf(l).map(_.group(1))
      if uses.getOrElse(name, Nil).forall { case (g, _, owner) =>
        (g != f && privateIn(g)(name)) || owner.exists(o => !declaredIn(f)(o))
      }
    } yield s"${main.relativize(f)} $name" -> s"$f:${n + 1}").toMap
  }

  /** Each word of `line` with the capitalised `Owner` it is written
    * after (`Owner.word`), if any.
    */
  def words(line: String): Seq[(String, Option[String])] = {
    val ms = Word.findAllMatchIn(line).toSeq
    ms.indices.map { i =>
      val prev = if (i > 0) Some(ms(i - 1)) else None
      val owner = prev.filter(p => p.end == ms(i).start - 1 &&
        line(p.end) == '.' && p.matched.head.isUpper).map(_.matched)
      ms(i).matched -> owner
    }
  }

  /** `src` with the text of every comment and string or character literal
    * replaced by spaces, newlines kept so line numbers hold. In an
    * interpolated string (`s"…"`, `f"…"`, `raw"…"`) the `$x` and `${…}`
    * parts stay as code, blanked recursively.
    */
  def code(src: String): String = {
    val out = src.toCharArray
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def isId(c: Char) = c.isLetterOrDigit || c == '_'

    // code up to the end, or (inside `${`) up to its closing brace
    def codeUntil(closing: Boolean): Unit = {
      var depth = 0
      while (i < n && !(closing && depth == 0 && src(i) == '}')) {
        if (at("//")) {
          val e = src.indexOf('\n', i)
          val end = if (e < 0) n else e
          blank(i, end); i = end
        } else if (at("/*")) {
          val start = i
          var nest = 0
          do {
            if (at("/*")) { nest += 1; i += 2 }
            else if (at("*/")) { nest -= 1; i += 2 }
            else i += 1
          } while (i < n && nest > 0)
          blank(start, i)
        } else if (src(i) == '"') {
          var s = i
          while (s > 0 && isId(src(s - 1))) s -= 1
          blank(s, i)
          string(interpolated = s < i)
        } else if (src(i) == '\'') {
          val end =
            if (i + 1 < n && src(i + 1) == '\\') math.max(src.indexOf('\'', i + 3) + 1, i + 1)
            else if (i + 2 < n && src(i + 2) == '\'') i + 3
            else i + 1
          blank(i, end); i = end
        } else {
          if (src(i) == '{') depth += 1
          else if (src(i) == '}') depth -= 1
          i += 1
        }
      }
    }

    // a literal from its opening quote on, blanked but for interpolations
    def string(interpolated: Boolean): Unit = {
      val triple = at("\"\"\"")
      blank(i, i + (if (triple) 3 else 1))
      i += (if (triple) 3 else 1)
      var open = true
      while (i < n && open) {
        if (triple && at("\"\"\"")) {
          var end = i + 3
          while (end < n && src(end) == '"') end += 1
          blank(i, end); i = end; open = false
        } else if (!triple && src(i) == '"') {
          blank(i, i + 1); i += 1; open = false
        } else if (!triple && src(i) == '\\') {
          blank(i, i + 2); i += 2
        } else if (interpolated && at("${")) {
          blank(i, i + 2); i += 2
          codeUntil(closing = true)
          blank(i, i + 1); i += 1
        } else if (interpolated && at("$$")) {
          blank(i, i + 2); i += 2
        } else if (interpolated && src(i) == '$') {
          blank(i, i + 1); i += 1
          while (i < n && isId(src(i))) i += 1
        } else {
          blank(i, i + 1); i += 1
        }
      }
    }

    codeUntil(closing = false)
    new String(out)
  }
}
