package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard against dead public API: a public member `def` of a class,
  * trait or object in `src/main` must be used somewhere in `src/main` or
  * be named in COVERAGE.md, where a row ties it to the operator it mirrors
  * and the spec that checks it. A spec-only fixture belongs in `src/test`.
  *
  * A use is any other mention of the name in `src/main`, comments
  * included; the line that declares a def does not count as a use of its
  * own name. `override`s and `main` are exempt, and so is [[exempt]]. */
class ApiSurfaceSpec extends AnyFunSuite {

  /** Public defs kept with neither a use nor a COVERAGE.md row → why. */
  private val exempt = Map(
    "countExchanges" -> ("the AQE-aware exchange counter of the plan-shape " +
      "specs (CLAUDE.md invariant 8); the per-unit run record is to call it"))

  test("every public member def is used in src/main or named in COVERAGE.md") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq).toSeq
    assert(files.nonEmpty)
    val coverage = new String(Files.readAllBytes(Paths.get("COVERAGE.md")), UTF_8)
    val Template = ("""\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|""" +
      """abstract\s+|implicit\s+|case\s+)*(?:object|class|trait)\s.*""").r
    val Def = ("""( *)((?:(?:override|final|implicit|private|protected|@\w+)""" +
      """(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*).*""").r
    val word = """[A-Za-z_]\w*""".r
    def indent(line: String) = line.takeWhile(_ == ' ').length
    val used: Set[String] = files.flatMap { case (_, lines) =>
      lines.flatMap { line =>
        val words = word.findAllIn(line).toSeq
        line match {
          case Def(_, _, name) => words.filterNot(_ == name)
          case _ => words
        }
      }
    }.toSet
    val dead = for {
      (p: Path, lines) <- files
      (Def(ind, mods, name), i) <- lines.zipWithIndex
      if !Seq("private", "protected", "override").exists(mods.contains)
      if name != "main" && !exempt.contains(name) && !used(name)
      // a member, not a local def: the nearest less-indented line above it
      // is a class, trait or object header
      if lines.take(i).reverseIterator
        .find(l => l.trim.nonEmpty && indent(l) < ind.length)
        .exists(Template.matches)
      if s"\\b$name\\b".r.findFirstIn(coverage).isEmpty
    } yield s"$p:${i + 1}: $name"
    assert(dead.isEmpty, dead.sorted.mkString(
      "public defs with no use in src/main and no COVERAGE.md row (call it, " +
        "name it in its COVERAGE.md row, move a spec fixture to src/test, " +
        "or delete it):\n", "\n", ""))
  }
}
