package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules:
  *   - the column vocabulary (`dbl`, `pln`) is defined once, in
  *     `graft/functions/StatCols.scala`, and no other main source defines a
  *     local copy or calls `portable_ln` by name;
  *   - every lineage cut and round-robin spread goes through
  *     `graft/operators/Cut.scala`;
  *   - test fixtures are written under `TestSpark.root`. */
class SourceRulesSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val home = mainRoot.resolve("graft/functions/StatCols.scala")
  private val cutHome = mainRoot.resolve("graft/operators/Cut.scala")
  private val testRoot = Paths.get("src/test/scala")

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private def mainSources: Seq[Path] = sources(mainRoot)

  /** `path:line: text` of every line of `files` that `bad` matches. */
  private def hits(files: Seq[Path])(bad: String => Boolean): Seq[String] =
    for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex if bad(line)
    } yield s"$p:${i + 1}: ${line.trim}"

  test("dbl, pln and the portable_ln call live only in StatCols") {
    assert(Files.isRegularFile(home), s"$home is missing")
    val banned = Seq("def dbl(", "def pln(", "call_function(\"portable_ln\"")
    val found =
      hits(mainSources.filter(_ != home))(l => banned.exists(l.contains))
    assert(found.isEmpty,
      "use graft.functions.StatCols instead of a local copy:\n" +
        found.mkString("\n"))
  }

  test("localCheckpoint and round-robin spreads live only in Cut") {
    assert(Files.isRegularFile(cutHome), s"$cutHome is missing")
    val spread = """repartition\(\s*[\w.]*defaultParallelism\s*\)""".r
    val found = hits(mainSources.filter(_ != cutHome)) { line =>
      line.contains("localCheckpoint(") ||
        spread.findFirstIn(line).isDefined
    }
    assert(found.isEmpty,
      "use graft.operators.Cut / Spread instead:\n" + found.mkString("\n"))
  }

  test("test fixtures are written under TestSpark.root") {
    val exempt = Set("TestSpark.scala", "SourceRulesSpec.scala")
      .map(f => testRoot.resolve(s"graft/$f"))
    val found = hits(sources(testRoot).filterNot(exempt)) { line =>
      line.contains("createTempDirectory") || line.contains("createTempFile")
    }
    assert(found.isEmpty,
      "use TestSpark.scratch instead:\n" + found.mkString("\n"))
  }
}
