package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules: the column vocabulary (`dbl`, `pln`) is defined once, in
  * `graft/functions/StatCols.scala`, and no other main source defines a
  * local copy or calls `portable_ln` by name. */
class SourceRulesSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val home = mainRoot.resolve("graft/functions/StatCols.scala")

  private def mainSources: Seq[Path] = {
    val s = Files.walk(mainRoot)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  test("dbl, pln and the portable_ln call live only in StatCols") {
    assert(Files.isRegularFile(home), s"$home is missing")
    val banned = Seq("def dbl(", "def pln(", "call_function(\"portable_ln\"")
    val hits = for {
      p <- mainSources if p != home
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$p:${i + 1}: $b"
    assert(hits.isEmpty,
      "use graft.functions.StatCols instead of a local copy:\n" +
        hits.mkString("\n"))
  }
}
