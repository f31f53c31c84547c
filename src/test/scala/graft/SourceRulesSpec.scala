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
  *   - the ascending-pair expansion lives once, in
  *     `graft/operators/Pairs.scala`;
  *   - range partitioning (`repartitionByRange`, outside comments) lives
  *     once, in the global prefix of `graft/operators/PrefixSum.scala`;
  *   - no main source but `KeyedClaims.scala` (a scoped persist, released
  *     in a `finally`) keeps frames in the CacheManager;
  *   - atomic renames (`ATOMIC_MOVE`) live only in the two commit
  *     protocols, `Pipeline.scala` and `KeyedClaims.scala`;
  *   - test fixtures are written under `TestSpark.root`. */
class SourceRulesSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val home = mainRoot.resolve("graft/functions/StatCols.scala")
  private val cutHome = mainRoot.resolve("graft/operators/Cut.scala")
  private val pairsHome = mainRoot.resolve("graft/operators/Pairs.scala")
  private val prefixHome = mainRoot.resolve("graft/operators/PrefixSum.scala")
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

  test("the ascending tail slice lives only in Pairs") {
    assert(Files.isRegularFile(pairsHome), s"$pairsHome is missing")
    // slice(list, i + lit(2), size(list)), possibly over several lines
    val tail = """slice\(\s*[\w.]+(?:\([^()]*\))?\s*,[^,]*?\+\s*lit\(2\)\s*,\s*size\(""".r
    val found = for {
      p <- mainSources if p != pairsHome
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- tail.findAllMatchIn(text)
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}: " +
      m.matched.replaceAll("\\s+", " ")
    assert(found.isEmpty,
      "use graft.operators.Pairs instead:\n" + found.mkString("\n"))
  }

  test("repartitionByRange lives only in PrefixSum") {
    assert(Files.isRegularFile(prefixHome), s"$prefixHome is missing")
    val found = hits(mainSources.filter(_ != prefixHome)) { line =>
      val code = line.replaceAll("//.*", "").trim
      !code.startsWith("*") && !code.startsWith("/*") &&
        code.contains("repartitionByRange")
    }
    assert(found.isEmpty,
      "use graft.operators.PrefixSum instead:\n" + found.mkString("\n"))
  }

  test("only KeyedClaims persists or caches a frame") {
    val keyedClaims = mainRoot.resolve("graft/streaming/KeyedClaims.scala")
    val found = hits(mainSources.filter(_ != keyedClaims)) { line =>
      line.contains(".persist(") || line.contains(".cache()")
    }
    assert(found.isEmpty,
      "cut with graft.operators.Cut instead:\n" + found.mkString("\n"))
  }

  test("ATOMIC_MOVE lives only in the Pipeline and KeyedClaims commits") {
    val homes = Set("pipeline/Pipeline.scala", "streaming/KeyedClaims.scala")
      .map(f => mainRoot.resolve(s"graft/$f"))
    homes.foreach(h => assert(Files.isRegularFile(h), s"$h is missing"))
    val found = hits(mainSources.filterNot(homes))(_.contains("ATOMIC_MOVE"))
    assert(found.isEmpty,
      "commit through Pipeline.runStage or KeyedClaims.merge instead of " +
        "another rename protocol:\n" + found.mkString("\n"))
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
