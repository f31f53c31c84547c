package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules:
  *   - the column vocabulary (`dbl`, `pln`) is defined once, in
  *     `graft/functions/StatCols.scala`, and no other main source defines a
  *     local copy or calls `portable_ln` by name; no other main source
  *     writes out a list-sum fold, an n-scaled co-moment or a doubled
  *     midrank (`sumInOrder`, `coMoment`, `doubledMidrank`);
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

  /** `path:line: match` of every match of `bad` in a main source other
    * than `home`; a match may span lines. */
  private def spans(home: Path, bad: scala.util.matching.Regex): Seq[String] =
    for {
      p <- mainSources if p != home
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- bad.findAllMatchIn(text)
    } yield s"$p:${text.take(m.start).count(_ == '\n') + 1}: " +
      m.matched.replaceAll("\\s+", " ").take(120)

  /** A balanced `( … )` group, nested `depth` levels deep at most. */
  private def parens(depth: Int): String =
    if (depth == 0) """\([^()]*\)"""
    else """\((?:[^()]|""" + parens(depth - 1) + """)*\)"""

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

  test("list sums, co-moments and doubled midranks live only in StatCols") {
    // aggregate(list, lit(0.0) or lit(0L), (acc, e) => acc + …), a block
    // body's last statement included
    val fold = ("""\baggregate\((?:[^()]|""" + parens(5) +
      """)*?,\s*lit\(0(?:\.0|L)\)\s*,\s*\(\s*(\w+)\s*,\s*\w+\s*\)\s*=>""" +
      """\s*(?:\{\s*(?:val\s[^\n]*\n\s*)*)?\1\s*\+""").r
    // dbl(n) * dbl(Σab) - dbl(Σa) * dbl(Σb) over a count n or k (a 2×2
    // determinant a·d − b·c is no moment and stays inline)
    val dblArg = """dbl""" + parens(3)
    val coMoment = ("""\bdbl\((?:n|k|col\("[nk]"\))\)\s*\*\s*""" + dblArg +
      """\s*-\s*""" + dblArg + """\s*\*\s*dbl\(""").r
    // lit(2L) * (col("t_cum") - col("t")) + col("t") + 1L
    val midrank = ("""lit\(2L\)\s*\*\s*\(\s*col\("(\w+)_cum"\)\s*-\s*""" +
      """col\("\1"\)\s*\)\s*\+\s*col\("\1"\)\s*\+\s*(?:lit\(\s*)?1L""").r
    val found = Seq(fold, coMoment, midrank).flatMap(spans(home, _))
    assert(found.isEmpty,
      "use StatCols.sumInOrder / coMoment / doubledMidrank instead:\n" +
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
    val found = spans(pairsHome, tail)
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
