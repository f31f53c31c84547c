package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{PageSynth, TextExtractor}

/** Byte-identity of the text-extraction spec: pure-Scala oracle vs the
  * distributed Column pipeline (the north-rule per-url invariant). Fuzzed
  * deterministically (splitmix64) over whitespace/markup/unicode pieces.
  */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pieces: Array[String] = Array(
    "abc", "Zorvex12", " ", "\t", "\n", "", "\f", "\r", "  \t ",
    "<b>", "</b>", "&amp;", "&nbsp;", "&lt;", ".", ",", "é", "züge",
    " ", "x" * 50, "")

  private def fuzz(i: Long): String = {
    val n = (PageSynth.splitmix64(i) & 0x1F).toInt
    (0 until n).map { k =>
      pieces((PageSynth.splitmix64(i * 131 + k) & 0x7FFFFFFF).toInt % pieces.length)
    }.mkString
  }

  test("clean: pure vs Column — byte identical on 500 fuzzed strings") {
    val texts = (0L until 500L).map(fuzz)
    val got = texts.toDF("t").select(TextExtractor.cleanCol(col("t"), 40))
      .as[String].collect().toSeq
    val want = texts.map(t => TextExtractor.clean(t, 40))
    assert(got == want)
  }

  test("clean semantics: collapse, strip, truncate") {
    assert(TextExtractor.clean("  a \t b\n\nc  ") == "a b c")
    assert(TextExtractor.clean("x" * 10001) == "x" * 10000 + "...")
    assert(TextExtractor.clean("", 10) == "")
    assert(TextExtractor.clean(" \t\r\n", 10) == "")
    // vertical tab is whitespace in our pinned class
    assert(TextExtractor.clean("ab") == "a b")
    // NBSP is NOT in the pinned class (Python \s parity)
    assert(TextExtractor.clean("a b") == "a b")
  }

  test("htmlToText: pure vs Column — byte identical on synthesized pages") {
    val htmls = (0L until 200L).map(i => PageSynth.html(i))
    val got = htmls.toDF("h").select(col("h").cast("binary").as("h"))
      .select(TextExtractor.htmlToTextCol(col("h"))).as[String]
      .collect().toSeq
    val want = htmls.map(h => TextExtractor.htmlToText(h, TextExtractor.MaxChars))
    assert(got == want)
  }

  test("htmlToText: scripts/styles/comments/entities handled") {
    val h = "<html><script>var a = '<div>';</script><style>p{}</style>" +
      "<!-- note --><p>A &amp; B&nbsp;&lt;ok&gt;</p></html>"
    assert(TextExtractor.htmlToText(h, 10000) == "A & B <ok>")
  }

  test("truncateCp fuzz: bounded walk == naive code-point reference") {
    // the naive spec: cut at code point `max` iff the string has more
    // than `max` code points; offsetByCodePoints handles malformed
    // (lone-surrogate) input the same way codePointAt/charCount do
    def naive(s: String, max: Int): String =
      if (s.codePointCount(0, s.length) <= max) s
      else s.substring(0, s.offsetByCodePoints(0, max)) + "..."
    // alphabet includes astral pairs AND lone surrogates (malformed
    // UTF-16 appears in real crawl data after byte-level truncation)
    val alphabet = "ab 😀𝕏" + '\uD83D' + '\uDE00' + "é"
    val rnd = new scala.util.Random(11)
    (0 until 4000).foreach { _ =>
      val s = (0 until rnd.nextInt(30))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val max = rnd.nextInt(12)
      val viaSb = {
        val sb = new java.lang.StringBuilder(s)
        TextExtractor.truncateCp(sb, max)
        sb.toString
      }
      assert(viaSb == naive(s, max), s"sb <$s> max=$max")
      assert(TextExtractor.truncateCp(s, max) == naive(s, max),
        s"str <$s> max=$max")
    }
  }

  test("PageSynth.url: hand-rolled padding == format-string spec (r06)") {
    // the URL builder dropped java.util.Formatter on the per-page hot
    // path; every oracle fixture keys on these exact strings, so pin
    // byte-identity to the original format spec across the pad/no-pad
    // boundaries of both fields
    def spec(i: Long): String =
      f"https://host-${i % 997}%04d.example/p/$i%09d"
    val cases = Seq(0L, 1L, 9L, 10L, 99L, 996L, 997L, 998L, 1993L,
      99999999L, 100000000L, 100000001L, 999999999L, 1000000000L,
      123456789012L)
    cases.foreach(i => assert(PageSynth.url(i) == spec(i), s"i=$i"))
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val i = rnd.nextLong(2000000000L)
      assert(PageSynth.url(i) == spec(i), s"i=$i")
    }
    // page indices are non-negative; unchecked, -1 padded to
    // "https://host-000-1.example/p/00000000-1", which the spec never
    // produces (it gives "host--001" and "p/-00000001")
    Seq(-1L, -998L, Long.MinValue).foreach { i =>
      intercept[IllegalArgumentException](PageSynth.url(i))
    }
  }
}
