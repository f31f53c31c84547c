package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PrefixSum

/** [[PrefixSum.running]], grouped and ungrouped, equals the naive
  * single-partition window on random inputs: two value columns (a LONG
  * and an INT, negative values included), a null group, empty input,
  * partition counts from 1 to 13 (0: `withRunningTotals` at the session
  * default) and inputs spread over other partition counts before the
  * call. The order key is unique within a group, as the operator
  * requires. */
class PrefixSumPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Schema = StructType(Seq(StructField("g", StringType),
    StructField("v", LongType), StructField("a", LongType),
    StructField("b", IntegerType)))

  /** Group values; null is a group of its own. */
  private val Groups = Seq(null, "Drug", "Gene", "a", "A", "", "zz")

  final case class Input(rows: Seq[(String, Long, Long, Int)], spread: Int,
      parts: Int)

  private val genInput: Gen[Input] = for {
    nGroups <- Gen.choose(1, 7)
    groups <- Gen.pick(nGroups, Groups)
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 80))
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf(groups.toSeq)
      v <- Gen.choose(-40L, 40L)
      a <- Gen.choose(-1000000000000L, 1000000000000L)
      b <- Gen.choose(-50, 50)
    } yield (g, v, a, b))
    spread <- Gen.choose(1, 9)
    parts <- Gen.choose(0, 13)
  } yield Input(rows, spread, parts)

  /** 200 distinct keys, two value columns, at the session default. */
  private val fixed = Input((1L to 200L).map(v =>
    (null: String, v * 7 % 201, v % 5, (v % 3).toInt)), 1, 0)

  private def frame(rows: Seq[(String, Long, Long, Int)], spread: Int) =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (g, v, a, b) => Row(g, v, a, b) }: _*), Schema)
      .repartition(spread)

  private def totals(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  /** Whether the operator's output equals the naive window's, over the
    * input's first row per order key (per group and key when grouped). */
  private def agrees(in: Input, grouped: Boolean): Prop = {
    val unique = in.rows.groupBy(r => (if (grouped) r._1 else null, r._2))
    val df = frame(unique.values.map(_.head).toSeq, in.spread)
    val got =
      if (grouped) PrefixSum.running(df, "v", Seq("a", "b"), in.parts, Seq("g"))
      else if (in.parts == 0) PrefixSum.withRunningTotals(df, "v", Seq("a", "b"))
      else PrefixSum.running(df, "v", Seq("a", "b"), in.parts)
    val w = (if (grouped) Window.partitionBy("g").orderBy("v") else Window.orderBy("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("a_cum", sum(col("a")).over(w))
      .withColumn("b_cum", sum(col("b").cast("long")).over(w))
    val cols = Seq("g", "v", "a", "b", "a_cum", "b_cum")
    val (g, n) = (totals(got, cols: _*), totals(want, cols: _*))
    Prop(got.columns.toSeq == cols && got.count() == n.size && g == n) :|
      s"got $g, want $n"
  }

  private def check(prop: Prop): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("grouped running totals == the per-group single-partition window") {
    check(Prop.forAll(genInput)(agrees(_, grouped = true)))
  }

  test("ungrouped running totals == the single-partition window") {
    check(agrees(fixed, grouped = false) && Prop.forAll(genInput)(agrees(_, grouped = false)))
  }
}
