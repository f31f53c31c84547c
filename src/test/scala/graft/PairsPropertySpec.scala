package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pairs

/** [[Pairs]] answers exactly as the naive self-join it replaces,
  * `a.key = b.key AND a.item < b.item` over the exploded lists, grouped
  * by (a, b): equal schemas and equal row multisets on random lists of
  * LONG or STRING items (strings that sort differently by code point,
  * UTF-16 unit or case: `İ`/`i`/`I`/`ı`, `ﬁ`, `𝔸`), empty, singleton and
  * 1–40-item lists, with and without a carried payload collected per pair,
  * over 1 and 17 input partitions. Beside the property: the expansion adds
  * no exchange between the lists and the pair aggregate. */
class PairsPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Lists as rows (key, raw items with repeats in any order, w); Spark
    * sorts and dedups them, so the list order is Spark's own. */
  final case class Baskets(itemType: DataType, rows: Seq[Row], parts: Int,
      payload: Boolean) {
    def lists: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("key", IntegerType, nullable = false),
        StructField("raw", ArrayType(itemType, containsNull = false),
          nullable = false),
        StructField("w", LongType, nullable = false))))
      .select(col("key"), sort_array(array_distinct(col("raw"))).as("items"),
        col("w"))
      .repartition(parts)
  }

  private val Traps = Seq("", " ", "~", "a", "A", "aa", "ab", "z", "Z",
    "i", "I", "\u0130", "\u0131", "i\u0307", "\u00e9", "e\u0301", "fi",
    "\ufb01", "\uffff", "\ud835\udd38")

  private val genItem: Map[DataType, Gen[Any]] = Map(
    LongType -> Gen.frequency(9 -> Gen.choose(-20L, 40L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L)).map(Long.box),
    StringType -> Gen.frequency(1 -> Gen.oneOf(Traps),
      1 -> Gen.choose(0, 40).map(n => s"t$n")))

  private val genBaskets: Gen[Baskets] = for {
    itemType <- Gen.oneOf(LongType, StringType)
    n <- Gen.choose(0, 12)
    raws <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0),
      1 -> Gen.const(1), 6 -> Gen.choose(2, 40))
      .flatMap(k => Gen.listOfN(k, genItem(itemType))))
    ws <- Gen.listOfN(n, Gen.choose(-3L, 9L))
    parts <- Gen.oneOf(1, 17)
    payload <- Gen.oneOf(false, true)
  } yield Baskets(itemType,
    raws.zip(ws).zipWithIndex.map { case ((r, w), k) => Row(k, r, w) },
    parts, payload)

  private def naive(b: Baskets): DataFrame = {
    val ex = b.lists.select(col("key"), explode(col("items")).as("item"),
      col("w"))
    val aggs = count(lit(1)).as("n") +:
      (if (b.payload) Seq(sort_array(collect_list(col("x.w"))).as("ws"))
       else Nil)
    ex.as("x").join(ex.as("y"),
        col("x.key") === col("y.key") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def pairs(b: Baskets): DataFrame =
    Pairs(b.lists, "items", "a", "b", "n",
      (if (b.payload) Seq("w" -> "ws") else Nil): _*)

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  test("Pairs == the naive a < b self-join on random lists") {
    val prop = Prop.forAllNoShrink(genBaskets) { b =>
      val got = pairs(b)
      val want = naive(b)
      assert(got.schema == want.schema, s"schema on $b")
      assert(multiset(got) == multiset(want), s"rows on $b")
      true
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(30).withInitialSeed(Seed(29L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }
  }

  test("the expansion adds no exchange before the pair aggregate") {
    val lists = spark.range(0, 200)
      .select((col("id") % 13).as("k"), (col("id") % 29).as("item"),
        col("id").as("w"))
      .groupBy("k")
      .agg(sort_array(collect_set(col("item"))).as("items"), max("w").as("w"))
    for (payload <- Seq(Nil, Seq("w" -> "ws"))) {
      val out = Pairs(lists, "items", "a", "b", "n", payload: _*)
      val s = shuffles(out)
      assert(s.size == shuffles(lists).size + 1,
        out.queryExecution.executedPlan.toString)
      val keys = s.head.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case r: AttributeReference => r.name }
        case other => fail(s"pair aggregate partitioned by $other")
      }
      assert(keys == Seq("a", "b"))
    }
  }
}
