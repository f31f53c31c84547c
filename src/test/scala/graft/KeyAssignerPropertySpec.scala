package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.KeyAssigner

/** [[KeyAssigner.assign]], grouped and ungrouped, equals the naive form on
  * random inputs: take the distinct non-null ids, sort them within each
  * group and number them 1..N. Inputs lean on the traps — a null group,
  * duplicate and null ids, empty input, partition counts from 1 to 13 (0:
  * the session default) and inputs spread over other partition counts
  * before the call. */
class KeyAssignerPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Schema = StructType(Seq(
    StructField("g", StringType), StructField("id", StringType)))

  /** Group values; null is a group of its own. */
  private val Groups = Seq(null, "Drug", "Gene", "AdverseEvent", "a", "A",
    "", "zz")
  /** A small id alphabet, so ids repeat within and across groups; ASCII
    * and BMP letters, where Spark's byte order equals String order. */
  private val genId: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    8 -> Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'B', '0', ' ', 'é')).map(_.mkString)))

  final case class Input(rows: Seq[(String, String)], spread: Int, parts: Int)

  private val genInput: Gen[Input] = for {
    nGroups <- Gen.choose(1, 8)
    groups <- Gen.pick(nGroups, Groups)
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 60))
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(groups.toSeq), genId))
    spread <- Gen.choose(1, 9)
    parts <- Gen.choose(0, 13)
  } yield Input(rows, spread, parts)

  private def naive(rows: Seq[(String, String)]): Set[(String, String, Long)] =
    rows.filter(_._2 != null).distinct.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(_._2).sorted.zipWithIndex.map { case (id, i) => (g, id, i + 1L) }
    }.toSet

  private def frame(in: Input) =
    spark.createDataFrame(java.util.Arrays.asList(
      in.rows.map { case (g, id) => Row(g, id) }: _*), Schema)
      .repartition(in.spread)

  private def check(prop: Prop): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(25).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("grouped assign == naive per-group sort-and-number") {
    check(Prop.forAll(genInput) { in =>
      val got = KeyAssigner.assign(frame(in), "id", in.parts, Seq("g"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val want = naive(in.rows)
      Prop(got.length == want.size && got.toSet == want) :|
        s"got ${got.toSet}, want $want"
    })
  }

  test("ungrouped assign == naive global sort-and-number, columns (id, key)") {
    check(Prop.forAll(genInput) { in =>
      val out = KeyAssigner.assign(frame(in), "id", in.parts)
      val got = out.collect().map(r => (null: String, r.getString(0), r.getLong(1)))
      val want = naive(in.rows.map { case (_, id) => (null, id) })
      Prop(out.columns.toSeq == Seq("id", "key") &&
        got.length == want.size && got.toSet == want) :|
        s"got ${got.toSet}, want $want"
    })
  }
}
