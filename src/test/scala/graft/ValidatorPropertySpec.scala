package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Validator
import graft.graph.Validator.Report

/** The one-action [[Validator.validate]] returns the same [[Report]] as the
  * three-query form it replaced (kept below as the reference: one
  * aggregate per table plus a left_anti orphan join). Random tables lean
  * on the traps — null types and keys, disallowed types, key 0, duplicate
  * (type, key) rows, orphan src and dst endpoints, missing edge fields,
  * empty tables. */
class ValidatorPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val VertexSchema = StructType(Seq(
    StructField("node_type", StringType), StructField("key", LongType),
    StructField("label", StringType)))
  private val EdgeSchema = StructType(Seq(
    StructField("src_type", StringType), StructField("src_key", LongType),
    StructField("dst_type", StringType), StructField("dst_key", LongType),
    StructField("edge", StringType), StructField("claim_type", StringType),
    StructField("dataset", StringType)))

  /** The three-query form: one fused aggregate per table plus one orphan
    * anti-join over the union of src and dst endpoints. */
  private def reference(vertices: DataFrame, edges: DataFrame): Report = {
    def flag(c: Column): Column = coalesce(sum(when(c, 1L)), lit(0L))
    val v = vertices.agg(
      count(lit(1)),
      flag(!col("node_type").isin(Validator.AllowedNodeTypes.toSeq: _*)),
      flag(col("key").isNull || col("key") < 1),
      count(lit(1)) - countDistinct(struct(col("node_type"), col("key")))
    ).head()
    val e = edges.agg(
      count(lit(1)),
      flag(
        col("src_type").isNull || col("src_key").isNull ||
        col("dst_type").isNull || col("dst_key").isNull ||
        col("edge").isNull || col("claim_type").isNull ||
        col("dataset").isNull)
    ).head()
    val vk = vertices.select(col("node_type"), col("key"))
    val orphans = edges.select(
        col("src_type").as("node_type"), col("src_key").as("key"))
      .union(edges.select(
        col("dst_type").as("node_type"), col("dst_key").as("key")))
      .join(vk, Seq("node_type", "key"), "left_anti").count()
    Report(v.getLong(0), e.getLong(0), v.getLong(1), v.getLong(2),
      e.getLong(1), orphans, v.getLong(3))
  }

  private val genType: Gen[String] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const("Potato"),
    6 -> Gen.oneOf("Drug", "Gene", "AdverseEvent"))
  private val genKey: Gen[java.lang.Long] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.oneOf(0L, -1L).map(Long.box),
    6 -> Gen.choose(1L, 4L).map(Long.box))
  private def maybeNull(g: Gen[String]): Gen[String] =
    Gen.frequency(1 -> Gen.const(null), 8 -> g)

  private val genVertex: Gen[Row] =
    for (t <- genType; k <- genKey; l <- Gen.oneOf("a", "b"))
      yield Row(t, k, l)
  /** Endpoints come from the same small domain as vertex keys, so most
    * edges hit a vertex and some are orphans at either end. */
  private val genEdge: Gen[Row] = for {
    st <- genType; sk <- genKey; dt <- genType; dk <- genKey
    e <- maybeNull(Gen.const("Claim"))
    c <- maybeNull(Gen.oneOf("DRUG_AE", "DRUG_TARGET"))
    ds <- maybeNull(Gen.const("faers"))
  } yield Row(st, sk, dt, dk, e, c, ds)

  private def sized[T](g: Gen[T], max: Int): Gen[List[T]] =
    Gen.frequency(1 -> Gen.const(Nil),
      5 -> Gen.choose(1, max).flatMap(Gen.listOfN(_, g)))

  test("one-action validate == the three-query reference on random tables") {
    val prop = Prop.forAll(sized(genVertex, 25), sized(genEdge, 25)) { (vs, es) =>
      val v = spark.createDataFrame(java.util.Arrays.asList(vs: _*), VertexSchema)
      val e = spark.createDataFrame(java.util.Arrays.asList(es: _*), EdgeSchema)
      val got = Validator.validate(v, e)
      val want = reference(v, e)
      Prop(got == want) :| s"got $got, want $want"
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(30).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("traps: each field counts its own violation, in both forms") {
    def r(xs: Any*) = Row(xs: _*)
    val v = spark.createDataFrame(java.util.Arrays.asList(
      r("Drug", 1L, "a"), r("Drug", 1L, "b"), r("Drug", 1L, "c"),
      r("Potato", 2L, "p"), r("Gene", 0L, "z"), r(null, null, "n1"),
      r(null, null, "n2"), r("Gene", null, "g")), VertexSchema)
    val e = spark.createDataFrame(java.util.Arrays.asList(
      r("Drug", 1L, "Gene", 9L, "Claim", "DRUG_TARGET", "faers"),
      r(null, null, "Drug", 1L, "Claim", "DRUG_AE", "faers"),
      r("Gene", 0L, "Potato", 2L, "Claim", "DRUG_AE", "faers"),
      r("Drug", 1L, "Drug", 1L, null, "DRUG_AE", "faers")), EdgeSchema)
    // a null type is not a bad type; a null key is a bad key; a null
    // endpoint is an orphan even beside a null-keyed vertex; 3 rows on
    // (Drug, 1) plus 2 on (null, null) are 3 extra rows
    val want = Report(vertexCount = 8, edgeCount = 4, badNodeTypes = 1,
      badKeys = 4, missingEdgeFields = 2, orphanEdges = 2,
      duplicateVertexRows = 3)
    assert(reference(v, e) == want)
    assert(Validator.validate(v, e) == want)
  }
}
