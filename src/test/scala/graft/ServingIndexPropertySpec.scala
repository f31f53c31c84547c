package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.query.{PathTools, ServingIndex, Tools}

/** The driver-store [[ServingIndex]] answers every tool exactly as the
  * distributed [[Tools]]/[[PathTools]] plans over the same tables: equal
  * schemas, equal rows, equal order wherever the order is total. Random
  * small graphs lean on the parity traps — null frequency/strength,
  * duplicate edges to one destination, `meta` with and without `prr` or
  * empty, label ties, `İstanbul`-style labels, labels with tabs or
  * padding, missing keys. */
class ServingIndexPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val VertexSchema = StructType(Seq(
    StructField("node_type", StringType), StructField("key", LongType),
    StructField("label", StringType),
    StructField("props", MapType(StringType, StringType))))
  private val EdgeSchema = StructType(Seq(
    StructField("src_type", StringType), StructField("src_key", LongType),
    StructField("dst_type", StringType), StructField("dst_key", LongType),
    StructField("frequency", DoubleType),
    StructField("strength_score", DoubleType),
    StructField("meta", MapType(StringType, StringType)),
    StructField("dataset", StringType)))

  private val Types = Seq("Drug", "Gene", "AdverseEvent", "Disease",
    "DrugCombination")
  private val Relations = Seq("Drug" -> "AdverseEvent", "Drug" -> "Gene",
    "Gene" -> "Disease", "Drug" -> "DrugCombination",
    "DrugCombination" -> "AdverseEvent")
  /** Keys 1..5 may have vertices; 6 never does. */
  private val MaxKey = 6L
  private val Labels = Seq("aspirin", "Aspirin", "aspirin", "asp", "İstanbul",
    "istanbul", "bleeding", "Bleeding", " bleeding", "bleeding ",
    "\tbleeding", "BLEEDING\t", "nausea", " NAUSEA ", "ﬁx",
    "𝔸x", "", null)
  private val Names = Seq("aspirin", "ASPIRIN", " asp ", "İSTANBUL",
    "istanbul", "bleeding", "nausea", "x", "", "zzz")

  final case class Graph(vertices: Seq[Row], edges: Seq[Row])

  private val genVertices: Gen[Seq[Row]] = {
    val props = Gen.oneOf(Seq[Map[String, String]](null, Map.empty,
      Map("drugcentral_id" -> "1"), Map("drugcentral_id" -> null),
      Map("a" -> "1", "b" -> "2"), Map("drugcentral_id" -> "7", "x" -> "y")))
    val slots = for (t <- Types; k <- 1L until MaxKey) yield (t, k)
    Gen.sequence[List[Option[Row]], Option[Row]](slots.map { case (t, k) =>
      Gen.option(for (l <- Gen.oneOf(Labels); p <- props)
        yield Row(t, k, l, p))
    }).map(_.flatten)
  }

  private val genEdge: Gen[Row] = {
    val score = Gen.frequency(1 -> Gen.const[java.lang.Double](null),
      3 -> Gen.oneOf(0.1, 0.5, 0.9, 2.0).map(Double.box))
    val meta = Gen.oneOf(Seq[Map[String, String]](null, Map.empty,
      Map("prr" -> "1.5"), Map("prr" -> "3"), Map("other" -> "x"),
      Map("prr" -> "0.5", "k" -> "v")))
    for {
      (st, dt) <- Gen.oneOf(Relations)
      sk <- Gen.choose(1L, MaxKey); dk <- Gen.choose(1L, MaxKey)
      f <- score; s <- score; m <- meta
      ds <- Gen.oneOf("faers", "sider", null)
    } yield Row(st, sk, dt, dk, f, s, m, ds)
  }

  private val genGraph: Gen[Graph] = for {
    vs <- genVertices
    n <- Gen.choose(0, 30)
    es <- Gen.listOfN(n, genEdge)
  } yield Graph(vs, es)

  /** One tool call: runs it on both forms. `runKey` is the tool's sort
    * key; rows sharing it are a tie and compared as a multiset. */
  final case class Call(name: String, serve: ServingIndex => DataFrame,
      reference: (DataFrame, DataFrame) => DataFrame, runKey: Row => Any)

  private def key(r: Row, cols: String*): Seq[Any] = cols.map(c => r.getAs[Any](c))

  private val genCall: Gen[Call] = {
    val k = Gen.choose(1L, MaxKey)
    Gen.oneOf(
      for (t <- Gen.oneOf(Types); n <- Gen.oneOf(Names);
           lim <- Gen.oneOf(1, 2, 25))
        yield Call(s"resolve($t, '$n', $lim)", _.resolve(t, n, lim),
          (v, _) => Tools.resolve(v, t, n, lim), identity),
      for ((st, dt) <- Gen.oneOf(Relations); sk <- k)
        yield Call(s"neighbors($st, $sk, $dt)", _.neighbors(st, sk, dt),
          (v, e) => Tools.neighbors(e, v, st, sk, dt),
          key(_, "frequency", "label")),
      for (d <- k; a <- k)
        yield Call(s"drugToAePaths($d, $a)", _.drugToAePaths(d, a),
          (v, e) => PathTools.drugToAePaths(e, v, d, a),
          key(_, "score", "hops", "gene_key")),
      for (a <- k; b <- k)
        yield Call(s"drugDrugInteractions($a, $b)",
          _.drugDrugInteractions(a, b),
          (v, e) => PathTools.drugDrugInteractions(e, v, a, b),
          key(_, "prr", "ae_key")),
      for (d <- k)
        yield Call(s"drugProfile($d)", _.drugProfile(d),
          (v, e) => PathTools.drugProfile(e, v, d),
          r => if (r.getString(0) == "adverse_event")
            key(r, "section", "frequency", "label") else r.getString(0)))
  }

  /** Rows split into maximal runs of equal sort key, each run a multiset. */
  private def runs(rows: Seq[Row], runKey: Row => Any): List[(Any, Map[Row, Int])] =
    rows.foldRight(List.empty[(Any, List[Row])]) { (r, acc) =>
      val k = runKey(r)
      acc match {
        case (k2, rs) :: rest if k2 == k => (k, r :: rs) :: rest
        case _ => (k, List(r)) :: acc
      }
    }.map { case (k, rs) => k -> rs.groupBy(identity).view.mapValues(_.size).toMap }

  /** Checks every call on one graph; returns the served answers. */
  private def checkGraph(g: Graph, calls: Seq[Call]): Map[String, Seq[Row]] = {
    val v = spark.createDataFrame(java.util.Arrays.asList(g.vertices: _*),
      VertexSchema)
    val e = spark.createDataFrame(java.util.Arrays.asList(g.edges: _*),
      EdgeSchema)
    val idx = ServingIndex.build(v, e)
    try calls.map { c =>
      val served = c.serve(idx)
      val ref = c.reference(v, e)
      assert(served.schema == ref.schema, s"${c.name}: schema")
      val got = served.collect().toSeq
      val want = ref.collect().toSeq
      assert(runs(got, c.runKey) == runs(want, c.runKey),
        s"${c.name}: served $got, reference $want")
      c.name -> got
    }.toMap
    finally idx.unpersist()
  }

  test("served tools == Tools/PathTools on random small graphs") {
    val prop = Prop.forAll(genGraph, Gen.listOfN(12, genCall)) { (g, calls) =>
      checkGraph(g, calls)
      true
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("parity traps: label folds, padding, prr fallback, null scores, ties") {
    val none: Map[String, String] = null
    val vs = Seq(
      Row("Drug", 1L, "aspirin", Map("drugcentral_id" -> "1")),
      Row("Drug", 2L, "Aspirin", Map("a" -> "1", "b" -> "2")),
      Row("Drug", 3L, "İstanbul", none),
      Row("Drug", 4L, "aspirin", Map.empty[String, String]),
      Row("Gene", 1L, "G1", none), Row("Gene", 2L, "G2", none),
      Row("AdverseEvent", 1L, "bleeding", none),
      Row("AdverseEvent", 2L, "nausea", none),
      Row("AdverseEvent", 3L, "rash", none),
      Row("Disease", 1L, " Bleeding", none),
      Row("Disease", 2L, "\tbleeding", none),
      Row("Disease", 3L, " NAUSEA ", none),
      Row("DrugCombination", 1L, "c1", none))
    def edge(st: String, sk: Long, dt: String, dk: Long, f: java.lang.Double,
        s: java.lang.Double, meta: Map[String, String] = null) =
      Row(st, sk, dt, dk, f, s, meta, "faers")
    val es = Seq(
      // duplicate edges to one destination, one with null frequency
      edge("Drug", 1, "AdverseEvent", 1, 0.4, null),
      edge("Drug", 1, "AdverseEvent", 1, null, 0.8),
      edge("Drug", 1, "AdverseEvent", 2, null, null),
      edge("Drug", 1, "AdverseEvent", 3, 0.4, 0.1),
      edge("Drug", 1, "AdverseEvent", 9, 0.9, 0.9), // no AE vertex 9
      edge("Drug", 1, "Gene", 1, 1.0, 1.0), edge("Drug", 1, "Gene", 2, 1.0, 1.0),
      edge("Gene", 1, "Disease", 1, null, null),
      edge("Gene", 1, "Disease", 2, 1.0, 0.7),
      edge("Gene", 2, "Disease", 3, 1.0, 0.6),
      edge("Gene", 2, "Disease", 3, 1.0, null),
      edge("Drug", 1, "DrugCombination", 1, 1.0, 1.0),
      edge("Drug", 2, "DrugCombination", 1, 1.0, 1.0),
      edge("DrugCombination", 1, "AdverseEvent", 1, 1.0, 0.3, Map("prr" -> "2.5")),
      edge("DrugCombination", 1, "AdverseEvent", 2, 1.0, 0.3, Map("x" -> "y")),
      edge("DrugCombination", 1, "AdverseEvent", 3, 1.0, 0.3, Map.empty),
      edge("DrugCombination", 1, "AdverseEvent", 3, 1.0, 0.6, null))
    val calls = Seq(
      Call("resolve aspirin", _.resolve("Drug", "ASPIRIN"),
        (v, _) => Tools.resolve(v, "Drug", "ASPIRIN"), identity),
      Call("resolve istanbul", _.resolve("Drug", " istanbul "),
        (v, _) => Tools.resolve(v, "Drug", " istanbul "), identity),
      Call("neighbors", _.neighbors("Drug", 1, "AdverseEvent"),
        (v, e) => Tools.neighbors(e, v, "Drug", 1, "AdverseEvent"),
        identity),
      Call("paths bleeding", _.drugToAePaths(1, 1),
        (v, e) => PathTools.drugToAePaths(e, v, 1, 1), identity),
      Call("paths nausea", _.drugToAePaths(1, 2),
        (v, e) => PathTools.drugToAePaths(e, v, 1, 2), identity),
      Call("ddi", _.drugDrugInteractions(1, 2),
        (v, e) => PathTools.drugDrugInteractions(e, v, 1, 2),
        key(_, "prr", "ae_key")),
      Call("profile", _.drugProfile(1),
        (v, e) => PathTools.drugProfile(e, v, 1),
        r => if (r.getString(0) == "target") "target" else r),
      Call("profile missing", _.drugProfile(6),
        (v, e) => PathTools.drugProfile(e, v, 6), identity))
    val got = checkGraph(Graph(vs, es), calls)
    // the traps actually bite: richness orders the exact ties, the
    // simple fold finds İstanbul, Spark's trim bridges " Bleeding" but not
    // "\tbleeding", an empty meta falls back to strength
    assert(got("resolve aspirin").map(_.getLong(1)) == Seq(1L, 2L, 4L))
    assert(got("resolve istanbul").map(_.getLong(1)) == Seq(3L))
    assert(got("neighbors").map(_.getLong(1)) == Seq(1L, 3L, 2L))
    assert(got("paths bleeding").map(r => (r.getAs[Any]("gene_key"),
      r.getAs[Int]("hops"))) == Seq((null, 1), (1L, 3), (null, 1)))
    assert(got("paths nausea").map(_.getAs[Any]("gene_key")) == Seq(null, 2L))
    assert(got("ddi").map(r => r.getAs[Any]("prr")) ==
      Seq(2.5, 0.6, 0.3, null))
    assert(got("profile missing").isEmpty)
  }
}
