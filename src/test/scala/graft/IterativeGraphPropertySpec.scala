package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents
import graft.graph.{Bfs, Hits, KCore, LabelPropagation, ShortestPaths}

/** The driver engine of the iterative graph operators ([[Bfs]], [[Hits]],
  * [[KCore]], [[LabelPropagation]], [[ShortestPaths]]) answers exactly as
  * their distributed loops: equal schemas and equal row multisets on random
  * small graphs with null ids and weights, self-loops, duplicate, reversed
  * and parallel edges, negative weights, seeds absent from the graph or
  * null, empty edge tables, int or long ids. [[ConnectedComponents]]'s
  * driver union-find gives the distributed loop's rows on the same graphs.
  * Beside the properties: the driver path's job count does not grow with
  * the round count, and a long overflow throws on both paths. */
class IterativeGraphPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Edge rows (src, dst, w) with ids typed `idType`; seed rows (node). */
  final case class Graph(edges: Seq[Row], idType: DataType,
      edgesNullable: Boolean, seeds: Seq[Row], seedType: DataType,
      seedsNullable: Boolean) {
    def edgeFrame: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(edges: _*), StructType(Seq(
        StructField("src", idType, edgesNullable),
        StructField("dst", idType, edgesNullable),
        StructField("w", LongType, edgesNullable))))
    def seedFrame: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(seeds: _*),
      StructType(Seq(StructField("node", seedType, seedsNullable))))
  }

  private def typed(t: DataType, v: java.lang.Long): Any =
    if (v == null || t == LongType) v else Int.box(v.toInt)

  /** Ids 0..`max`, or null. */
  private def genId(max: Long): Gen[java.lang.Long] =
    Gen.frequency(1 -> Gen.const(null), 8 -> Gen.choose(0L, max).map(Long.box))

  /** A few ids make cycles, self-loops and repeated pairs common, more
    * make sparse graphs that peel in cascades; seeds reach two past the
    * largest id, so some are absent from the graph. */
  private val genGraph: Gen[Graph] = for {
    maxId <- Gen.oneOf(3L, 7L, 15L)
    idType <- Gen.oneOf(LongType, IntegerType)
    seedType <- Gen.oneOf(LongType, IntegerType)
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 40))
    edges <- Gen.listOfN(n, for {
      s <- genId(maxId); d <- genId(maxId)
      w <- Gen.frequency(1 -> Gen.const(null),
        6 -> Gen.choose(-3L, 9L).map(Long.box))
    } yield Row(typed(idType, s), typed(idType, d), w))
    edgesNullable <- if (edges.exists(_.anyNull)) Gen.const(true)
      else Gen.oneOf(true, false)
    k <- Gen.choose(0, 5)
    seeds <- Gen.listOfN(k, genId(maxId + 2))
    nullable <- if (seeds.contains(null)) Gen.const(true) else Gen.oneOf(true, false)
  } yield Graph(edges, idType, edgesNullable,
    seeds.map(s => Row(typed(seedType, s))), seedType, nullable)

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  /** `run(g, p)` returns (public entry, distributed entry) on one graph. */
  private def check[P](genParam: Gen[P])(
      run: (Graph, P) => (DataFrame, DataFrame)): Unit = {
    val prop = Prop.forAllNoShrink(genGraph, genParam) { (g, p) =>
      val (local, dist) = run(g, p)
      assert(local.schema == dist.schema, s"schema on $g, $p")
      assert(multiset(local) == multiset(dist), s"rows on $g, $p")
      true
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(30).withInitialSeed(Seed(17L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("Bfs.hops driver path == distributed loop on random graphs") {
    check(Gen.choose(0, 6)) { (g, h) =>
      (Bfs.hops(g.edgeFrame, g.seedFrame, h),
        Bfs.hopsDistributed(g.edgeFrame, g.seedFrame, h))
    }
  }

  test("ShortestPaths driver path == distributed loop on random graphs") {
    check(Gen.choose(0, 6)) { (g, h) =>
      (ShortestPaths.boundedDistances(g.edgeFrame, g.seedFrame, h),
        ShortestPaths.boundedDistancesDistributed(g.edgeFrame, g.seedFrame, h))
    }
  }

  test("KCore.peel driver path == distributed loop on random graphs") {
    check(Gen.zip(Gen.choose(1, 4), Gen.choose(1, 6))) { case (g, (k, r)) =>
      (KCore.peel(g.edgeFrame, k, r), KCore.peelDistributed(g.edgeFrame, k, r))
    }
  }

  test("LabelPropagation driver path == distributed loop on random graphs") {
    check(Gen.choose(1, 6)) { (g, i) =>
      (LabelPropagation.run(g.edgeFrame, i),
        LabelPropagation.runDistributed(g.edgeFrame, i))
    }
  }

  test("Hits driver path == distributed loop on random graphs") {
    check(Gen.choose(1, 6)) { (g, i) =>
      (Hits.run(g.edgeFrame, i), Hits.runDistributed(g.edgeFrame, i))
    }
  }

  test("ConnectedComponents driver path == distributed loop on random graphs") {
    // the driver path returns long ids, the distributed loop the input's
    // id type and a nullable component: compare the rows as longs
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .groupBy(identity).view.mapValues(_.length).toMap
    val prop = Prop.forAllNoShrink(genGraph) { g =>
      assert(rows(ConnectedComponents.run(g.edgeFrame)) ==
        rows(ConnectedComponents.runDistributed(g.edgeFrame)), s"rows on $g")
      true
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(17L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("driver paths submit the same jobs at any round count") {
    import spark.implicits._
    // a 40-node ring with chords: every bound below is still doing work
    val ring = (0L until 40L).flatMap(i =>
      Seq((i, (i + 1) % 40, 1 + i % 3), (i, (i + 7) % 40, 5L)))
    val edges = ring.toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    def jobs(op: => DataFrame): Int = JobProbe(spark)(op)._2.size
    def flat(name: String, lo: => DataFrame, hi: => DataFrame,
        dlo: => DataFrame, dhi: => DataFrame): Unit = {
      assert(jobs(lo) == jobs(hi), s"$name: driver path grew with rounds")
      // the probe sees per-round jobs where they exist
      assert(jobs(dlo) < jobs(dhi), s"$name: distributed loop did not grow")
    }
    flat("Bfs", Bfs.hops(edges, seeds, 2), Bfs.hops(edges, seeds, 10),
      Bfs.hopsDistributed(edges, seeds, 2),
      Bfs.hopsDistributed(edges, seeds, 10))
    flat("KCore", KCore.peel(edges, 3, 1), KCore.peel(edges, 3, 6),
      KCore.peelDistributed(edges, 3, 1), KCore.peelDistributed(edges, 3, 6))
    flat("LabelPropagation", LabelPropagation.run(edges, 1),
      LabelPropagation.run(edges, 6), LabelPropagation.runDistributed(edges, 1),
      LabelPropagation.runDistributed(edges, 6))
    flat("Hits", Hits.run(edges, 1), Hits.run(edges, 4),
      Hits.runDistributed(edges, 1), Hits.runDistributed(edges, 4))
    flat("ShortestPaths", ShortestPaths.boundedDistances(edges, seeds, 1),
      ShortestPaths.boundedDistances(edges, seeds, 6),
      ShortestPaths.boundedDistancesDistributed(edges, seeds, 1),
      ShortestPaths.boundedDistancesDistributed(edges, seeds, 6))
    // a longer chain takes more star rounds
    def chain(n: Long) = (0L until n).map(i => (i, i + 1)).toDF("src", "dst")
    flat("ConnectedComponents", ConnectedComponents.run(chain(4)),
      ConnectedComponents.run(chain(64)),
      ConnectedComponents.runDistributed(chain(4)),
      ConnectedComponents.runDistributed(chain(64)))
  }

  test("the gate takes small tables, skewed ones too, and refuses larger ones") {
    import graft.graph.LocalGraph
    // 500 partitions give each a share of MaxEdges / 500 rows; one holds
    // one row more than its share, the rest one row each
    val share = LocalGraph.MaxEdges / 500
    val skewed = spark.range(0, share + 1, 1, 1)
      .union(spark.range(0, 499, 1, 499)).toDF("src")
    val (_, small) = LocalGraph.cut(skewed)
    assert(small.map(_.length) === Some(share + 1 + 499))
    val (big, none) = LocalGraph.cut(spark.range(0, LocalGraph.MaxEdges + 1, 1, 8).toDF("src"))
    assert(none.isEmpty && big.count() == LocalGraph.MaxEdges + 1)
  }

  private def overflows(op: => DataFrame): Boolean =
    try { op.collect(); false }
    catch {
      case e: Throwable => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
    }

  test("a long overflow throws on both paths") {
    import spark.implicits._
    // complete 12-node digraph with self-loops: hub scores grow 144× per
    // iteration, past Long.MaxValue by iteration 9
    val dense = (for (a <- 0L until 12L; b <- 0L until 12L) yield (a, b))
      .toDF("src", "dst")
    assert(!overflows(Hits.run(dense, 8)) && !overflows(Hits.runDistributed(dense, 8)))
    assert(overflows(Hits.run(dense, 12)), "driver path")
    assert(overflows(Hits.runDistributed(dense, 12)), "distributed path")
    // the second hop adds past Long.MaxValue
    val heavy = Seq((0L, 1L, Long.MaxValue - 1), (1L, 2L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    assert(!overflows(ShortestPaths.boundedDistances(heavy, seeds, 1)) &&
      !overflows(ShortestPaths.boundedDistancesDistributed(heavy, seeds, 1)))
    assert(overflows(ShortestPaths.boundedDistances(heavy, seeds, 2)),
      "driver path")
    assert(overflows(ShortestPaths.boundedDistancesDistributed(heavy, seeds, 2)),
      "distributed path")
  }

  test("without ANSI mode both paths wrap identically") {
    import spark.implicits._
    val dense = (for (a <- 0L until 12L; b <- 0L until 12L) yield (a, b))
      .toDF("src", "dst")
    val heavy = Seq((0L, 1L, Long.MaxValue - 1), (1L, 2L, 5L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(multiset(Hits.run(dense, 12)) ==
        multiset(Hits.runDistributed(dense, 12)))
      assert(multiset(ShortestPaths.boundedDistances(heavy, seeds, 2)) ==
        multiset(ShortestPaths.boundedDistancesDistributed(heavy, seeds, 2)))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
