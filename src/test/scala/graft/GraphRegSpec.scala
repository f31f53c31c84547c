package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the HITS / weighted-shortest-path / group-regression
  * batch (q152–q154) beyond the DuckDB hash gate: each operator against a
  * naive in-memory reference on crafted fixtures, plus the property that
  * motivates each operator (hub≠authority asymmetry, weight-vs-hop
  * divergence, exact closed-form fit). */
class GraphRegSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("HITS equals a naive in-memory power iteration and separates hubs from authorities") {
    import spark.implicits._
    // 1,2,3 all point at 10 and 11 (pure hubs); 10,11 point nowhere
    // (pure authorities); 4 points only at the isolated 20.
    val edges = Seq(1 -> 10, 1 -> 11, 2 -> 10, 2 -> 11, 3 -> 10, 3 -> 11,
      4 -> 20, 1 -> 10 /* duplicate must collapse */).toDF("src", "dst")
    // naive unnormalized HITS from h0=1 on the deduped edge set
    val e = Set(1 -> 10, 1 -> 11, 2 -> 10, 2 -> 11, 3 -> 10, 3 -> 11, 4 -> 20)
    val nodes = e.flatMap(p => Set(p._1, p._2))
    var hub = nodes.map(_ -> 1L).toMap
    var auth = Map.empty[Int, Long]
    (1 to 2).foreach { _ =>
      auth = nodes.map(v => v -> e.filter(_._2 == v).toSeq
        .map(p => hub(p._1)).sum).toMap
      hub = nodes.map(u => u -> e.filter(_._1 == u).toSeq
        .map(p => auth(p._2)).sum).toMap
    }
    Seq("local" -> graft.graph.Hits.run _,
      "distributed" -> graft.graph.Hits.runDistributed _).foreach {
      case (path, hits) =>
        val got = hits(edges, 2).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        nodes.foreach { v =>
          assert(got(v.toLong) === ((hub(v), auth(v))), s"$path: node $v")
        }
        // the asymmetry HITS exists for: 1 is a top hub with zero
        // authority, 10 a top authority with zero hubness
        assert(got(1L)._1 > got(4L)._1 && got(1L)._2 === 0L, path)
        assert(got(10L)._2 > got(20L)._2 && got(10L)._1 === 0L, path)
    }
  }

  test("bounded shortest paths pick the cheap 2-hop route over the expensive direct edge") {
    import spark.implicits._
    // 0→3 direct costs 10; 0→1→3 costs 2+3=5; 0→1→2→4 reaches 4 in 3 hops
    // at cost 2+1+1=4; 5 is unreachable from 0.
    val edges = Seq((0, 3, 10), (0, 1, 2), (1, 3, 3), (1, 2, 1), (2, 4, 1),
      (5, 0, 1), (0, 1, 7) /* parallel edge, min wins */)
      .toDF("src", "dst", "w")
    val seeds = Seq(0).toDF("node")
    Seq("local" -> graft.graph.ShortestPaths.boundedDistances _,
      "distributed" -> graft.graph.ShortestPaths.boundedDistancesDistributed _)
      .foreach { case (path, sp) =>
        def run(h: Int) = sp(edges, seeds, h).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(run(3) === Map(0L -> 0L, 1L -> 2L, 2L -> 3L, 3L -> 5L, 4L -> 4L),
          path)
        // at 1 hop the expensive direct edge is the only route to 3
        assert(run(1) === Map(0L -> 0L, 1L -> 2L, 3L -> 10L), path)
        assert(run(0) === Map(0L -> 0L), path)
      }
  }

  test("group regression recovers an exact linear law and drops degenerate groups") {
    import spark.implicits._
    val df = Seq(
      // group a: y = 3x + 7 exactly
      ("a", 1, 10), ("a", 2, 13), ("a", 5, 22),
      // group b: noisy — closed form checked against hand-computed sums
      ("b", 0, 1), ("b", 1, 1), ("b", 2, 4),
      // group c: zero x-variance (slope undefined) — must be dropped
      ("c", 4, 1), ("c", 4, 9),
      // group d: single row — must be dropped
      ("d", 2, 2)
    ).toDF("g", "x", "y")
    val got = graft.stats.Regression
      .groupLeastSquares(df, col("g"), col("x"), col("y")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set("a", "b"))
    assert(got("a")._1 === 3L && got("a")._2 === 3.0 && got("a")._3 === 7.0)
    // b: n=3 sx=3 sy=6 sxy=9 sxx=5 → slope=(27−18)/(15−9)=1.5,
    // intercept=(6−1.5·3)/3=0.5
    assert(got("b") === ((3L, 1.5, 0.5)))
  }
}
