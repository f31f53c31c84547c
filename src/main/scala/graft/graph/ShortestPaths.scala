package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cut

/** Bounded-hop WEIGHTED shortest paths (distributed Bellman–Ford /
  * min-plus iteration) over an edge list — the weighted sibling of
  * [[Bfs]]: hop counts answer "how far", weighted distances answer "how
  * costly" (edge weights here are integer costs: latency, toll,
  * confidence-rank — the KG path-quality primitive behind weighted
  * Drug→AE path search).
  *
  * Scale shape: the min-collapsed edge list is cut once
  * ([[LocalGraph.cut]]). At most [[LocalGraph.MaxEdges]] edges are
  * collected, by the same job that makes the cut, with the seeds, and
  * relaxed on the driver over adjacency arrays — a fixed job count at any
  * hop bound, every sum a `Math.addExact` so an overflow throws as Spark's
  * ANSI `+` does. Above the gate the rounds run as frontier relaxation:
  * round r relaxes ONLY edges leaving nodes whose distance improved in
  * round r−1 (the Bellman–Ford frontier optimization) — after the first
  * rounds the frontier collapses to the active wavefront, so late rounds
  * join a small table against the edge list instead of the whole visited
  * set. Each round is one keyed join (frontier onto edges by src; AQE
  * decides broadcast once the frontier shrinks) plus one min-aggregate
  * whose partial aggregation absorbs hub skew map-side. Frontiers and
  * distances are lineage-cut per round, so plan depth is constant at any
  * hop bound. The driver rounds relax the same frontier, so both paths
  * compute the same sums.
  *
  * EXACTNESS: weights cast to BIGINT and distances are exact integer
  * sums/mins — commutative, engine-independent, bit-identical under any
  * partitioning (the [[PageRank]] portability contract; min over integers
  * needs no tie-breaking). Semantics: dist(v) = min total weight over
  * directed paths from any seed to v using ≤ maxHops edges — a pure graph
  * property an oracle can recompute by unrolling the same rounds.
  * Negative weights are allowed (the hop bound makes min-plus well-defined
  * without cycle detection); ANSI mode turns any sum overflow into a loud
  * error.
  */
object ShortestPaths {

  /** `edges`: (src, dst, w) directed, long-castable; parallel edges are
    * fine (min wins). `seeds`: (node), distance 0. Returns (node, dist)
    * for every node reachable within `maxHops` edges. */
  def boundedDistances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val (e, small) = LocalGraph.cut(prepare(edges))
    small.flatMap(es =>
      LocalGraph.collectSmall(seedNodes(seeds)).map(local(e, seeds, es, _, maxHops)))
      .getOrElse(loop(e, seeds, maxHops))
  }

  /** The distributed loop alone, at any input size. */
  private[graft] def boundedDistancesDistributed(edges: DataFrame,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    loop(prepare(edges).transform(Cut.large), seeds, maxHops)
  }

  private def prepare(edges: DataFrame): DataFrame = edges
    .select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"),
      col("w").cast("long").as("w"))
    .where(col("src").isNotNull && col("dst").isNotNull &&
      col("w").isNotNull)
    // parallel edges collapse to their cheapest — fewer relax rows,
    // identical min-plus semantics
    .groupBy("src", "dst").agg(min("w").as("w"))

  private def seedNodes(seeds: DataFrame): DataFrame =
    seeds.select(col("node").cast("long").as("node"))

  private def loop(e: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var dist = seedNodes(seeds).distinct()
      .withColumn("dist", lit(0L)).transform(Cut.large)
    var frontier = dist
    var h = 0
    while (h < maxHops && !frontier.isEmpty) {
      // relax only from last round's improved nodes
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), (frontier("dist") + e("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      val next = dist.unionByName(cand)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(Cut.large)
      // a node is frontier iff its distance strictly improved this round
      frontier = next.as("n").join(dist.as("p"), Seq("node"), "left")
        .where(col("p.dist").isNull || col("n.dist") < col("p.dist"))
        .select(col("node"), col("n.dist").as("dist"))
        .transform(Cut.large)
      dist = next
      h += 1
    }
    dist
  }

  /** The same rounds on the driver. `es` are the cut's (src, dst, w) rows,
    * `ss` the seed (node) rows, possibly null: a null seed keeps dist 0
    * and relaxes nothing, as its join key matches no edge. */
  private def local(e: DataFrame, seeds: DataFrame, es: Array[Row],
      ss: Array[Row], maxHops: Int): DataFrame = {
    val spark = e.sparkSession
    val plus = LocalGraph.plus(spark)
    val seedIds = ss.filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
    val g = LocalGraph.adjacency(es.map(_.getLong(0)), es.map(_.getLong(1)),
      seedIds)
    val w = g.edge.map(es(_).getLong(2))
    val dist = new Array[Long](g.n)
    val reached = new Array[Boolean](g.n)
    var frontier = seedIds.map(g.index)
    frontier.foreach(reached(_) = true)
    val cand = new Array[Long](g.n)
    val seen = new Array[Boolean](g.n)
    var h = 0
    while (h < maxHops && frontier.nonEmpty) {
      // every candidate reads the distances of the round before
      val touched = ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        (g.off(u) until g.off(u + 1)).foreach { s =>
          val v = g.nbr(s)
          val c = plus(dist(u), w(s))
          if (!seen(v)) { seen(v) = true; cand(v) = c; touched += v }
          else if (c < cand(v)) cand(v) = c
        }
      }
      touched.foreach(seen(_) = false)
      frontier = touched.filter(v => !reached(v) || cand(v) < dist(v)).toArray
      frontier.foreach { v => dist(v) = cand(v); reached(v) = true }
      h += 1
    }
    // once a round runs, node is the union of seed and dst, and dist a
    // min-aggregate (nullable) in the distributed output
    val seedField = seedNodes(seeds).schema("node")
    val schema =
      if (maxHops == 0 || ss.isEmpty)
        StructType(Seq(seedField, StructField("dist", LongType, nullable = false)))
      else StructType(Seq(
        seedField.copy(nullable = seedField.nullable || e.schema("dst").nullable),
        StructField("dist", LongType, nullable = true)))
    val rows = (0 until g.n).filter(reached(_)).map(v => Row(g.ids(v), dist(v))) ++
      (if (ss.exists(_.isNullAt(0))) Seq(Row(null, 0L)) else Nil)
    LocalGraph.frame(spark, rows, schema)
  }
}
