package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cut

/** Bounded-depth BFS (multi-source shortest hop count) over an edge list
  * — the KG "n-hop neighborhood with distance" primitive (the unbounded
  * sibling of PathTools' fixed 2-hop expansions).
  *
  * Scale shape: the (src, dst) projection is cut once ([[LocalGraph.cut]]).
  * When ids are integers and the cut holds at most [[LocalGraph.MaxEdges]]
  * rows, the job that cuts it also collects it, the seeds are collected,
  * and the rounds run on the driver over adjacency arrays: a fixed job
  * count at any `maxHops`. Above the gate each round joins ONLY the current
  * frontier (shrinking, never the visited set) against the cut edges on the
  * src key, then anti-joins the visited set so a node's distance is
  * assigned exactly once — min-distance semantics without a min aggregate.
  * Cost is O(maxHops) keyed shuffles; at web scale the frontier join
  * partitions on src like any edge-keyed join (AQE handles hub skew), and
  * the anti-join is a semi-shuffle on the (small) frontier side. Each
  * round's frontier is cut (Cut.large): BFS lineage otherwise doubles per
  * round and re-executes every prior join on each action.
  *
  * Determinism: distances are pure graph properties (no tie-breaking
  * needed), so the output is engine-independent — the DuckDB oracle
  * recomputes it as a depth-bounded recursive CTE + min(dist). Both paths
  * keep the anti-join's null rule: a null seed stays at dist 0, and a null
  * dst reached in round h is emitted at dist h, once per such round.
  */
object Bfs {

  /** `edges`: (src, dst) directed; `seeds`: (node). Returns (node, dist)
    * for every node reachable within `maxHops` (seeds at dist 0). */
  def hops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be ≥ 0, got $maxHops")
    val e0 = edges.select(col("src"), col("dst"))
    val integral = Seq(e0.schema("src"), e0.schema("dst"), seeds.schema("node"))
      .forall(f => isIntegral(f.dataType))
    if (!integral) return hopsDistributed(edges, seeds, maxHops)
    val (e, small) = LocalGraph.cut(e0)
    small.flatMap(es =>
      LocalGraph.collectSmall(seeds.select(col("node")))
        .map(local(e, seeds, es, _, maxHops)))
      .getOrElse(loop(e, seeds, maxHops))
  }

  /** The distributed loop alone, at any input size. */
  private[graft] def hopsDistributed(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be ≥ 0, got $maxHops")
    loop(edges.select(col("src"), col("dst")).transform(Cut.large), seeds,
      maxHops)
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def loop(e: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    var visited = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).transform(Cut.large)
    var frontier = visited
    var h = 1L
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("dist", lit(h))
        .transform(Cut.large)
      visited = visited.unionByName(next)
      frontier = next
      h += 1
    }
    visited
  }

  /** The same rounds on the driver. `es` are the cut's (src, dst) rows,
    * `ss` the (node) rows of `seeds`; all integers, possibly null. */
  private def local(e: DataFrame, seeds: DataFrame, es: Array[Row],
      ss: Array[Row], maxHops: Int): DataFrame = {
    def id(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    val seedIds = ss.filterNot(_.isNullAt(0)).map(id(_, 0)).distinct
    val nullSeed = ss.exists(_.isNullAt(0))
    val live = es.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
    val g = LocalGraph.adjacency(live.map(id(_, 0)), live.map(id(_, 1)),
      seedIds)
    // nodes with an edge to a null dst: the anti-join never removes null
    val toNull = new Array[Boolean](g.n)
    es.foreach(r => if (!r.isNullAt(0) && r.isNullAt(1)) {
      val u = g.index(id(r, 0))
      if (u >= 0) toNull(u) = true
    })
    // the distributed output widens node to (seed type ∪ dst type) once
    // a round runs; the plan below is only analysed, never executed
    val seedShape = seeds.select(col("node")).withColumn("dist", lit(0L))
    val schema =
      if (maxHops == 0 || ss.isEmpty) seedShape.schema
      else seedShape.unionByName(
        e.select(col("dst").as("node")).withColumn("dist", lit(1L))).schema
    val box: Long => Any = schema("node").dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val out = ArrayBuffer.empty[Row]
    val visited = new Array[Boolean](g.n)
    var frontier = seedIds.map(g.index)
    frontier.foreach(visited(_) = true)
    seedIds.foreach(s => out += Row(box(s), 0L))
    if (nullSeed) out += Row(null, 0L)
    var h = 1L
    while (h <= maxHops && frontier.nonEmpty) {
      val next = ArrayBuffer.empty[Int]
      var nullHit = false
      frontier.foreach { u =>
        nullHit ||= toNull(u)
        (g.off(u) until g.off(u + 1)).foreach { s =>
          val v = g.nbr(s)
          if (!visited(v)) { visited(v) = true; next += v }
        }
      }
      next.foreach(v => out += Row(box(g.ids(v)), h))
      if (nullHit) out += Row(null, h)
      frontier = next.toArray
      h += 1
    }
    LocalGraph.frame(e.sparkSession, out.toSeq, schema)
  }
}
