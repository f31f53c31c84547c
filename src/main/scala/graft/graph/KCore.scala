package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cut

/** Bounded-round k-core peeling (Matula & Beck 1983 / Batagelj–Zaveršnik
  * semantics, synchronous variant): each round simultaneously removes
  * EVERY node whose degree among still-alive nodes is < k. Synchronous
  * rounds make the state after R rounds a pure function of the graph —
  * a sequential peel (remove one min-degree node at a time) visits an
  * order-dependent trajectory an external oracle can't mirror.
  *
  * All arithmetic is integer (ids, degree counts), so each round is
  * bit-identical in any engine and an oracle can unroll the same rounds
  * in SQL. Run to a fixed round budget; callers wanting the exact k-core
  * iterate until a round removes nothing (the alive count is one cheap
  * aggregate per round).
  *
  * Scale shape (same contract as [[LabelPropagation]]): the symmetrized,
  * deduplicated edge list materializes ONCE behind a lineage cut
  * ([[LocalGraph.cut]]). At most [[LocalGraph.MaxEdges]] rows are
  * collected, by the same job that makes the cut, and peeled on the driver
  * over adjacency arrays — a fixed job count at any `rounds`. Above the
  * gate each round is two semi-joins (alive filter on both endpoints —
  * broadcast once the survivor set shrinks, AQE decides) and one hash
  * aggregate. Degree counting absorbs hub skew map-side (partial counts per
  * partition); alive sets are lineage-cut per round, so the plan depth is
  * constant at any round count.
  */
object KCore {

  /** Survivors after `rounds` synchronous peels at threshold `k`, with
    * the degree that round judged them by (degree among the PREVIOUS
    * round's alive set — ≥ k by construction). `edges` needs
    * long-castable (src, dst); self-loops are dropped and the graph is
    * symmetrized + deduplicated to a simple undirected graph. */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (und, small) = LocalGraph.cut(prepare(edges))
    small.fold(loop(und, k, rounds))(local(und, _, k, rounds))
  }

  /** The distributed loop alone, at any input size. */
  private[graft] def peelDistributed(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    loop(prepare(edges).transform(Cut.large), k, rounds)
  }

  private def prepare(edges: DataFrame): DataFrame = {
    val e0 = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  private def loop(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    var alive = und.select(col("src").as("node")).distinct()
    var out: DataFrame = null
    (1 to rounds).foreach { _ =>
      val deg = und
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      out = deg.where(col("deg") >= k).transform(Cut.large)
      alive = out.select("node")
    }
    out
  }

  /** The same rounds on the driver over the cut's (src, dst) rows. */
  private def local(und: DataFrame, rows: Array[Row], k: Int,
      rounds: Int): DataFrame = {
    val g = LocalGraph.adjacency(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    var alive = Array.fill(g.n)(true)
    val deg = new Array[Long](g.n)
    (1 to rounds).foreach { _ =>
      // every degree is counted among the previous round's alive nodes
      (0 until g.n).foreach { u =>
        deg(u) = if (!alive(u)) 0L
          else (g.off(u) until g.off(u + 1)).count(s => alive(g.nbr(s))).toLong
      }
      alive = Array.tabulate(g.n)(u => alive(u) && deg(u) >= k)
    }
    val schema = StructType(Seq(und.schema("src").copy(name = "node"),
      StructField("deg", LongType, nullable = false)))
    LocalGraph.frame(und.sparkSession,
      (0 until g.n).filter(alive(_)).map(u => Row(g.ids(u), deg(u))), schema)
  }
}
