package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cut

/** Hub/authority scoring (Kleinberg's HITS, SIAM J. Comput. 1999) over a
  * directed edge list — the second classic link-analysis signal beside
  * [[PageRank]]: a good HUB points at many good authorities, a good
  * AUTHORITY is pointed at by many good hubs. Crawl curation uses the two
  * scores differently (hubs seed harvest frontiers, authorities rank
  * results), so both columns come back.
  *
  * INTEGER-ARITHMETIC VARIANT (the [[PageRank]] portability contract):
  * the textbook algorithm L2-normalizes each half-step, which demands
  * sqrt and order-sensitive float sums. This variant runs the UNNORMALIZED
  * power iteration from h₀ = 1 — after k iterations the (integer) scores
  * are exactly the path counts |{alternating paths of the matching shape}|
  * (hₖ(u) = Σ_v (E Eᵀ)ᵏ[u,v], the quantity the normalized iterate is
  * proportional to), so the RANKING is identical to normalized HITS while
  * every addition is a commutative, exact 64-bit sum — bit-identical in
  * any engine, under any partitioning. Growth is |paths| ~ (avg deg)^2k:
  * with the default two iterations the scores stay far inside BIGINT for
  * any graph whose hub degrees fit memory at all; ANSI mode turns a
  * pathological overflow into a loud error, never silent wraparound.
  *
  * Scale shape (10¹²-page web graph): the deduplicated edge list
  * materializes ONCE behind a lineage cut ([[LocalGraph.cut]]). At most
  * [[LocalGraph.MaxEdges]] edges are collected, by the same job that makes
  * the cut, and iterated on the driver over adjacency arrays — a fixed job
  * count at any `iters`, with every addition a `Math.addExact` so an
  * overflow throws as Spark's ANSI `sum` does. Above the gate each
  * half-step is one node-sized join (score table onto edges by one endpoint
  * — AQE decides broadcast vs shuffle at its true size) and one groupBy on
  * the other endpoint whose partial aggregation absorbs hub skew map-side
  * (a 10⁸-degree hub reaches the reducer as one partial sum per map
  * partition). Scores are lineage-cut per iteration, so plan depth is
  * constant at any iteration count.
  */
object Hits {

  /** `edges` needs long-castable (src, dst); duplicate edges are
    * collapsed and self-loops kept (they are ordinary edges to HITS).
    * Returns (node, hub, auth) for every distinct endpoint after `iters`
    * full (auth-then-hub) iterations from h₀ = 1; nodes with no outgoing
    * edges get hub 0, nodes with no incoming edges get auth 0. */
  def run(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (e, small) = LocalGraph.cut(prepare(edges))
    small.fold(loop(e, iters))(local(e, _, iters))
  }

  /** The distributed loop alone, at any input size. */
  private[graft] def runDistributed(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    loop(prepare(edges).transform(Cut.large), iters)
  }

  private def prepare(edges: DataFrame): DataFrame = edges
    .select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    .where(col("src").isNotNull && col("dst").isNotNull)
    .distinct()

  private def loop(e: DataFrame, iters: Int): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().transform(Cut.large)
    var hub = nodes.withColumn("hub", lit(1L))
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      // auth(v) = Σ_{u→v} hub(u): join on src, partial-agg groupBy dst
      val a = e.join(hub, col("src") === col("node"))
        .groupBy("dst").agg(sum("hub").as("auth"))
      auth = nodes.join(a, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"))
        .transform(Cut.large)
      // hub(u) = Σ_{u→v} auth(v): join on dst, partial-agg groupBy src
      val h = e.join(auth, col("dst") === col("node"))
        .groupBy("src").agg(sum("auth").as("hub"))
      hub = nodes.join(h, col("node") === col("src"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"))
        .transform(Cut.large)
    }
    hub.join(auth, "node")
      .select(col("node"), col("hub"), col("auth"))
  }

  /** The same iterations on the driver over the cut's (src, dst) rows. */
  private def local(e: DataFrame, rows: Array[Row], iters: Int): DataFrame = {
    val spark = e.sparkSession
    val plus = LocalGraph.plus(spark)
    val g = LocalGraph.adjacency(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    var hub = Array.fill(g.n)(1L)
    var auth = Array.emptyLongArray
    (1 to iters).foreach { _ =>
      auth = new Array[Long](g.n)
      val h = new Array[Long](g.n)
      (0 until g.n).foreach { u =>
        (g.off(u) until g.off(u + 1)).foreach { s =>
          auth(g.nbr(s)) = plus(auth(g.nbr(s)), hub(u))
        }
      }
      (0 until g.n).foreach { u =>
        (g.off(u) until g.off(u + 1)).foreach { s =>
          h(u) = plus(h(u), auth(g.nbr(s)))
        }
      }
      hub = h
    }
    // node is nullable in the distributed output iff src or dst is
    val schema = StructType(Seq(
      StructField("node", LongType, e.schema.exists(_.nullable)),
      StructField("hub", LongType, nullable = false),
      StructField("auth", LongType, nullable = false)))
    LocalGraph.frame(spark,
      (0 until g.n).map(u => Row(g.ids(u), hub(u), auth(u))), schema)
  }
}
