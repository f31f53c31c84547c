package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cut

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007) over an undirected edge list: every node starts labeled with its
  * own id; each round it adopts the most frequent label among its
  * neighbors, ties broken by the SMALLEST label. Synchronous rounds +
  * the deterministic tie rule make the result a pure function of the
  * graph — the async/random-order variant of the paper trades that for
  * faster convergence, the wrong trade for a reproducible pipeline.
  *
  * All arithmetic is integer (label ids, counts), so the rounds are
  * bit-identical in any engine under any partitioning — an external
  * oracle can unroll the same rounds in SQL and hash-match.
  *
  * Scale shape (10¹²-page web graph, same contract as [[PageRank]]): the
  * symmetrized edge list materializes ONCE behind a lineage cut
  * ([[LocalGraph.cut]]). At most [[LocalGraph.MaxEdges]] rows are
  * collected, by the same job that makes the cut, and the rounds run on the
  * driver over adjacency arrays — a fixed job count at any `iters`. Above
  * the gate each round is one |V|-sized join (labels onto edges by dst) and
  * two hash aggregates. The per-(node, label) count absorbs hub skew in the
  * partial aggregate (a 10⁸-degree hub's neighbors arrive as one partial
  * count per map partition per label), and the argmax is `min_by` over a
  * (−count, label) struct — a hash aggregate, NOT a per-node sort window,
  * so a hot node never serializes on one reducer's sort. Labels are
  * lineage-cut per round: constant-depth plan at any round count.
  */
object LabelPropagation {

  /** `edges` needs long-castable (src, dst) columns; the graph is
    * symmetrized internally (each input edge counts once per direction;
    * multi-edges weight the vote — consistent, documented). Returns
    * (node, label) for every distinct endpoint after `iters` rounds.
    */
  def run(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val (und, small) = LocalGraph.cut(prepare(edges))
    small.fold(loop(und, iters))(local(und, _, iters))
  }

  /** The distributed loop alone, at any input size. */
  private[graft] def runDistributed(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    loop(prepare(edges).transform(Cut.large), iters)
  }

  private def prepare(edges: DataFrame): DataFrame = {
    val e0 = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def loop(und: DataFrame, iters: Int): DataFrame = {
    val nodes = und.select(col("src").as("node")).distinct()
      .transform(Cut.large)
    var labels = nodes.withColumn("label", col("node"))
    (1 to iters).foreach { _ =>
      val votes = und.join(labels, col("dst") === col("node"))
        .groupBy(col("src").as("n"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val next = votes.groupBy(col("n").as("node"))
        .agg(min_by(col("label"),
          struct((-col("cnt")).as("negc"), col("label"))).as("label"))
      // after symmetrization every node has >= 1 neighbor, but keep the
      // isolated-node fallback explicit (own label) for caller edge sets
      labels = nodes.join(next, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))
        .transform(Cut.large) // constant-depth plan at any iters
    }
    labels
  }

  /** The same rounds on the driver over the cut's (src, dst) rows. */
  private def local(und: DataFrame, rows: Array[Row], iters: Int): DataFrame = {
    val g = LocalGraph.adjacency(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    var label = g.ids.clone()
    (1 to iters).foreach { _ =>
      label = Array.tabulate(g.n) { u =>
        val votes = Array.tabulate(g.off(u + 1) - g.off(u))(
          j => label(g.nbr(g.off(u) + j)))
        if (votes.isEmpty) g.ids(u)
        else {
          // most votes wins; sorted runs make the first maximum the
          // smallest label
          java.util.Arrays.sort(votes)
          var best = votes(0)
          var bestRun = 0
          var i = 0
          while (i < votes.length) {
            var j = i
            while (j < votes.length && votes(j) == votes(i)) j += 1
            if (j - i > bestRun) { best = votes(i); bestRun = j - i }
            i = j
          }
          best
        }
      }
    }
    // coalesce(label, node) is as nullable as node
    val node = und.schema("src").copy(name = "node")
    LocalGraph.frame(und.sparkSession,
      (0 until g.n).map(u => Row(g.ids(u), label(u))),
      StructType(Seq(node, node.copy(name = "label"))))
  }
}
