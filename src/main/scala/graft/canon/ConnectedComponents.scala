package graft.canon

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.LocalGraph
import graft.operators.Cut

/** Connected components via alternating large-star / small-star rounds —
  * the iterative-DataFrame-joins realization of the label-merge transitive
  * closure the reference performs sequentially in driver dicts
  * (reference:src/kg_ae/graph/build.py:88-119 get_or_add merge).
  *
  * Algorithm: Kiveris et al., "Connected Components in MapReduce and
  * Beyond" (SOCC'14) — converges in O(log n) rounds, each round two
  * self-join + aggregate passes, no driver-side state beyond a convergence
  * counter. This is the 100 TB-safe shape: every round is a shuffle on the
  * node id, skew-resistant because star operations only ever group by a
  * node and its neighbor list min.
  *
  * Input: edges DataFrame with long columns (src, dst). Undirected.
  * Output: (id, component) where component = min node id in the component
  * (every input endpoint appears exactly once).
  */
object ConnectedComponents {

  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** One large-star round: for every node u, link every strictly-larger
    * neighbor to m = min(N(u) ∪ {u}). */
  private def largeStar(nbrs: DataFrame): DataFrame = {
    val mins = nbrs.groupBy("src")
      .agg(least(min(col("dst")), first(col("src"))).as("m"))
    nbrs.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: for every node u, link u and all neighbors
    * ≤ u to m = min of that set. */
  private def smallStar(e: DataFrame): DataFrame = {
    // orient edges small←large: (u = max, v = min)
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst")).distinct()
    val mins = oriented.groupBy("src")
      .agg(least(min(col("dst")), first(col("src"))).as("m"))
    val relinked = oriented.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
    val selfEdge = mins.select(col("src"), col("m").as("dst"))
    relinked.union(selfEdge)
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Deterministic convergence checksum (order-independent). */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Size-aware dispatch through the shared gate ([[LocalGraph.cut]]): one
    * cut of the raw (src, dst) projection. At most [[LocalGraph.MaxEdges]]
    * rows, the component graph fits trivially in driver memory (near-dup
    * graphs are sparse — a few edges per duplicate cluster — even when the
    * corpus is 100 TB), so a driver union-find avoids ~5 shuffle stages ×
    * O(log n) rounds of fixed job overhead. Above it, the distributed
    * large-star/small-star loop runs over the same cut. Both paths produce
    * identical rows (CanonSpec and IterativeGraphPropertySpec pin this). */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // callers pass arbitrarily expensive plans as `edges` (minhash verify
    // joins, self-join pair graphs): the cut runs that plan once
    val (ein, small) = LocalGraph.cut(edges.select(col("src"), col("dst")))
    small.fold(distributed(ein, maxIter))(runLocal(ein, _))
  }

  /** Nodes whose ONLY edges are degenerate (self-loops, or a null partner)
    * vanish in symmetrize's src=!=dst filter, which would silently break
    * the documented "every input endpoint appears exactly once" contract —
    * a caller joining the component map back to its node list would drop
    * those entities. Add them back as their own singleton components.
    *
    * Only endpoints of DEGENERATE edges can be missing (any node with one
    * real edge survives symmetrize), so the candidate set is built from a
    * pushed-down `src = dst OR null` filter over the edge scan — near-empty
    * in practice — rather than a distinct over the full endpoint universe,
    * which would add an edge-proportional shuffle to every run. The
    * limit-1 emptiness probe matters at scale too: a LeftAnti join can
    * only broadcast its RIGHT side, and here the right side is the whole
    * component map — without the probe, the zero-degenerate common case
    * (dedup pair graphs) would still pay a full shuffle of `core` just to
    * anti-join an empty candidate set against it. */
  private def withSelfLoopOnly(edges: DataFrame, core: DataFrame): DataFrame = {
    val degenerate = edges.where(
      col("src") === col("dst") || col("src").isNull || col("dst").isNull)
    if (degenerate.isEmpty) core
    else {
      val ids = degenerate.select(col("src").as("id"))
        .union(degenerate.select(col("dst").as("id")))
        .where(col("id").isNotNull).distinct()
      val missing = ids.join(core, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      core.unionByName(missing)
    }
  }

  /** Driver union-find over the collected raw (src, dst) rows of the cut
    * `ein`. Every non-null endpoint is a node, so a self-loop or a null
    * partner leaves its endpoint a singleton, as [[withSelfLoopOnly]] does
    * on the distributed path. */
  private def runLocal(ein: DataFrame, rows: Array[Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    rows.foreach { row =>
      val ends = (0 to 1).filterNot(row.isNullAt)
        .map(i => find(row.getAs[Number](i).longValue))
      if (ends.size == 2 && ends(0) != ends(1)) {
        parent(ends.max) = ends.min
      }
    }
    // root = min id of component: union-by-min above keeps roots minimal
    val out = parent.keys.toSeq.map(id => (id, find(id)))
    ein.sparkSession.createDataFrame(out).toDF("id", "component")
  }

  /** Rounds taken by the last distributed run — test introspection only. */
  @volatile private[graft] var lastRounds: Int = 0

  /** The scale path: alternating star rounds, O(log n) iterations.
    * Accepts arbitrary (possibly oriented) edges; symmetrizes + cuts
    * lineage once, then iterates. */
  def runDistributed(edges: DataFrame, maxIter: Int = 25): DataFrame =
    distributed(edges.select(col("src"), col("dst")).transform(Cut.large),
      maxIter)

  /** The distributed loop over the cut raw projection `ein`. */
  private def distributed(ein: DataFrame, maxIter: Int): DataFrame =
    withSelfLoopOnly(ein, loop(symmetrize(ein).transform(Cut.large), maxIter))

  /** Iteration core. `base` MUST be symmetric and lineage-cut — callers
    * guarantee it, so round 1 skips the redundant symmetrize+distinct that
    * used to run twice (r1 verdict: double symmetrize/checkpoint). Later
    * rounds re-symmetrize because small-star emits oriented edges. */
  private def loop(base: DataFrame, maxIter: Int): DataFrame = {
    var e = base
    var eIsSymmetric = true
    var prev = (-1L, -1L)
    var iter = 0
    var converged = false
    def round(): Unit = {
      val in = if (eIsSymmetric) e else symmetrize(e)
      val next = smallStar(largeStar(in)).transform(Cut.large)
      eIsSymmetric = false
      val cs = checksum(next)
      converged = cs == prev
      prev = cs
      e = next
      iter += 1
    }
    while (!converged && iter < maxIter) round()
    // The checksum test observes convergence one round AFTER the edge set
    // stabilizes, so a graph converging exactly on round maxIter is
    // indistinguishable from genuine non-convergence at the cap. Spend at
    // most ONE confirming round before declaring failure — otherwise a
    // correct fixed point would throw.
    if (!converged) round()
    lastRounds = iter
    // Non-convergence must be LOUD: falling through here with a still-
    // changing edge set would assign nodes to non-root intermediate ids —
    // two nodes of one component get different values and every
    // downstream dedup/canonicalization silently splits entities. 25
    // alternating star rounds converge for any graph of diameter < 2^25;
    // hitting the cap means something is genuinely wrong.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge after $maxIter rounds — " +
      "raise maxIter or inspect the edge set")
    // After convergence every edge points node → component root (min id).
    val members = e.groupBy("src").agg(min(col("dst")).as("component"))
      .select(col("src").as("id"), col("component"))
    // roots + singletons map to themselves
    val allIds = base.select(col("src").as("id")).distinct()
    allIds.join(members, Seq("id"), "left")
      .select(col("id"),
        when(col("component").isNull || col("component") > col("id"), col("id"))
          .otherwise(col("component")).as("component"))
  }
}
