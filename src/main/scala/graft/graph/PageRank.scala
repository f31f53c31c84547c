package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Link-graph centrality (PageRank power iteration) over an edge list —
  * the web-graph ranking signal crawl pipelines feed back into harvest
  * scheduling and quality curation.
  *
  * INTEGER-ARITHMETIC VARIANT: scores are fixed-point BIGINTs ([[Scale]] =
  * one unit of rank mass) and every step is integer multiply / truncating
  * divide / exact sum. Floating-point PageRank is not reproducible across
  * engines — float addition is order-dependent and a shuffle reorders the
  * per-destination contribution sums — whereas 64-bit integer sums are
  * commutative and exact, so this variant is bit-identical in any engine,
  * under any partitioning (the same portability contract as
  * [[graft.quality.UnigramLm]]). Truncation loses < 1 rank unit per edge
  * per iteration — immaterial at Scale = 10⁶ — and dangling-node mass is
  * dropped, the standard "no redistribution" simplification (documented,
  * deterministic).
  *
  * Scale shape (10¹²-page web graph): edges are projected, filtered and
  * joined to their out-degree ONCE, then lineage-cut — each iteration
  * reuses that materialization instead of replaying the upstream plan.
  * Per iteration: one node-sized join (rank table onto edges by src — the
  * rank side is |V|, broadcast/shuffle decided by AQE at its true size)
  * and one groupBy(dst) whose partial aggregation absorbs hub skew
  * map-side (a 10⁸-in-degree hub arrives at the reducer as one partial
  * sum per map partition, not 10⁸ rows). Ranks are lineage-cut per
  * iteration so the plan stays constant-depth at any iteration count.
  */
object PageRank {

  /** Fixed-point scale: initial score per node = 1.0 × Scale.
    *
    * OVERFLOW CONTRACT: total rank mass is bounded by |V| × Scale, and the
    * damping step computes `inbound × dampNum` before dividing, so the
    * caller must keep |V| × Scale × dampNum < 2⁶³ (ANSI mode makes a
    * violation a loud ARITHMETIC_OVERFLOW, never silent wraparound). The
    * default Scale=10⁶ is safe to ~10¹¹ nodes; a 10¹²-page web graph runs
    * with Scale=10⁴ — still 4 decimal digits of rank resolution. */
  val Scale = 1000000L

  /** `edges` needs long-castable (src, dst) columns; multi-edges count
    * double (out-degree and contribution alike — consistent, documented).
    * Returns (node, pr_score) for every distinct endpoint, after `iters`
    * damped iterations (damping factor dampNum/dampDen, default 85/100):
    * the [[personalized]] iteration with every node a seed.
    */
  def run(edges: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = Scale): DataFrame =
    iterate(edges, None, iters, dampNum, dampDen, scale)
      .select(col("node"), col("score").as("pr_score"))

  /** Personalized PageRank: identical integer-exact iteration, but ALL
    * teleport mass lands on the seed set — initial score `scale` on
    * seeds / 0 elsewhere, and the per-iteration base term exists only
    * for seeds. The result is the seed neighborhood's rank field (the
    * "related pages from these trusted roots" signal behind topical
    * crawl frontiers and KG neighborhood expansion); nodes the seeds
    * can't reach in `iters` hops honestly score 0. Same plan shape,
    * overflow contract, and lineage-cut-per-iteration as [[run]] — the
    * seed table joins in as one extra node-sized left join (AQE
    * broadcasts it when small, the common case). */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int = 2,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = Scale): DataFrame =
    iterate(edges, Some(seeds), iters, dampNum, dampDen, scale)
      .select(col("node"), col("score").as("ppr_score"))

  /** The one damped iteration behind [[run]] and [[personalized]]:
    * (node, is_seed, score) after `iters` rounds. With no `seeds` every
    * node is a seed (`is_seed = 1`, no seed join). */
  private def iterate(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, dampNum: Long, dampDen: Long, scale: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den, got $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive, got $scale")
    val e0 = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    // materialize edges+outdeg once; every iteration consumes this cut
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = e0.join(deg, "src").transform(Cut.large)
    val all = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nodes = (seeds match {
      case None => all.withColumn("is_seed", lit(1L))
      case Some(s) =>
        val sd = s.select(col("node").cast("long").as("node")).distinct()
          .withColumn("is_seed", lit(1L))
        all.join(sd, Seq("node"), "left")
          .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    }).transform(Cut.large)
    val base = scale * (dampDen - dampNum) / dampDen // truncating, exact
    var pr = nodes.withColumn("score", col("is_seed") * scale)
    (1 to iters).foreach { _ =>
      val in = e.join(pr, col("src") === col("node"))
        .select(col("dst"), expr("score div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("inb"))
      pr = nodes.join(in, col("node") === col("dst"), "left")
        .select(col("node"), col("is_seed"),
          (col("is_seed") * base +
            expr(s"coalesce(inb, 0L) * $dampNum div $dampDen"))
            .as("score"))
        .transform(Cut.large) // constant-depth plan at any iters
    }
    pr
  }
}
