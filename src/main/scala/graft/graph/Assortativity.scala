package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Degree assortativity (Newman, PRL 2002) — the Pearson correlation of
  * endpoint degrees over the edge list: r > 0 means hubs link to hubs
  * (social-network shape), r < 0 means hubs link to leaves (the
  * hub-and-spoke shape of the web and of most KGs). The single-number
  * structural health check crawl/KG pipelines watch for drift: a scraper
  * bug that turns boilerplate nav links into edges shows up as an
  * assortativity jump long before anyone inspects edges.
  *
  * Defined here over the DEDUPLICATED directed edge list with x = total
  * degree (in+out) of src and y = total degree of dst, one observation
  * per directed edge.
  *
  * EXACTNESS ([[graft.stats.Regression]] contract): degrees are exact
  * BIGINT counts, the six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are
  * exact commutative integer sums, and r is ONE fixed IEEE tree over
  * them — bit-identical in any engine, under any partitioning. ANSI mode
  * makes a Σx² overflow loud: keep |E|·max(deg)² < 2⁶³ (a graph with
  * 10⁸-degree hubs needs degree bucketing or log-binning first — at that
  * point the raw Pearson is dominated by the hub anyway).
  *
  * Scale shape: one dedup shuffle, one degree aggregate (map-side partial
  * absorbs hub skew), two edge-keyed joins to attach endpoint degrees
  * (the degree table is node-sized — AQE broadcasts when it fits), and
  * ONE global 6-tuple aggregate (a single group: every partition ships
  * one partial tuple, never a single-partition sort). */
object Assortativity {

  /** One row: (n_edges, r). Degenerate graphs (zero variance on either
    * endpoint — e.g. a perfect cycle where every degree is equal) return
    * an empty frame rather than a NaN. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
      .transform(Cut.large) // feeds the degree agg and the edge scan
    val deg = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val xy = e
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    xy.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .where(col("n") >= 2 &&
        col("n") * col("sxx") - col("sx") * col("sx") =!= 0 &&
        col("n") * col("syy") - col("sy") * col("sy") =!= 0)
      .select(col("n").as("n_edges"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast("double")))).as("r"))
  }
}
