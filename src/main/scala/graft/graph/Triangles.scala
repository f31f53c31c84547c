package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Triangle statistics over an undirected graph — the standard
  * web/social-graph cohesion signals (clustering, spam-farm and
  * link-ring detection on crawl link graphs).
  *
  * Degree-ordered node-iterator (Suri & Vassilvitskii's "curse of the
  * last reducer" construction): orient every undirected edge from its
  * (degree, id)-smaller endpoint to the larger, enumerate wedges from
  * each node's oriented out-neighborhood, and close them against the
  * oriented edge set. Orientation bounds every out-neighborhood at
  * O(√m), so the wedge join's per-key fan-out — the quantity that
  * strands a naive implementation on one reducer when a celebrity node
  * shows up — is bounded REGARDLESS of the raw degree distribution;
  * total wedge volume is O(m^1.5) worst case, the provable optimum for
  * exact counting. Each triangle is materialized exactly once (its
  * unique orientation-minimal apex).
  *
  * Exactness: counts are integers and the clustering coefficient is one
  * final IEEE division of exact integers; results are engine-portable
  * (the DuckDB oracle counts id-ordered closed triples — a DIFFERENT
  * single-count decomposition — and must agree exactly).
  */
object Triangles {

  /** Canonical undirected edges + oriented edges, shared by [[count]] and
    * [[perNode]]. `triangles` rows are (u, p, q) — each triangle once. */
  private def triangleRows(edges: DataFrame): (DataFrame, DataFrame) = {
    val e0 = edges.select(col("src").cast("long").as("s"),
      col("dst").cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= col("d"))
    // canonical undirected edge set, materialized once: degree, orient
    // and the closing join all reuse it instead of replaying upstream
    val und = e0.select(least(col("s"), col("d")).as("a"),
      greatest(col("s"), col("d")).as("b")).distinct().transform(Cut.large)
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(functions.count(lit(1)).as("deg"))
    // (deg, id) keys with IDENTICAL field names on both sides: struct
    // comparison and the CASE branches below both require matching types
    def key(d: String, n: String) =
      struct(col(d).as("kd"), col(n).as("kn"))
    val aLess = key("da", "a") < key("db", "b")
    val o = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(aLess, col("a")).otherwise(col("b")).as("u"),
        when(aLess, col("b")).otherwise(col("a")).as("v"),
        // the out-neighbor's (deg, id) key: wedge pairs are ordered by
        // THE SAME total order as the orientation, so the closing edge
        // of a wedge (v, w) is known to be oriented v→w
        when(aLess, key("db", "b")).otherwise(key("da", "a")).as("vkey"))
      .transform(Cut.large)
    val wedges = o.as("x").join(o.as("y"),
        col("x.u") === col("y.u") && col("x.vkey") < col("y.vkey"))
      .select(col("x.u").as("u"), col("x.v").as("p"), col("y.v").as("q"))
    val tris = wedges
      .join(o.select(col("u").as("p"), col("v").as("q")), Seq("p", "q"))
      .select(col("u"), col("p"), col("q"))
    (und, tris)
  }

  /** 1-row (n_triangles: bigint). `edges` needs long-castable (src, dst);
    * self-loops, duplicates and orientation are normalized away. */
  def count(edges: DataFrame): DataFrame =
    triangleRows(edges)._2
      .agg(functions.count(lit(1)).as("n_triangles"))

  /** Per-node triangle participation and local clustering coefficient:
    * (node, degree, n_tri, lcc) for every node, lcc = 2·n_tri /
    * (degree·(degree−1)) and 0.0 for degree < 2. Each triangle credits
    * all three corners (one explode over the once-materialized triangle
    * rows — triangle-volume-sized, not wedge-volume-sized). */
  def perNode(edges: DataFrame): DataFrame = {
    val (und, tris) = triangleRows(edges)
    val corners = tris
      .select(explode(array(col("u"), col("p"), col("q"))).as("node"))
      .groupBy("node").agg(functions.count(lit(1)).as("n_tri"))
    und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(functions.count(lit(1)).as("degree"))
      .join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
  }
}
