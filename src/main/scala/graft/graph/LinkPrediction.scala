package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StatCols.{pln, sumInOrder}
import graft.operators.{Pairs, Spread}

/** Neighborhood-overlap link prediction (Adamic–Adar / common-neighbor
  * scores) over a bipartite edge list — the classic "predict missing KG
  * edges from shared neighborhoods" primitive (Adamic & Adar 2003;
  * Liben-Nowell & Kleinberg 2007). For two left-nodes u, v the score is
  *
  *   AA(u, v) = Σ_{z ∈ N(u) ∩ N(v)}  1 / ln(deg(z))
  *
  * — common neighbors weighted DOWN by their popularity, so a rare shared
  * neighbor is worth more than a hub everyone touches (the same inverse-
  * frequency intuition as idf).
  *
  * Scale shape: pair generation is a self-join of the edge list on the
  * RIGHT node, so a hub with degree d expands into d(d−1)/2 pairs — the
  * standard quadratic hot-key hazard of every neighborhood-join (LSH
  * buckets in [[graft.dedup.Dedup]] have the identical failure mode). The
  * `maxDegree` cap prunes hubs BEFORE the join: a right-node touching more
  * than `maxDegree` left-nodes carries ~no predictive signal (its 1/ln
  * weight is the smallest anyway) while contributing the largest quadratic
  * term, so production link predictors drop them outright (counted here by
  * the caller via the degree table, never silently). After the cap the
  * expansion is ≤ maxDegree × |edges| rows flowing into ONE partial-
  * aggregated groupBy — no further shuffle.
  *
  * EXACTNESS: per-pair weights fold over the SORTED degree list
  * (`sort_array` + HOF `aggregate`), so the float additions happen in one
  * defined order — bit-identical to an oracle that mirrors the fold (the
  * q138/q139/q143 contract). ln is `portable_ln` (Math.log ≡ libm).
  */
object LinkPrediction {

  /** (s1, s2, common, aa_score) for every left-node pair sharing ≥
    * `minCommon` right-neighbors of degree ≤ `maxDegree`. `edges` columns:
    * `left`, `right` (any equatable types); duplicates are collapsed.
    *
    * Pairs come from each right-node's capped, sorted neighbor list
    * ([[graft.operators.Pairs]]), grouped in place on the degree join's
    * `right` partitioning: no new exchange, state ≤ maxDegree ids, and
    * ≤ maxDegree(maxDegree−1)/2 pairs per list. */
  def adamicAdar(spark: SparkSession, edges: DataFrame, minCommon: Int,
      maxDegree: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = edges.select(col("left"), col("right")).distinct()
    val deg = e.groupBy("right").agg(count(lit(1)).as("deg"))
    // hub cap BEFORE any pair expansion — the degree filter is the whole
    // scale story (see scaladoc); deg ≥ 2 afterwards, so ln(deg) > 0
    val grouped = e.join(deg.where(col("deg") <= maxDegree), Seq("right"))
      .groupBy("right")
      .agg(sort_array(collect_list(col("left"))).as("ls"),
        first(col("deg")).as("deg"))
    // pairs of the capped neighbor lists, each carrying its right-node's
    // degree; the lists are spread at cluster width first (see Pairs)
    Pairs(grouped.transform(Spread.orderFree), "ls", "s1", "s2", "common",
      "deg" -> "ds")
      .where(col("common") >= minCommon)
      .select(col("s1"), col("s2"), col("common"),
        sumInOrder(col("ds"))(x => lit(1.0) / pln(x.cast("double")))
          .as("aa_score"))
  }
}
