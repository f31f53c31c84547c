package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StatCols.pln
import graft.operators.Spread

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
    * PLAN SHAPE (r06): pair generation runs as a bounded array HOF over
    * each right-node's CAPPED neighbor list instead of an ed⋈ed self-join.
    * The old self-join planned its b-side as a BroadcastExchange of the
    * whole (distinct + degree-join) subtree, re-running the edge scan and
    * both aggregations a second time; now the degree-capped join output —
    * already hash-partitioned by `right` — is grouped in place (no new
    * exchange, aggregation state ≤ maxDegree ids) and each sorted list
    * emits its ≤ maxDegree(maxDegree−1)/2 ascending pairs map-side. The
    * pair multiset entering the (s1, s2) aggregate is identical, so the
    * output (and the sorted-fold aa_score) is unchanged. */
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
    // ascending pairs of the sorted neighbor list: element i with every
    // later element — exactly the a.left < b.left self-join rows, each
    // carrying this right-node's degree.
    //
    // TWO chained Generates (posexplode, then explode over the ascending
    // slice) instead of one nested transform/flatten HOF (r06): higher-
    // order functions are CodegenFallback — the nested lambda built an
    // array-of-struct-arrays per row in the interpreted evaluator —
    // while explode/posexplode run inside whole-stage codegen. Identical
    // pair multiset, same ascending order per element.
    //
    // The pair expansion multiplies WORK, not bytes — AQE sizes the
    // upstream exchange by bytes and would run the explode on a handful
    // of coalesced partitions (profiled: 4 tasks at sf0.1). An explicit
    // width-of-the-cluster repartition is exempt from AQE coalescing and
    // spreads the quadratic stage; one extra exchange of the (small)
    // capped neighbor lists pays for it.
    grouped.transform(Spread.orderFree)
      .select(col("ls"), col("deg"), posexplode(col("ls")).as(Seq("i", "s1")))
      .select(col("s1"), col("deg"),
        explode(slice(col("ls"), col("i") + lit(2), size(col("ls"))))
          .as("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("common"),
        sort_array(collect_list(col("deg"))).as("ds"))
      .where(col("common") >= minCommon)
      .select(col("s1"), col("s2"), col("common"),
        aggregate(col("ds"), lit(0.0),
          (acc, x) => acc + lit(1.0) / pln(x.cast("double")))
          .as("aa_score"))
  }
}
