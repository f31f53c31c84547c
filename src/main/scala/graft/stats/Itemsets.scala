package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cut, Pairs, Spread}

/** Frequent 2-itemset mining (market-basket co-occurrence with a support
  * threshold) — the A-priori first rung: a pair can only reach support s
  * if BOTH items individually reach s, so the basket table is semi-join
  * pruned by the frequent-item set BEFORE the quadratic per-basket pair
  * expansion. On Zipf-shaped web data that prune removes the long item
  * tail (most of the table) while provably not changing the output —
  * the oracle runs the UNpruned naive pair join.
  *
  * Shuffle shape: distinct (basket, item) → one keyed aggregate for item
  * support (dimension-sized) → semi join (broadcastable when the
  * frequent-item set is small) → per-basket item lists (pairs expand
  * quadratically in PER-BASKET size, which real baskets bound; a
  * web-scale guard would cap basket size with counted drops, the q26 LSH
  * pattern) → one pair aggregate with map-side partials.
  */
object Itemsets {

  /** Pairs of items co-occurring in ≥ `minSupport` distinct baskets.
    * Output: (item_a, item_b, support) with item_a < item_b.
    *
    * The deduped basket frame is cut ([[Cut.large]]): it feeds the item
    * support aggregate and the prune semi-join, whose subplans differ after
    * per-branch filter pushdown, so without the cut the fact table is
    * scanned twice. Pairs come from each pruned basket's sorted item list
    * ([[Pairs]]); state per group is the pruned basket size, the same
    * per-basket dimension as the scale note above. */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be ≥ 1, got $minSupport")
    val b = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .transform(Cut.large)
    val frequent = b.groupBy("item").agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSupport).select("item")
    val pruned = b.join(frequent, Seq("item"), "left_semi")
    val grouped = pruned.groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .transform(Spread.orderFree)
    Pairs(grouped, "items", "item_a", "item_b", "support")
      .where(col("support") >= minSupport)
  }

  /** Item–item cosine similarity from co-occurrence counts (the
    * memory-based collaborative-filtering kernel, Sarwar et al. WWW'01):
    * for items i, j with basket-occurrence counts cᵢ, cⱼ and co-count cᵢⱼ,
    *
    *   cos(i, j) = cᵢⱼ / (√cᵢ · √cⱼ)
    *
    * — the cosine of the two baskets-as-binary-vectors, i.e. co-occurrence
    * normalized so two niche items always bought together outrank two
    * blockbusters that co-occur by volume (the same inverse-popularity
    * correction as Adamic–Adar, multiplicative instead of additive).
    *
    * Scale shape: the per-basket pair expansion is quadratic in BASKET
    * size, so baskets larger than `maxBasket` are dropped whole BEFORE
    * the self-join (the q26 LSH capped-bucket pattern — a crawl session
    * touching 10⁴ items contributes 5·10⁷ pairs and ~zero signal; drops
    * are countable from the size aggregate, never silent in the plan).
    * Occurrence counts come from the SAME kept set the pairs come from,
    * so the cosine is internally consistent. One keyed self-join + two
    * dimension-sized aggregates; the count joins broadcast when items
    * are dimension-sized (AQE decides).
    *
    * EXACTNESS: counts are exact BIGINTs; the cosine is ONE fixed IEEE
    * tree `c/(√a·√b)` over them — bit-identical in any engine (the
    * [[Regression]] contract). */
  def cosinePairs(baskets: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int, minCo: Long): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be ≥ 2, got $maxBasket")
    require(minCo >= 1, s"minCo must be ≥ 1, got $minCo")
    val b = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    // each basket's sorted item list is collected once (state bounded by
    // basket size before the cap drops oversize baskets whole), spread at
    // cluster width and cut: occ and the pair expansion both read it
    val grouped = b.groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .where(size(col("items")) <= maxBasket)
      .transform(Spread.orderFree)
      .transform(Cut.large)
    val occ = grouped.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("occ"))
    Pairs(grouped, "items", "item_a", "item_b", "co")
      .where(col("co") >= minCo)
      .join(occ.select(col("item").as("item_a"), col("occ").as("occ_a")),
        Seq("item_a"))
      .join(occ.select(col("item").as("item_b"), col("occ").as("occ_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        (col("co").cast("double") /
          (sqrt(col("occ_a").cast("double")) *
            sqrt(col("occ_b").cast("double")))).as("cosine"))
  }
}
