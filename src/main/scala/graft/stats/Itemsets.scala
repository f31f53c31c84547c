package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cut, Spread}

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
  * frequent-item set is small) → self equi-join on basket (pairs expand
  * quadratically in PER-BASKET size, which real baskets bound; a
  * web-scale guard would cap basket size with counted drops, the q26 LSH
  * pattern) → one pair aggregate with map-side partials.
  */
object Itemsets {

  /** Pairs of items co-occurring in ≥ `minSupport` distinct baskets.
    * Output: (item_a, item_b, support) with item_a < item_b.
    *
    * The deduped basket frame feeds THREE consumers (the support
    * aggregate and both self-join sides), whose subplans are not
    * identical after per-branch filter pushdown — without the persist the
    * fact table is scanned four times, the Disproportionality.signals
    * four-scan cost. It is persisted lazily (building the frame launches
    * no job) when `cacheBaskets`; the entry is deduped by the
    * CacheManager for repeated identical inputs. Long-lived sessions
    * mining MANY distinct basket tables should pass `cacheBaskets =
    * false` (or adopt the owning-handle pattern of
    * [[Disproportionality.signalsWithHandle]]) to bound cache
    * residency. */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, cacheBaskets: Boolean = true): DataFrame = {
    require(minSupport >= 1, s"minSupport must be ≥ 1, got $minSupport")
    val b0 = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    val b =
      if (cacheBaskets &&
        b0.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        b0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else b0
    val frequent = b.groupBy("item").agg(count(lit(1)).as("sup"))
      .where(col("sup") >= minSupport).select("item")
    val pruned = b.join(frequent, Seq("item"), "left_semi")
    // r06: pairs from each pruned basket's sorted item list via a bounded
    // array HOF instead of a pruned⋈pruned self-join — the join planned
    // its b-side as a broadcast re-running the prune subtree, and AQE
    // byte-sized the quadratic expansion onto a few partitions. State per
    // group = pruned basket size (the same per-basket dimension the join
    // expanded quadratically; the scaladoc's web-scale cap note applies
    // unchanged). Pair multiset identical → output unchanged.
    val grouped = pruned.groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .transform(Spread.orderFree)
    // two chained codegen Generates instead of the nested-HOF combo
    // build (r06): HOFs are CodegenFallback — identical pair multiset
    grouped
      .select(col("items"), posexplode(col("items")).as(Seq("_i", "item_a")))
      .select(col("item_a"), explode(slice(col("items"),
        col("_i") + lit(2), size(col("items")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
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
    // r06: one aggregation replaces the size-filter semi-join + kept⋈kept
    // self-join — each basket's sorted item list is collected (state
    // bounded by basket size BEFORE the cap filter is applied to the
    // aggregated row, i.e. a 10⁴-item crawl session still buffers its own
    // list once, exactly as the old size aggregate did), oversize baskets
    // are dropped whole as before, and pairs are emitted by a bounded
    // array HOF at cluster width (AQE sizes exchanges by bytes; the
    // expansion multiplies work). Cut eagerly: occ and the pair expansion
    // both consume it. Pair multiset and occ counts unchanged.
    val grouped = b.groupBy("basket")
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .where(size(col("items")) <= maxBasket)
      .transform(Spread.orderFree)
      .transform(Cut.large)
    val occ = grouped.select(explode(col("items")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("occ"))
    // two chained codegen Generates instead of the nested-HOF combo
    // build (r06, same rationale as frequentPairs)
    grouped
      .select(col("items"), posexplode(col("items")).as(Seq("_i", "item_a")))
      .select(col("item_a"), explode(slice(col("items"),
        col("_i") + lit(2), size(col("items")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co"))
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
