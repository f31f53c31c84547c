package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.StatCols.pln
import graft.operators.{Cut, Pairs, Spread}

/** Normalized pointwise mutual information over document co-occurrence
  * (Bouma, GSCL 2009) — the collocation/term-association score behind
  * phrase mining and distributional term similarity:
  *
  *   pmi(a,b)  = ln( p(a,b) / (p(a)·p(b)) ) = ln( co·N / (cₐ·c_b) )
  *   npmi(a,b) = pmi / −ln p(a,b)           ∈ [−1, 1]
  *
  * PMI alone explodes for rare pairs (two hapaxes co-occurring once score
  * ln N); the normalization caps perfect attachment at exactly 1, which
  * is what makes the score comparable across frequency bands — the same
  * inverse-popularity correction family as [[graft.stats.Itemsets]]'
  * cosine, but information-theoretic and sign-ed (repulsion < 0).
  *
  * Pipeline shape (the capped-bucket contract, q26/q155): a vocabulary
  * gate (df ≥ minDf) prunes the long tail BEFORE the quadratic per-doc
  * pair expansion, and docs still touching more than `maxTermsPerDoc`
  * vocabulary terms are dropped WHOLE (a boilerplate page touching 10³
  * vocab terms contributes 5·10⁵ pairs of pure noise). All counts (cₐ,
  * c_b, co, N) come from the SAME kept set, so the probabilities are
  * internally consistent. One dimension-sized df aggregate, one semi-join
  * gate, one per-doc pair expansion, two broadcastable count joins.
  *
  * EXACTNESS: counts exact BIGINT, and the score is computed as
  *
  *   npmi = (ln co + ln N − ln cₐ − ln c_b) / (ln N − ln co)
  *
  * — i.e. every `portable_ln` argument is an INTEGER-valued double, never
  * a ratio. This is deliberate: Math.log (= portable_ln) is bit-identical
  * to libm (the DuckDB/Postgres ln) on ALL integer inputs below 9170
  * (probed exhaustively; on arbitrary ratios the two round differently
  * far more often — measured live on this corpus before the rewrite),
  * so with per-shard counts under that bound the score hash-matches an
  * external engine bit-for-bit; above it the score stays deterministic
  * per host/JVM, which is the contract that matters at web scale. The
  * combination is one fixed left-associated IEEE tree. Pairs present in
  * EVERY kept doc (co = N, where −ln p(ab) = 0) are excluded by
  * definition (npmi → 1 limit, undefined ratio) — only possible in toy
  * corpora. */
object Npmi {

  /** `presence`: rows (doc, term) — duplicates collapse. Returns
    * (term_a, term_b, co, npmi) for pairs with co ≥ minCo, term_a <
    * term_b. */
  def pairAssociation(presence: DataFrame, maxTermsPerDoc: Int,
      minDf: Long, minCo: Long): DataFrame = {
    require(maxTermsPerDoc >= 2, s"maxTermsPerDoc ≥ 2, got $maxTermsPerDoc")
    require(minDf >= 1 && minCo >= 1, s"minDf/minCo ≥ 1")
    graft.functions.GraftFunctions.register(presence.sparkSession)
    val p = presence.select(col("doc"), col("term")).distinct()
    val vocab = p.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select("term")
    val inVocab = p.join(vocab, Seq("term"), "left_semi")
    val sizes = inVocab.groupBy("doc").agg(count(lit(1)).as("sz"))
      .where(col("sz") <= maxTermsPerDoc)
    val kept = inVocab.join(sizes.select("doc"), Seq("doc"), "left_semi")
      .transform(Cut.large) // feeds N, the term counts, and the pair join
    // N as a broadcast 1-row aggregate, not a driver-side collect — the
    // whole score stays one lazy plan
    val nDocs = broadcast(kept.agg(countDistinct("doc").as("nd")))
    val cnt = kept.groupBy("term").agg(count(lit(1)).as("c"))
    // each doc's sorted term list (terms are distinct per doc), spread
    // at cluster width before the pair expansion
    val lists = kept.groupBy("doc")
      .agg(sort_array(collect_list(col("term"))).as("ts"))
      .transform(Spread.orderFree)
    Pairs(lists, "ts", "term_a", "term_b", "co")
      .crossJoin(nDocs)
      .where(col("co") >= minCo && col("co") < col("nd"))
      .join(cnt.select(col("term").as("term_a"), col("c").as("ca")),
        Seq("term_a"))
      .join(cnt.select(col("term").as("term_b"), col("c").as("cb")),
        Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("co"),
        ((pln(col("co").cast("double")) + pln(col("nd").cast("double"))
            - pln(col("ca").cast("double")) - pln(col("cb").cast("double")))
          / (pln(col("nd").cast("double")) - pln(col("co").cast("double"))))
          .as("npmi"))
  }
}
