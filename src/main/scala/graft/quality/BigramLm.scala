package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StatCols.{pln, sumInOrder}

/** Interpolated bigram language-model scoring — the step up from
  * [[UnigramLm]] toward the KenLM-style quality gate (CCNet, Gopher):
  * per-document mean log-probability under
  *
  *   P(w2 | w1) = λ · c(w1 w2)/c(w1)  +  (1−λ) · c(w2)/N
  *
  * (Jelinek–Mercer interpolation with the corpus-MLE unigram as backoff —
  * the bigram term alone would be −∞ on any unseen continuation). Low
  * scores flag gibberish, shuffled text, and mojibake that unigram
  * statistics can't see: a bag of common words in nonsense ORDER has a
  * healthy unigram score and a terrible bigram one.
  *
  * Scale shape: the trained model is two count tables — unigram (vocab-
  * bounded) and bigram (Zipf-bounded, capped top-V in production with the
  * tail backing off to the unigram term) — both broadcastable dimensions,
  * so scoring is ONE corpus scan: explode bigrams in place, map-side
  * broadcast joins attach the three counts, partial aggregation collapses
  * per doc before the only shuffle. Training is two word-counts.
  *
  * EXACTNESS: counts are integers; each probability is the literal IEEE
  * tree λ·(c2/c1) + (1−λ)·(c1/N); ln is `portable_ln` (Math.log ≡ libm);
  * the per-doc sum folds the log terms in POSITION order (`sort_array` on
  * (pos, lp) + HOF `aggregate`), so any engine mirroring the tree and the
  * fold is bit-identical — the q138/q139 contract.
  */
object BigramLm {

  /** Bigram rows (id, pos, w1, w2) of an array-of-string column; docs with
    * < 2 tokens emit nothing. `pos` is 0-based and unique per doc — the
    * deterministic fold key for [[score]]. */
  def bigrams(docs: DataFrame, idCol: String, toks: Column): DataFrame =
    docs.select(col(idCol), toks.as("_toks"))
      .where(size(col("_toks")) >= 2)
      .select(col(idCol), posexplode(expr(
        """zip_with(slice(_toks, 1, size(_toks) - 1),
                    slice(_toks, 2, size(_toks) - 1),
                    (a, b) -> struct(a AS w1, b AS w2))""")))
      .select(col(idCol), col("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))

  /** Per-doc (id, n_bigrams, logprob = mean interpolated log-prob).
    * `lambda` is the bigram weight in [0, 1). Trains on `docs` itself
    * (self-scoring, the CCNet in-domain setup); to score against a
    * reference corpus, join pre-trained count tables instead. */
  def score(spark: SparkSession, docs: DataFrame, idCol: String,
      toks: Column, lambda: Double): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val bg = bigrams(docs, idCol, toks)
    val tk = docs.select(explode(toks).as("tok"))
    val uni = tk.groupBy("tok").agg(count(lit(1)).as("c1"))
    // scalar N as a 1-row aggregate cross-join: no driver-side job at
    // plan-build time (the Disproportionality idiom)
    val tot = tk.agg(count(lit(1)).as("n"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val scored = bg
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(uni.select(col("tok").as("w1"), col("c1").as("c1w1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c1").as("c1w2"))),
        Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("pos"),
        pln(lit(lambda)
            * (col("c2").cast("double") / col("c1w1").cast("double"))
          + lit(1.0 - lambda)
            * (col("c1w2").cast("double") / col("n").cast("double")))
          .as("lp"))
    scored.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("ps"))
      .select(col(idCol), size(col("ps")).cast("long").as("n_bigrams"),
        (sumInOrder(transform(col("ps"), p => p.getField("lp")))(identity)
          / size(col("ps")).cast("double")).as("logprob"))
  }
}
