package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Cut, Pairs}

/** Asymmetric shingle-CONTAINMENT near-duplicate detection — the
  * doc-inside-doc relation Jaccard misses. A quote page that embeds a full
  * article, or a boilerplate wrapper around copied content, has
  *
  *   containment(A in B) = |S(A) ∩ S(B)| / |S(A)|  ≈ 1
  *
  * while Jaccard(A, B) = |∩|/|∪| stays small whenever |B| ≫ |A| — so a
  * Jaccard-only dedup pass (q26/q34) keeps both copies. Broder's original
  * resemblance paper (SEQUENCES '97) defines both measures; training-data
  * pipelines use containment to strip quoted/wrapped duplication.
  *
  * Scale shape: identical to [[Dedup.ngramJaccardPairs]]'s inverted-index
  * join — distinct shingles per doc, pairs generated ONLY through shared
  * shingles (never all-pairs), with a document-frequency cap dropping
  * non-discriminative shingles BEFORE the self-join (a boilerplate shingle
  * shared by d docs expands quadratically; it also contributes the least
  * evidence of targeted copying — the same hub-pruning argument as
  * [[graft.graph.LinkPrediction]]). Intersection counts and shingle-set
  * sizes are integers; the two containment ratios are single IEEE
  * divisions — bit-identical in any engine.
  */
object Containment {

  /** Token w-shingles of an array-of-string column, as space-joined
    * strings; rows with fewer than `w` tokens produce an empty array (the
    * `sequence(1, n-w+1)` guard below — Spark's `sequence` turns DESCENDING
    * when start > stop, which would fabricate shingles for short docs). */
  def shingles(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(sequence(lit(1), size(toks) - (w - 1)), i =>
        concat_ws(" ", (0 until w).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Directed containment for every doc pair sharing ≥ 1 kept shingle and
    * max(c_in_1, c_in_2) ≥ `threshold`. Output: (d1, d2, inter, c_in_1 =
    * inter/|S(d1)|, c_in_2 = inter/|S(d2)|) with d1 < d2. `docs` needs
    * (idCol, toks array); shingles with document frequency > `maxDf` are
    * dropped on BOTH the numerator and denominator side, so the ratio
    * stays a true containment over the kept-shingle sets.
    *
    * The shingle stream is computed once: its two consumers (the df count
    * and the kept join) hash-partition it by shingle with identical
    * subtrees, so ReuseExchange shuffles it once. The per-shingle doc list
    * is collected after the df cap (state ≤ maxDf ids) on the join's
    * partitioning, and cut eagerly because both the pair expansion
    * ([[Pairs]], ≤ maxDf(maxDf−1)/2 pairs per shingle) and the size table
    * read it. */
  def containmentPairs(docs: DataFrame, idCol: String, toks: Column,
      w: Int, maxDf: Int, threshold: Double): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc"), explode(array_distinct(shingles(toks, w))).as("s"))
    val df = sh.groupBy("s").agg(count(lit(1)).as("c"))
    // per-shingle sorted doc list, state bounded by the df cap; the join
    // output is already partitioned by s, so the groupBy adds no exchange
    val grouped = sh.join(df.where(col("c") <= maxDf), Seq("s"))
      .groupBy("s").agg(sort_array(collect_list(col("doc"))).as("docs"))
      .transform(Cut.large)
    val sz = grouped.select(explode(col("docs")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n"))
    Pairs(grouped, "docs", "d1", "d2", "inter")
      .join(sz.select(col("doc").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sz.select(col("doc").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter").cast("double") / col("n1").cast("double")).as("c_in_1"),
        (col("inter").cast("double") / col("n2").cast("double")).as("c_in_2"))
      .where(greatest(col("c_in_1"), col("c_in_2")) >= threshold)
  }
}
