package graft.pack

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/** Sequence packing for LLM pre-training: concatenate documents in a
  * deterministic order (ascending id) into one token stream and chunk it
  * into fixed-size context windows — the concat-then-chunk packing used
  * by most pre-training data loaders. The per-doc outputs (absolute start
  * offset + the chunk span the doc lands in) are exactly what a loader
  * needs to materialize window boundaries without re-scanning text.
  *
  * The start offsets are a GLOBAL prefix sum over the token counts,
  * taken by [[PrefixSum.running]] (never the single-partition global
  * `Window.orderBy`): every data-proportional step is distributed.
  *
  * All chunk arithmetic is integer (SQL DIV), exact at any corpus size —
  * no double rounding at 2^53 tokens.
  */
object Packing {

  /** Per-doc packing coordinates over the stream formed by concatenating
    * rows in ascending `idCol` order: (idCol, n_tokens, start_offset,
    * chunk_first, chunk_last) with chunks of `chunkSize` tokens.
    * Zero-token rows occupy no stream space; their span is defined as the
    * single chunk containing their start offset (greatest(n,1) in the
    * chunk_last arithmetic), keeping the output total on every row.
    *
    * `lenCol` is any integral token-count expression over the input row
    * (e.g. `size(split(col("text"), " "))` or a real tokenizer count). */
  def chunkSpans(docs: DataFrame, idCol: String, lenCol: Column,
      chunkSize: Long, numPartitions: Int = 0): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    PrefixSum.running(docs.select(col(idCol), lenCol.cast("long").as("n_tokens")),
        idCol, Seq("n_tokens"), numPartitions)
      .withColumn("start_offset", col("n_tokens_cum") - col("n_tokens"))
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        expr(s"start_offset DIV $chunkSize").as("chunk_first"),
        expr(s"(start_offset + greatest(n_tokens, 1L) - 1) DIV $chunkSize")
          .as("chunk_last"))
  }

  /** Per-document sliding windows with overlap — the long-document
    * chunking used for embedding indexes and context-window training
    * samples (window k covers token span [k·stride, k·stride+size),
    * clamped to the doc; consecutive windows overlap by size − stride).
    * Returns one row per (doc, window): (idCol, n_tokens, win_id,
    * win_start, win_end). Every doc gets ≥1 window (a zero-token doc
    * gets the empty span (0,0) so loaders keep row-level totals).
    *
    * Pure per-row integer arithmetic + one explode — scan-side, no
    * shuffle, no window function, exact at any corpus size (SQL DIV,
    * never double rounding). */
  def slidingSpans(docs: DataFrame, idCol: String, lenCol: Column,
      size: Long, stride: Long): DataFrame = {
    require(size > 0, s"size must be positive, got $size")
    require(stride > 0 && stride <= size,
      s"stride must be in (0, size], got stride=$stride size=$size")
    docs.select(col(idCol), lenCol.cast("long").as("n_tokens"))
      .withColumn("_nw", expr(
        s"(greatest(n_tokens - $size, 0L) + $stride - 1) DIV $stride + 1"))
      .withColumn("win_id", explode(sequence(lit(0L), col("_nw") - 1)))
      .select(col(idCol), col("n_tokens"), col("win_id"),
        (col("win_id") * stride).as("win_start"),
        least(col("win_id") * stride + size, col("n_tokens"))
          .as("win_end"))
  }
}
