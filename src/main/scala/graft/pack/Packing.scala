package graft.pack

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Sequence packing for LLM pre-training: concatenate documents in a
  * deterministic order (ascending id) into one token stream and chunk it
  * into fixed-size context windows — the concat-then-chunk packing used
  * by most pre-training data loaders. The per-doc outputs (absolute start
  * offset + the chunk span the doc lands in) are exactly what a loader
  * needs to materialize window boundaries without re-scanning text.
  *
  * The start offsets are a GLOBAL prefix sum, computed distributed (the
  * [[graft.canon.KeyAssigner]] shape): range-partition by the order key,
  * per-partition running sums under a partition-local Window (never the
  * single-partition global `Window.orderBy` — a "No Partition Defined"
  * WindowExec over a data-proportional frame is the exact 100 TB
  * anti-pattern), then one O(P) pass over the P per-partition totals for
  * the cross-partition offsets. At cluster scale every data-proportional
  * step is distributed; the only sequential work is P rows.
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
    val spark = docs.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = docs
      .select(col(idCol), lenCol.cast("long").as("n_tokens"))
      .repartitionByRange(parts, col(idCol))
      .withColumn("_pid", spark_partition_id())
    // Cut for the same boundary-stability reason as
    // KeyAssigner.assign: the ranged frame feeds BOTH the output rows and
    // the per-partition totals, and repartitionByRange SAMPLES its child —
    // two independent executions could pick different boundaries, pairing
    // offsets from one partitioning with rows summed under another.
    val local = ranged
      .withColumn("_cum", sum("n_tokens")
        .over(Window.partitionBy("_pid").orderBy(col(idCol))))
      .transform(Cut.large)
    import spark.implicits._
    // cross-partition offsets: prefix sum over the P-row total vector in
    // an explicit single partition (P = shuffle partitions — trivial at
    // any realistic cluster size; AQE broadcasts the result back)
    val offsets = local.groupBy("_pid").agg(sum("n_tokens").as("_total"))
      .select(col("_pid").cast("int").as("_pid"), col("_total"))
      .as[(Int, Long)]
      .repartition(1).sortWithinPartitions("_pid")
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (pid, t) => val off = acc; acc += t; (pid, off) }
      }
      .toDF("_pid", "_offset")
    local.join(offsets, Seq("_pid"))
      .withColumn("start_offset", col("_cum") - col("n_tokens") + col("_offset"))
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
