package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}

/** Lineage cuts: every `localCheckpoint` in the library goes through here.
  *
  * A cut materializes a frame once into executor block storage so that
  * several consumers read the blocks instead of each re-running the plan
  * below it. The blocks are not replicated: a lost block fails the next
  * read with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`, it is never silently
  * recomputed (`CutSpec` pins this).
  *
  *   - [[small]]: the row count is bounded by a domain constant (25 nations
  *     × 5 priorities, 10 deciles), checked when the cut is made.
  *   - [[large]]: the row count grows with the input (graph state, claims,
  *     keyed rows); no bound.
  *
  * [[small]] and [[materialize]] cost the same Spark jobs as an eager
  * `localCheckpoint`: the plan's shuffle stages, then one job that writes
  * the blocks and, in that same pass, counts or reads each partition. */
object Cut {

  /** Cuts `df` and checks that it holds at most `maxRows` rows; fails with
    * both numbers when it holds more. */
  def small(maxRows: Long)(df: DataFrame): DataFrame = {
    val (c, counts) = materialize(df)(_ => _.size.toLong)
    val n = counts.sum
    if (n > maxRows) throw new IllegalStateException(
      s"cut holds $n rows, over its bound of $maxRows")
    c
  }

  /** Cuts `df` eagerly, at any size. */
  def large(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Cuts `df` in one job that also reads each partition's rows with
    * `perPartition(n)`, n being the cut's partition count; returns the cut
    * and the results, in partition order. */
  def materialize[T: ClassTag](df: DataFrame)(
      perPartition: Int => Iterator[Row] => T): (DataFrame, Array[T]) = {
    val c = df.localCheckpoint(eager = false)
    val rdd = c.rdd
    val read = perPartition(rdd.getNumPartitions)
    (c, rdd.mapPartitions(it => Iterator(read(it))).collect())
  }
}

/** Round-robin spreads: a single-split scan or an AQE-coalesced exchange
  * redistributed at cluster width before per-row or quadratic work. Only
  * for frames whose consumers do not depend on row order: a spread must
  * not feed a floating-point `sum`, an `avg` or a moment aggregate
  * (`CutSpec` checks every catalog query that spreads). */
object Spread {

  def orderFree(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
