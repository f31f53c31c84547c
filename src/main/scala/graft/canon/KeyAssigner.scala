package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Deterministic dense key assignment: key = rank of the natural id in
  * sort order, 1..N — globally, or within each group of `groupCols`.
  *
  * Matches the reference's `_assign_keys` (sorted unique values → 1..N,
  * reference:src/kg_ae/graph/build.py:44-47), which keys each node type
  * separately; the grouped form keys every type in ONE pass instead of one
  * call per type. No single-partition `Window.orderBy` bottleneck
  * (SURVEY.md §7.4): range-repartition by (group…, id), sort within
  * partitions, take each row's local position, then add per-group
  * cumulative offsets computed over the tiny (partition, group) count
  * vector. Every data-proportional step is distributed; the only
  * single-point data is that vector (at most partitions + groups − 1
  * rows, since a group covers a contiguous run of partitions). One eager
  * cut remains, for every group at once: the positioned rows feed both the
  * output and the run counts, and the two must see the same sampled range
  * boundaries (see the cut note in [[assign]]).
  *
  * NOT `monotonically_increasing_id()` as the key — that is
  * non-deterministic across runs/partitionings; these keys must be stable
  * for resume + P/R checks. It is used only as the position of a row in
  * its sorted, materialized partition, where it is a fact.
  */
object KeyAssigner {

  /** labels: any DataFrame with column `idCol` and the `groupCols` (other
    * cols dropped; null ids dropped; a null group value is a group of its
    * own). Returns (groupCols…, idCol, key: Long) with dense deterministic
    * keys 1..N per group — (idCol, key) when ungrouped. */
  def assign(labels: DataFrame, idCol: String, numPartitions: Int = 0,
      groupCols: Seq[String] = Nil): DataFrame = {
    val order = (groupCols :+ idCol).map(col)
    val distinct = labels.select(order: _*).where(col(idCol).isNotNull).distinct()
    // default: shuffle-partitions ranges that AQE may coalesce (adjacent
    // ranges merge, so the order argument below still holds)
    val ranged =
      if (numPartitions > 0) distinct.repartitionByRange(numPartitions, order: _*)
      else distinct.repartitionByRange(order: _*)
    // The range partitioner assigns ascending (group…, id) ranges to
    // ascending partition ids, so within a group (partition id, position
    // in the sorted partition) is the id order.
    // Cut: the positioned frame feeds BOTH the output rows and
    // the run counts below, and key correctness requires the two to see
    // the SAME range-partition boundaries and positions. Without
    // materialization that is guaranteed only by exchange reuse —
    // repartitionByRange SAMPLES its child, so two independent executions
    // of the subtree can pick different boundaries, and offsets computed
    // against one partitioning would be applied to rows numbered under
    // another (duplicate/skipped keys, silent). The one eager cut of the
    // dimension-sized distinct-id set makes boundaries and positions facts.
    val positioned = ranged.sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_pos", monotonically_increasing_id())
      .transform(Cut.large)
    // one row per (partition, group) run: its size and first position
    val runs = positioned.groupBy((col("_pid") +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("_n"), min("_pos").as("_first"))
    // key = rows of the group in earlier partitions + (pos − first) + 1;
    // the per-group prefix sum runs over the tiny run vector (ungrouped:
    // one explicit window partition, so the "No Partition Defined"
    // warning stays reserved for data-proportional windows)
    val earlier = Window
      .partitionBy((if (groupCols.isEmpty) Seq(lit(0)) else groupCols.map(col)): _*)
      .orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    val gs = groupCols.indices.map(i => s"_g$i")
    val deltas = runs.select((col("_pid").as("_dpid") +:
      groupCols.zip(gs).map { case (c, g) => col(c).as(g) }) :+
      (coalesce(sum("_n").over(earlier), lit(0L)) - col("_first") + 1)
        .as("_delta"): _*)
    // deltas is at most partitions + groups rows — no static broadcast
    // hint on purpose: AQE broadcasts it at runtime from its true size,
    // and keeping the KG build free of compile-time hints lets PlanSpec
    // assert that nothing fact-proportional (claim keys!) is ever
    // hint-broadcast. Null-safe on the groups: a null group is a group.
    val on = groupCols.zip(gs).foldLeft(col("_pid") === col("_dpid")) {
      case (acc, (c, g)) => acc && (col(c) <=> col(g))
    }
    positioned.join(deltas, on)
      .select(order :+ (col("_pos") + col("_delta")).as("key"): _*)
  }

}
