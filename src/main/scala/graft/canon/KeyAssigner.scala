package graft.canon

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

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
  * cumulative offsets computed on the driver over the tiny (partition,
  * group) run vector. Every data-proportional step is distributed; the
  * only single-point data is that vector (at most partitions + groups − 1
  * rows, since a group covers a contiguous run of partitions). One cut
  * remains, for every group at once: the positioned rows feed both the
  * output and the run counts, and the two must see the same sampled range
  * boundaries (see the cut note in [[assign]]); the job that writes the
  * cut also reads the runs.
  *
  * NOT `monotonically_increasing_id()` as the key — that is
  * non-deterministic across runs/partitionings; these keys must be stable
  * for resume + P/R checks. It is used only as the position of a row in
  * its sorted, materialized partition, where it is a fact.
  */
object KeyAssigner {

  /** labels: any DataFrame with column `idCol` and the `groupCols` (other
    * cols dropped unless listed in `carry`; null ids dropped; a null group
    * value is a group of its own). Returns (groupCols…, idCol, carry…,
    * key: Long) with dense deterministic keys 1..N per group — (idCol, key)
    * when ungrouped and carrying nothing.
    *
    * Without `carry` a repeated id is one row with one key. With `carry`
    * the rows are keyed as they come, not deduplicated: the caller passes
    * unique ids, and an id that repeats takes one key per row
    * (consecutive keys, in no fixed order among its rows). */
  def assign(labels: DataFrame, idCol: String, numPartitions: Int = 0,
      groupCols: Seq[String] = Nil, carry: Seq[String] = Nil): DataFrame = {
    val order = (groupCols :+ idCol).map(col)
    val picked = labels.select(order ++ carry.map(col): _*).where(col(idCol).isNotNull)
    val unique = if (carry.isEmpty) picked.distinct() else picked
    // default: shuffle-partitions ranges that AQE may coalesce (adjacent
    // ranges merge, so the order argument below still holds)
    val ranged =
      if (numPartitions > 0) unique.repartitionByRange(numPartitions, order: _*)
      else unique.repartitionByRange(order: _*)
    // The range partitioner assigns ascending (group…, id) ranges to
    // ascending partition ids, so within a group (partition id, position
    // in the sorted partition) is the id order.
    // Cut: the positioned frame feeds BOTH the output rows and the run
    // counts below, and key correctness requires the two to see the SAME
    // range-partition boundaries and positions. Without materialization
    // that is not guaranteed — repartitionByRange SAMPLES its child, so two
    // independent executions of the subtree can pick different boundaries,
    // and offsets computed against one partitioning would be applied to
    // rows numbered under another (duplicate/skipped keys, silent). The one
    // cut of the dimension-sized id set (with its carried columns) makes
    // boundaries and positions facts, and its job reads the runs: one per
    // (partition, group), its size and first position (a partition is
    // sorted by group, so a group is one run in it).
    val positioned = ranged.sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_pos", monotonically_increasing_id())
    val (cut, runs) = Cut.materialize(positioned) { _ => rows =>
      // (group, _pid, size, first _pos) per run; _pid and _pos come last
      rows.foldLeft(Vector.empty[(Row, Int, Long, Long)]) { (acc, r) =>
        val g = Row.fromSeq(groupCols.indices.map(r.get))
        if (acc.nonEmpty && acc.last._1 == g) acc.init :+ acc.last.copy(_3 = acc.last._3 + 1)
        else acc :+ ((g, r.getInt(r.length - 2), 1L, r.getLong(r.length - 1)))
      }
    }
    // key = rows of the group in earlier partitions + (pos − first) + 1,
    // the per-group prefix sum taken on the driver over the run vector (at
    // most partitions + groups − 1 rows, since a group covers a contiguous
    // run of partitions). Row equality: a null group is a group.
    val deltas = runs.flatten.groupBy(_._1).values.flatMap { rs =>
      rs.zip(rs.scanLeft(0L)(_ + _._3)).map { case ((g, pid, _, first), before) =>
        Row.fromSeq(pid +: g.toSeq :+ (before - first + 1)) }
    }.toSeq
    val gs = groupCols.indices.map(i => s"_g$i")
    // `key` stays a nullable column, as the stage tables have it written
    val schema = StructType((StructField("_dpid", IntegerType, false) +:
      groupCols.zip(gs).map { case (c, g) => positioned.schema(c).copy(name = g) }) :+
      StructField("_delta", LongType, true))
    val on = groupCols.zip(gs).foldLeft(col("_pid") === col("_dpid")) {
      case (acc, (c, g)) => acc && (col(c) <=> col(g))
    }
    cut.join(cut.sparkSession.createDataFrame(deltas.asJava, schema), on)
      .select(order ++ carry.map(col) :+ (col("_pos") + col("_delta")).as("key"): _*)
  }

}
