package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The one distributed global prefix: running totals (or a running row
  * count) in a global order, optionally restarting at each group, for
  * every "cumulative X in global order" need — dense keys
  * ([[graft.canon.KeyAssigner]]), stream offsets ([[graft.pack.Packing]]),
  * CDFs and running budgets. Never a single-partition `Window.orderBy`
  * over data-proportional input (SURVEY.md §7.4):
  *
  *   1. range-partition by (group…, order) and give each row its local
  *      position: its position in the sorted partition when counting, a
  *      running sum under a window over its (partition, group) run
  *      otherwise;
  *   2. cut the positioned rows once; the job that writes the cut also
  *      reads each (partition, group) run's first and last positions;
  *   3. take each group's exclusive offsets on the driver over that run
  *      vector (at most partitions + groups − 1 rows, since a group covers
  *      a contiguous run of partitions) and join them back as a local
  *      relation.
  *
  * The cut is what makes this correct: `repartitionByRange` SAMPLES its
  * child, so two executions of the subtree can pick different boundaries,
  * and offsets computed against one partitioning would be added to rows
  * positioned under another (duplicate or skipped totals, silent). Integer
  * sums are associative and exact, so the result equals the
  * single-partition window bit for bit.
  *
  * The order key must be unique within a group: range partitioning may
  * split ties across partition boundaries, making "running total at a tied
  * key" partitioning-dependent. Pre-aggregate to distinct keys first,
  * which is also what makes a CDF well-defined. */
object PrefixSum {

  /** Input plus one `<v>_cum` LONG column per entry of `valueCols`:
    * inclusive running totals in ascending `orderCol` order. */
  def withRunningTotals(df: DataFrame, orderCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    running(df, orderCol, valueCols)
  }

  /** `df` plus one inclusive running total `<v>_cum` per entry of
    * `valueCols` in ascending (`groupCols`…, `orderCol`) order, restarting
    * at each group (a null group value is a group of its own); with no
    * `valueCols`, one running row count `_cum`, 1..N per group. Ranges
    * over `numPartitions` partitions, or by default the session's shuffle
    * partitions, which adaptive execution may coalesce (adjacent ranges
    * merge, so a group still covers a contiguous run of partitions). */
  def running(df: DataFrame, orderCol: String, valueCols: Seq[String],
      numPartitions: Int = 0, groupCols: Seq[String] = Nil): DataFrame = {
    val order = (groupCols :+ orderCol).map(col)
    val ranged =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, order: _*)
      else df.repartitionByRange(order: _*)
    // The range partitioner assigns ascending (group…, order) ranges to
    // ascending partition ids, so within a group (partition id, local
    // position) is the global order. Counting, a run's positions are
    // consecutive in its sorted partition; summing, the window restarts at
    // each run, so its base is 0.
    val counting = valueCols.isEmpty
    val names = if (counting) Seq("") else valueCols
    val positioned =
      if (counting) ranged.sortWithinPartitions(order: _*)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_pos", monotonically_increasing_id())
      else {
        val w = Window.partitionBy(col("_pid") +: groupCols.map(col): _*)
          .orderBy(orderCol)
        valueCols.foldLeft(ranged.withColumn("_pid", spark_partition_id())) { (d, v) =>
          d.withColumn(s"_pos$v", sum(col(v).cast("long")).over(w)) }
      }
    val schema = positioned.schema
    val gi = groupCols.map(schema.fieldIndex)
    val pi = schema.fieldIndex("_pid")
    val li = names.map(v => schema.fieldIndex(s"_pos$v"))
    // one Run per (partition, group): a partition is sorted by group, so a
    // group is one run in it (summing, a partition may hold several _pids)
    val (cut, runs) = Cut.materialize(positioned) { _ => rows =>
      rows.foldLeft(Vector.empty[Run]) { (acc, r) =>
        val g = Row.fromSeq(gi.map(r.get))
        val at = li.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
        val pid = r.getInt(pi)
        if (acc.nonEmpty && acc.last.pid == pid && acc.last.g == g)
          acc.init :+ acc.last.copy(last = at)
        else acc :+ Run(g, pid, if (counting) at.map(_ - 1) else at.map(_ => 0L), at)
      }
    }
    // per group, in partition order: running value = position − base +
    // the group's total in earlier partitions. Row equality: a null group
    // is a group.
    val deltas = runs.flatten.groupBy(_.g).values.flatMap { rs =>
      val sorted = rs.sortBy(_.pid)
      val before = sorted.scanLeft(names.map(_ => 0L)) { (acc, r) =>
        acc.lazyZip(r.last).lazyZip(r.base).map(_ + _ - _) }
      sorted.zip(before).map { case (r, b) =>
        Row.fromSeq((r.pid +: r.g.toSeq) ++ b.lazyZip(r.base).map(_ - _)) }
    }.toSeq
    val gs = groupCols.indices.map(i => s"_g$i")
    // the totals stay nullable columns, as the window sums are
    val deltaSchema = StructType((StructField("_dpid", IntegerType, false) +:
      groupCols.zip(gs).map { case (c, g) => schema(c).copy(name = g) }) ++
      names.map(v => StructField(s"_delta$v", LongType, true)))
    val on = groupCols.zip(gs).foldLeft(col("_pid") === col("_dpid")) {
      case (acc, (c, g)) => acc && (col(c) <=> col(g))
    }
    cut.join(cut.sparkSession.createDataFrame(deltas.asJava, deltaSchema), on)
      .select(df.columns.map(col) ++ names.map(v =>
        (col(s"_pos$v") + col(s"_delta$v")).as(s"${v}_cum")): _*)
  }

  /** A (partition, group) run: the base its local positions count from
    * and its last positions, one per value (one when counting). */
  private final case class Run(g: Row, pid: Int, base: Seq[Long], last: Seq[Long])
}
