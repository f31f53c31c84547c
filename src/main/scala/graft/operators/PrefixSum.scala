package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed GLOBAL running totals — the reusable form of the
  * [[graft.pack.Packing]] / [[graft.canon.KeyAssigner]] prefix-sum shape,
  * for every "cumulative X in global order" need (CDFs, running budgets,
  * stream offsets) where `Window.orderBy` with no partition — a
  * single-partition WindowExec over data-proportional input, the exact
  * 100 TB anti-pattern — would be the naive answer:
  *
  *   1. range-partition by the order key (P = shuffle partitions);
  *   2. per-partition running sums under a PARTITION-LOCAL window;
  *   3. one O(P) sequential pass over the P per-partition totals for the
  *      cross-partition offsets (trivial at any cluster size; computed in
  *      an explicit 1-partition mapPartitions, never a driver collect),
  *      broadcast-joined back.
  *
  * The result is bit-identical to the single-partition window (integer
  * sums are associative and exact) with every data-proportional step
  * distributed.
  *
  * The order key must be GLOBALLY UNIQUE (range partitioning may split
  * ties across partition boundaries, making "running total at a tied
  * key" partitioning-dependent) — pre-aggregate to distinct keys first,
  * which is also what makes a CDF well-defined. */
object PrefixSum {

  /** Input plus one `<v>_cum` LONG column per entry of `valueCols`:
    * inclusive running totals in ascending `orderCol` order. */
  def withRunningTotals(df: DataFrame, orderCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = df
      .repartitionByRange(parts, col(orderCol))
      .withColumn("_pid", spark_partition_id())
    // Cut: the ranged frame feeds BOTH the row-level cums and the
    // per-partition totals; repartitionByRange SAMPLES its child, so two
    // independent executions could pick different boundaries (the
    // Packing/KeyAssigner boundary-stability note). Deferred: the first
    // consuming job materializes the blocks and every later consumer
    // reads them, so boundaries are still fixed exactly once with no
    // dedicated materialization job per call.
    val w = Window.partitionBy("_pid").orderBy(orderCol)
    val local = valueCols.foldLeft(ranged) { (d, v) =>
      d.withColumn(s"${v}_lcum", sum(col(v).cast("long")).over(w))
    }.transform(Cut.deferred)
    val totals = local.groupBy("_pid")
      .agg(sum(col(valueCols.head).cast("long")).as("_t0"),
        valueCols.drop(1).zipWithIndex.map { case (v, i) =>
          sum(col(v).cast("long")).as(s"_t${i + 1}")
        }: _*)
    // O(P) cross-partition offsets as a ≤ P²-pair strict-lower-pid join
    // (r06, the pathwayKeys shape): replaces the repartition(1) +
    // sortWithinPartitions + mapPartitions pass — one fewer exchange and
    // no Dataset-encoder stage, with P bounded by shuffle partitions at
    // any scale. Exclusive prefix per pid ≡ the old sequential fold
    // (integer sums, associative, exact).
    val b = totals.select(col("_pid").as("_bpid") +:
      valueCols.indices.map(i => col(s"_t$i").as(s"_bt$i")): _*)
    val offsets = totals.join(b, col("_bpid") < col("_pid"), "left")
      .groupBy("_pid")
      .agg(coalesce(sum(s"_bt0"), lit(0L)).as("_o0"),
        valueCols.indices.drop(1).map(i =>
          coalesce(sum(s"_bt$i"), lit(0L)).as(s"_o$i")): _*)
      .select(col("_pid"),
        array(valueCols.indices.map(i => col(s"_o$i")): _*).as("_offs"))
    local.join(broadcast(offsets), Seq("_pid"))
      .select(df.columns.map(col) ++ valueCols.zipWithIndex.map {
        case (v, i) =>
          (col(s"${v}_lcum") + col("_offs")(i)).as(s"${v}_cum")
      }: _*)
  }
}
