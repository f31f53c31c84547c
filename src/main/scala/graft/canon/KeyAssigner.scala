package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/** Deterministic dense key assignment: key = rank of the natural id in
  * sort order, 1..N — globally, or within each group of `groupCols`.
  *
  * Matches the reference's `_assign_keys` (sorted unique values → 1..N,
  * reference:src/kg_ae/graph/build.py:44-47), which keys each node type
  * separately; the grouped form keys every type in ONE pass instead of one
  * call per type. The key is the running row count in (group…, id) order,
  * taken by [[PrefixSum.running]] over range partitions: no
  * single-partition `Window.orderBy` bottleneck (SURVEY.md §7.4), one cut
  * for every group at once.
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
    val picked = labels.select(((groupCols :+ idCol) ++ carry).map(col): _*)
      .where(col(idCol).isNotNull)
    val unique = if (carry.isEmpty) picked.distinct() else picked
    // `key` stays a nullable column, as the stage tables have it written
    PrefixSum.running(unique, idCol, Nil, numPartitions, groupCols)
      .withColumnRenamed("_cum", "key")
  }

}
