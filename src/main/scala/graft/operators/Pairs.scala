package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ascending pairs: the co-occurrence count of every pair of elements that
  * share a list, the engine's one pair expansion (DDI-style shared targets,
  * basket co-occurrence, shared neighbours, shared shingles).
  *
  * Contract: each input list is sorted and duplicate-free (a
  * `sort_array(collect_set(…))` or a `sort_array(collect_list(…))` over
  * distinct rows). Element i then pairs with every later element, so the
  * rows entering the pair aggregate are exactly those of the self-join
  * `a.key = b.key AND a.item < b.item` over the exploded lists, in Spark's
  * own sort order (binary for strings), and `a < b` in every output row.
  *
  * Two chained Generates (`posexplode`, then `explode` over the ascending
  * tail) run inside whole-stage codegen; a nested `transform`/`flatten`
  * HOF would fall back to the interpreted evaluator (`CodegenFallback`)
  * and build an array of arrays per row. The expansion adds no exchange:
  * the only shuffle is the pair aggregate's, with map-side partials.
  *
  * The expansion multiplies work, not bytes. AQE sizes the upstream
  * exchange by bytes and would run the explode on a few coalesced
  * partitions, so callers with large lists spread them first
  * ([[Spread.orderFree]]). */
object Pairs {

  /** The elements of `list` after 0-based position `i` (`posexplode`'s
    * numbering). */
  def tail(list: Column, i: Column): Column = slice(list, i + lit(2), size(list))

  /** One row per pair (`a`, `b`) with `a < b` co-occurring in at least one
    * of the sorted lists in column `list`, with `n` the number of lists
    * holding both. Each `payload` entry (column, name) carries a column of
    * the list's row into its pairs and collects it per pair, sorted, under
    * `name`, so a fold over it has one fixed order. */
  def apply(lists: DataFrame, list: String, a: String, b: String, n: String,
      payload: (String, String)*): DataFrame = {
    val carried = payload.map { case (c, _) => col(c) }
    lists
      .select(col(list) +: carried :+
        posexplode(col(list)).as(Seq("_i", a)): _*)
      .select(col(a) +: carried :+
        explode(tail(col(list), col("_i"))).as(b): _*)
      .groupBy(col(a), col(b))
      .agg(count(lit(1)).as(n), payload.map { case (c, as) =>
        sort_array(collect_list(col(c))).as(as) }: _*)
  }
}
