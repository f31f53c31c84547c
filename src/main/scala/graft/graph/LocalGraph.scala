package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Cut

/** The size gate and driver engine shared by the iterative graph operators
  * ([[Bfs]], [[Hits]], [[KCore]], [[LabelPropagation]], [[ShortestPaths]])
  * and [[graft.canon.ConnectedComponents]].
  *
  * Each operator prepares its edge table as a Spark plan (casts, null and
  * self-loop filters, dedup, symmetrize) and hands it to [[cut]]: one job
  * cuts the lineage and, in the same pass, counts the cut and, at or below
  * [[MaxEdges]] rows, collects it. The rounds then run in plain Scala over
  * [[Adjacency]] arrays, and the result goes back as a local table, so a
  * small graph costs a fixed number of Spark jobs at any round count.
  * Above the gate the operator runs its distributed loop over the cut, so
  * the input plan still executes once.
  */
object LocalGraph {

  /** Largest prepared table, in rows, the driver engine takes. Sparse
    * graphs of this size are a few tens of MB of primitive arrays. */
  val MaxEdges: Long = 2000000L

  /** Cuts `table`'s lineage in one job ([[Cut.materialize]]) that also
    * reads each partition: it returns its row count, and its rows while
    * they fit its share of [[MaxEdges]], so the driver never holds more
    * than the gate. Returns the cut, for the distributed path, and its
    * rows when it holds at most [[MaxEdges]] rows. */
  def cut(table: DataFrame): (DataFrame, Option[Array[Row]]) = {
    val (c, parts) = Cut.materialize(table) { nParts =>
      val share = MaxEdges / math.max(1, nParts)
      it => {
        val rows = ArrayBuffer.empty[Row]
        var n = 0L
        it.foreach { r => n += 1; if (n <= share) rows += r }
        (n, Option.when(n <= share)(rows.toArray))
      }
    }
    val small =
      if (parts.map(_._1).sum > MaxEdges) None
      else if (parts.forall(_._2.isDefined)) Some(parts.flatMap(_._2.get))
      else Some(c.collect()) // small but skewed: one more read
    (c, small)
  }

  /** Collects `table` in one action when it holds at most [[MaxEdges]]
    * rows, for a side input (seeds) read once by the operator. */
  def collectSmall(table: DataFrame): Option[Array[Row]] = {
    val rows = table.limit(MaxEdges.toInt + 1).collect()
    if (rows.length <= MaxEdges) Some(rows) else None
  }

  /** Long addition as Spark's `+` and `sum` do it in `spark`: an overflow
    * throws under ANSI mode and wraps otherwise. */
  def plus(spark: SparkSession): (Long, Long) => Long =
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean) Math.addExact
    else _ + _

  /** A local table: no job until something reads it. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Directed graph over dense node indices. `ids(i)` is node i's id, in
    * ascending order; node i's out-edges are the slots
    * `off(i) until off(i + 1)`, slot s leading to node `nbr(s)` and coming
    * from input edge `edge(s)`, slots of one node in input order. */
  final class Adjacency(val ids: Array[Long], val off: Array[Int],
      val nbr: Array[Int], val edge: Array[Int]) {
    def n: Int = ids.length
    /** Node index of `id`; negative when `id` is not a node. */
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** Adjacency of the edges `src(i) → dst(i)`; the nodes are their
    * endpoints plus `extra`. */
  def adjacency(src: Array[Long], dst: Array[Long],
      extra: Array[Long] = Array.emptyLongArray): Adjacency = {
    val all = Array.concat(src, dst, extra)
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { i =>
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val off = new Array[Int](n + 1)
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    s.foreach(u => off(u + 1) += 1)
    (0 until n).foreach(u => off(u + 1) += off(u))
    val fill = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](src.length)
    val edge = new Array[Int](src.length)
    s.indices.foreach { i =>
      val slot = fill(s(i))
      nbr(slot) = java.util.Arrays.binarySearch(ids, dst(i))
      edge(slot) = i
      fill(s(i)) += 1
    }
    new Adjacency(ids, off, nbr, edge)
  }
}
