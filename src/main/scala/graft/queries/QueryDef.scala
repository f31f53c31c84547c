package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One verifiable operator: a Spark query over the sf-dir parquet tables
  * plus (when SQL-expressible) a DuckDB oracle producing identical columns
  * and values. Column names MUST match — the driver sorts columns by name
  * and hashes values.
  */
case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

/** `t` and the fixture frames many catalog queries start from. */
object QueryDef {
  /** read a testdata table */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `(day, c)`: events per calendar day (`ts::date`). */
  def dailyEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("c"))

  /** `(x)`: the 389 nodes of the synthetic document graph,
    * `doc_id % 389`. */
  def docNodes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") % 389).as("x")).distinct()

  /** `(src, dst)`: the document graph's distinct edges, x → x²+1 and
    * x → 7x+5 (mod 389), self-loops dropped. */
  def docGraph(s: SparkSession, dir: String): DataFrame = {
    val nodes = docNodes(s, dir)
    nodes
      .select(col("x").as("src"),
        ((col("x") * col("x") + 1) % 389).as("dst"))
      .unionByName(nodes.select(col("x").as("src"),
        ((col("x") * 7 + 5) % 389).as("dst")))
      .where(col("src") =!= col("dst")).distinct()
  }

  /** `(user_id, t, died)`: each user's lifetime in days (first to last
    * event, inclusive) and whether the last event — ordered by
    * `(ts, event_id)` — is an error. */
  def lifetimes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        (datediff(max(col("ts")).cast("date"),
          min(col("ts")).cast("date")) + 1).cast("long").as("t"),
        max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("last_type"))
      .select(col("user_id"), col("t"),
        when(col("last_type") === "error", 1L).otherwise(0L)
          .as("died"))

  /** `(t, at_risk, d, c, fs)`: the Kaplan–Meier risk set per lifetime
    * `t` — deaths `d`, censored `c`, the PrefixSum at-risk count, and
    * `fs`, the sorted `(bt, bd, bar)` factor list of every death time
    * `bt ≤ t`. A time before the first death gets one all-null entry
    * (the left join's identity). */
  def kmRiskSets(s: SparkSession, dir: String): DataFrame = {
    val cells = lifetimes(s, dir).groupBy("t")
      .agg(sum("died").as("d"), sum(lit(1L) - col("died")).as("c"))
      .withColumn("n", col("d") + col("c"))
    val tot = cells.agg(sum("n").as("tot"))
    val enr = graft.operators.PrefixSum
      .withRunningTotals(cells, "t", Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("d"), col("c"),
        (col("tot") - col("n_cum") + col("n")).as("at_risk"))
    val b = enr.select(col("t").as("bt"), col("d").as("bd"),
      col("at_risk").as("bar")).where(col("bd") > 0)
    enr.join(b, col("bt") <= col("t"), "left")
      .groupBy("t", "at_risk", "d", "c")
      .agg(sort_array(collect_list(struct(col("bt"), col("bd"),
        col("bar")))).as("fs"))
  }

  /** `(g, v)`: lineitem's `A` and `R` return-flag rows, quantity as
    * BIGINT. */
  def returnFlagQuantities(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("v"))
}
