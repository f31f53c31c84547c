package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Endpoint pins for the statistical-test batch (q179–q181): the exact
  * integer KS gap at its 0 and 1 extremes, and the conditional-entropy
  * endpoints (deterministic sequence → 0, uniform transitions → ln k). */
class StatTestsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ks(rows: Seq[(String, Long)]): Double = {
    import spark.implicits._
    val c = rows.toDF("t", "v").groupBy("v").agg(
      sum(when(col("t") === "a", 1L).otherwise(0L)).as("c1"),
      sum(when(col("t") === "b", 1L).otherwise(0L)).as("c2"))
    val tot = broadcast(c.agg(sum("c1").as("n1"), sum("c2").as("n2")))
    graft.operators.PrefixSum.withRunningTotals(c, "v", Seq("c1", "c2"))
      .crossJoin(tot)
      .select(col("n1"), col("n2"),
        abs(col("c1_cum") * col("n2") - col("c2_cum") * col("n1"))
          .as("gap"))
      .groupBy("n1", "n2").agg(max("gap").as("gap"))
      .select((col("gap").cast("double") /
        (col("n1") * col("n2")).cast("double")).as("d"))
      .collect()(0).getDouble(0)
  }

  test("KS statistic is exactly 0 on identical samples and 1 on disjoint ones") {
    // identical distributions, different sizes — integer gap is 0 at
    // every value, so D = 0 EXACTLY (no float CDF subtraction noise)
    val same = Seq("a" -> 1L, "a" -> 2L, "b" -> 1L, "b" -> 1L,
      "b" -> 2L, "b" -> 2L)
    assert(ks(same) === 0.0)
    // completely separated supports → D = 1 exactly
    val apart = Seq("a" -> 1L, "a" -> 2L, "b" -> 10L, "b" -> 11L)
    assert(ks(apart) === 1.0)
    // a known hand value: a={1,2}, b={2,3} → max gap at v=1: |1·2−0·2|=2
    // of n1·n2=4 → 0.5
    assert(ks(Seq("a" -> 1L, "a" -> 2L, "b" -> 2L, "b" -> 3L)) === 0.5)
  }

  test("conditional entropy rate: 0 for a deterministic cycle, ln k for uniform transitions") {
    import spark.implicits._
    import java.sql.Timestamp
    graft.functions.GraftFunctions.register(spark)
    def pln(c: org.apache.spark.sql.Column) =
      call_function("portable_ln", c)
    val ts = (i: Int) => new Timestamp(1700000000000L + i * 1000L)
    // user 1: a,b,a,b,... → next is fully determined by current → H = 0
    val cyc = (0 until 12).map(i =>
      (1L, ts(i), i.toLong, if (i % 2 == 0) "a" else "b"))
    // user 2: every other token is 'a', and from 'a' the next value
    // cycles b,c,d,e evenly (targets disjoint from 'a', so boundary
    // transitions t→a never inflate the a→a cell): 16 a-transitions at
    // uniform 4-way fan-out contribute ln 4 each; the 15 t→a returns are
    // deterministic (H = 0) and only dilute the rate
    val uni = (0 until 16).flatMap { i =>
      val tgt = Seq("b", "c", "d", "e")(i % 4)
      Seq((2L, ts(100 + 2 * i), (100 + 2 * i).toLong, "a"),
        (2L, ts(101 + 2 * i), (101 + 2 * i).toLong, tgt))
    }
    val df = (cyc ++ uni).toDF("user_id", "ts", "event_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = df
      .withColumn("nxt", lead("event_type", 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("user_id"), col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("ncn"))
    val marg = tr.groupBy("user_id", "cur").agg(sum("ncn").as("nc"))
    val got = tr.join(marg, Seq("user_id", "cur"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("cur"), col("nxt"),
          col("ncn"), col("nc")))).as("cells"),
        sum("ncn").as("n_trans"))
      .select(col("user_id"),
        (aggregate(col("cells"), lit(0.0), (acc, x) =>
          acc + x.getField("ncn").cast("double") *
            (pln(x.getField("nc").cast("double"))
              - pln(x.getField("ncn").cast("double"))))
          / col("n_trans").cast("double")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0) // every ln(nc)−ln(ncn) term is ln(x)−ln(x)
    // user 2 mixes deterministic returns (H=0 cells) with the uniform
    // a→{a,b,c,d} fan-out; the a-rows contribute ln 4 each, diluted by
    // the return transitions: H = (16·ln4 + 0) / 31
    assert(math.abs(got(2L) - 16.0 * math.log(4.0) / 31.0) < 1e-12)
  }

  test("Gini mean difference rank identity equals the naive quadratic pair sum") {
    import spark.implicits._
    val xs = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L) // duplicates included
    val w = Window.partitionBy("k").orderBy("v", "i")
    val got = xs.zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
      .toDF("k", "i", "v")
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum((lit(2L) * col("rn") - lit(1L)) * col("v")).as("rsum"),
        sum(col("v")).as("vsum"))
      .select(((lit(2L) * (col("rsum") - col("n") * col("vsum")))
        .cast("double") /
        (col("n") * (col("n") - 1)).cast("double")).as("gmd"))
      .collect()(0).getDouble(0)
    val n = xs.size
    val naive = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
      .toDouble / (n * (n - 1))
    assert(got === naive)
  }
}
