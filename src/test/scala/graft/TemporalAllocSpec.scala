package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the temporal/allocation/association batch
  * (q158–q162) beyond the DuckDB hash gate: hold-duration weighting and
  * the zero-span drop for TWAP, the raw-previous (not kept-previous)
  * debounce rule and its strict-gap boundary, exact budget conservation
  * and remainder tie-breaking for apportionment, a closed-form
  * assortativity value, and the NPMI endpoints (perfect attachment = 1,
  * exact independence = 0, repulsion < 0). */
class TemporalAllocSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val ts = (s: String) => Timestamp.valueOf(s)

  test("timeWeightedAvg weighs by hold duration, excludes the last event, drops zero spans") {
    import spark.implicits._
    val df = Seq(
      // key 1: 100 held 3s, then 200 held 1s, then a final obs (no dur)
      (1L, ts("2024-01-01 00:00:00"), 100L),
      (1L, ts("2024-01-01 00:00:03"), 200L),
      (1L, ts("2024-01-01 00:00:04"), 999L),
      // key 2: single event — zero span, dropped
      (2L, ts("2024-01-01 00:00:00"), 5L),
      // key 3: two events at the SAME instant — zero span, dropped
      (3L, ts("2024-01-01 00:00:00"), 1L),
      (3L, ts("2024-01-01 00:00:00"), 2L)
    ).toDF("k", "t", "v")
    val got = graft.operators.Temporal
      .timeWeightedAvg(df, col("k"), col("t"), col("v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === Set(1L))
    assert(got(1L)._1 === 3L)
    // (100·3 + 200·1) / 4 = 125 — a plain avg would say 433
    assert(got(1L)._2 === 125.0)
  }

  test("timeWeightedAvg pins exact-timestamp ties by value order") {
    import spark.implicits._
    // two values at the same instant: the tie-group's LAST in (ts, v)
    // order (the larger value) holds until the next distinct timestamp
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L),
      (1L, ts("2024-01-01 00:00:00"), 30L),
      (1L, ts("2024-01-01 00:00:02"), 0L)
    ).toDF("k", "t", "v")
    val got = graft.operators.Temporal
      .timeWeightedAvg(df, col("k"), col("t"), col("v")).collect()
    assert(got.length === 1 && got(0).getDouble(2) === 30.0)
  }

  test("debounce drops within-gap repeats against the previous RAW event, boundary is strict") {
    import spark.implicits._
    val df = Seq(
      // a storm ticking every 2s under a 5s gap: only the first survives
      // (raw-previous rule — kept-previous would keep every third tick)
      (1L, "a", 10L, ts("2024-01-01 00:00:00")),
      (1L, "a", 11L, ts("2024-01-01 00:00:02")),
      (1L, "a", 12L, ts("2024-01-01 00:00:04")),
      (1L, "a", 13L, ts("2024-01-01 00:00:06")),
      // exactly gap apart → still dropped (strictly-greater keeps)
      (2L, "a", 20L, ts("2024-01-01 00:00:00")),
      (2L, "a", 21L, ts("2024-01-01 00:00:05")),
      // gap + 1µs → kept; other key/type unaffected
      (3L, "a", 30L, ts("2024-01-01 00:00:00")),
      (3L, "a", 31L, ts("2024-01-01 00:00:05.000001")),
      (3L, "b", 32L, ts("2024-01-01 00:00:00.500000"))
    ).toDF("k", "typ", "id", "t")
    val kept = graft.operators.Temporal
      .debounce(df, Seq("k", "typ"), col("t"), col("id"),
        gapMicros = 5000000L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(10L, 20L, 30L, 31L, 32L))
  }

  test("largestRemainder conserves the budget exactly and breaks remainder ties by key") {
    import spark.implicits._
    // equal thirds of 10: base 3 each, one leftover → smallest key wins
    val eq = Seq("a" -> 1L, "b" -> 1L, "c" -> 1L).toDF("g", "w")
    val gotEq = graft.sample.Apportion
      .largestRemainder(eq, col("g"), col("w"), budget = 10L).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotEq === Map("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // skewed weights: quotas 4.55 / 2.03 / 0.42 — floor alone gives
    // 4+2+0 = 6 of 7; the one leftover goes to the largest fractional
    // remainder (.55 → a), and c honestly gets nothing
    val sk = Seq("a" -> 65L, "b" -> 29L, "c" -> 6L).toDF("g", "w")
    val gotSk = graft.sample.Apportion
      .largestRemainder(sk, col("g"), col("w"), budget = 7L).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotSk === Map("a" -> 5L, "b" -> 2L, "c" -> 0L))
    assert(gotSk.values.sum === 7L)
  }

  test("degreeAssortativity matches the closed form and returns empty on zero variance") {
    import spark.implicits._
    // path 1→2→3→4: degree pairs (1,2),(2,2),(2,1) → r = −0.5 (the
    // fixed tree reads −1/(√2·√2), one ulp off the rational value)
    val path = Seq(1 -> 2, 2 -> 3, 3 -> 4, 1 -> 2).toDF("src", "dst")
    val got = graft.graph.Assortativity.degreeAssortativity(path).collect()
    assert(got.length === 1)
    assert(got(0).getLong(0) === 3L)
    assert(math.abs(got(0).getDouble(1) + 0.5) < 1e-12)
    // perfect cycle: every degree equal → zero variance → empty, not NaN
    val cycle = Seq(1 -> 2, 2 -> 3, 3 -> 1).toDF("src", "dst")
    assert(graft.graph.Assortativity.degreeAssortativity(cycle).isEmpty)
  }

  test("NPMI hits 1.0 on perfect attachment, 0.0 on exact independence, < 0 on repulsion") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 4 docs: 1:{p,q,x,u} 2:{p,q,x,y,u} 3:{y,u,v} 4:{v}.
    //  (p,q) appear ONLY together (co=cp=cq=2, N=4) → npmi = 1 (up to
    //    one rounding of the ln sum);
    //  (x,y): co=1, cx=cy=2, N=4 → co·N = cx·cy, exact independence —
    //    and exactly 0.0 bitwise, because ln4 − ln2 − ln2 is exact in
    //    doubles (ln4's double is 2× ln2's, so each subtraction is exact);
    //  (u,v): co=1, cu=3, cv=2 → co·N < cu·cv, repulsion < 0.
    val docs = Seq(
      1 -> "p", 1 -> "q", 1 -> "x", 1 -> "u",
      2 -> "p", 2 -> "q", 2 -> "x", 2 -> "y", 2 -> "u",
      3 -> "y", 3 -> "u", 3 -> "v",
      4 -> "v")
    def npmi(presence: org.apache.spark.sql.DataFrame) = graft.quality.Npmi
      .pairAssociation(presence, maxTermsPerDoc = 10, minDf = 1, minCo = 1)
      .collect().sortBy(_.mkString("|")).toSeq
    val rows = npmi(docs.toDF("doc", "term"))
    val got = rows
      .map(r => (r.getString(r.fieldIndex("term_a")),
        r.getString(r.fieldIndex("term_b"))) ->
        r.getDouble(r.fieldIndex("npmi"))).toMap
    assert(math.abs(got(("p", "q")) - 1.0) < 1e-12)
    assert(got(("x", "y")) === 0.0)
    assert(got(("u", "v")) < 0.0)
    // Npmi registers portable_ln itself: a new session, whose function
    // registry has nothing registered, returns the same rows
    val fresh = spark.newSession()
    assert(npmi(fresh.createDataFrame(docs).toDF("doc", "term")) === rows)
  }

  test("NPMI df gate and whole-doc cap shape the kept set") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // df: a,b = 3; c,d = 2; rare = 1. The cap counts VOCAB terms, so
    // doc 3 (4 vocab terms > 3) is dropped WHOLE — its c,d co-occurrence
    // with a,b vanishes; 'rare' is df-gated before it can inflate sizes.
    val presence = Seq(
      1 -> "a", 1 -> "b", 2 -> "a", 2 -> "b",
      2 -> "rare", // df 1 — gated out by minDf = 2
      3 -> "a", 3 -> "b", 3 -> "c", 3 -> "d", // 4 vocab terms — dropped
      4 -> "c", 4 -> "d"
    ).toDF("doc", "term")
    val got = graft.quality.Npmi
      .pairAssociation(presence, maxTermsPerDoc = 3, minDf = 2, minCo = 1)
      .collect()
      .map(r => (r.getString(r.fieldIndex("term_a")),
        r.getString(r.fieldIndex("term_b"))) ->
        r.getLong(r.fieldIndex("co"))).toMap
    // kept: 1:{a,b} 2:{a,b} 4:{c,d} — (a,c)/(a,d)/(b,c)/(b,d) pairs only
    // existed via doc 3, and (c,d)'s co is 1, not 2
    assert(got === Map(("a", "b") -> 2L, ("c", "d") -> 1L))
  }
}
