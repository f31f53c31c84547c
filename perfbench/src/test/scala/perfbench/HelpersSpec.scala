package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("percentile is nearest-rank and returns a sample") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 95) == 95.0)
    assert(Stats.percentile((1 to 200).map(_.toDouble), 95) == 190.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("tail percentile keeps at least ten samples beyond it") {
    assert(Stats.tailPercentile(1) == 50.0)
    assert(Stats.tailPercentile(25) == 50.0) // p75 leaves 6 beyond
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(99) == 75.0) // p90 leaves 9 beyond
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    for (n <- 1 to 2000) {
      val p = Stats.tailPercentile(n)
      if (p > 50) assert(n - Stats.rank(p, n) >= 10, s"n=$n p=$p")
    }
  }

  test("self time of a layer over the same input subtracts its upstream") {
    assert(Tracer.minusUpstream(3.0, 1.25) == 1.75)
    assert(Tracer.minusUpstream(1.0, 1.5) == 0.0)
  }

  test("job-group attribution: a stage counts once, for its first job") {
    val w = Counters(tasks = 4, shuffleBytes = 100, spillBytes = 7, gcMs = 30)
    val events = Seq(
      JobStarted(0, Some("extract#1"), Seq(0, 1)),
      StageDone(0, w),
      StageDone(1, w),
      JobStarted(1, Some("graph#2"), Seq(1, 2)), // stage 1 reused (skipped)
      StageDone(2, w.copy(tasks = 8)),
      JobStarted(2, None, Seq(3)), // outside any span
      StageDone(3, w),
      StageDone(9, w)) // stage of no known job
    val got = Attribution.fold(events)
    assert(got.keySet == Set("extract#1", "graph#2"))
    assert(got("extract#1") == Counters(jobs = 1, tasks = 8,
      shuffleBytes = 200, spillBytes = 14, gcMs = 60))
    assert(got("graph#2") == Counters(jobs = 1, tasks = 8,
      shuffleBytes = 100, spillBytes = 7, gcMs = 30))
    assert(got("graph#2").shuffleMb == 100 / 1048576.0)
    assert(Tracer.group("graph", 2) == "graph#2")
  }

  test("result line has exactly the four keys and full digits") {
    val line = Outcome(correct = true, attempted = 3, failed = 1,
      Seq("batch_s" -> Metric(12.345678901234, "s"),
        "ops_per_s" -> Metric(0.5, "1/s"))).line
    assert(line == """{"correct":true,"attempted":3,"failed":1,"metrics":""" +
      """{"batch_s":{"value":12.345678901234,"unit":"s"},""" +
      """"ops_per_s":{"value":0.5,"unit":"1/s"}}}""")
    assertThrows[IllegalArgumentException](Json.num(Double.NaN))
  }

  test("catalog hash renders values independent of order and time zone") {
    import org.apache.spark.sql.Row
    assert(Catalog.render(1.0 / 3) == "0.333333333")
    assert(Catalog.render(Map("b" -> 1, "a" -> 2)) == "{a->2,b->1}")
    assert(Catalog.render(Row(1L, null, Seq(2.5f))) == "(1,∅,[2.50000000])")
    val r1 = Row("x", 1.0)
    val r2 = Row("y", 2.0)
    val order = Array(1, 0)
    assert(Catalog.rowHash(r1, order) != Catalog.rowHash(r2, order))
    assert(Catalog.rowHash(r1, order) + Catalog.rowHash(r2, order) ==
      Catalog.rowHash(r2, order) + Catalog.rowHash(r1, order))
  }
}
