package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stats.Disproportionality

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** planted: (d1, headache) strongly associated; background uniform */
  private lazy val pairs = {
    val strong = Seq.fill(60)(("d1", "headache"))
    val d1bg = Seq.fill(40)(("d1", "nausea"))
    val bg = (0 until 400).map(i => (s"d${2 + i % 4}", if (i % 5 == 0) "headache" else "nausea"))
    (strong ++ d1bg ++ bg).toDF("drug", "ae")
  }

  test("planted signal found; 2×2 math exact") {
    val sig = Disproportionality.signals(pairs, "drug", "ae")
      .where($"exposure" === "d1" && $"outcome" === "headache")
      .collect()
    assert(sig.length == 1)
    val r = sig.head
    val a = 60.0; val drugN = 100.0; val aeN = 140.0; val n = 500.0
    val b = drugN - a; val c = aeN - a; val dd = n - drugN - aeN + a
    assert(r.getAs[Long]("a") == 60)
    assert(math.abs(r.getAs[Double]("prr") - (a / (a + b)) / (c / (c + dd))) < 1e-12)
    assert(math.abs(r.getAs[Double]("ror") - (a * dd) / (b * c)) < 1e-12)
    val e = (a + b) * (a + c) / n
    assert(math.abs(r.getAs[Double]("chi2") - (a - e) * (a - e) / e) < 1e-12)
  }

  test("gates: low-count and null-association pairs are filtered") {
    val sig = Disproportionality.signals(pairs, "drug", "ae")
      .select("exposure", "outcome").as[(String, String)].collect().toSet
    assert(!sig.contains(("d2", "nausea"))) // prr ≈ background, not > gates
  }

  test("salted two-phase aggregation ≡ plain aggregation") {
    val plain = Disproportionality.signals(pairs, "drug", "ae")
      .select("exposure", "outcome", "a", "prr", "ror", "chi2")
      .collect().map(_.toString).sorted.toSeq
    val salted = Disproportionality.signals(pairs, "drug", "ae", saltBuckets = 8)
      .select("exposure", "outcome", "a", "prr", "ror", "chi2")
      .collect().map(_.toString).sorted.toSeq
    assert(plain == salted)
  }

  test("topKPerExposure bounds outcomes per exposure deterministically") {
    val sig = Disproportionality.signals(pairs, "drug", "ae", minA = 1)
    val topk = Disproportionality.topKPerExposure(sig, 1).collect()
    val perExposure = topk.groupBy(_.getAs[String]("exposure"))
    assert(perExposure.values.forall(_.length == 1))
  }

  test("faersSignals tool: per-exposure filter + gates + prr-desc top-k") {
    // reference get_drug_faers_signals parity: one exposure, count/prr
    // gates, sorted by PRR descending, top-k
    val rows = Disproportionality.faersSignals(pairs, "drug", "ae",
        exposure = "d1", topK = 5).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("exposure") == "d1"))
    val prrs = rows.map(_.getAs[Double]("prr")).toSeq
    assert(prrs == prrs.sorted.reverse, "sorted by PRR descending")
    // minCount gate excludes the planted 60-count pair
    val gated = Disproportionality.faersSignals(pairs, "drug", "ae",
        exposure = "d1", minCount = 61).collect()
    assert(gated.isEmpty)
    // minPrr floor excludes everything below an absurd threshold
    val floored = Disproportionality.faersSignals(pairs, "drug", "ae",
        exposure = "d1", minPrr = Some(1e9)).collect()
    assert(floored.isEmpty)
    // topK truncates deterministically
    val top1 = Disproportionality.faersSignals(pairs, "drug", "ae",
        exposure = "d1", topK = 1).collect()
    assert(top1.length == math.min(1, rows.length))
    assert(top1.head.getAs[String]("outcome") ==
      rows.head.getAs[String]("outcome"))
  }

  test("approx_percentile (the 100 TB sketch path) tracks exact percentile") {
    // q97 oracles the EXACT percentile (which buffers each group's values
    // — fine at dimension-bounded group counts, wrong at open-ended
    // ones); the mergeable GK sketch is the scale path. Pin that at
    // accuracy 10⁴ the sketch lands within 1% of the group's value RANGE
    // on a skewed distribution, so swapping it in is a measured, bounded
    // approximation — not a leap.
    val vals = ((0 until 900).map(i => ("a", (i % 300).toDouble)) ++
      (0 until 100).map(i => ("a", 1000.0 + i)) ++
      (0 until 500).map(i => ("b", math.pow(1.01, i) * 10))).toDF("g", "v")
    val got = vals.groupBy("g").agg(
      percentile(col("v"), lit(0.95)).as("exact"),
      approx_percentile(col("v"), lit(0.95), lit(10000)).as("approx"),
      (max("v") - min("v")).as("range"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    got.values.foreach { case (exact, approx, range) =>
      assert(math.abs(exact - approx) <= 0.01 * range,
        s"exact=$exact approx=$approx range=$range")
    }
  }
}
