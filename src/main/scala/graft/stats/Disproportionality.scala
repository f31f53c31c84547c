package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** FAERS-style co-occurrence disproportionality statistics (2×2 PRR / ROR /
  * chi²) over (report, exposure, outcome) data.
  *
  * Reference semantics: the single-pass dict accumulation + signal math in
  * reference:src/kg_ae/datasets/faers/parse.py:58-199 — pair counts `a`,
  * margins per drug / per AE, total N, then
  *   b = drug−a, c = ae−a, d = N−a−b−c,
  *   PRR = (a/(a+b)) / (c/(c+d)),  ROR = (a·d)/(b·c),
  *   chi² = (a−E)²/E · N²/((a+b)(a+c)(c+d)(b+d))-free form: Σ (obs−exp)²/exp
  *   (the reference uses E = (a+b)(a+c)/N and (a−E)²/E),
  * with gates a≥3, PRR>1, chi²>3.84, b,c,d>0 and top-K outcomes per
  * exposure by chi² (parse.py:164-208).
  *
  * Spark shape (SURVEY A6/A7): ONE scan of the fact table. The pair
  * aggregation is the only fact-sized work; the exposure margin, outcome
  * margin and total N are all derivable FROM the pair-count aggregate
  * (exposure_n = Σ over outcomes of a, n = Σ a), so they re-aggregate the
  * distinct-pair-sized cut instead of rescanning facts (PlanSpec asserts
  * the sharing). N joins in as a 1-row aggregate cross-join (the
  * Linker.idf pattern), NOT a driver-side `count()`. Hot-key skew on the
  * PAIR aggregation is handled natively by Spark's partial aggregation;
  * the optional `saltBuckets` two-phase path demonstrates explicit salting
  * for extreme skew (SURVEY.md §7.4): stage 1 groups on (exposure,
  * outcome, salt) — spreading one hot pair over `saltBuckets` reducers —
  * stage 2 sums the partials.
  */
object Disproportionality {

  /** pairs: DataFrame with columns (exposure, outcome), one row per
    * co-occurrence event (already distinct per report if desired).
    * Returns per-(exposure, outcome): a, exposure_n, outcome_n, n, prr,
    * ror, chi2 — gated like the reference. */
  def signals(pairs: DataFrame, exposureCol: String, outcomeCol: String,
      minA: Long = 3, saltBuckets: Int = 0): DataFrame = {
    val e = col(exposureCol)
    val o = col(outcomeCol)

    val a =
      if (saltBuckets <= 1) {
        pairs.groupBy(e.as("exposure"), o.as("outcome"))
          .agg(count(lit(1)).as("a"))
      } else {
        // explicit two-phase salted aggregation for extreme hot pairs; the
        // per-row salt spreads one hot (exposure, outcome) over saltBuckets
        // reducers — final sums are salt-invariant, so determinism holds.
        // Salt = spark_partition_id(), NOT monotonically_increasing_id():
        // a grouping key must be stable under task retries, and the
        // partition id is (the row-index counter inside mii is not).
        pairs
          .groupBy(e.as("exposure"), o.as("outcome"),
            pmod(spark_partition_id().cast("long"),
              lit(saltBuckets.toLong)).as("_salt"))
          .agg(count(lit(1)).as("_partial"))
          .groupBy(col("exposure"), col("outcome"))
          .agg(sum("_partial").as("a"))
      }
    // margins + N derive from the pair-count aggregate itself (every fact
    // row lands in exactly one (exposure, outcome) cell, so the exposure
    // margin = Σ over outcomes of a): distinct-pair-sized re-aggregations,
    // never a second fact scan. The aggregate is cut because its four
    // consumers are NOT identical subplans (each join pushes a different
    // isnotnull() into its branch, defeating exchange reuse): uncut, the
    // FACT TABLE would be scanned four times. The cut is distinct-pair-
    // sized (≤ vocabulary², ≪ facts). N is a 1-row aggregate cross-joined
    // into the plan — no driver-side count().
    val ac = Cut.large(a)
    val em = ac.groupBy(col("exposure")).agg(sum("a").as("exposure_n"))
    val om = ac.groupBy(col("outcome")).agg(sum("a").as("outcome_n"))
    val nRow = ac.agg(sum("a").as("n"))

    // no static broadcast hints on the margin joins: margins are
    // vocabulary-proportional, and an open web-scale exposure vocabulary
    // can exceed broadcast limits. AQE converts to broadcast at runtime
    // when a margin actually fits (same policy as GraphBuilder /
    // KeyAssigner; PlanSpec pins the absence of compile-time hints). The
    // 1-row N side always broadcasts at runtime.
    val joined = ac
      .join(em, "exposure")
      .join(om, "outcome")
      .crossJoin(nRow)
    withStats(joined, minA)
  }

  /** 2×2 stats + gates on a frame carrying (a, exposure_n, outcome_n, n). */
  def withStats(joined: DataFrame, minA: Long = 3): DataFrame = {
    val a = col("a").cast("double")
    val b = (col("exposure_n") - col("a")).cast("double")
    val c = (col("outcome_n") - col("a")).cast("double")
    val d = (col("n") - col("exposure_n") - col("outcome_n") + col("a")).cast("double")
    val expct = (a + b) * (a + c) / col("n").cast("double")
    joined
      .withColumn("b", b).withColumn("c", c).withColumn("d", d)
      .where(col("b") > 0 && col("c") > 0 && col("d") > 0 && col("a") >= minA)
      .withColumn("prr", (a / (a + b)) / (col("c") / (col("c") + col("d"))))
      .withColumn("ror", (a * col("d")) / (col("b") * col("c")))
      .withColumn("chi2",
        (a - expct) * (a - expct) / expct)
      .where(col("prr") > 1.0 && col("chi2") > 3.84)
  }

  /** Top-K outcomes per exposure by chi² (reference parse.py:203-208) —
    * the canonical window top-k; ties broken deterministically. */
  def topKPerExposure(signals: DataFrame, k: Int = 100): DataFrame = {
    val w = Window.partitionBy(col("exposure"))
      .orderBy(col("chi2").desc, col("outcome").asc)
    signals.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Named per-exposure signal tool — 1:1 with the reference's
    * `get_drug_faers_signals(drug_key, top_k, min_count, min_prr)`
    * (reference:src/kg_ae/tools/adverse_events.py:179-216): the standard
    * build-time gates (a ≥ 3, PRR > 1, chi² > 3.84 — parse.py:164-199)
    * from [[signals]], then the tool's own filters — one exposure,
    * count ≥ `minCount`, optional PRR floor — sorted by PRR descending
    * (the reference's `results.sort(key=prr, reverse=True)`), top `topK`.
    * The outcome tie-break makes the limit a total order within the
    * exposure, so the selected SET is deterministic.
    *
    * The exposure filter sits ABOVE the aggregation on purpose: the 2×2
    * margins (exposure_n, outcome_n, N) are corpus-global, so pushing the
    * predicate below the groupBy would change the statistics. In a real
    * deployment the signals table is materialized once (it is
    * vocabulary²-bounded, ≪ facts) and this tool is a pruned point read
    * over it — exactly how the reference serves it from edge meta. */
  def faersSignals(pairs: DataFrame, exposureCol: String, outcomeCol: String,
      exposure: String, topK: Int = 200, minCount: Long = 1,
      minPrr: Option[Double] = None): DataFrame = {
    val gated = signals(pairs, exposureCol, outcomeCol)
      .where(col("exposure") === exposure && col("a") >= minCount)
    minPrr.fold(gated)(p => gated.where(col("prr") >= p))
      .orderBy(col("prr").desc, col("outcome").asc)
      .limit(topK)
  }
}
