package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case invariants for the inference batch (q213–q245) that the
  * sf-fixture DuckDB gate can't reach: degenerate groups (zero rank
  * variance, zero MAD, empty comparison bins), statistic bounds, the
  * two-group Kruskal-Wallis ↔ Mann-Whitney identity, and raking margin
  * closure. Fixtures are tiny constructed parquet dirs with exactly the
  * columns each query reads.
  */
class InferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(tables: (String, DataFrame)*): String = {
    val dir = TestSpark.scratch("graft_inf_fix").toString
    tables.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n.parquet") }
    dir
  }

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  test("q213: all-tied x in a nation yields NaN tau, mixed nation stays in [-1,1]") {
    import spark.implicits._
    // nation 1: every order 1-URGENT (x constant → n0 == n1 → NaN);
    // nation 2: perfectly concordant priorities/statuses → tau > 0
    val orders = Seq(
      (1L, 10L, "F", "1-URGENT"), (2L, 10L, "O", "1-URGENT"),
      (3L, 11L, "P", "1-URGENT"), (4L, 11L, "F", "1-URGENT"),
      (5L, 20L, "F", "1-URGENT"), (6L, 20L, "O", "3-MEDIUM"),
      (7L, 21L, "P", "5-LOW"), (8L, 21L, "F", "1-URGENT"),
      (9L, 22L, "O", "3-MEDIUM"), (10L, 22L, "P", "5-LOW"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
    val customer = Seq((10L, 1), (11L, 1), (20L, 2), (21L, 2), (22L, 2))
      .toDF("c_custkey", "c_nationkey")
    val dir = fixture("orders" -> orders, "customer" -> customer)
    val rows = q("q213_kendall_tau", dir)
      .select("nk", "tau_b").as[(Int, Double)].collect().toMap
    assert(rows(1).isNaN, s"constant-x nation should be NaN: ${rows(1)}")
    assert(!rows(2).isNaN && rows(2) > 0.0 && rows(2) <= 1.0, rows(2))
  }

  test("q216: comparison population missing from bins → zero_bins counted, psi finite") {
    import spark.implicits._
    // reference F spans 1..100; comparison O sits entirely in the top
    // decile band → at least 8 empty comparison bins, psi still finite
    val f = (1 to 100).map(i => (i.toLong, "F", i.toDouble))
    val o = (1 to 20).map(i => (1000L + i, "O", 95.0 + i / 100.0))
    val orders = (f ++ o)
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val dir = fixture("orders" -> orders)
    val out = q("q216_psi", dir)
      .select("zero_bins", "psi").distinct().as[(Long, Double)]
      .collect()
    assert(out.length === 1)
    val (zb, psi) = out.head
    assert(zb >= 8L, s"expected ≥8 empty comparison bins, got $zb")
    assert(!psi.isNaN && !psi.isInfinite, s"psi must stay finite: $psi")
  }

  test("q235: MAD = 0 clips every deviation → huber == median") {
    import spark.implicits._
    // >50% of group A at value 7 → median 7, MAD 0 → ψ ≡ 0
    val li = (Seq.fill(6)(7.0) ++ Seq(1.0, 2.0, 40.0, 50.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, i, "A", v) }
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val dir = fixture("lineitem" -> li)
    val row = q("q235_huber_location", dir)
      .select("median", "mad", "huber").as[(Double, Double, Double)]
      .collect().head
    assert(row._1 === 7.0 && row._2 === 0.0, row)
    assert(row._3 === row._1,
      s"zero MAD must leave the estimate at the median: $row")
  }

  test("q224: p-value within [1/(P+1), 1] and extreme count within [0, P]") {
    import spark.implicits._
    val li = (1 to 40).map(i =>
      (i.toLong, i, if (i % 2 == 0) "R" else "A", (i % 7 + 1).toDouble))
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val dir = fixture("lineitem" -> li)
    val row = q("q224_permutation_test", dir)
      .select("nperm", "n_extreme", "p_value")
      .as[(Long, Long, Double)].collect().head
    val (p, ext, pv) = row
    assert(ext >= 0L && ext <= p, row)
    assert(pv >= 1.0 / (p + 1) && pv <= 1.0, row)
  }

  test("q220 two-group H equals q214 z² (tie-corrected rank identity)") {
    import spark.implicits._
    // events restricted to exactly the two q214 types — the KW H with
    // k=2 must equal the squared MWU z, both tie-corrected
    val ev = ((1 to 30).map(i =>
      (i.toLong, "click", (i % 5 + 1).toDouble)) ++
      (1 to 25).map(i => (100L + i, "purchase", (i % 7 + 2).toDouble)))
      .toDF("event_id", "event_type", "value")
    val dir = fixture("events" -> ev)
    val h = q("q220_kruskal_wallis", dir)
      .select("h_adj").distinct().as[Double].collect().head
    val z = q("q214_mann_whitney", dir)
      .select("z").as[Double].collect().head
    assert(math.abs(h - z * z) < 1e-9, s"H=$h z^2=${z * z}")
  }

  test("q247: a constructed textbook paradox trips the flag; aligned strata don't") {
    import spark.implicits._
    // nation 1: treated 2/2 F vs control 4/5 F (treated better);
    // nation 2: treated 1/5 F vs control 0/1 F (treated better);
    // pooled: treated 3/7 vs control 4/6 — REVERSED (ad−bc = −10)
    def orderRows(nk: Int, treatedF: Int, treatedNF: Int, controlF: Int,
        controlNF: Int, base: Long) = {
      val ck = 100L + nk
      (Seq.fill(treatedF)(("1-URGENT", "F")) ++
        Seq.fill(treatedNF)(("1-URGENT", "O")) ++
        Seq.fill(controlF)(("3-MEDIUM", "F")) ++
        Seq.fill(controlNF)(("3-MEDIUM", "O")))
        .zipWithIndex.map { case ((pr, st), i) =>
          (base + i, ck, st, pr) }
    }
    val orders = (orderRows(1, 2, 0, 4, 1, 0L) ++
      orderRows(2, 1, 4, 0, 1, 100L))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
    val customer = Seq((101L, 1, "SEG"), (102L, 2, "SEG"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val nation = Seq((1, 0), (2, 0)).toDF("n_nationkey", "n_regionkey")
    val dir = fixture("orders" -> orders, "customer" -> customer,
      "nation" -> nation)
    val flags = q("q247_simpson_detector", dir)
      .select("stratifier", "simpson_flag", "pooled_sign")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(flags("nation") === ((1L, -1L)),
      s"engineered reversal must flag: $flags")
    // one region / one segment → the single stratum IS the pool → no flag
    assert(flags("region")._1 === 0L && flags("segment")._1 === 0L,
      flags.toString)
  }

  test("q231: Murphy identity brier = rel − res + unc holds on sf data") {
    import spark.implicits._
    val row = q("q231_brier_decomposition", "/root/testdata/sf0.001")
      .select("brier", "rel", "res", "unc").distinct()
      .as[(Double, Double, Double, Double)].collect().head
    val (brier, rel, res, unc) = row
    assert(math.abs(brier - (rel - res + unc)) < 1e-12, row)
  }

  test("q243: Lorenz shares are monotone, below the diagonal, and end at 1") {
    import spark.implicits._
    val pts = q("q243_lorenz_table", "/root/testdata/sf0.001")
      .select("k", "p", "share").as[(Long, Double, Double)].collect()
      .sortBy(_._1)
    assert(pts.map(_._1).toSeq === (1L to 10L))
    pts.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"share must be nondecreasing: $a $b") }
    pts.foreach { case (_, p, sh) =>
      assert(sh <= p + 1e-12, s"Lorenz must sit under the diagonal") }
    assert(pts.last._3 === 1.0, pts.last)
  }

  test("q249: BH ranks are a permutation of 1..m and rejections are a prefix") {
    import spark.implicits._
    val rows = q("q249_bh_fdr", "/root/testdata/sf0.001")
      .select("rank", "m", "kstar", "rejected")
      .as[(Long, Long, Long, Long)].collect()
    val m = rows.head._2
    assert(rows.map(_._1).sorted.toSeq === (1L to m))
    rows.foreach { case (rank, _, kstar, rej) =>
      assert(rej === (if (rank <= kstar) 1L else 0L)) }
  }

  test("q242: column margins close exactly after the column pass, row error bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val orders = (1 to 400).map { i =>
      (i.toLong, s"${rnd.nextInt(3) + 1}-P", Seq("F", "O", "P")(rnd.nextInt(3)))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val dir = fixture("orders" -> orders)
    val out = q("q242_raking", dir).cache()
    try {
      val colClose = out.groupBy("j").agg(sum("w2").as("got"))
        .join(orders.where(col("o_orderkey") % 2 === 0)
          .groupBy(col("o_orderstatus").as("j"))
          .agg(count(lit(1)).cast("double").as("want")), Seq("j"))
        .select(max(abs(col("got") - col("want")))).as[Double]
        .collect().head
      assert(colClose < 1e-9, s"column margins must close: $colClose")
      val maxRowErr = out.select(max("row_err")).as[Double]
        .collect().head
      assert(maxRowErr < 0.25, s"2-round IPF row error too large: $maxRowErr")
    } finally out.unpersist()
  }

  test("q253: zero discordance → NaN chi², never a divide error") {
    import spark.implicits._
    // Pure-Spanish corpus labelled 'es': the full lang-ID says es
    // (pa=0 vs y=0 → right) and the naive any-English-stopword rule
    // finds nothing (pb=0 → right), so both classifiers are correct on
    // every doc → b = c = 0 and the χ² guard must yield NaN, not an
    // ANSI divide error.
    val docs = Seq.tabulate(8)(i =>
      (s"d$i", s"el perro y la casa de que en los del $i", "es"))
      .toDF("doc_id", "text", "lang")
    val dir = fixture("documents" -> docs)
    val r = q("q253_mcnemar", dir)
      .select("n", "b", "c", "acc_a", "acc_b", "chi2_mcnemar")
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    assert(r._1 == 8L && r._2 == 0L && r._3 == 0L, r)
    assert(r._4 == 1.0 && r._5 == 1.0, r)
    assert(r._6.isNaN, s"b+c=0 must guard to NaN: ${r._6}")
    // Discordant corpus: Spanish docs containing the English stopword
    // "a" fool the naive rule (pb=1, wrong) while the full lang-ID
    // still reads es (right) → each lands in cell b. Four such docs
    // plus four pure-Spanish concordant docs → b=4, c=0, χ²=(4−0)²/4=4.
    val mixed = Seq.tabulate(4)(i =>
      (s"m$i", s"el perro va a la casa de que en los del $i", "es"))
    val pure = Seq.tabulate(4)(i =>
      (s"p$i", s"el gato y la mesa de que en los del $i", "es"))
    val dir2 = fixture("documents" ->
      (mixed ++ pure).toDF("doc_id", "text", "lang"))
    val r2 = q("q253_mcnemar", dir2)
      .select("b", "c", "chi2_mcnemar")
      .as[(Long, Long, Double)].collect().head
    assert(r2._1 == 4L && r2._2 == 0L, r2)
    assert(r2._3 == 4.0, s"chi2 must be (4-0)^2/4 = 4: ${r2._3}")
  }

  test("q254: mirrored covariates → SMD exactly 0; zero-variance → NaN") {
    import spark.implicits._
    // Urgent orders {1,2} mirror non-urgent {3,4} line-for-line, so
    // both groups have identical moments: the SMD numerator is an
    // exact double 0 and variances are positive → smd == 0.0 for both
    // covariates.
    val orders = Seq((1L, "1-URGENT"), (2L, "1-URGENT"),
      (3L, "3-MEDIUM"), (4L, "5-LOW"))
      .toDF("o_orderkey", "o_orderpriority")
    val lines = Seq((1L, 5), (1L, 7), (2L, 11),
      (3L, 5), (3L, 7), (4L, 11))
      .toDF("l_orderkey", "l_quantity")
    val dir = fixture("orders" -> orders, "lineitem" -> lines)
    val smds = q("q254_smd_balance", dir)
      .select("covariate", "smd").as[(String, Double)].collect().toMap
    assert(smds("nlines") == 0.0 && smds("totqty") == 0.0, smds)
    // Every order exactly one 10-qty line: both group variances are 0
    // and means equal → 0/√0 must be guarded to NaN, never the ANSI
    // DIVIDE_BY_ZERO this pin originally caught LIVE (Spark 4 ANSI
    // traps /0 on doubles too, unlike IEEE).
    val lines2 = Seq((1L, 10), (2L, 10), (3L, 10), (4L, 10))
      .toDF("l_orderkey", "l_quantity")
    val dir2 = fixture("orders" -> orders, "lineitem" -> lines2)
    val smds2 = q("q254_smd_balance", dir2)
      .select("covariate", "smd").as[(String, Double)].collect().toMap
    assert(smds2("nlines").isNaN && smds2("totqty").isNaN, smds2)
    // Zero variance but DIFFERENT means (urgent all qty 10, others all
    // qty 25): nlines still degenerates to NaN (equal means) while
    // totqty takes the signed-infinity branch — the IEEE x/0 value,
    // again without tripping ANSI.
    val lines3 = Seq((1L, 10), (2L, 10), (3L, 25), (4L, 25))
      .toDF("l_orderkey", "l_quantity")
    val dir3 = fixture("orders" -> orders, "lineitem" -> lines3)
    val smds3 = q("q254_smd_balance", dir3)
      .select("covariate", "smd").as[(String, Double)].collect().toMap
    assert(smds3("nlines").isNaN, smds3)
    assert(smds3("totqty").isNegInfinity, smds3)
  }

  test("q255: v0 is the global rate and φ₁+φ₂ = v₁₂−v₀ in every cell") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val customer = (1 to 40).map(i => (i.toLong,
      if (i % 2 == 0) "BUILDING" else "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = (1 to 400).map { i =>
      (i.toLong, (i % 40 + 1).toLong,
        if (rnd.nextInt(3) == 0) "1-URGENT" else "3-MEDIUM",
        if (rnd.nextInt(2) == 0) "F" else "O")
    }.toDF("o_orderkey", "o_custkey", "o_orderpriority",
      "o_orderstatus")
    val dir = fixture("orders" -> orders, "customer" -> customer)
    val rows = q("q255_shapley", dir)
      .select("n", "v0", "v12", "phi1", "phi2")
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(rows.length == 4, rows.length)
    val v0s = rows.map(_._2).distinct
    assert(v0s.length == 1, s"v0 must be constant: ${v0s.toSeq}")
    // v0 really is the pooled rate: Σ n·v12 / Σ n reconstructs it
    // (v12 = sy/n per cell, so the weighted sum telescopes to Σy/N).
    val pooled = rows.map(r => r._1 * r._3).sum / rows.map(_._1).sum
    assert(math.abs(pooled - v0s.head) < 1e-12,
      s"v0 ${v0s.head} != pooled $pooled")
    // Efficiency: the two attributions must jointly explain exactly
    // the cell's lift over the global rate (closed-form, so the
    // identity holds to a few ulps, not just statistically).
    rows.foreach { case (_, v0, v12, p1, p2) =>
      assert(math.abs((p1 + p2) - (v12 - v0)) < 1e-12,
        s"efficiency identity broken: $p1 + $p2 vs ${v12 - v0}")
    }
  }

  test("q256: mirrored arms give O1 = E1 exactly → chi2 = 0") {
    import spark.implicits._
    import java.sql.Timestamp
    // Find user ids landing in each md5 arm, then build PAIRED users:
    // for every lifetime/death profile one user in arm 0 and one in arm
    // 1. Every death time then has n1 = n0 and d1 = dt/2, so
    // E1 = Σ dt·(1/2) = O1 with /2 exact in IEEE → chi2 exactly 0.0.
    def bucket(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val arm = (1L to 200L).groupBy(bucket)
    val a0 = arm(0L).take(3).toIndexedSeq
    val a1 = arm(1L).take(3).toIndexedSeq
    def ts(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    def user(u: Long, span: Int, died: Boolean) = Seq(
      (u * 10 + 1, ts(1), u, "view", 0.0, "{}"),
      (u * 10 + 2, ts(span), u, if (died) "error" else "view", 0.0, "{}"))
    val rows = (
      user(a0(0), 3, died = true) ++ user(a1(0), 3, died = true) ++
      user(a0(1), 5, died = true) ++ user(a1(1), 5, died = true) ++
      user(a0(2), 5, died = false) ++ user(a1(2), 5, died = false))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixture("events" -> rows)
    val r = q("q256_logrank", dir)
      .select("o1", "e1", "v", "chi2_logrank")
      .as[(Long, Double, Double, Double)].collect().head
    assert(r._1.toDouble == r._2, s"mirrored arms must have O1=E1: $r")
    assert(r._4 == 0.0, s"chi2 must be exactly 0: $r")
  }

  test("q257: two identical items plus a constant → alpha exactly 0.75") {
    import spark.implicits._
    // Punctuation-only docs "." × k: chars x1 = k and punct count
    // x2 = k are IDENTICAL items, stopword hits x3 ≡ 0 is constant.
    // Then SS₁ = SS₂ = SS, SS₃ = 0, and the total T = 2k has
    // SS_T = 4·SS, so α = 1.5·(1 − 2SS/4SS) = 0.75 — exact in IEEE
    // because every term is an integer-valued double and 2/4 is a
    // power-of-two ratio. Also pins that a zero-variance item neither
    // NaNs nor crashes the statistic.
    val docs = Seq.tabulate(6)(i => (i.toLong, "." * (i + 1), "en"))
      .toDF("doc_id", "text", "lang")
    val dir = fixture("documents" -> docs)
    val r = q("q257_cronbach", dir)
      .select("ss3", "alpha").as[(Double, Double)].collect().head
    assert(r._1 == 0.0, s"stopword item must be constant-zero: $r")
    assert(r._2 == 0.75, s"two equal items + one constant: α = 0.75: $r")
  }

  test("q258: diagonal 2×2 → V = 1; independent table → V = 0") {
    import spark.implicits._
    val diag = ((1 to 10).map(i => (i.toLong, "1-URGENT", "F")) ++
      (11 to 20).map(i => (i.toLong, "5-LOW", "O")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val d1 = fixture("orders" -> diag)
    val r1 = q("q258_cramers_v", d1)
      .select("chi2", "v", "v_corrected")
      .as[(Double, Double, Double)].collect().head
    assert(r1._2 == 1.0, s"perfect association must give V=1: $r1")
    // Independence: every (priority, status) cell has the same count →
    // every observed == expected exactly → chi2 = 0, V = 0, and the
    // bias-corrected variant clamps at 0 (not negative, not NaN).
    val indep = (0 until 40).map { i =>
      (i.toLong, Seq("1-URGENT", "5-LOW")(i % 2), Seq("F", "O")(i / 2 % 2))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val d2 = fixture("orders" -> indep)
    val r2 = q("q258_cramers_v", d2)
      .select("chi2", "v", "v_corrected")
      .as[(Double, Double, Double)].collect().head
    assert(r2._1 == 0.0 && r2._2 == 0.0 && r2._3 == 0.0, s"$r2")
  }

  test("q259: perfectly calibrated eval → chi2 = 0; degenerate p̂ excluded") {
    import spark.implicits._
    // Group A: train rate 1/2 and the eval half reproduces it exactly
    // (O = m·p̂) → its HL term is exactly 0. Group B: train is ALL
    // finished (p̂ = 1) → the term denominator e_g(1−p̂) would be 0, so
    // the group must be EXCLUDED via the usable guard, not trip ANSI.
    val a = Seq(
      (1L, "1-URGENT", "F"), (3L, "1-URGENT", "O"),
      (2L, "1-URGENT", "F"), (4L, "1-URGENT", "O"))
    val b = Seq(
      (5L, "5-LOW", "F"), (7L, "5-LOW", "F"),
      (6L, "5-LOW", "F"), (8L, "5-LOW", "O"))
    val orders = (a ++ b)
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val dir = fixture("orders" -> orders)
    val rows = q("q259_hosmer_lemeshow", dir)
      .select("g", "term", "g_used", "chi2_hl")
      .as[(String, Double, Long, Double)].collect()
    val byG = rows.map(r => r._1 -> r._2).toMap
    assert(byG("1-URGENT") == 0.0, s"calibrated group term: $byG")
    assert(byG("5-LOW") == 0.0, s"excluded group contributes 0: $byG")
    assert(rows.head._3 == 1L, s"only group A usable: ${rows.head}")
    assert(rows.head._4 == 0.0, s"chi2 must be exactly 0: ${rows.head}")
  }

  test("q260: Somers' D equals brute-force (C−D)/(C+D+X0) and 2·AUC−1") {
    import spark.implicits._
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")
    val rnd = new scala.util.Random(23)
    val data = (1 to 300).map { i =>
      (i.toLong, prio(rnd.nextInt(5)),
        if (rnd.nextInt(3) == 0) "F" else "O")
    }
    val dir = fixture("orders" ->
      data.toDF("o_orderkey", "o_orderpriority", "o_orderstatus"))
    val r = q("q260_somers_d", dir)
      .select("nc", "nd", "x0", "somers_d")
      .as[(Long, Long, Long, Double)].collect().head
    // brute force over all unordered row pairs
    val xs = data.map(t => (t._2, if (t._3 == "F") 1 else 0))
    var c = 0L; var dd = 0L; var x0 = 0L
    for (i <- xs.indices; k <- i + 1 until xs.size) {
      val (xi, yi) = xs(i); val (xk, yk) = xs(k)
      if (xi != xk && yi != yk) {
        if ((xi < xk) == (yi < yk)) c += 1 else dd += 1
      } else if (xi == xk && yi != yk) x0 += 1
    }
    assert((r._1, r._2, r._3) == ((c, dd, x0)),
      s"cells ${(r._1, r._2, r._3)} vs brute ${(c, dd, x0)}")
    assert(r._4 == (c - dd).toDouble / (c + dd + x0).toDouble, r)
    // identity with AUC of the ordinal score for the binary outcome
    val pos = xs.filter(_._2 == 1).map(_._1)
    val neg = xs.filter(_._2 == 0).map(_._1)
    val u = pos.map(p => neg.map(nn =>
      if (p > nn) 1.0 else if (p == nn) 0.5 else 0.0).sum).sum
    val auc = u / (pos.size.toDouble * neg.size.toDouble)
    assert(math.abs(r._4 - (2.0 * auc - 1.0)) < 1e-12,
      s"D ${r._4} vs 2AUC-1 ${2.0 * auc - 1.0}")
  }

  test("q261: identical covariates → CCC exactly 1; shift strictly shrinks it") {
    import spark.implicits._
    // Every line has quantity 1 ⇒ per-order totqty == nlines exactly ⇒
    // numerator == denominator as the same IEEE expression ⇒ ccc == 1.
    val l1 = (1 to 5).flatMap(o => (1 to o).map(_ => (o.toLong, 1)))
      .toDF("l_orderkey", "l_quantity")
    val r1 = q("q261_lin_ccc", fixture("lineitem" -> l1))
      .select("ccc").as[Double].collect().head
    assert(r1 == 1.0, s"identical covariates must give CCC=1: $r1")
    // quantity 2 per line ⇒ y = 2x: perfectly correlated but not in
    // agreement — CCC must drop strictly below 1 (scale penalty).
    val l2 = (1 to 5).flatMap(o => (1 to o).map(_ => (o.toLong, 2)))
      .toDF("l_orderkey", "l_quantity")
    val r2 = q("q261_lin_ccc", fixture("lineitem" -> l2))
      .select("ccc").as[Double].collect().head
    assert(r2 > 0.0 && r2 < 1.0, s"scale shift must shrink CCC: $r2")
    // constant equal covariates (one 1-qty line per order): zero
    // denominator → NaN, never an ANSI trap.
    val l3 = (1 to 4).map(o => (o.toLong, 1))
      .toDF("l_orderkey", "l_quantity")
    val r3 = q("q261_lin_ccc", fixture("lineitem" -> l3))
      .select("ccc").as[Double].collect().head
    assert(r3.isNaN, s"degenerate covariates must be NaN: $r3")
  }

  test("q262: hand-computed Q on a 3×2 design; constant blocks → NaN") {
    import spark.implicits._
    import java.sql.Timestamp
    val ts0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def burst(u: Long, tpe: String, n: Int) = (1 to n).map(i =>
      (u * 1000 + i, ts0, u, tpe, 0.0, "{}"))
    // u1: click+view above threshold; u2, u3: click only →
    // k=2, N=4, ΣR²=6, ΣC²=10 → Q = 1·(2·10−16)/(2·4−6) = 2 exactly.
    val ev = (burst(1, "click", 20) ++ burst(1, "view", 20) ++
      burst(2, "click", 20) ++ burst(3, "click", 20))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = q("q262_cochran_q", fixture("events" -> ev))
      .select("k", "nn", "sum_r2", "sum_c2", "q_cochran")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(r == ((2L, 4L, 6L, 10L, 2.0)), r)
    // every block passes the threshold on every type → Σ Rᵢ(k−Rᵢ) = 0
    // → the Q denominator is 0 and the guard must yield NaN.
    val ev2 = (burst(1, "click", 20) ++ burst(1, "view", 20) ++
      burst(2, "click", 20) ++ burst(2, "view", 20))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r2 = q("q262_cochran_q", fixture("events" -> ev2))
      .select("q_cochran").as[Double].collect().head
    assert(r2.isNaN, s"constant blocks must guard to NaN: $r2")
  }

  test("q263: perfect two-category agreement → AC1 exactly 1; single category → NaN") {
    import spark.implicits._
    val docs = (Seq.tabulate(4)(i =>
      (i.toLong, s"the cat and the dog of $i", "en")) ++
      Seq.tabulate(4)(i =>
        (10L + i, s"el perro y la casa de que en los del $i", "es")))
      .toDF("doc_id", "text", "lang")
    val r = q("q263_gwet_ac1", fixture("documents" -> docs))
      .select("q", "pa", "ac1").as[(Long, Double, Double)]
      .collect().head
    assert(r._1 == 2L && r._2 == 1.0 && r._3 == 1.0, r)
    // all docs one category for BOTH raters → Q = 1 → p_e undefined →
    // NaN, never a divide error.
    val mono = Seq.tabulate(4)(i =>
      (i.toLong, s"the cat and the dog of $i", "en"))
      .toDF("doc_id", "text", "lang")
    val r2 = q("q263_gwet_ac1", fixture("documents" -> mono))
      .select("pe", "ac1").as[(Double, Double)].collect().head
    assert(r2._1.isNaN && r2._2.isNaN, s"single category must NaN: $r2")
  }

  test("q264: identical untied block rankings → chi2 = (k−1)·n; all-tied → NaN") {
    import spark.implicits._
    // 3 nations × 3 priorities, counts 1<2<3 in the same order in every
    // block: every block ranks identically with no ties, so the
    // ANOVA-on-ranks form must reach its maximum (k−1)·n = 6 exactly.
    val prio = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    var oid = 0L
    val rows = for {
      nat <- 1 to 3; (p, ci) <- prio.zipWithIndex
      _ <- 1 to (ci + 1)
    } yield { oid += 1; (oid, nat.toLong * 100, p) }
    val customer = (1 to 3).map(n => (n.toLong * 100, n))
      .toDF("c_custkey", "c_nationkey")
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val r = q("q264_friedman",
      fixture("orders" -> orders, "customer" -> customer))
      .select("n", "k", "chi2_friedman")
      .as[(Long, Long, Double)].collect().head
    assert(r == ((3L, 3L, 6.0)), r)
    // equal counts everywhere → every rank tied → zero rank variance →
    // NaN.
    var oid2 = 0L
    val rows2 = for { nat <- 1 to 3; p <- prio } yield {
      oid2 += 1; (oid2, nat.toLong * 100, p)
    }
    val r2 = q("q264_friedman",
      fixture("orders" -> rows2.toDF("o_orderkey", "o_custkey",
        "o_orderpriority"), "customer" -> customer))
      .select("chi2_friedman").as[Double].collect().head
    assert(r2.isNaN, s"all-tied ranks must guard to NaN: $r2")
  }

  test("q265: z orthogonal to x=y → partial r exactly 1; constant z → NaN") {
    import spark.implicits._
    // (x,y,z) = (1,1,1),(1,1,2),(2,2,2),(2,2,1): cov(x,z)=cov(y,z)=0
    // EXACTLY (integer moments), x≡y → r_xy=1 → r_partial = 1.0 with
    // no floating-point slack anywhere in the tree.
    val orders = Seq((1L, 1.0), (2L, 2.0), (3L, 2.0), (4L, 1.0))
      .toDF("o_orderkey", "o_totalprice")
    val lines = Seq((1L, 1), (2L, 1), (3L, 1), (3L, 1), (4L, 1),
      (4L, 1)).toDF("l_orderkey", "l_quantity")
    val r = q("q265_partial_corr",
      fixture("orders" -> orders, "lineitem" -> lines))
      .select("r_xy", "r_xz", "r_yz", "r_partial")
      .as[(Double, Double, Double, Double)].collect().head
    assert(r._1 == 1.0 && r._2 == 0.0 && r._3 == 0.0 && r._4 == 1.0, r)
    // constant z → var z = 0 → r_xz guards to NaN and the partial
    // propagates NaN (the NaN-propagating den comparison is false).
    val orders2 = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0))
      .toDF("o_orderkey", "o_totalprice")
    val r2 = q("q265_partial_corr",
      fixture("orders" -> orders2, "lineitem" -> lines))
      .select("r_xz", "r_partial").as[(Double, Double)].collect().head
    assert(r2._1.isNaN && r2._2.isNaN, s"constant z must NaN: $r2")
  }

  test("q266: identical mixes → BC=1, H=0, TVD=0; disjoint → BC=0, H=1, TVD=1") {
    import spark.implicits._
    // Two priorities, 2 F + 2 O in each: both sides are exactly
    // (1/2, 1/2) → BC = 2·√(1/4) = 1.0 exactly (dyadic rationals all
    // the way), so Hellinger hits the clamp at exactly 0 and TVD = 0.
    val same = (1 to 8).map { i =>
      (i.toLong, Seq("1-URGENT", "5-LOW")(i % 2),
        if (i <= 4) "F" else "O")
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r1 = q("q266_hellinger", fixture("orders" -> same))
      .select("bc", "tvd", "hellinger")
      .as[(Double, Double, Double)].collect().head
    assert(r1 == ((1.0, 0.0, 0.0)), r1)
    // Disjoint supports: every F urgent, every O low → BC = 0,
    // Hellinger = 1, TVD = 1, all exact.
    val disj = (1 to 8).map { i =>
      val f = i <= 4
      (i.toLong, if (f) "1-URGENT" else "5-LOW", if (f) "F" else "O")
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r2 = q("q266_hellinger", fixture("orders" -> disj))
      .select("bc", "tvd", "hellinger")
      .as[(Double, Double, Double)].collect().head
    assert(r2 == ((0.0, 1.0, 1.0)), r2)
  }

  test("q267: status determined by priority → U exactly 1; single status → NaN") {
    import spark.implicits._
    // y = f(x): the (x,y) cell counts ARE the x margins, so the sxy and
    // sx folds run over identical sorted lists and U collapses to
    // H_y/H_y = exactly 1.0.
    val det = (1 to 9).map { i =>
      val p = Seq("1-URGENT", "3-MEDIUM", "5-LOW")(i % 3)
      (i.toLong, p, Map("1-URGENT" -> "F", "3-MEDIUM" -> "O",
        "5-LOW" -> "P")(p))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r1 = q("q267_theils_u", fixture("orders" -> det))
      .select("u_y_given_x").as[Double].collect().head
    assert(r1 == 1.0, s"deterministic mapping must give U=1: $r1")
    val mono = (1 to 6).map(i =>
      (i.toLong, Seq("1-URGENT", "5-LOW")(i % 2), "F"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r2 = q("q267_theils_u", fixture("orders" -> mono))
      .select("u_y_given_x").as[Double].collect().head
    assert(r2.isNaN, s"H(Y)=0 must guard to NaN: $r2")
  }

  test("q268: perfectly monotone blocks hit Page's maximum, z exactly 2") {
    import spark.implicits._
    // 2 nations × 3 priorities with counts strictly increasing in
    // priority order in both blocks: every rank equals its position →
    // L = n(1+4+9) = 28, E = nk(k+1)²/4 = 24, Var = 4 → z = 2.0, all
    // exact dyadic arithmetic.
    val prio = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    var oid = 0L
    val rows = for {
      nat <- 1 to 2; (p, ci) <- prio.zipWithIndex; _ <- 1 to (ci + 1)
    } yield { oid += 1; (oid, nat.toLong * 100, p) }
    val customer = (1 to 2).map(n => (n.toLong * 100, n))
      .toDF("c_custkey", "c_nationkey")
    val r = q("q268_page_trend", fixture(
      "orders" -> rows.toDF("o_orderkey", "o_custkey",
        "o_orderpriority"), "customer" -> customer))
      .select("l", "e_l", "var_l", "z")
      .as[(Double, Double, Double, Double)].collect().head
    assert(r == ((28.0, 24.0, 4.0, 2.0)), r)
    // single treatment → Var = 0 → NaN guard
    val mono = (1 to 4).map(i => (i.toLong, 100L, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
    val cust1 = Seq((100L, 1)).toDF("c_custkey", "c_nationkey")
    val r2 = q("q268_page_trend",
      fixture("orders" -> mono, "customer" -> cust1))
      .select("z").as[Double].collect().head
    assert(r2.isNaN, s"k=1 must guard to NaN: $r2")
  }

  test("q269: perfect prediction → λ(Y|X)=1; single outcome → NaN") {
    import spark.implicits._
    val det = (1 to 9).map { i =>
      val p = Seq("1-URGENT", "3-MEDIUM", "5-LOW")(i % 3)
      (i.toLong, p, Map("1-URGENT" -> "F", "3-MEDIUM" -> "O",
        "5-LOW" -> "P")(p))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r = q("q269_gk_lambda", fixture("orders" -> det))
      .select("lambda_y_given_x", "lambda_x_given_y")
      .as[(Double, Double)].collect().head
    assert(r._1 == 1.0 && r._2 == 1.0, r)
    val mono = (1 to 6).map(i =>
      (i.toLong, Seq("1-URGENT", "5-LOW")(i % 2), "F"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r2 = q("q269_gk_lambda", fixture("orders" -> mono))
      .select("lambda_y_given_x").as[Double].collect().head
    assert(r2.isNaN, s"single outcome margin must NaN: $r2")
  }

  test("q270: concordant 2×2 diagonal → γ = τ-c = 1; one column → NaN γ") {
    import spark.implicits._
    val diag = ((1 to 2).map(i => (i.toLong, "1-URGENT", "F")) ++
      (3 to 4).map(i => (i.toLong, "5-LOW", "O")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r = q("q270_ordinal_gamma", fixture("orders" -> diag))
      .select("nc", "nd", "gamma", "tau_c")
      .as[(Long, Long, Double, Double)].collect().head
    assert(r == ((4L, 0L, 1.0, 1.0)), r)
    val one = (1 to 4).map(i => (i.toLong, "1-URGENT",
      Seq("F", "O")(i % 2)))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r2 = q("q270_ordinal_gamma", fixture("orders" -> one))
      .select("gamma", "tau_c").as[(Double, Double)].collect().head
    assert(r2._1.isNaN, s"no untied pairs → γ NaN: $r2")
    assert(r2._2.isNaN, s"m=1 → τ-c NaN: $r2")
  }

  test("q271: identical strata are perfectly homogeneous; empty margin excluded") {
    import spark.implicits._
    // Two nations with the SAME 2×2 (a,b,c,d)=(4,2,3,6): ψ̂_MH equals
    // each stratum's own OR = 4, the expected a solves back to the
    // observed a up to root-finding ulps, so χ²_BD ≈ 0. A third nation
    // with NO urgent orders (r1=0) has no admissible root and must be
    // excluded from g_used, not crash.
    def stratum(nat: Long, a: Int, b: Int, c: Int, dd: Int,
        base: Long) = {
      val mk = (i: Long, p: String, st: String) =>
        (base + i, nat * 100, p, st)
      (1 to a).map(i => mk(i, "1-URGENT", "F")) ++
        (1 to b).map(i => mk(10 + i, "1-URGENT", "O")) ++
        (1 to c).map(i => mk(20 + i, "5-LOW", "F")) ++
        (1 to dd).map(i => mk(30 + i, "5-LOW", "O"))
    }
    val orders = (stratum(1, 4, 2, 3, 6, 0) ++
      stratum(2, 4, 2, 3, 6, 100) ++
      stratum(3, 0, 0, 3, 6, 200))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority",
        "o_orderstatus")
    val customer = (1 to 3).map(n => (n.toLong * 100, n))
      .toDF("c_custkey", "c_nationkey")
    val r = q("q271_breslow_day",
      fixture("orders" -> orders, "customer" -> customer))
      .select("psi_mh", "g_used", "chi2_bd")
      .as[(Double, Long, Double)].collect().head
    assert(math.abs(r._1 - 4.0) < 1e-12, s"psi must be the common OR: $r")
    assert(r._2 == 2L, s"empty-margin stratum must be excluded: $r")
    assert(r._3 >= 0.0 && r._3 < 1e-10,
      s"identical strata must be homogeneous: $r")
  }

  test("q272: identical untied rankings → W exactly 1; all-tied → NaN") {
    import spark.implicits._
    val prio = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    var oid = 0L
    val rows = for {
      nat <- 1 to 3; (p, ci) <- prio.zipWithIndex; _ <- 1 to (ci + 1)
    } yield { oid += 1; (oid, nat.toLong * 100, p) }
    val customer = (1 to 3).map(n => (n.toLong * 100, n))
      .toDF("c_custkey", "c_nationkey")
    val r = q("q272_kendalls_w", fixture(
      "orders" -> rows.toDF("o_orderkey", "o_custkey",
        "o_orderpriority"), "customer" -> customer))
      .select("w").as[Double].collect().head
    assert(r == 1.0, s"perfect concordance must give W=1: $r")
    var oid2 = 0L
    val rows2 = for { nat <- 1 to 3; p <- prio } yield {
      oid2 += 1; (oid2, nat.toLong * 100, p)
    }
    val r2 = q("q272_kendalls_w", fixture(
      "orders" -> rows2.toDF("o_orderkey", "o_custkey",
        "o_orderpriority"), "customer" -> customer))
      .select("w").as[Double].collect().head
    assert(r2.isNaN, s"all-tied ranks must guard to NaN: $r2")
  }

  test("q273: undetectable label shows recall 0 and PABAK = 2p_a−1 exactly") {
    import spark.implicits._
    // 2 English docs the detector gets right + 2 French docs it cannot
    // emit (no stopword family → 'und') → p_a = 1/2, PABAK = 0.0,
    // recall(en)=1, recall(fr)=0 — prevalence-masked failure made
    // visible.
    val docs = (Seq.tabulate(2)(i =>
      (i.toLong, s"the cat and the dog of $i", "en")) ++
      Seq.tabulate(2)(i =>
        (10L + i, s"bonjour monde numero $i", "fr")))
      .toDF("doc_id", "text", "lang")
    val rows = q("q273_pabak", fixture("documents" -> docs))
      .select("label", "recall", "pabak")
      .as[(String, Double, Double)].collect()
    val byLabel = rows.map(r => r._1 -> r._2).toMap
    assert(byLabel("en") == 1.0 && byLabel("fr") == 0.0, byLabel)
    assert(rows.head._3 == 0.0, s"PABAK must be 2·(1/2)−1 = 0: $rows")
  }

  test("q274: balanced unanimous raters → κ exactly 1; uniform corpus → NaN") {
    import spark.implicits._
    // Half the docs trip all three thresholds (e=3), half none (e=0):
    // every subject is unanimous → P̄ = 1, and the balanced marginals
    // make P̄ₑ = 1/2 exactly → κ = 1.0 with no slack.
    val docs = (Seq.tabulate(3)(i =>
      (i.toLong, "the of and to in is that a", "en")) ++
      Seq.tabulate(3)(i => (10L + i, "perro casa mesa", "es")))
      .toDF("doc_id", "text", "lang")
    val r = q("q274_fleiss_kappa", fixture("documents" -> docs))
      .select("p_bar", "p_e", "kappa_fleiss")
      .as[(Double, Double, Double)].collect().head
    assert(r == ((1.0, 0.5, 1.0)), r)
    // Every doc e=0 → unanimous AND single category → P̄ₑ = 1 → NaN.
    val mono = Seq.tabulate(4)(i => (i.toLong, "perro casa", "es"))
      .toDF("doc_id", "text", "lang")
    val r2 = q("q274_fleiss_kappa", fixture("documents" -> mono))
      .select("kappa_fleiss").as[Double].collect().head
    assert(r2.isNaN, s"degenerate chance agreement must NaN: $r2")
  }

  test("q275: a perfect separator reaches J = 1 at the split level") {
    import spark.implicits._
    // Levels 1–2 all finish, levels 3+ never do → threshold t=2 gives
    // TPR=1, FPR=0, J=1.0 exactly, and the argmax must report lvl 2.
    val orders = (Seq.tabulate(4)(i => (i.toLong,
      Seq("1-URGENT", "2-HIGH")(i % 2), "F")) ++
      Seq.tabulate(4)(i => (10L + i,
        Seq("3-MEDIUM", "5-LOW")(i % 2), "O")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r = q("q275_youden_j", fixture("orders" -> orders))
      .select("best_lvl", "best_j").distinct()
      .as[(Long, Double)].collect().head
    assert(r == ((2L, 1.0)), r)
  }

  test("q276: a perfect classifier gives macro-F1 = R_K = exactly 1") {
    import spark.implicits._
    val docs = (Seq.tabulate(3)(i =>
      (i.toLong, s"the cat and the dog of $i", "en")) ++
      Seq.tabulate(3)(i =>
        (10L + i, s"el perro y la casa de que en los del $i", "es")))
      .toDF("doc_id", "text", "lang")
    val rows = q("q276_multiclass_mcc", fixture("documents" -> docs))
      .select("label", "f1", "macro_f1", "r_k")
      .as[(String, Double, Double, Double)].collect()
    assert(rows.length == 2, rows.toSeq)
    rows.foreach { r =>
      assert(r._2 == 1.0 && r._3 == 1.0 && r._4 == 1.0, r)
    }
  }

  test("q277: symmetric confusion → chi2 exactly 0; one-way pair → (b)²/b") {
    import spark.implicits._
    // Two en-texts labeled es and two es-texts labeled en: the only
    // off-diagonal pair is (en,es) with 2 in each direction → term 0.
    val sym = (Seq.tabulate(2)(i =>
      (i.toLong, s"the cat and the dog of $i", "es")) ++
      Seq.tabulate(2)(i =>
        (10L + i, s"el perro y la casa de que en los del $i", "en")))
      .toDF("doc_id", "text", "lang")
    val r1 = q("q277_bowker", fixture("documents" -> sym))
      .select("df", "chi2_bowker").as[(Long, Double)].collect().head
    assert(r1 == ((1L, 0.0)), r1)
    // All four miscalls in ONE direction (en-text labeled es, never
    // the reverse) → χ² = (4−0)²/4 = 4 exactly.
    val oneway = (Seq.tabulate(4)(i =>
      (i.toLong, s"the cat and the dog of $i", "es")) ++
      Seq.tabulate(2)(i =>
        (10L + i, s"el perro y la casa de que en los del $i", "es")))
      .toDF("doc_id", "text", "lang")
    val r2 = q("q277_bowker", fixture("documents" -> oneway))
      .select("df", "chi2_bowker").as[(Long, Double)].collect().head
    assert(r2 == ((1L, 4.0)), r2)
  }

  test("q278: uniform 2×2 → ln OR exactly 0, SE exactly √2; empty cell → NaN") {
    import spark.implicits._
    val cells = Seq(("1-URGENT", "F"), ("1-URGENT", "O"),
      ("5-LOW", "F"), ("5-LOW", "O"))
    val orders = cells.zipWithIndex.flatMap { case ((p, st), ci) =>
      (1 to 2).map(i => ((ci * 10 + i).toLong, p, st))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r = q("q278_woolf_ci", fixture("orders" -> orders))
      .select("ln_or", "se").as[(Double, Double)].collect().head
    assert(r._1 == 0.0, s"uniform table must have ln OR = 0: $r")
    assert(r._2 == math.sqrt(2.0), s"SE must be sqrt(4·1/2): $r")
    val noUrgent = (1 to 4).map(i =>
      (i.toLong, "5-LOW", Seq("F", "O")(i % 2)))
      .toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r2 = q("q278_woolf_ci", fixture("orders" -> noUrgent))
      .select("ln_or").as[Double].collect().head
    assert(r2.isNaN, s"empty cell must guard to NaN: $r2")
  }

  test("q279: two-day series gives Q exactly 2; constant series → NaN") {
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, day: Int) = (id,
      Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), 1L, "view",
      0.0, "{}")
    // counts (1, 2) → u = (−1, 1), Σu² = 2, lag-1 ρ = −1/2 →
    // Q = n(n+2)·ρ²/(n−1) = 2·4·(1/4)/1 = 2.0 exactly; only lag 1
    // has any pair.
    val rows = Seq(ev(1, 1), ev(2, 2), ev(3, 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
    val r1 = q("q279_ljung_box", fixture("events" -> rows))
      .select("n", "lags_used", "q_lb")
      .as[(Long, Long, Double)].collect().head
    assert(r1 == ((2L, 1L, 2.0)), r1)
    // equal counts both days → all residuals 0 → ρ undefined → NaN.
    val const = Seq(ev(1, 1), ev(2, 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value",
        "props")
    val r2 = q("q279_ljung_box", fixture("events" -> const))
      .select("q_lb").as[Double].collect().head
    assert(r2.isNaN, s"constant series must guard to NaN: $r2")
  }

  private def dayEvents(counts: Seq[Int]) = {
    import spark.implicits._
    import java.sql.Timestamp
    var id = 0L
    counts.zipWithIndex.flatMap { case (c, di) =>
      (1 to c).map { _ =>
        id += 1
        (id, Timestamp.valueOf(f"2024-01-${di + 1}%02d 12:00:00"), 1L,
          "view", 0.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("q280: strictly increasing series maxes S; constant series → NaN") {
    import spark.implicits._
    // counts 1<2<3<4: S = C(4,2) = 6, no ties → 18·Var = 4·3·13 = 156,
    // z = (6−1)/√(156/18) — asserted as the same IEEE expression.
    val r = q("q280_mann_kendall",
      fixture("events" -> dayEvents(Seq(1, 2, 3, 4))))
      .select("s_mk", "var18", "z_mk")
      .as[(Long, Long, Double)].collect().head
    assert(r._1 == 6L && r._2 == 156L, r)
    assert(r._3 == 5.0 / math.sqrt(156.0 / 18.0), r)
    val r2 = q("q280_mann_kendall",
      fixture("events" -> dayEvents(Seq(5, 5, 5, 5))))
      .select("s_mk", "z_mk").as[(Long, Double)].collect().head
    assert(r2._1 == 0L && r2._2.isNaN,
      s"all-tied series must guard to NaN: $r2")
  }

  test("q281: balanced 2×2 → RD 0, RR 1, E-value exactly 1, NNT NaN") {
    import spark.implicits._
    val cells = Seq(("1-URGENT", "F"), ("1-URGENT", "O"),
      ("5-LOW", "F"), ("5-LOW", "O"))
    val orders = cells.zipWithIndex.flatMap { case ((p, st), ci) =>
      (1 to 3).map(i => ((ci * 10 + i).toLong, p, st))
    }.toDF("o_orderkey", "o_orderpriority", "o_orderstatus")
    val r = q("q281_risk_readout", fixture("orders" -> orders))
      .select("rd", "rr", "e_value", "nnt")
      .as[(Double, Double, Double, Double)].collect().head
    assert(r._1 == 0.0 && r._2 == 1.0 && r._3 == 1.0, r)
    assert(r._4.isNaN, s"zero RD must report NNT as NaN (infinite): $r")
  }

  test("q282: exact level shift found at its true break with SSE 0; linear ties → earliest") {
    import spark.implicits._
    // 4 days at 10 then 4 days at 20: both segments are constant →
    // τ=4 achieves sse_split exactly 0 (uniquely), and the perfect
    // fit guards Chow's F to NaN rather than dividing by 0.
    val r = q("q282_segmented_trend", fixture("events" ->
      dayEvents(Seq(10, 10, 10, 10, 20, 20, 20, 20))))
      .select("break_idx", "sse_split", "chow_f")
      .as[(Long, Double, Double)].collect().head
    assert(r._1 == 4L && r._2 == 0.0, r)
    assert(r._3.isNaN, s"perfect split must guard F to NaN: $r")
    // A perfectly linear series fits every split exactly → all
    // candidates tie at 0 and the relational argmin must report the
    // EARLIEST admissible τ = 2.
    val r2 = q("q282_segmented_trend", fixture("events" ->
      dayEvents(Seq(1, 2, 3, 4, 5, 6))))
      .select("break_idx", "sse_split")
      .as[(Long, Double)].collect().head
    assert(r2 == ((2L, 0.0)), r2)
  }

  test("q283: hand-counted vocabulary matches Chao1 closed form; F2=0 guards SE to NaN") {
    import spark.implicits._
    // tokens: a×3, b×2, c×1, d×1 → S=4, F1=2, F2=1, N=7.
    // chao1 = 4 + 2·1/(2·2) = 4.5; r=F1/F2=2 →
    // SE = √(1·(2²/2 + 2³ + 2⁴/4)) = √14; coverage = 1 − 2/7.
    val docs = Seq("a a b", "a b c d").toDF("text")
    val r = q("q283_chao1", fixture("documents" -> docs))
      .select("s_obs", "f1", "f2", "n_tok", "chao1", "se_chao1",
        "coverage")
      .as[(Long, Long, Long, Long, Double, Double, Double)]
      .collect().head
    assert((r._1, r._2, r._3, r._4) == ((4L, 2L, 1L, 7L)), r)
    assert(r._5 == 4.5 && r._6 == math.sqrt(14.0), r)
    assert(r._7 == 1.0 - 2.0 / 7.0, r)
    // no doubletons: SE undefined (NaN), point estimate still closed
    val r2 = q("q283_chao1", fixture("documents" ->
      Seq("a b").toDF("text")))
      .select("chao1", "se_chao1").as[(Double, Double)].collect().head
    assert(r2._1 == 2.0 + 2.0 * 1.0 / 2.0 && r2._2.isNaN, r2)
  }

  test("q284: three-block maxima reproduce the moment fit; single block → NaN z") {
    import spark.implicits._
    import java.sql.Timestamp
    // months 1/2/3 with daily-count maxima 4, 6, 8: mean 6,
    // var = (3·116 − 18²)/(3·2) = 4, sd 2 — then the Gumbel moment
    // chain asserted as the same IEEE expression tree.
    def ev(month: Int, day: Int, c: Int, base: Long) =
      (1 to c).map(i => (base + i,
        Timestamp.valueOf(f"2024-$month%02d-$day%02d 12:00:00"),
        1L, "view", 0.0, "{}"))
    val events = (ev(1, 1, 2, 0) ++ ev(1, 2, 4, 100) ++
      ev(2, 1, 6, 200) ++ ev(3, 1, 8, 300))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = q("q284_gumbel_fit", fixture("events" -> events))
      .select("n_blocks", "m_top", "mean_max", "sd_max", "mu_g",
        "beta_g", "z_extreme")
      .as[(Long, Long, Double, Double, Double, Double, Double)]
      .collect().head
    assert(r._1 == 3L && r._2 == 8L && r._3 == 6.0 && r._4 == 2.0, r)
    val beta = 2.0 * math.sqrt(6.0) / math.Pi
    val mu = 6.0 - 0.5772156649015329 * beta
    assert(r._5 == mu && r._6 == beta && r._7 == (8.0 - mu) / beta, r)
    val r2 = q("q284_gumbel_fit", fixture("events" ->
      ev(1, 1, 3, 0).toDF("event_id", "ts", "user_id", "event_type",
        "value", "props")))
      .select("sd_max", "z_extreme").as[(Double, Double)]
      .collect().head
    assert(r2._1.isNaN && r2._2.isNaN,
      s"single block must guard sd and z to NaN: $r2")
  }

  test("q285: perfectly ordered groups give U = n1·n2 and the exact z; one group → NaN") {
    import spark.implicits._
    // group 1 (URGENT): two orders of 1 lineitem; group 2 (HIGH): two
    // orders of 2 → every cross pair is "less": U = 4. N=4, Σnᵢ²=8 →
    // E[U]=2; var = (16·11 − 2·4·7)/72 = 120/72.
    val orders = Seq((1L, "1-URGENT"), (2L, "1-URGENT"),
      (3L, "2-HIGH"), (4L, "2-HIGH"))
      .toDF("o_orderkey", "o_orderpriority")
    val li = Seq(1L, 2L, 3L, 3L, 4L, 4L).toDF("l_orderkey")
    val r = q("q285_jonckheere", fixture("orders" -> orders,
      "lineitem" -> li))
      .select("n_tot", "n_less", "n_tie", "u_jt", "z_jt")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert((r._1, r._2, r._3, r._4) == ((4L, 4L, 0L, 4.0)), r)
    val varU = (4.0 * 4.0 * (2.0 * 4.0 + 3.0) - 56.0) / 72.0
    assert(r._5 == (4.0 - 2.0) / math.sqrt(varU), r)
    // a single priority class has no between-group pairs and zero
    // null variance — z must guard to NaN, not divide by zero
    val r2 = q("q285_jonckheere", fixture(
      "orders" -> Seq((1L, "1-URGENT"), (2L, "1-URGENT"))
        .toDF("o_orderkey", "o_orderpriority"),
      "lineitem" -> Seq(1L, 2L, 2L).toDF("l_orderkey")))
      .select("u_jt", "z_jt").as[(Double, Double)].collect().head
    assert(r2._1 == 0.0 && r2._2.isNaN, r2)
  }

  test("q286: alternating series counts max runs; constant series guards to NaN") {
    import spark.implicits._
    // counts (1,3,1,3): mean 2 → signs 0,1,0,1 → R=4, n1=n2=2:
    // μ = 2·2·2/4 + 1 = 3, σ² = 8·(8−4)/(16·3) = 2/3.
    val r = q("q286_runs_test",
      fixture("events" -> dayEvents(Seq(1, 3, 1, 3))))
      .select("n1", "n2", "r_runs", "mu_r", "z_runs")
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert((r._1, r._2, r._3) == ((2L, 2L, 4L)), r)
    assert(r._4 == 3.0, r)
    assert(r._5 == (4.0 - 3.0) / math.sqrt(32.0 / 48.0), r)
    // every day exactly at the mean → empty sign sequence → NaN
    val r2 = q("q286_runs_test",
      fixture("events" -> dayEvents(Seq(2, 2, 2))))
      .select("r_runs", "z_runs").as[(Long, Double)].collect().head
    assert(r2._1 == 0L && r2._2.isNaN, r2)
  }

  test("q287: concordant tierings give kappa 1; perfectly reversed give the exact negative") {
    import spark.implicits._
    // 5 customers, order count and max price perfectly aligned →
    // identical quintile bins → zero observed disagreement
    def orders(perCust: Seq[(Long, Int, Double)]) =
      perCust.flatMap { case (ck, cnt, mx) =>
        (1 to cnt).map(i => (ck * 100 + i, ck,
          if (i == 1) mx else 1.0))
      }.toDF("o_orderkey", "o_custkey", "o_totalprice")
    val aligned = orders(Seq((1L, 1, 10.0), (2L, 2, 20.0),
      (3L, 3, 30.0), (4L, 4, 40.0), (5L, 5, 50.0)))
    val r = q("q287_weighted_kappa", fixture("orders" -> aligned))
      .select("n", "d_obs", "kappa_w")
      .as[(Long, Long, Double)].collect().head
    assert(r == ((5L, 0L, 1.0)), r)
    // reversed: bins (4..0) vs (0..4) → Σ|qa−qb| = 12, Σ|i−j|·r·c = 40
    // → κ_w = 1 − 5·12/40 = −0.5
    val reversed = orders(Seq((1L, 1, 50.0), (2L, 2, 40.0),
      (3L, 3, 30.0), (4L, 4, 20.0), (5L, 5, 10.0)))
    val r2 = q("q287_weighted_kappa", fixture("orders" -> reversed))
      .select("d_obs", "d_exp", "kappa_w")
      .as[(Long, Long, Double)].collect().head
    assert(r2 == ((12L, 40L, 1.0 - 5.0 * 12.0 / 40.0)), r2)
  }

  test("q288: hand-built asymmetric confusion gives chi2 3; pure-diagonal is singular → NaN") {
    import spark.implicits._
    // truth→pred cells: n11=1, n12=2, n22=1, n23=1, n33=1 →
    // d=(2,−1), S11=2, S22=3, S12=−2, det=2 → χ² = (12−8+2)/2 = 3
    val docs = Seq(("the and", "en"), ("el la", "en"), ("el la", "en"),
      ("el la", "es"), ("der die", "es"), ("der die", "de"))
      .toDF("text", "lang")
    val r = q("q288_stuart_maxwell", fixture("documents" -> docs))
      .select("d1", "d2", "s11", "s22", "s12", "chi2_sm")
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(r == ((2L, -1L, 2L, 3L, -2L, 3.0)), r)
    // perfect agreement: zero marginal differences AND a singular
    // covariance — the determinant guard must report NaN, not 0/0
    val diag = Seq(("the and", "en"), ("el la", "es"))
      .toDF("text", "lang")
    val r2 = q("q288_stuart_maxwell", fixture("documents" -> diag))
      .select("d1", "d2", "chi2_sm")
      .as[(Long, Long, Double)].collect().head
    assert(r2._1 == 0L && r2._2 == 0L && r2._3.isNaN, r2)
  }

  private def tradeFixture(pairs: Seq[(Int, Int)]) = {
    import spark.implicits._
    // one order + one lineitem per (customerNation, supplierNation) edge
    val rows = pairs.zipWithIndex.map { case ((cn, sn), i) =>
      (i.toLong, 10L * cn, 20L * sn, cn, sn) }
    fixture(
      "lineitem" -> rows.map { case (ok, _, sk, _, _) => (ok, sk) }
        .toDF("l_orderkey", "l_suppkey"),
      "orders" -> rows.map { case (ok, ck, _, _, _) => (ok, ck) }
        .distinct.toDF("o_orderkey", "o_custkey"),
      "customer" -> rows.map { case (_, ck, _, cn, _) => (ck, cn) }
        .distinct.toDF("c_custkey", "c_nationkey"),
      "supplier" -> rows.map { case (_, _, sk, _, sn) => (sk, sn) }
        .distinct.toDF("s_suppkey", "s_nationkey"))
  }

  test("q289: diagonal trade gives r 1, anti-diagonal -1, single cell guards NaN") {
    import spark.implicits._
    val r = q("q289_attr_assortativity",
      tradeFixture(Seq((1, 1), (2, 2))))
      .select("e_tot", "diag", "r_attr")
      .as[(Long, Long, Double)].collect().head
    assert(r == ((2L, 2L, 1.0)), r)
    val r2 = q("q289_attr_assortativity",
      tradeFixture(Seq((1, 2), (2, 1))))
      .select("r_attr").as[Double].collect().head
    assert(r2 == -1.0, r2)
    // one nation trading only with itself: E² = AB, undefined mixing
    val r3 = q("q289_attr_assortativity",
      tradeFixture(Seq((1, 1), (1, 1))))
      .select("r_attr").as[Double].collect().head
    assert(r3.isNaN, s"concentrated mixing must guard to NaN: $r3")
  }

  test("q290/q291: hand-traced 4-node synthetic graph — rich club and Katz walk counts") {
    import spark.implicits._
    // doc_ids 0..3 → nodes {0,1,2,3}; edges x→x²+1 and x→7x+5 mod 389:
    // 0→{1,5}, 1→{2,12}, 2→{5,19}, 3→{10,26}. Total degrees: 1 and 2
    // have deg 3; only edge inside {1,2} is 1→2 → φ(2) = 1/(2·1).
    val docs = (0L to 3L).toDF("doc_id")
    val dir = fixture("documents" -> docs)
    val rc = q("q290_rich_club", dir)
      .select("k", "n_k", "e_k", "phi")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rc(2L)._1 == 2L && rc(2L)._2 == 1L && rc(2L)._3 == 0.5, rc)
    assert(rc(3L)._1 == 0L && rc(3L)._3.isNaN, rc)
    assert(rc(4L)._1 == 0L && rc(4L)._3.isNaN, rc)
    // Katz over the SAME graph, emitted for the doc-derived nodes:
    // in-degrees among them: w1(1)=1 (0→1), w1(2)=1 (1→2);
    // w2(2)=w1(1)=1; everything else 0 → katz = .5·w1+.25·w2+.125·w3
    val kz = q("q291_katz3", dir)
      .select("node", "w1", "w2", "w3", "katz")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(kz.keySet == Set(0L, 1L, 2L, 3L), kz)
    assert(kz(0L) == ((0L, 0L, 0L, 0.0)), kz)
    assert(kz(1L) == ((1L, 0L, 0L, 0.5)), kz)
    assert(kz(2L) == ((1L, 1L, 0L, 0.75)), kz)
    assert(kz(3L) == ((0L, 0L, 0L, 0.0)), kz)
  }
}
