package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatCols.{coMoment, dbl, doubledMidrank, pln,
  sumInOrder}
import graft.operators.{Cut, Pairs, PrefixSum, Spread}

import QueryDef.{dailyEvents, docGraph, docNodes, kmRiskSets, lifetimes,
  returnFlagQuantities, t}

/** Statistical-inference and drift-detection analytics (round 5, batch
  * "inference"): rank-correlation, rank-sum testing, changepoint
  * detection, and population-stability scoring. Same contract as
  * [[Analytics]]: every statistic is assembled from exact BIGINT
  * moments over value- or domain-bounded cell tables (the only
  * row-scale steps are the initial aggregations), and every
  * floating-point step is a fixed-shape IEEE tree mirrored verbatim in
  * the DuckDB oracle so the driver's hash gate sees bit-identical
  * doubles. The column vocabulary is [[graft.functions.StatCols]]:
  * `dbl` widens, `pln` takes every logarithm through `portable_ln` on a
  * DOUBLE — the q204 pattern: ln of exactly representable integer-valued
  * doubles, identical in both engines — `sumInOrder` folds a sorted
  * list left to right (from `lit(0L)`: the exact BIGINT list sum),
  * `coMoment` is the n-scaled co-moment `n·Σab − Σa·Σb` of widened
  * sums and `doubledMidrank` the BIGINT `2·(t_cum − t) + t + 1` of a
  * tie run. Frames shared by several queries (daily event
  * counts, the document graph, user lifetimes, the Kaplan–Meier risk
  * set, the A/R lineitem quantities) come from the [[QueryDef]]
  * companion.
  */
object Inference {

  val defs: Seq[QueryDef] = Seq(

    // Kendall τ-b rank correlation per nation between order priority
    // (ordinal 1–5) and order status (ordinal F<O<P) — the tie-aware
    // rank-association readout for ordinal×ordinal pairs. Both domains
    // are tiny, so after one row-scale customer⋈orders shuffle the
    // statistic lives entirely on a ≤15-cell-per-nation contingency
    // table: concordant-minus-discordant comes from a cell self-join
    // (≤225 pairs per nation, BIGINT products), tie terms n1/n2 from
    // the cell marginals, and the only floating-point ops are the
    // final sqrt and division. τ-b = (C−D)/√((n0−n1)(n0−n2)).
    QueryDef("q213_kendall_tau", (s, d) => {
      val xy = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nk")),
          col("o_custkey") === col("c_custkey"))
        .select(col("nk"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("x"),
          when(col("o_orderstatus") === "F", 1)
            .when(col("o_orderstatus") === "O", 2)
            .otherwise(3).as("y"))
      val cells = xy.groupBy("nk", "x", "y").agg(count(lit(1)).as("c"))
      // per-nation size + tie terms from the cell marginals — all BIGINT
      val tx = cells.groupBy("nk", "x").agg(sum("c").as("tc"))
        .groupBy("nk")
        .agg(expr("sum(tc * (tc - 1)) DIV 2").as("n1"))
      val ty = cells.groupBy("nk", "y").agg(sum("c").as("tc"))
        .groupBy("nk")
        .agg(expr("sum(tc * (tc - 1)) DIV 2").as("n2"))
      val nn = cells.groupBy("nk").agg(sum("c").as("n"))
        .select(col("nk"), col("n"),
          expr("n * (n - 1) DIV 2").as("n0"))
      // C − D in one pass: every unordered cell pair with x1 < x2
      // contributes +c1c2 when the y's agree in direction, −c1c2 when
      // they oppose, 0 on a y-tie
      val a = cells.select(col("nk"), col("x").as("x1"),
        col("y").as("y1"), col("c").as("c1"))
      val b = cells.select(col("nk").as("nk2"), col("x").as("x2"),
        col("y").as("y2"), col("c").as("c2"))
      val cd = a.join(b,
          col("nk") === col("nk2") && col("x1") < col("x2"))
        .groupBy("nk")
        .agg(sum(when(col("y2") > col("y1"), col("c1") * col("c2"))
          .when(col("y2") < col("y1"), -col("c1") * col("c2"))
          .otherwise(0L)).as("cd"))
      nn.join(tx, Seq("nk")).join(ty, Seq("nk"))
        .join(cd, Seq("nk"), "left")
        .select(col("nk"), col("n"), col("n0"), col("n1"), col("n2"),
          coalesce(col("cd"), lit(0L)).as("cd"))
        .withColumn("tau_b",
          // a group with zero x- or y-variance has no defined tau —
          // emit NaN explicitly (ANSI mode would otherwise raise
          // DIVIDE_BY_ZERO; InferenceSpec pins the degenerate case)
          when((col("n0") - col("n1")) * (col("n0") - col("n2")) > 0,
            col("cd").cast("double") /
              sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
                .cast("double")))
            .otherwise(lit(Double.NaN)))
    }, Some("""
      WITH xy AS (SELECT c_nationkey AS nk,
          CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS x,
          CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
            ELSE 3 END AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      cells AS (SELECT nk, x, y, CAST(count(*) AS BIGINT) AS c
        FROM xy GROUP BY 1, 2, 3),
      tx AS (SELECT nk, CAST(sum(tc * (tc - 1)) // 2 AS BIGINT) AS n1
        FROM (SELECT nk, x, CAST(sum(c) AS BIGINT) AS tc
          FROM cells GROUP BY 1, 2) GROUP BY 1),
      ty AS (SELECT nk, CAST(sum(tc * (tc - 1)) // 2 AS BIGINT) AS n2
        FROM (SELECT nk, y, CAST(sum(c) AS BIGINT) AS tc
          FROM cells GROUP BY 1, 2) GROUP BY 1),
      nn AS (SELECT nk, CAST(sum(c) AS BIGINT) AS n,
          CAST(sum(c) * (sum(c) - 1) // 2 AS BIGINT) AS n0
        FROM cells GROUP BY 1),
      cd AS (SELECT a.nk,
          CAST(sum(CASE WHEN b.y > a.y THEN a.c * b.c
            WHEN b.y < a.y THEN -a.c * b.c ELSE 0 END) AS BIGINT) AS cd
        FROM cells a JOIN cells b
          ON a.nk = b.nk AND a.x < b.x GROUP BY 1)
      SELECT nn.nk, n, n0, n1, n2,
        CAST(coalesce(cd, 0) AS BIGINT) AS cd,
        CASE WHEN (n0 - n1) * (n0 - n2) > 0
          THEN CAST(coalesce(cd, 0) AS DOUBLE)
            / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_b
      FROM nn JOIN tx USING (nk) JOIN ty USING (nk)
        LEFT JOIN cd ON nn.nk = cd.nk""")),

    // Mann-Whitney U rank-sum test (tie-corrected normal approximation)
    // between the click and purchase event-value populations — the
    // nonparametric two-sample location test. Ranks come from the
    // distributed PrefixSum over value-distinct cells (never an
    // unpartitioned window): midrank×2 per cell is the integer
    // 2·before + t + 1, so the A-side rank sum, U, and the centered
    // numerator all stay BIGINT; the tie term Σ(t³−t) is a cell-local
    // integer. Only the variance assembly and the final z are doubles,
    // with a fixed operation tree mirrored in the oracle. The variance
    // is assembled in DOUBLE (nA·nB·(n+1)·n·(n−1) would overflow
    // BIGINT at web scale; the double tree loses nothing because the
    // oracle computes the identical tree).
    QueryDef("q214_mann_whitney", (s, d) => {
      val ev = t(s, d, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(col("value").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("ia"))
      val cells = ev.groupBy("v")
        .agg(sum("ia").as("a"), (count(lit(1)) - sum("ia")).as("b"))
        .withColumn("t", col("a") + col("b"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("t"))
      val r2a = cum
        .select((col("a") * doubledMidrank("t")).as("m"))
        .agg(sum("m").as("r2a"))
      val tot = cells.agg(sum("a").as("na"), sum("b").as("nb"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      val n = (col("na") + col("nb")).cast("double")
      val varU = (col("na").cast("double") * col("nb").cast("double")
        / lit(12.0)) *
        (n + lit(1.0) - col("tt").cast("double")
          / (n * (n - lit(1.0))))
      r2a.crossJoin(tot)
        .withColumn("u2", col("r2a") - col("na") * (col("na") + 1))
        .select(col("na"), col("nb"), col("tt"), col("u2"),
          (col("u2").cast("double") / lit(2.0)).as("u"),
          (((col("u2") - col("na") * col("nb")).cast("double")
            / lit(2.0)) / sqrt(varU)).as("z"))
    }, Some("""
      WITH ev AS (SELECT value AS v,
          CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
        FROM events WHERE event_type IN ('click', 'purchase')),
      cells AS (SELECT v, CAST(sum(ia) AS BIGINT) AS a,
          CAST(count(*) - sum(ia) AS BIGINT) AS b,
          CAST(count(*) AS BIGINT) AS t
        FROM ev GROUP BY 1),
      cum AS (SELECT *, CAST(sum(t) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS t_cum FROM cells),
      r AS (SELECT CAST(sum(a * (2 * (t_cum - t) + t + 1))
          AS BIGINT) AS r2a FROM cum),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
          CAST(sum(b) AS BIGINT) AS nb,
          CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM cells)
      SELECT na, nb, tt, r2a - na * (na + 1) AS u2,
        CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u,
        (CAST(r2a - na * (na + 1) - na * nb AS DOUBLE) / 2.0)
          / sqrt((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
            * (CAST(na + nb AS DOUBLE) + 1.0 - CAST(tt AS DOUBLE)
              / (CAST(na + nb AS DOUBLE)
                * (CAST(na + nb AS DOUBLE) - 1.0)))) AS z
      FROM r, tot""")),

    // CUSUM changepoint per event type over the daily ingest-count
    // series — where did the rate shift? S_t = Σ_{i≤t} cᵢ − t·(Σc/nd),
    // kept exact by scaling through the day count: Sn_t =
    // nd·Σ_{i≤t} cᵢ − t·Σc is pure BIGINT, and the changepoint is the
    // day maximizing |Sn_t| (earliest day on ties — a deterministic
    // ordered pick, not max_by's arbitrary one). The series is
    // calendar-bounded (one cell per type×day), so the per-type windows
    // order ≤O(days) rows — dimension-bounded, never row-scale; the
    // only row-scale step is the daily count aggregation.
    QueryDef("q215_cusum", (s, d) => {
      val cells = t(s, d, "events")
        .groupBy(col("event_type").as("et"),
          col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("et").orderBy("day")
      val tot = cells.groupBy("et")
        .agg(sum("c").as("sx"), count(lit(1)).as("nd"))
      val sn = cells
        .withColumn("cc", sum("c").over(w))
        .withColumn("tt", row_number().over(w).cast("long"))
        .join(broadcast(tot), Seq("et"))
        .withColumn("sn", col("nd") * col("cc") - col("tt") * col("sx"))
        .withColumn("asn", abs(col("sn")))
      val pick = Window.partitionBy("et")
        .orderBy(col("asn").desc, col("day").asc)
      sn.withColumn("rk", row_number().over(pick))
        .where(col("rk") === 1)
        .select(col("et"), col("day").as("cp_day"), col("nd"),
          col("sx"), col("sn"), col("asn"),
          (col("asn").cast("double") / col("nd").cast("double"))
            .as("cusum"))
    }, Some("""
      WITH cells AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      tot AS (SELECT et, CAST(sum(c) AS BIGINT) AS sx,
          CAST(count(*) AS BIGINT) AS nd FROM cells GROUP BY 1),
      sn AS (SELECT cells.et, day, nd, sx,
          nd * CAST(sum(c) OVER (PARTITION BY cells.et ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT)
            - CAST(row_number() OVER (PARTITION BY cells.et
                ORDER BY day) AS BIGINT) * sx AS sn
        FROM cells JOIN tot ON cells.et = tot.et),
      rk AS (SELECT *, abs(sn) AS asn,
          row_number() OVER (PARTITION BY et
            ORDER BY abs(sn) DESC, day) AS rk FROM sn)
      SELECT et, day AS cp_day, nd, sx, sn, asn,
        CAST(asn AS DOUBLE) / CAST(nd AS DOUBLE) AS cusum
      FROM rk WHERE rk = 1""")),

    // Population stability index between the finished (reference) and
    // open (comparison) order-price populations over the reference's
    // own deciles — the model-monitoring drift score. The 9 edges are
    // exact type-1 order statistics from the distributed PrefixSum CDF
    // (the q205 shape, never an unpartitioned window); both populations
    // bin by a 9-element broadcast array HOF, so past the two
    // value-cell aggregations nothing is row-scale. Every PSI term is
    // (a/np − b/nq)·(ln(a·nq) − ln(b·np)) with integer-valued ln
    // arguments through portable_ln (the q204 pattern), and the total
    // is a sorted fixed-order fold — both engines sum the 10 terms in
    // the same IEEE order. Empty comparison bins contribute 0 and are
    // counted in zero_bins instead of fabricating an epsilon.
    QueryDef("q216_psi", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      def cellsOf(status: String) = t(s, d, "orders")
        .where(col("o_orderstatus") === status)
        .groupBy(col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("c"))
      // ref feeds the CDF, the decile targets and its own binning pass
      val ref = cellsOf("F").transform(Cut.large)
      val cmp = cellsOf("O")
      val cum = PrefixSum.withRunningTotals(ref, "v", Seq("c"))
      val targets = ref.agg(sum("c").as("nn"))
        .select(col("nn"), explode(sequence(lit(1), lit(9))).as("k0"))
        .select(expr("((nn - 1) * k0) DIV 10 + 1").as("rk"))
      val edges = cum.join(broadcast(targets),
          col("rk") > col("c_cum") - col("c") && col("rk") <= col("c_cum"))
        .agg(sort_array(collect_list(col("v"))).as("es"))
        // one row, broadcast into both binned passes
        .transform(Cut.small(1))
      def binned(cells: org.apache.spark.sql.DataFrame, out: String) =
        cells.crossJoin(broadcast(edges))
          .select(sumInOrder(col("es"), lit(0L))(e =>
            when(col("v") > e, 1L).otherwise(0L)).as("bin"),
            col("c"))
          .groupBy("bin").agg(sum("c").as(out))
      // reference deciles guarantee every bin 0–9 exists on the a side;
      // the comparison side may miss bins → left join + 0 fill
      val perBin = binned(ref, "a")
        .join(binned(cmp, "b"), Seq("bin"), "left")
        .select(col("bin"), col("a"), coalesce(col("b"), lit(0L)).as("b"))
        // one row per decile bin; feeds tots, the term rows and the
        // final fold
        .transform(Cut.small(10))
      val tots = perBin.agg(sum("a").as("np"), sum("b").as("nq"),
        sum(when(col("b") === 0, 1L).otherwise(0L)).as("zero_bins"))
      val term = when(col("b") > 0,
        (col("a").cast("double") / col("np").cast("double")
          - col("b").cast("double") / col("nq").cast("double")) *
          (pln((col("a") * col("nq")).cast("double"))
            - pln((col("b") * col("np")).cast("double"))))
        .otherwise(lit(0.0))
      val rows = perBin.crossJoin(broadcast(tots))
        .select(col("bin"), col("a"), col("b"), col("np"), col("nq"),
          col("zero_bins"), term.as("term"))
      // fixed-order fold for the total: both engines add the ≤10 terms
      // in ascending-bin order (partition-order-free)
      val psi = rows
        .agg(sort_array(collect_list(struct(col("bin"), col("term"))))
          .as("ts"))
        .select(sumInOrder(col("ts"))(_.getField("term")).as("psi"))
      rows.crossJoin(broadcast(psi))
    }, Some("""
      WITH ref AS (SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS c
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
      cmp AS (SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS c
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
      rr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
          sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ccum,
          c, sum(c) OVER () AS n FROM ref),
      ks AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS k),
      edges AS (SELECT rr.v AS e FROM ks JOIN rr
        ON ((rr.n - 1) * ks.k) // 10 + 1 > rr.ccum - rr.c
          AND ((rr.n - 1) * ks.k) // 10 + 1 <= rr.ccum),
      ba AS (SELECT bin, CAST(sum(c) AS BIGINT) AS a FROM
        (SELECT r.v, any_value(r.c) AS c,
            CAST(count(e.e) AS BIGINT) AS bin
          FROM ref r LEFT JOIN edges e ON r.v > e.e GROUP BY r.v)
        GROUP BY 1),
      bb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS b FROM
        (SELECT r.v, any_value(r.c) AS c,
            CAST(count(e.e) AS BIGINT) AS bin
          FROM cmp r LEFT JOIN edges e ON r.v > e.e GROUP BY r.v)
        GROUP BY 1),
      pb AS (SELECT ba.bin, a, CAST(coalesce(bb.b, 0) AS BIGINT) AS b
        FROM ba LEFT JOIN bb ON ba.bin = bb.bin),
      tots AS (SELECT CAST(sum(a) AS BIGINT) AS np,
          CAST(sum(b) AS BIGINT) AS nq,
          CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS zero_bins FROM pb),
      rows_ AS (SELECT bin, a, b, np, nq, zero_bins,
          CASE WHEN b > 0 THEN
            (CAST(a AS DOUBLE) / CAST(np AS DOUBLE)
              - CAST(b AS DOUBLE) / CAST(nq AS DOUBLE))
            * (ln(CAST(a * nq AS DOUBLE)) - ln(CAST(b * np AS DOUBLE)))
          ELSE 0.0 END AS term
        FROM pb, tots),
      psi AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(list(struct_pack(bin := bin,
            term := term))), e -> e.term)), (p, q) -> p + q) AS psi
        FROM rows_)
      SELECT bin, a, b, np, nq, term, psi, zero_bins
      FROM rows_, psi""")),

    // Cochran-Armitage trend test: is the finished-order rate MONOTONE
    // in order priority (ordinal dose 1–5)? The dose domain is tiny, so
    // after one row-scale count aggregation the whole statistic lives
    // on 5 cells: the trend numerator Σsᵢ(rᵢN − nᵢR) and the variance
    // core V = N·Σsᵢ²nᵢ − (Σsᵢnᵢ)² are pure BIGINT (order-free sums),
    // and z = TN/√(R(N−R)·V/N) is the only floating-point step —
    // identical tree in the oracle. The chi-square test (q179 family)
    // ignores category order; this is the ordered-alternative power.
    QueryDef("q217_cochran_armitage", (s, d) => {
      val cells = t(s, d, "orders")
        .select(substring(col("o_orderpriority"), 1, 1).cast("long")
            .as("sx"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"))
        .groupBy("sx")
        .agg(count(lit(1)).as("ni"), sum("f").as("ri"))
      val tot = cells.agg(sum("ni").as("n"), sum("ri").as("r"),
        sum(col("sx") * col("ni")).as("sn"),
        sum(col("sx") * col("sx") * col("ni")).as("s2n"))
      cells.crossJoin(broadcast(tot))
        .groupBy("n", "r", "sn", "s2n")
        .agg(sum(col("sx") * (col("ri") * col("n")
          - col("ni") * col("r"))).as("tn"))
        .withColumn("v", col("n") * col("s2n") - col("sn") * col("sn"))
        .select(col("n"), col("r"), col("tn"), col("v"),
          (col("tn").cast("double")
            / sqrt((col("r") * (col("n") - col("r"))).cast("double")
              * col("v").cast("double") / col("n").cast("double")))
            .as("z"))
    }, Some("""
      WITH cells AS (SELECT
          CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS sx,
          CAST(count(*) AS BIGINT) AS ni,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS ri
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
          CAST(sum(ri) AS BIGINT) AS r,
          CAST(sum(sx * ni) AS BIGINT) AS sn,
          CAST(sum(sx * sx * ni) AS BIGINT) AS s2n FROM cells),
      tr AS (SELECT n, r, sn, s2n,
          CAST(sum(sx * (ri * n - ni * r)) AS BIGINT) AS tn
        FROM cells, tot GROUP BY 1, 2, 3, 4)
      SELECT n, r, tn, n * s2n - sn * sn AS v,
        CAST(tn AS DOUBLE)
          / sqrt(CAST(r * (n - r) AS DOUBLE)
            * CAST(n * s2n - sn * sn AS DOUBLE) / CAST(n AS DOUBLE)) AS z
      FROM tr""")),

    // Cohen's kappa between the documents' labeled language and the
    // engine's own n-gram/stopword language-ID heuristic (the q17
    // classifier) — chance-corrected agreement, THE
    // classifier-evaluation statistic for categorical predictions. The
    // label domain includes languages the heuristic cannot emit
    // (fr/zh), which is exactly the realistic open-domain case: the
    // marginal join is FULL OUTER with 0 fills so chance agreement
    // covers the union domain. κ = (N·Σnᵢᵢ − Σrᵢcᵢ)/(N² − Σrᵢcᵢ) is an
    // exact BIGINT rational — ONE double division total. Cells are
    // bounded by |langs|², so past the scan-side classify + count
    // nothing is row-scale.
    QueryDef("q218_cohens_kappa", (s, d) => {
      import graft.functions.TextFunctions
      val pairs = t(s, d, "documents")
        .select(col("lang").as("ra"),
          TextFunctions.langId(col("text")).as("rb"))
      val cells = pairs.groupBy("ra", "rb").agg(count(lit(1)).as("c"))
      val diag = cells.agg(
        sum(when(col("ra") === col("rb"), col("c")).otherwise(0L))
          .as("po_num"),
        sum("c").as("n"))
      val rows = cells.groupBy(col("ra").as("cat")).agg(sum("c").as("rc"))
      val cols = cells.groupBy(col("rb").as("cat")).agg(sum("c").as("cc"))
      val pe = rows.join(cols, Seq("cat"), "full_outer")
        .agg(sum(coalesce(col("rc"), lit(0L))
          * coalesce(col("cc"), lit(0L))).as("pe_num"))
      diag.crossJoin(pe)
        .select(col("n"), col("po_num"), col("pe_num"),
          (col("po_num").cast("double") / col("n").cast("double"))
            .as("po"),
          (col("pe_num").cast("double")
            / (col("n") * col("n")).cast("double")).as("pe"),
          ((col("n") * col("po_num") - col("pe_num")).cast("double")
            / (col("n") * col("n") - col("pe_num")).cast("double"))
            .as("kappa"))
    }, Some("""
      WITH pairs AS (SELECT lang AS ra,
          CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END AS rb
        FROM documents),
      cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2),
      diag AS (SELECT CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END)
            AS BIGINT) AS po_num,
          CAST(sum(c) AS BIGINT) AS n FROM cells),
      r AS (SELECT ra AS cat, CAST(sum(c) AS BIGINT) AS rc
        FROM cells GROUP BY 1),
      cl AS (SELECT rb AS cat, CAST(sum(c) AS BIGINT) AS cc
        FROM cells GROUP BY 1),
      pe AS (SELECT CAST(sum(coalesce(rc, 0) * coalesce(cc, 0))
          AS BIGINT) AS pe_num
        FROM r FULL OUTER JOIN cl USING (cat))
      SELECT n, po_num, pe_num,
        CAST(po_num AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
        CAST(n * po_num - pe_num AS DOUBLE)
          / CAST(n * n - pe_num AS DOUBLE) AS kappa
      FROM diag, pe""")),

    // Cochran-Mantel-Haenszel pooled odds ratio + CMH chi² (no
    // continuity correction) for urgent-priority → finished-status
    // association STRATIFIED by customer region — the
    // confounder-adjusted 2×2×K readout this engine's
    // disproportionality suite (q19/q74) would use to control a
    // spurious pooled signal (Simpson's paradox guard). One row-scale
    // orders⋈customer shuffle builds the 4·K cell table; every
    // per-stratum term is a fixed double tree (the BIGINT factor
    // products would overflow at web scale) and the four cross-stratum
    // sums are sorted fixed-order folds over the K≤dimension strata.
    QueryDef("q219_cmh_odds", (s, d) => {
      val strata = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey").as("rk"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("rk"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("e"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("o"))
        .groupBy("rk")
        .agg(sum(col("e") * col("o")).as("da"),
          sum(col("e") * (lit(1L) - col("o"))).as("db"),
          sum((lit(1L) - col("e")) * col("o")).as("dc"),
          sum((lit(1L) - col("e")) * (lit(1L) - col("o"))).as("dd"))
        .withColumn("nn", col("da") + col("db") + col("dc") + col("dd"))
      val terms = strata.select(col("rk"), col("da"), col("db"),
        col("dc"), col("dd"), col("nn"),
        (dbl(col("da")) * dbl(col("dd")) / dbl(col("nn"))).as("ad_n"),
        (dbl(col("db")) * dbl(col("dc")) / dbl(col("nn"))).as("bc_n"),
        (dbl(col("da")) - dbl(col("da") + col("db"))
          * dbl(col("da") + col("dc")) / dbl(col("nn"))).as("dev"),
        (dbl(col("da") + col("db")) * dbl(col("dc") + col("dd"))
          * dbl(col("da") + col("dc")) * dbl(col("db") + col("dd"))
          / (dbl(col("nn")) * dbl(col("nn"))
            * dbl(col("nn") - 1))).as("vr"))
      // cross-stratum double sums in ascending-stratum order: both
      // engines fold the ≤K terms in the same IEEE sequence
      terms
        .agg(sort_array(collect_list(struct(col("rk"), col("ad_n"),
          col("bc_n"), col("dev"), col("vr")))).as("cs"),
          count(lit(1)).as("k"))
        .select(col("k"),
          sumInOrder(col("cs"))(_.getField("ad_n")).as("s_ad"),
          sumInOrder(col("cs"))(_.getField("bc_n")).as("s_bc"),
          sumInOrder(col("cs"))(_.getField("dev")).as("s_dev"),
          sumInOrder(col("cs"))(_.getField("vr")).as("s_var"))
        .select(col("k"), col("s_ad"), col("s_bc"), col("s_dev"),
          col("s_var"), (col("s_ad") / col("s_bc")).as("or_mh"),
          (col("s_dev") * col("s_dev") / col("s_var")).as("chi2_cmh"))
    }, Some("""
      WITH strata AS (SELECT n_regionkey AS rk,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderstatus = 'F') AS BIGINT) AS da,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderstatus <> 'F') AS BIGINT) AS db,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderstatus = 'F') AS BIGINT) AS dc,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderstatus <> 'F') AS BIGINT) AS dd,
          CAST(count(*) AS BIGINT) AS nn
        FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1),
      terms AS (SELECT rk,
          CAST(da AS DOUBLE) * CAST(dd AS DOUBLE)
            / CAST(nn AS DOUBLE) AS ad_n,
          CAST(db AS DOUBLE) * CAST(dc AS DOUBLE)
            / CAST(nn AS DOUBLE) AS bc_n,
          CAST(da AS DOUBLE) - CAST(da + db AS DOUBLE)
            * CAST(da + dc AS DOUBLE) / CAST(nn AS DOUBLE) AS dev,
          CAST(da + db AS DOUBLE) * CAST(dc + dd AS DOUBLE)
            * CAST(da + dc AS DOUBLE) * CAST(db + dd AS DOUBLE)
            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
              * CAST(nn - 1 AS DOUBLE)) AS vr
        FROM strata),
      folded AS (SELECT CAST(count(*) AS BIGINT) AS k,
          list_sort(list(struct_pack(rk := rk, ad_n := ad_n,
            bc_n := bc_n, dev := dev, vr := vr))) AS cs
        FROM terms),
      sums AS (SELECT k,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.ad_n)), (p, q) -> p + q) AS s_ad,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.bc_n)), (p, q) -> p + q) AS s_bc,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.dev)), (p, q) -> p + q) AS s_dev,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.vr)), (p, q) -> p + q) AS s_var
        FROM folded)
      SELECT k, s_ad, s_bc, s_dev, s_var, s_ad / s_bc AS or_mh,
        s_dev * s_dev / s_var AS chi2_cmh
      FROM sums""")),

    // Kruskal-Wallis H (tie-corrected) across ALL FIVE event-type value
    // populations — the k-group generalization of q214's rank-sum test.
    // Same scale shape: midranks from the distributed PrefixSum CDF
    // over value-distinct cells (2·rank stays BIGINT), per-group rank
    // sums from one cell join on the already-aggregated value key, and
    // the k per-group R²/n terms fold in sorted group order; ties
    // Σ(t³−t) stay cell-local BIGINT. Output is the per-group rank
    // table (group, n, rank sum, mean rank) with H and the
    // tie-corrected H' attached — group count is dimension-bounded so
    // the broadcast attach is O(k).
    QueryDef("q220_kruskal_wallis", (s, d) => {
      val etv = t(s, d, "events")
        .groupBy(col("value").as("v"), col("event_type").as("et"))
        .agg(count(lit(1)).as("c"))
        // etv feeds tv (cum and tot) and rj
        .transform(Cut.large)
      val tv = etv.groupBy("v").agg(sum("c").as("t"))
      val cum = PrefixSum.withRunningTotals(tv, "v", Seq("t"))
        .select(col("v"), col("t"), col("t_cum"))
      val rj = etv.join(cum, Seq("v"))
        .groupBy("et")
        .agg(sum(col("c") * doubledMidrank("t")).as("r2"), sum("c").as("nj"))
        // one row per event type; feeds every downstream consumer
        .transform(Cut.small(5))
      val tot = tv.agg(sum("t").as("n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      val nD = col("n").cast("double")
      val h = (lit(12.0) / (nD * (nD + 1.0))) * col("s") -
        lit(3.0) * (nD + 1.0)
      val stats = rj
        .agg(sort_array(collect_list(struct(col("et"), col("r2"),
          col("nj")))).as("gs"), count(lit(1)).as("k"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n"), col("tt"),
          sumInOrder(col("gs"))(e => e.getField("r2").cast("double")
              * e.getField("r2").cast("double")
              / (lit(4.0) * e.getField("nj").cast("double"))).as("s"))
        .select(col("k"), col("n"), col("tt"), h.as("h"))
        .select(col("k"), col("n"), col("tt"), col("h"),
          (col("h") / (lit(1.0) - col("tt").cast("double")
            / (nD * nD * nD - nD))).as("h_adj"))
      rj.select(col("et"), col("nj"), col("r2"),
          (col("r2").cast("double")
            / (lit(2.0) * col("nj").cast("double"))).as("mean_rank"))
        .crossJoin(broadcast(stats))
    }, Some("""
      WITH etv AS (SELECT value AS v, event_type AS et,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      tv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t
        FROM etv GROUP BY 1),
      cum AS (SELECT v, t, CAST(sum(t) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS t_cum FROM tv),
      rj AS (SELECT et,
          CAST(sum(c * (2 * (t_cum - t) + t + 1)) AS BIGINT) AS r2,
          CAST(sum(c) AS BIGINT) AS nj
        FROM etv JOIN cum USING (v) GROUP BY 1),
      tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
          CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM tv),
      st AS (SELECT CAST(count(*) AS BIGINT) AS k,
          list_sort(list(struct_pack(et := et, r2 := r2, nj := nj)))
            AS gs
        FROM rj),
      hs AS (SELECT k, n, tt,
          (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)))
            * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(gs, e -> CAST(e.r2 AS DOUBLE)
                  * CAST(e.r2 AS DOUBLE)
                  / (4.0 * CAST(e.nj AS DOUBLE)))), (p, q) -> p + q)
            - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h
        FROM st, tot)
      SELECT et, nj, r2,
        CAST(r2 AS DOUBLE) / (2.0 * CAST(nj AS DOUBLE)) AS mean_rank,
        k, n, tt, h,
        h / (1.0 - CAST(tt AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(n AS DOUBLE))) AS h_adj
      FROM rj, hs""")),

    // One-way ANOVA F + η² effect size of l_quantity across return
    // flags. The quantity domain is integral, so the second moments
    // n_j/S_j/Q_j are exact BIGINT from ONE partial-aggregated scan;
    // Σ S_j²/n_j folds over the k≤3 groups in sorted order as a fixed
    // double tree (the BIGINT square would overflow at web scale), and
    // F/η² are assembled from those folds — identical IEEE sequence in
    // the oracle. Output is the per-group moment table with the global
    // F attached (O(k) broadcast).
    QueryDef("q221_anova_f", (s, d) => {
      val x = col("l_quantity").cast("long")
      val grp = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("g"))
        .agg(count(lit(1)).as("nj"), sum(x).as("sj"),
          sum(x * x).as("qj"))
      val stats = grp
        .agg(sort_array(collect_list(struct(col("g"), col("nj"),
          col("sj"), col("qj")))).as("gs"), count(lit(1)).as("k"),
          sum("nj").as("n"), sum("sj").as("ss"), sum("qj").as("qq"))
        .withColumn("a", sumInOrder(col("gs"))(e =>
          e.getField("sj").cast("double")
            * e.getField("sj").cast("double")
            / e.getField("nj").cast("double")))
        .withColumn("ssb", col("a") - col("ss").cast("double")
          * col("ss").cast("double") / col("n").cast("double"))
        .withColumn("ssw", col("qq").cast("double") - col("a"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k").cast("double") - 1.0))
            / (col("ssw") / (col("n").cast("double")
              - col("k").cast("double")))).as("f"),
          (col("ssb") / (col("ssb") + col("ssw"))).as("eta2"))
      grp.select(col("g"), col("nj"), col("sj"), col("qj"),
          (col("sj").cast("double") / col("nj").cast("double"))
            .as("mean_j"))
        .crossJoin(broadcast(stats))
    }, Some("""
      WITH grp AS (SELECT l_returnflag AS g,
          CAST(count(*) AS BIGINT) AS nj,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sj,
          CAST(sum(CAST(l_quantity AS BIGINT)
            * CAST(l_quantity AS BIGINT)) AS BIGINT) AS qj
        FROM lineitem GROUP BY 1),
      st AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(nj) AS BIGINT) AS n, CAST(sum(sj) AS BIGINT) AS ss,
          CAST(sum(qj) AS BIGINT) AS qq,
          list_sort(list(struct_pack(g := g, nj := nj, sj := sj,
            qj := qj))) AS gs
        FROM grp),
      aa AS (SELECT k, n, ss, qq,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(gs, e -> CAST(e.sj AS DOUBLE)
              * CAST(e.sj AS DOUBLE) / CAST(e.nj AS DOUBLE))),
            (p, q) -> p + q) AS a
        FROM st),
      f AS (SELECT k, n,
          a - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
            / CAST(n AS DOUBLE) AS ssb,
          CAST(qq AS DOUBLE) - a AS ssw
        FROM aa)
      SELECT g, nj, sj, qj,
        CAST(sj AS DOUBLE) / CAST(nj AS DOUBLE) AS mean_j,
        k, n, ssb, ssw,
        (ssb / (CAST(k AS DOUBLE) - 1.0))
          / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f,
        ssb / (ssb + ssw) AS eta2
      FROM grp, f""")),

    // Brown-Forsythe robust variance-homogeneity test (Levene with the
    // MEDIAN center): one-way ANOVA F on |x − median_g| — the
    // heteroscedasticity gate a careful analyst runs BEFORE trusting
    // q221's pooled-variance F. The quantity domain is integral, so
    // per-group medians come from the ≤50-cell CDF (x_(r1)+x_(r2) with
    // r1=(n+1) DIV 2, r2=n DIV 2+1 covers both parities without
    // branching) and every deviation is the BIGINT |2x − med2| — the
    // half-unit scale cancels in F, so the whole statistic stays exact
    // integer moments until the same sorted-fold double assembly as
    // q221. All windows are group×50-cell bounded, never row-scale.
    QueryDef("q222_brown_forsythe", (s, d) => {
      val cells = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        // return flags × quantities; feeds the rank/moment consumers
        .transform(Cut.small(3 * 50))
      val w = Window.partitionBy("g").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = cells.groupBy("g").agg(sum("c").as("nj"))
      val cum = cells.withColumn("cc", sum("c").over(w))
        .join(broadcast(tot), Seq("g"))
      def pick(rk: Column, out: String) = cum
        .where(col("cc") - col("c") < rk && rk <= col("cc"))
        .select(col("g"), col("q").as(out))
      val med = pick(expr("(nj + 1) DIV 2"), "x1")
        .join(pick(expr("nj DIV 2 + 1"), "x2"), Seq("g"))
        .select(col("g"), (col("x1") + col("x2")).as("med2"))
      val z = cells.join(broadcast(med), Seq("g"))
        .select(col("g"), col("c"),
          abs(lit(2L) * col("q") - col("med2")).as("z2"))
      val grp = z.groupBy("g")
        .agg(sum("c").as("nj"), sum(col("c") * col("z2")).as("sj"),
          sum(col("c") * col("z2") * col("z2")).as("qj"))
      val stats = grp
        .agg(sort_array(collect_list(struct(col("g"), col("nj"),
          col("sj"), col("qj")))).as("gs"), count(lit(1)).as("k"),
          sum("nj").as("n"), sum("sj").as("ss"), sum("qj").as("qq"))
        .withColumn("a", sumInOrder(col("gs"))(e =>
          e.getField("sj").cast("double")
            * e.getField("sj").cast("double")
            / e.getField("nj").cast("double")))
        .withColumn("ssb", col("a") - col("ss").cast("double")
          * col("ss").cast("double") / col("n").cast("double"))
        .withColumn("ssw", col("qq").cast("double") - col("a"))
        .select(col("k"), col("n"),
          ((col("ssb") / (col("k").cast("double") - 1.0))
            / (col("ssw") / (col("n").cast("double")
              - col("k").cast("double")))).as("f_bf"))
      grp.join(broadcast(med), Seq("g"))
        .select(col("g"), col("nj"),
          (col("med2").cast("double") / 2.0).as("median"),
          (col("sj").cast("double")
            / (lit(2.0) * col("nj").cast("double"))).as("mean_dev"))
        .crossJoin(broadcast(stats))
    }, Some("""
      WITH cells AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (SELECT g, q, c,
          CAST(sum(c) OVER (PARTITION BY g ORDER BY q
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
          CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nj
        FROM cells),
      med AS (SELECT m1.g, m1.x1 + m2.x2 AS med2 FROM
        (SELECT g, q AS x1 FROM cum
          WHERE cc - c < (nj + 1) // 2 AND (nj + 1) // 2 <= cc) m1
        JOIN (SELECT g, q AS x2 FROM cum
          WHERE cc - c < nj // 2 + 1 AND nj // 2 + 1 <= cc) m2
        ON m1.g = m2.g),
      z AS (SELECT cells.g, c, abs(2 * q - med2) AS z2
        FROM cells JOIN med ON cells.g = med.g),
      grp AS (SELECT g, CAST(sum(c) AS BIGINT) AS nj,
          CAST(sum(c * z2) AS BIGINT) AS sj,
          CAST(sum(c * z2 * z2) AS BIGINT) AS qj
        FROM z GROUP BY 1),
      st AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(nj) AS BIGINT) AS n, CAST(sum(sj) AS BIGINT) AS ss,
          CAST(sum(qj) AS BIGINT) AS qq,
          list_sort(list(struct_pack(g := g, nj := nj, sj := sj,
            qj := qj))) AS gs
        FROM grp),
      aa AS (SELECT k, n, ss, qq,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(gs, e -> CAST(e.sj AS DOUBLE)
              * CAST(e.sj AS DOUBLE) / CAST(e.nj AS DOUBLE))),
            (p, q) -> p + q) AS a
        FROM st),
      f AS (SELECT k, n,
          ((a - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
              / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
            / ((CAST(qq AS DOUBLE) - a)
              / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_bf
        FROM aa)
      SELECT g, nj, CAST(med2 AS DOUBLE) / 2.0 AS median,
        CAST(sj AS DOUBLE) / (2.0 * CAST(nj AS DOUBLE)) AS mean_dev,
        k, n, f_bf
      FROM grp JOIN med USING (g), f""")),

    // Deterministic multiplier ("Poisson") bootstrap standard error of
    // mean l_quantity, B=32 replicates — distribution-free error bars
    // with NO resampling pass: each row's per-replicate weight
    // w∈{0,1,2,3} (probabilities 6/16, 6/16, 3/16, 1/16 ≈ Poisson(1))
    // comes from one hex nibble of md5(rowkey, chunk) — 16 replicates
    // per digest — so the whole bootstrap is one explode(×B) +
    // partial-aggregated count with B/16 hashes per row: 2B counters
    // per partition at any scale, the textbook streaming-bootstrap
    // shape.
    // The quantity is integral so every replicate's (Σw, Σwx) is exact
    // BIGINT; replicate means and the SE fold over the 32 sorted
    // replicate structs as fixed double trees.
    QueryDef("q223_bootstrap_se", (s, d) => {
      val reps = 32
      // spread the single-split fixture before the per-row md5 fan-out
      // (reps/16 digests + 16 nibble decodes per row are the dominant
      // cost and run BEFORE the first exchange — on one scan task they
      // serialize on a single core; a 100 TB scan has thousands of
      // natural splits, the q83/q86 rationale).
      val rows = t(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          concat_ws(":", col("l_orderkey"), col("l_linenumber"))
            .as("rk"))
        .transform(Spread.orderFree)
      // ONE digest feeds 16 replicates (its 16 hex nibbles), so the
      // row×replicate fan-out computes reps/16 md5 calls per row, not
      // reps — at 32 replicates a 16× cut in the dominant hash cost
      // (this was the suite's heaviest query before the chunking)
      val cells = rows
        .select(col("x"), col("rk"),
          explode(sequence(lit(1), lit(reps / 16))).as("ch"))
        .select(col("x"), col("ch"),
          md5(concat_ws(":", col("rk"), col("ch"))).as("dig"))
        .select(col("x"), col("ch"),
          explode(sequence(lit(1), lit(16))).as("nib"), col("dig"))
        .select(((col("ch") - 1) * 16 + col("nib")).as("b"), col("x"),
          conv(substr(col("dig"), col("nib"), lit(1)), 16, 10)
            .cast("long").as("h"))
        .select(col("b"), col("x"),
          when(col("h") < 6, 0L).when(col("h") < 12, 1L)
            .when(col("h") < 15, 2L).otherwise(3L).as("w"))
        .groupBy("b")
        .agg(sum("w").as("nb"), sum(col("w") * col("x")).as("sb"))
      val obs = rows.agg(count(lit(1)).as("n"), sum("x").as("ss"))
      cells
        .agg(sort_array(collect_list(struct(col("b"), col("nb"),
          col("sb")))).as("bs"), count(lit(1)).as("nrep"))
        .crossJoin(obs)
        .withColumn("ms", transform(col("bs"), e =>
          e.getField("sb").cast("double")
            / e.getField("nb").cast("double")))
        .withColumn("boot_mean",
          sumInOrder(col("ms"))(identity)
            / col("nrep").cast("double"))
        .select(col("nrep"), col("n"),
          (col("ss").cast("double") / col("n").cast("double"))
            .as("mean_obs"),
          col("boot_mean"),
          sqrt(sumInOrder(col("ms"))(m =>
            (m - col("boot_mean")) * (m - col("boot_mean")))
            / (col("nrep").cast("double") - 1.0)).as("boot_se"))
    }, Some("""
      WITH rows_ AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          CAST(l_orderkey AS VARCHAR) || ':'
            || CAST(l_linenumber AS VARCHAR) AS rk
        FROM lineitem),
      chs AS (SELECT CAST(unnest(range(1, 3)) AS BIGINT) AS ch),
      nibs AS (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS nib),
      wts AS (SELECT (ch - 1) * 16 + nib AS b, x,
          CAST('0x' || substr(md5(rk || ':' || CAST(ch AS VARCHAR)),
            CAST(nib AS INTEGER), 1) AS BIGINT) AS h
        FROM rows_, chs, nibs),
      cells AS (SELECT b,
          CAST(sum(CASE WHEN h < 6 THEN 0 WHEN h < 12 THEN 1
            WHEN h < 15 THEN 2 ELSE 3 END) AS BIGINT) AS nb,
          CAST(sum(x * CASE WHEN h < 6 THEN 0 WHEN h < 12 THEN 1
            WHEN h < 15 THEN 2 ELSE 3 END) AS BIGINT) AS sb
        FROM wts GROUP BY 1),
      obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS ss FROM rows_),
      fold AS (SELECT CAST(count(*) AS BIGINT) AS nrep,
          list_transform(list_sort(list(struct_pack(b := b, nb := nb,
            sb := sb))), e -> CAST(e.sb AS DOUBLE)
            / CAST(e.nb AS DOUBLE)) AS ms
        FROM cells),
      bm AS (SELECT nrep, ms,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms),
            (p, q) -> p + q) / CAST(nrep AS DOUBLE) AS boot_mean
        FROM fold)
      SELECT nrep, n, CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS mean_obs,
        boot_mean,
        sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(ms, m -> (m - boot_mean) * (m - boot_mean))),
          (p, q) -> p + q) / (CAST(nrep AS DOUBLE) - 1.0)) AS boot_se
      FROM bm, obs""")),

    // Exact-count permutation test for the R-vs-other mean-quantity
    // gap, P=32 deterministic label shuffles: each permutation
    // reassigns every row by one nibble bit of md5(rowkey, chunk) —
    // 16 permutations per digest, the q223 chunking — the permuted
    // group moments are BIGINT counters from the same explode +
    // partial-agg shape as q223 (2P counters per partition — no
    // resampled copies of the data ever exist), and the p-value is an
    // INTEGER count of permutations at least as extreme as the
    // observed gap (d² comparison avoids abs; both engines compare
    // identical IEEE doubles, so the count is deterministic). The
    // distribution-free companion to q217/q221's parametric z/F.
    QueryDef("q224_permutation_test", (s, d) => {
      val perms = 32
      // spread the single-split fixture before the per-row md5 fan-out —
      // same rationale as q223 above
      val rows = t(s, d, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"),
          concat_ws(":", col("l_orderkey"), col("l_linenumber"))
            .as("rk"))
        .transform(Spread.orderFree)
      val obs = rows.agg(count(lit(1)).as("n"), sum("x").as("ss"),
        sum("r").as("n1"), sum(col("r") * col("x")).as("s1"))
      // one digest feeds 16 permutations via its nibbles (the q223
      // chunking): perms/16 md5 calls per row instead of perms
      val perm = rows
        .select(col("x"), col("rk"),
          explode(sequence(lit(1), lit(perms / 16))).as("ch"))
        .select(col("x"), col("ch"),
          md5(concat_ws(":", col("rk"), col("ch"))).as("dig"))
        .select(col("x"), col("ch"),
          explode(sequence(lit(1), lit(16))).as("nib"), col("dig"))
        .select(((col("ch") - 1) * 16 + col("nib")).as("p"), col("x"),
          when(conv(substr(col("dig"), col("nib"), lit(1)), 16, 10)
            .cast("long") < 8, 1L).otherwise(0L).as("g1"))
        .groupBy("p")
        .agg(sum("g1").as("pn1"), sum(col("g1") * col("x")).as("ps1"))
      def gap(s1: Column, n1: Column, ss: Column, n: Column) =
        s1.cast("double") / n1.cast("double") -
          (ss - s1).cast("double") / (n - n1).cast("double")
      val d0 = gap(col("s1"), col("n1"), col("ss"), col("n"))
      val dp = gap(col("ps1"), col("pn1"), col("ss"), col("n"))
      perm.crossJoin(broadcast(obs))
        .select(col("p"), d0.as("d_obs"), dp.as("d_perm"))
        .groupBy("d_obs")
        .agg(count(lit(1)).as("nperm"),
          sum(when(col("d_perm") * col("d_perm")
            >= col("d_obs") * col("d_obs"), 1L).otherwise(0L))
            .as("n_extreme"))
        .select(col("nperm"), col("d_obs"), col("n_extreme"),
          ((col("n_extreme") + 1).cast("double")
            / (col("nperm") + 1).cast("double")).as("p_value"))
    }, Some("""
      WITH rows_ AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
          CAST(l_orderkey AS VARCHAR) || ':'
            || CAST(l_linenumber AS VARCHAR) AS rk
        FROM lineitem),
      obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS ss, CAST(sum(r) AS BIGINT) AS n1,
          CAST(sum(r * x) AS BIGINT) AS s1 FROM rows_),
      chs AS (SELECT CAST(unnest(range(1, 3)) AS BIGINT) AS ch),
      nibs AS (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS nib),
      perm AS (SELECT (ch - 1) * 16 + nib AS p,
          CAST(sum(CASE WHEN CAST('0x' || substr(md5(rk || ':'
            || CAST(ch AS VARCHAR)), CAST(nib AS INTEGER), 1)
            AS BIGINT) < 8
            THEN 1 ELSE 0 END) AS BIGINT) AS pn1,
          CAST(sum(CASE WHEN CAST('0x' || substr(md5(rk || ':'
            || CAST(ch AS VARCHAR)), CAST(nib AS INTEGER), 1)
            AS BIGINT) < 8
            THEN x ELSE 0 END) AS BIGINT) AS ps1
        FROM rows_, chs, nibs GROUP BY 1),
      gaps AS (SELECT p,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(ss - s1 AS DOUBLE) / CAST(n - n1 AS DOUBLE) AS d_obs,
          CAST(ps1 AS DOUBLE) / CAST(pn1 AS DOUBLE)
            - CAST(ss - ps1 AS DOUBLE) / CAST(n - pn1 AS DOUBLE)
            AS d_perm
        FROM perm, obs)
      SELECT CAST(count(*) AS BIGINT) AS nperm, d_obs,
        CAST(sum(CASE WHEN d_perm * d_perm >= d_obs * d_obs
          THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        CAST(sum(CASE WHEN d_perm * d_perm >= d_obs * d_obs
          THEN 1 ELSE 0 END) + 1 AS DOUBLE)
          / CAST(count(*) + 1 AS DOUBLE) AS p_value
      FROM gaps GROUP BY d_obs""")),

    // Welch's unequal-variance t between the R and A return-flag
    // quantity populations, with the Satterthwaite effective df — the
    // two-sample test that does NOT assume q221's pooled variance. One
    // filtered scan produces all six BIGINT moments (the quantity
    // domain is integral); means, per-group sample variances, t and df
    // are a single fixed double tree on that one row — mirrored
    // verbatim in the oracle.
    QueryDef("q225_welch_t", (s, d) => {
      val x = col("l_quantity").cast("long")
      def m(flag: String, c: Column) =
        sum(when(col("l_returnflag") === flag, c).otherwise(0L))
      val mom = t(s, d, "lineitem")
        .where(col("l_returnflag").isin("R", "A"))
        .agg(m("R", lit(1L)).as("n1"), m("R", x).as("s1"),
          m("R", x * x).as("q1"), m("A", lit(1L)).as("n2"),
          m("A", x).as("s2"), m("A", x * x).as("q2"))
      def mean(sc: Column, n: Column) = dbl(sc) / dbl(n)
      def variance(q: Column, sc: Column, n: Column) =
        (dbl(q) - dbl(sc) * dbl(sc) / dbl(n)) / (dbl(n) - 1.0)
      val v1n = variance(col("q1"), col("s1"), col("n1")) / dbl(col("n1"))
      val v2n = variance(col("q2"), col("s2"), col("n2")) / dbl(col("n2"))
      mom.select(col("n1"), col("n2"),
        mean(col("s1"), col("n1")).as("mean1"),
        mean(col("s2"), col("n2")).as("mean2"),
        ((mean(col("s1"), col("n1")) - mean(col("s2"), col("n2")))
          / sqrt(v1n + v2n)).as("t_stat"),
        ((v1n + v2n) * (v1n + v2n)
          / (v1n * v1n / (dbl(col("n1")) - 1.0)
            + v2n * v2n / (dbl(col("n2")) - 1.0))).as("df"))
    }, Some("""
      WITH mom AS (SELECT
          CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
            AS n1,
          CAST(sum(CAST(l_quantity AS BIGINT))
            FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS s1,
          CAST(sum(CAST(l_quantity AS BIGINT)
              * CAST(l_quantity AS BIGINT))
            FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS q1,
          CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT)
            AS n2,
          CAST(sum(CAST(l_quantity AS BIGINT))
            FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS s2,
          CAST(sum(CAST(l_quantity AS BIGINT)
              * CAST(l_quantity AS BIGINT))
            FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS q2
        FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      vs AS (SELECT n1, n2,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
          CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean2,
          ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
            / CAST(n1 AS DOUBLE) AS v1n,
          ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
              / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0))
            / CAST(n2 AS DOUBLE) AS v2n
        FROM mom)
      SELECT n1, n2, mean1, mean2,
        (mean1 - mean2) / sqrt(v1n + v2n) AS t_stat,
        (v1n + v2n) * (v1n + v2n)
          / (v1n * v1n / (CAST(n1 AS DOUBLE) - 1.0)
            + v2n * v2n / (CAST(n2 AS DOUBLE) - 1.0)) AS df
      FROM vs""")),

    // Empirical-Bayes (beta-binomial method-of-moments) shrinkage of
    // per-nation finished-order rates toward the pooled rate — the
    // small-group-rate stabilizer every per-entity-rate dashboard
    // needs: raw rates for 60-order nations are noise, shrunk rates
    // borrow strength. Prior strength M = p̄(1−p̄)/s² − 1 from the
    // BETWEEN-group rate variance s² (a sorted fold over the k≤25
    // group structs), clamped at 0; shrunk_g = (a_g + M·p̄)/(n_g + M).
    // Group moments are BIGINT from one orders⋈customer shuffle;
    // everything after is k-bounded with fixed double trees.
    QueryDef("q226_eb_shrinkage", (s, d) => {
      val grp = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nk")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nk")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("a"))
      val prior = grp
        .agg(sort_array(collect_list(struct(col("nk"), col("a"),
          col("n")))).as("gs"), count(lit(1)).as("k"),
          sum("a").as("sa"), sum("n").as("sn"))
        .withColumn("p_bar",
          col("sa").cast("double") / col("sn").cast("double"))
        .withColumn("s2", sumInOrder(col("gs"))(e =>
          (e.getField("a").cast("double")
            / e.getField("n").cast("double") - col("p_bar"))
            * (e.getField("a").cast("double")
              / e.getField("n").cast("double") - col("p_bar")))
          / (col("k").cast("double") - 1.0))
        .select(col("k"), col("p_bar"), col("s2"),
          greatest(col("p_bar") * (lit(1.0) - col("p_bar")) / col("s2")
            - lit(1.0), lit(0.0)).as("m_strength"))
      grp.crossJoin(broadcast(prior))
        .select(col("nk"), col("a"), col("n"),
          (col("a").cast("double") / col("n").cast("double"))
            .as("rate"),
          col("k"), col("p_bar"), col("m_strength"),
          ((col("a").cast("double") + col("m_strength") * col("p_bar"))
            / (col("n").cast("double") + col("m_strength")))
            .as("shrunk"))
    }, Some("""
      WITH grp AS (SELECT c_nationkey AS nk,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS a
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
      st AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(sum(a) AS BIGINT) AS sa, CAST(sum(n) AS BIGINT) AS sn,
          list_sort(list(struct_pack(nk := nk, a := a, n := n))) AS gs
        FROM grp),
      pr AS (SELECT k,
          CAST(sa AS DOUBLE) / CAST(sn AS DOUBLE) AS p_bar,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(gs, e ->
              (CAST(e.a AS DOUBLE) / CAST(e.n AS DOUBLE)
                - CAST(sa AS DOUBLE) / CAST(sn AS DOUBLE))
              * (CAST(e.a AS DOUBLE) / CAST(e.n AS DOUBLE)
                - CAST(sa AS DOUBLE) / CAST(sn AS DOUBLE)))),
            (p, q) -> p + q) / (CAST(k AS DOUBLE) - 1.0) AS s2
        FROM st),
      ms AS (SELECT k, p_bar, s2,
          greatest(p_bar * (1.0 - p_bar) / s2 - 1.0, 0.0) AS m_strength
        FROM pr)
      SELECT nk, a, n, CAST(a AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
        k, p_bar, m_strength,
        (CAST(a AS DOUBLE) + m_strength * p_bar)
          / (CAST(n AS DOUBLE) + m_strength) AS shrunk
      FROM grp, ms""")),

    // Good-Turing frequency smoothing over the corpus trigram-shingle
    // vocabulary (the q211 shingle — unigrams in this synthetic corpus
    // have no rare tail, trigrams have the classic one): the
    // frequency-of-frequencies table N_r and the discounted counts
    // r* = (r+1)·N_{r+1}/N_r for r ≤ 5, plus the unseen-mass estimate
    // p₀ = N₁/N — the LM-smoothing classic. Two keyed aggregations
    // (shingle→count, count→N_r) are the only row-scale steps —
    // exactly the shape that survives a 100 TB corpus — and the
    // N_{r+1} lookup is a self-join on the tiny N_r table. One double
    // division per output row.
    QueryDef("q227_good_turing", (s, d) => {
      val terms = t(s, d, "documents")
        .select(split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 3)
        .select(explode(transform(sequence(lit(1), size(col("ts")) - 2),
          i => concat_ws("_", element_at(col("ts"), i),
            element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2)))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("r"))
      // examined r06: cutting/spreading the trigram term table REGRESSED
      // (0.58 → 0.82 s) — vocabulary-sized materialization costs more
      // than the duplicate scan-side passes it saves; left as-is.
      val nr = terms.groupBy("r").agg(count(lit(1)).as("n_r"))
      val tot = terms.agg(sum("r").as("n_tok"))
        .crossJoin(broadcast(
          nr.where(col("r") === 1)
            .select(col("n_r").as("n_one"))))
      nr.join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")),
          Seq("r"))
        .where(col("r") <= 5)
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"), col("n_r1"), col("n_tok"),
          ((col("r") + 1).cast("double") * col("n_r1").cast("double")
            / col("n_r").cast("double")).as("r_star"),
          (col("n_one").cast("double") / col("n_tok").cast("double"))
            .as("p0"))
    }, Some("""
      WITH dt AS (SELECT string_split(text, ' ') AS ts
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      terms AS (SELECT
          unnest(list_transform(range(1, len(ts) - 1), i ->
            ts[i] || '_' || ts[i + 1] || '_' || ts[i + 2])) AS term
        FROM dt),
      tc AS (SELECT term, CAST(count(*) AS BIGINT) AS r
        FROM terms GROUP BY 1),
      nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        FROM tc GROUP BY 1),
      tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_tok FROM tc),
      one AS (SELECT n_r AS n_one FROM nr WHERE r = 1)
      SELECT a.r, a.n_r, b.n_r AS n_r1, n_tok,
        CAST(a.r + 1 AS DOUBLE) * CAST(b.n_r AS DOUBLE)
          / CAST(a.n_r AS DOUBLE) AS r_star,
        CAST(n_one AS DOUBLE) / CAST(n_tok AS DOUBLE) AS p0
      FROM nr a JOIN nr b ON b.r = a.r + 1, tot, one
      WHERE a.r <= 5""")),

    // Chapman capture-recapture estimate of the active-user population
    // from two independent "captures" (click events vs view events) —
    // the coverage estimator a crawl pipeline uses to ask "how big is
    // the web we HAVEN'T fetched?" from two overlapping crawl passes.
    // One distinct-user aggregation builds both capture flags; the
    // estimator N̂ = (n1+1)(n2+1)/(m+1) − 1 and its Seber variance are
    // a fixed double tree on the three BIGINT counts (the factor
    // products would overflow BIGINT at web scale).
    QueryDef("q228_capture_recapture", (s, d) => {
      val u = t(s, d, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c1"),
          max(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("c2"))
      u.agg(sum("c1").as("n1"), sum("c2").as("n2"),
          sum(col("c1") * col("c2")).as("m"))
        .select(col("n1"), col("n2"), col("m"),
          ((dbl(col("n1")) + 1.0) * (dbl(col("n2")) + 1.0)
            / (dbl(col("m")) + 1.0) - 1.0).as("n_hat"),
          sqrt((dbl(col("n1")) + 1.0) * (dbl(col("n2")) + 1.0)
            * (dbl(col("n1")) - dbl(col("m")))
            * (dbl(col("n2")) - dbl(col("m")))
            / ((dbl(col("m")) + 1.0) * (dbl(col("m")) + 1.0)
              * (dbl(col("m")) + 2.0))).as("se"))
    }, Some("""
      WITH u AS (SELECT user_id,
          max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
          max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        FROM events GROUP BY 1),
      cnt AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
          CAST(sum(c2) AS BIGINT) AS n2,
          CAST(sum(c1 * c2) AS BIGINT) AS m FROM u)
      SELECT n1, n2, m,
        (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
          / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS n_hat,
        sqrt((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
          * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
          * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
          / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)
            * (CAST(m AS DOUBLE) + 2.0))) AS se
      FROM cnt""")),

    // Durbin-Watson serial-correlation statistic per event type over
    // the daily-count series — the residual-autocorrelation companion
    // to q209's ACF. Residuals from the series mean are kept EXACT by
    // scaling through the day count (ê·nd = nd·x_t − Σx is BIGINT, and
    // the nd² factor cancels in the ratio), so both quadratic sums are
    // order-free BIGINT and DW = Σ(Δê)²/Σê² is ONE double division.
    // The series is calendar-bounded; the lag window partitions by
    // type — never row-scale.
    QueryDef("q229_durbin_watson", (s, d) => {
      val cells = t(s, d, "events")
        .groupBy(col("event_type").as("et"),
          col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val tot = cells.groupBy("et")
        .agg(sum("c").as("sx"), count(lit(1)).as("nd"))
      val w = Window.partitionBy("et").orderBy("day")
      cells.join(broadcast(tot), Seq("et"))
        .withColumn("en", col("nd") * col("c") - col("sx"))
        .withColumn("enp", lag("en", 1).over(w))
        .groupBy("et")
        .agg(first("nd").as("nd"),
          sum(col("en") * col("en")).as("sse"),
          sum(when(col("enp").isNotNull,
            (col("en") - col("enp")) * (col("en") - col("enp")))
            .otherwise(0L)).as("ssd"))
        .select(col("et"), col("nd"), col("sse"), col("ssd"),
          (col("ssd").cast("double") / col("sse").cast("double"))
            .as("dw"))
    }, Some("""
      WITH cells AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      tot AS (SELECT et, CAST(sum(c) AS BIGINT) AS sx,
          CAST(count(*) AS BIGINT) AS nd FROM cells GROUP BY 1),
      en AS (SELECT cells.et, nd, nd * c - sx AS en,
          lag(nd * c - sx) OVER (PARTITION BY cells.et ORDER BY day)
            AS enp
        FROM cells JOIN tot ON cells.et = tot.et)
      SELECT et, CAST(any_value(nd) AS BIGINT) AS nd,
        CAST(sum(en * en) AS BIGINT) AS sse,
        CAST(sum(CASE WHEN enp IS NOT NULL
          THEN (en - enp) * (en - enp) ELSE 0 END) AS BIGINT) AS ssd,
        CAST(sum(CASE WHEN enp IS NOT NULL
          THEN (en - enp) * (en - enp) ELSE 0 END) AS DOUBLE)
          / CAST(sum(en * en) AS DOUBLE) AS dw
      FROM en GROUP BY 1""")),

    // Delta-method standard error for the cluster-randomized ratio
    // metric "quantity per order" with CUSTOMERS as the independent
    // clusters — the A/B-testing workhorse: per-unit averaging is
    // wrong when units correlate within a customer, so the SE comes
    // from cluster-level (Σx, Σy) bivariate moments. One
    // lineitem⋈orders shuffle + one customer-keyed aggregation yield
    // five exact BIGINT cluster moments; R = Σx/Σy and the linearized
    // variance (s_x² − 2R·s_xy + R²·s_y²)/(n·μ_y²) are one fixed
    // double tree.
    QueryDef("q230_delta_method", (s, d) => {
      val oq = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val cl = t(s, d, "orders")
        .join(oq, col("o_orderkey") === col("ok"), "left")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(coalesce(col("qty"), lit(0L))).as("x"),
          count(lit(1)).as("y"))
      val mom = cl.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val nD = dbl(col("n"))
      val r = dbl(col("sx")) / dbl(col("sy"))
      val vx = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / nD) /
        (nD - 1.0)
      val vy = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / nD) /
        (nD - 1.0)
      val cxy = (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / nD) /
        (nD - 1.0)
      val muY = dbl(col("sy")) / nD
      mom.select(col("n"), col("sx"), col("sy"), r.as("ratio"),
        sqrt((vx - lit(2.0) * r * cxy + r * r * vy)
          / (nD * muY * muY)).as("se"))
    }, Some("""
      WITH oq AS (SELECT l_orderkey AS ok,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1),
      cl AS (SELECT o_custkey AS ck,
          CAST(sum(coalesce(qty, 0)) AS BIGINT) AS x,
          CAST(count(*) AS BIGINT) AS y
        FROM orders LEFT JOIN oq ON o_orderkey = ok GROUP BY 1),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM cl)
      SELECT n, sx, sy,
        CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
        sqrt((
          (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
          - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0))
          + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
            * ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
              * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0)))
          / (CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE)))) AS se
      FROM mom""")),

    // Murphy decomposition of the Brier score (reliability −
    // resolution + uncertainty) for a train/eval-split forecaster:
    // per-priority finished-order rates estimated on ODD order keys
    // forecast the EVEN-key outcomes — the calibration readout behind
    // any probability-emitting model gate. One scan builds the 4·K
    // train/eval cells; the forecast is constant within each of the
    // K≤5 priority groups, so Brier/REL/RES are sorted fixed-order
    // folds over K structs of exact-count-derived doubles. Output is
    // the per-group calibration table with the decomposition attached.
    QueryDef("q231_brier_decomposition", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("g"))
        .agg(
          sum(when(col("o_orderkey") % 2 === 1, 1L).otherwise(0L))
            .as("tn"),
          sum(when(col("o_orderkey") % 2 === 1
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("ta"),
          sum(when(col("o_orderkey") % 2 === 0, 1L).otherwise(0L))
            .as("m"),
          sum(when(col("o_orderkey") % 2 === 0
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("o"))
      val g = cells.select(col("g"), col("tn"), col("ta"), col("m"),
        col("o"),
        (col("ta").cast("double") / col("tn").cast("double")).as("p_g"),
        (col("o").cast("double") / col("m").cast("double")).as("o_g"))
      val dec = g
        .agg(sort_array(collect_list(struct(col("g"), col("m"),
          col("o"), col("p_g"), col("o_g")))).as("cs"),
          sum("m").as("mm"), sum("o").as("oo"))
        .withColumn("obar",
          col("oo").cast("double") / col("mm").cast("double"))
        .select(col("mm"), col("obar"),
          (sumInOrder(col("cs"))(e => e.getField("o").cast("double")
            * (lit(1.0) - e.getField("p_g"))
            * (lit(1.0) - e.getField("p_g"))
            + (e.getField("m") - e.getField("o")).cast("double")
            * e.getField("p_g") * e.getField("p_g"))
            / col("mm").cast("double")).as("brier"),
          (sumInOrder(col("cs"))(e => e.getField("m").cast("double")
            * (e.getField("p_g") - e.getField("o_g"))
            * (e.getField("p_g") - e.getField("o_g")))
            / col("mm").cast("double")).as("rel"),
          (sumInOrder(col("cs"))(e => e.getField("m").cast("double")
            * (e.getField("o_g") - col("obar"))
            * (e.getField("o_g") - col("obar")))
            / col("mm").cast("double")).as("res"))
        .withColumn("unc", col("obar") * (lit(1.0) - col("obar")))
      g.crossJoin(broadcast(dec))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS g,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
            AS tn,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 1
            AND o_orderstatus = 'F') AS BIGINT) AS ta,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
            AS m,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0
            AND o_orderstatus = 'F') AS BIGINT) AS o
        FROM orders GROUP BY 1),
      g AS (SELECT *, CAST(ta AS DOUBLE) / CAST(tn AS DOUBLE) AS p_g,
          CAST(o AS DOUBLE) / CAST(m AS DOUBLE) AS o_g
        FROM cells),
      st AS (SELECT CAST(sum(m) AS BIGINT) AS mm,
          CAST(sum(o) AS BIGINT) AS oo,
          list_sort(list(struct_pack(g := g, m := m, o := o,
            p_g := p_g, o_g := o_g))) AS cs
        FROM g),
      dec AS (SELECT mm,
          CAST(oo AS DOUBLE) / CAST(mm AS DOUBLE) AS obar,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> CAST(e.o AS DOUBLE)
              * (1.0 - e.p_g) * (1.0 - e.p_g)
              + CAST(e.m - e.o AS DOUBLE) * e.p_g * e.p_g)),
            (p, q) -> p + q) / CAST(mm AS DOUBLE) AS brier,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> CAST(e.m AS DOUBLE)
              * (e.p_g - e.o_g) * (e.p_g - e.o_g))),
            (p, q) -> p + q) / CAST(mm AS DOUBLE) AS rel,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> CAST(e.m AS DOUBLE)
              * (e.o_g - CAST(oo AS DOUBLE) / CAST(mm AS DOUBLE))
              * (e.o_g - CAST(oo AS DOUBLE) / CAST(mm AS DOUBLE)))),
            (p, q) -> p + q) / CAST(mm AS DOUBLE) AS res
        FROM st)
      SELECT g.g, tn, ta, m, o, p_g, o_g, mm, obar, brier, rel, res,
        obar * (1.0 - obar) AS unc
      FROM g, dec""")),

    // Theil-Sen robust trend slope per event type: the MEDIAN of all
    // pairwise daily-count slopes — outlier-resistant where q209/q229's
    // moment statistics are not. The series is calendar-bounded, so
    // the pair table is ≤(days choose 2) rows per type and the median
    // pick is a per-type window over that bounded set (slope ties
    // broken by day pair — a deterministic total order in both
    // engines); the x_(r1)/x_(r2) two-rank trick from q222 handles
    // both parities, and the final average of two doubles is
    // commutative, so no fold is needed.
    QueryDef("q232_theil_sen", (s, d) => {
      val cells = t(s, d, "events")
        .groupBy(col("event_type").as("et"),
          col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val a = cells.select(col("et"), col("day").as("da"),
        col("c").as("ca"))
      val b = cells.select(col("et").as("et2"), col("day").as("db"),
        col("c").as("cb"))
      val pairs = a.join(b,
          col("et") === col("et2") && col("da") < col("db"))
        .select(col("et"), col("da"), col("db"),
          ((col("cb") - col("ca")).cast("double")
            / datediff(col("db"), col("da")).cast("double"))
            .as("slope"))
      val w = Window.partitionBy("et")
        .orderBy(col("slope"), col("da"), col("db"))
      val tot = pairs.groupBy("et").agg(count(lit(1)).as("np"))
      pairs.withColumn("rn", row_number().over(w))
        .join(broadcast(tot), Seq("et"))
        .where(col("rn") === expr("(np + 1) DIV 2")
          || col("rn") === expr("np DIV 2 + 1"))
        .groupBy("et")
        .agg(first("np").as("npairs"), avg("slope").as("med_slope"))
    }, Some("""
      WITH cells AS (SELECT event_type AS et, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      pairs AS (SELECT a.et, a.day AS da, b.day AS db,
          CAST(b.c - a.c AS DOUBLE)
            / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        FROM cells a JOIN cells b
          ON a.et = b.et AND a.day < b.day),
      rn AS (SELECT *, row_number() OVER (PARTITION BY et
            ORDER BY slope, da, db) AS rn,
          count(*) OVER (PARTITION BY et) AS np
        FROM pairs)
      SELECT et, CAST(any_value(np) AS BIGINT) AS npairs,
        avg(slope) AS med_slope
      FROM rn
      WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
      GROUP BY 1""")),

    // Best 1-D decision stump on o_totalprice predicting finished
    // status — the information-gain split search behind every tree
    // learner, run the 100 TB way: candidate splits are the
    // value-distinct cells, BOTH class counts cumulate through ONE
    // distributed PrefixSum pass, every candidate's IG is a narrow
    // per-row expression (entropies via integer-argument portable_ln:
    // c·(ln n − ln c) — the 0·ln0 cells guard to 0), and the winner is
    // a TakeOrderedAndProject (bounded heap, deterministic value
    // tie-break) — no per-split scans, no driver loop. Gini gain is
    // reported at the same winning split.
    QueryDef("q233_decision_stump", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "orders")
        .groupBy(col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("a"))
        // cells feeds the CDF and the totals
        .transform(Cut.large)
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("n", "a"))
      val tot = cells.agg(sum("n").as("nn"), sum("a").as("aa"))
      // class-entropy mass of a node, times N: Σ_class c·(ln n − ln c)
      def mass(cls: Column, n: Column) =
        when(cls > 0, cls.cast("double") * (pln(n) - pln(cls)))
          .otherwise(lit(0.0))
      def nodeMass(a: Column, n: Column) = mass(a, n) + mass(n - a, n)
      // Gini mass of a node, times N: n · (1 − (a² + (n−a)²)/n²)
      def giniMass(a: Column, n: Column) =
        n.cast("double") * (lit(1.0)
          - (a.cast("double") * a.cast("double")
            + (n - a).cast("double") * (n - a).cast("double"))
            / (n.cast("double") * n.cast("double")))
      val nl = col("n_cum")
      val al = col("a_cum")
      val nr = col("nn") - nl
      val ar = col("aa") - al
      cum.crossJoin(broadcast(tot))
        .where(nl > 0 && nr > 0)
        .select(col("v"), nl.as("nl"), al.as("al"), nr.as("nr"),
          ar.as("ar"),
          ((nodeMass(col("aa"), col("nn"))
            - nodeMass(al, nl) - nodeMass(ar, nr))
            / col("nn").cast("double")).as("ig"),
          ((giniMass(col("aa"), col("nn"))
            - giniMass(al, nl) - giniMass(ar, nr))
            / col("nn").cast("double")).as("gini_gain"))
        .orderBy(col("ig").desc, col("v")).limit(1)
    }, Some("""
      WITH cells AS (SELECT o_totalprice AS v,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS a
        FROM orders GROUP BY 1),
      cum AS (SELECT v, n, a,
          CAST(sum(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS nl,
          CAST(sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS al
        FROM cells),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
          CAST(sum(a) AS BIGINT) AS aa FROM cells),
      ig AS (SELECT v, nl, al, nn - nl AS nr, aa - al AS ar,
          ((CASE WHEN aa > 0 THEN CAST(aa AS DOUBLE)
              * (ln(CAST(nn AS DOUBLE)) - ln(CAST(aa AS DOUBLE)))
              ELSE 0.0 END
            + CASE WHEN nn - aa > 0 THEN CAST(nn - aa AS DOUBLE)
              * (ln(CAST(nn AS DOUBLE)) - ln(CAST(nn - aa AS DOUBLE)))
              ELSE 0.0 END)
           - (CASE WHEN al > 0 THEN CAST(al AS DOUBLE)
              * (ln(CAST(nl AS DOUBLE)) - ln(CAST(al AS DOUBLE)))
              ELSE 0.0 END
            + CASE WHEN nl - al > 0 THEN CAST(nl - al AS DOUBLE)
              * (ln(CAST(nl AS DOUBLE)) - ln(CAST(nl - al AS DOUBLE)))
              ELSE 0.0 END)
           - (CASE WHEN aa - al > 0 THEN CAST(aa - al AS DOUBLE)
              * (ln(CAST(nn - nl AS DOUBLE))
                - ln(CAST(aa - al AS DOUBLE)))
              ELSE 0.0 END
            + CASE WHEN (nn - nl) - (aa - al) > 0
              THEN CAST((nn - nl) - (aa - al) AS DOUBLE)
              * (ln(CAST(nn - nl AS DOUBLE))
                - ln(CAST((nn - nl) - (aa - al) AS DOUBLE)))
              ELSE 0.0 END))
           / CAST(nn AS DOUBLE) AS ig,
          ((CAST(nn AS DOUBLE) * (1.0
              - (CAST(aa AS DOUBLE) * CAST(aa AS DOUBLE)
                + CAST(nn - aa AS DOUBLE) * CAST(nn - aa AS DOUBLE))
                / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))))
           - (CAST(nl AS DOUBLE) * (1.0
              - (CAST(al AS DOUBLE) * CAST(al AS DOUBLE)
                + CAST(nl - al AS DOUBLE) * CAST(nl - al AS DOUBLE))
                / (CAST(nl AS DOUBLE) * CAST(nl AS DOUBLE))))
           - (CAST(nn - nl AS DOUBLE) * (1.0
              - (CAST(aa - al AS DOUBLE) * CAST(aa - al AS DOUBLE)
                + CAST((nn - nl) - (aa - al) AS DOUBLE)
                  * CAST((nn - nl) - (aa - al) AS DOUBLE))
                / (CAST(nn - nl AS DOUBLE) * CAST(nn - nl AS DOUBLE)))))
           / CAST(nn AS DOUBLE) AS gini_gain
        FROM cum, tot WHERE nl > 0 AND nn - nl > 0)
      SELECT v, nl, al, nr, ar, ig, gini_gain
      FROM ig ORDER BY ig DESC, v LIMIT 1""")),

    // Weight-of-evidence + information value of the customer market
    // segment for "has at least one finished order" — the
    // credit-scoring feature-screening table. Per-customer outcomes
    // from one orders aggregation (customers with no orders count as
    // non-events via the left join), segment cells from a second;
    // WoE_g = ln(good_g·B) − ln(bad_g·G) keeps every portable_ln
    // argument an exact integer (the q204 pattern), zero cells emit 0
    // with an audit flag instead of an epsilon, and IV folds the K≤5
    // segment terms in sorted order.
    QueryDef("q234_woe_iv", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val outcome = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        .join(t(s, d, "orders")
            .groupBy(col("o_custkey"))
            .agg(max(when(col("o_orderstatus") === "F", 1L)
              .otherwise(0L)).as("y")),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("seg"), coalesce(col("y"), lit(0L)).as("y"))
      val cells = outcome.groupBy("seg")
        .agg(sum("y").as("good"), sum(lit(1L) - col("y")).as("bad"))
      val tot = cells.agg(sum("good").as("gg"), sum("bad").as("bb"))
      val woe = when(col("good") > 0 && col("bad") > 0,
        pln(col("good") * col("bb")) - pln(col("bad") * col("gg")))
        .otherwise(lit(0.0))
      val per = cells.crossJoin(broadcast(tot))
        .select(col("seg"), col("good"), col("bad"), col("gg"),
          col("bb"), woe.as("woe"),
          when(col("good") === 0 || col("bad") === 0, 1L).otherwise(0L)
            .as("zero_cell"))
      val iv = per
        .agg(sort_array(collect_list(struct(col("seg"),
          ((col("good").cast("double") / col("gg").cast("double")
            - col("bad").cast("double") / col("bb").cast("double"))
            * col("woe")).as("term")))).as("cs"))
        .select(sumInOrder(col("cs"))(_.getField("term")).as("iv"))
      per.crossJoin(broadcast(iv))
    }, Some("""
      WITH oc AS (SELECT o_custkey,
          max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS y
        FROM orders GROUP BY 1),
      outcome AS (SELECT c_mktsegment AS seg,
          CAST(coalesce(y, 0) AS BIGINT) AS y
        FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
      cells AS (SELECT seg, CAST(sum(y) AS BIGINT) AS good,
          CAST(sum(1 - y) AS BIGINT) AS bad
        FROM outcome GROUP BY 1),
      tot AS (SELECT CAST(sum(good) AS BIGINT) AS gg,
          CAST(sum(bad) AS BIGINT) AS bb FROM cells),
      per AS (SELECT seg, good, bad, gg, bb,
          CASE WHEN good > 0 AND bad > 0
            THEN ln(CAST(good * bb AS DOUBLE))
              - ln(CAST(bad * gg AS DOUBLE))
            ELSE 0.0 END AS woe,
          CAST(CASE WHEN good = 0 OR bad = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS zero_cell
        FROM cells, tot),
      iv AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(list(struct_pack(seg := seg,
            term := (CAST(good AS DOUBLE) / CAST(gg AS DOUBLE)
              - CAST(bad AS DOUBLE) / CAST(bb AS DOUBLE)) * woe))),
            e -> e.term)), (p, q) -> p + q) AS iv
        FROM per)
      SELECT seg, good, bad, gg, bb, woe, zero_cell, iv
      FROM per, iv""")),

    // One-step Huber M-estimator of location for l_quantity per return
    // flag — the outlier-clipped mean, computed WITHOUT any iteration:
    // median and MAD come from the ≤50-cell group CDFs (the q222
    // two-rank trick), and because both live on a half-unit integer
    // grid, the ψ-clipping at c = 1.5·MAD is an EXACT integer
    // comparison (4·dev vs ±3·mad4 in eighth-units) — the clipped-sum
    // accumulator stays BIGINT and the estimate needs just two final
    // divisions. Robust location at 100 TB: two dimension-bounded CDF
    // picks plus one more cell pass.
    QueryDef("q235_huber_location", (s, d) => {
      val cells = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        // return flags × quantities; feeds the rank/moment consumers
        .transform(Cut.small(3 * 50))
      val w = Window.partitionBy("g").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = cells.groupBy("g").agg(sum("c").as("nj"))
      def twoRank(cdf: org.apache.spark.sql.DataFrame, vc: String,
          out: String) = {
        def pick(rk: Column, o: String) = cdf
          .where(col("cc") - col("c") < rk && rk <= col("cc"))
          .select(col("g"), col(vc).as(o))
        pick(expr("(nj + 1) DIV 2"), "x1")
          .join(pick(expr("nj DIV 2 + 1"), "x2"), Seq("g"))
          .select(col("g"), (col("x1") + col("x2")).as(out))
      }
      val cum = cells.withColumn("cc", sum("c").over(w))
        .join(broadcast(tot), Seq("g"))
      val med = twoRank(cum, "q", "med2")
      // deviation cells on the half-unit grid; two-rank again for MAD
      val zc = cells.join(broadcast(med), Seq("g"))
        .select(col("g"), col("c"),
          abs(lit(2L) * col("q") - col("med2")).as("z2"))
        .groupBy("g", "z2").agg(sum("c").as("c"))
      val zw = Window.partitionBy("g").orderBy("z2")
        .rowsBetween(Window.unboundedPreceding, 0)
      val zcum = zc.withColumn("cc", sum("c").over(zw))
        .join(broadcast(tot), Seq("g"))
      val mad4 = twoRank(zcum, "z2", "mad4")
      // ψ-clipped sum in eighth-units: clip(4·(2q − med2), ±3·mad4)
      val dev4 = lit(4L) * (lit(2L) * col("q") - col("med2"))
      val thr = lit(3L) * col("mad4")
      val psi = cells.join(broadcast(med), Seq("g"))
        .join(broadcast(mad4), Seq("g"))
        .groupBy("g")
        .agg(sum(col("c") * when(dev4 > thr, thr)
          .when(dev4 < -thr, -thr).otherwise(dev4)).as("s8"),
          sum("c").as("nj"))
      psi.join(broadcast(med), Seq("g"))
        .join(broadcast(mad4), Seq("g"))
        .select(col("g"), col("nj"),
          (col("med2").cast("double") / 2.0).as("median"),
          (col("mad4").cast("double") / 4.0).as("mad"),
          (col("med2").cast("double") / 2.0
            + col("s8").cast("double")
              / (lit(8.0) * col("nj").cast("double"))).as("huber"))
    }, Some("""
      WITH cells AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (SELECT g, q, c,
          CAST(sum(c) OVER (PARTITION BY g ORDER BY q
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
          CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nj
        FROM cells),
      med AS (SELECT m1.g, m1.x1 + m2.x2 AS med2 FROM
        (SELECT g, q AS x1 FROM cum
          WHERE cc - c < (nj + 1) // 2 AND (nj + 1) // 2 <= cc) m1
        JOIN (SELECT g, q AS x2 FROM cum
          WHERE cc - c < nj // 2 + 1 AND nj // 2 + 1 <= cc) m2
        ON m1.g = m2.g),
      zc AS (SELECT cells.g, abs(2 * q - med2) AS z2,
          CAST(sum(c) AS BIGINT) AS c
        FROM cells JOIN med ON cells.g = med.g GROUP BY 1, 2),
      zcum AS (SELECT g, z2, c,
          CAST(sum(c) OVER (PARTITION BY g ORDER BY z2
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc,
          CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nj
        FROM zc),
      mad AS (SELECT m1.g, m1.x1 + m2.x2 AS mad4 FROM
        (SELECT g, z2 AS x1 FROM zcum
          WHERE cc - c < (nj + 1) // 2 AND (nj + 1) // 2 <= cc) m1
        JOIN (SELECT g, z2 AS x2 FROM zcum
          WHERE cc - c < nj // 2 + 1 AND nj // 2 + 1 <= cc) m2
        ON m1.g = m2.g),
      psi AS (SELECT cells.g,
          CAST(sum(c * CASE
            WHEN 4 * (2 * q - med2) > 3 * mad4 THEN 3 * mad4
            WHEN 4 * (2 * q - med2) < -3 * mad4 THEN -3 * mad4
            ELSE 4 * (2 * q - med2) END) AS BIGINT) AS s8,
          CAST(sum(c) AS BIGINT) AS nj
        FROM cells JOIN med ON cells.g = med.g
          JOIN mad ON cells.g = mad.g
        GROUP BY 1)
      SELECT psi.g, nj, CAST(med2 AS DOUBLE) / 2.0 AS median,
        CAST(mad4 AS DOUBLE) / 4.0 AS mad,
        CAST(med2 AS DOUBLE) / 2.0
          + CAST(s8 AS DOUBLE) / (8.0 * CAST(nj AS DOUBLE)) AS huber
      FROM psi JOIN med ON psi.g = med.g JOIN mad ON psi.g = mad.g""")),

    // Differentially-private count release per event type (Laplace
    // mechanism, ε=1, sensitivity 1) with DETERMINISTIC noise: the
    // Laplace draw inverts the CDF at u = md5("dp:"||type)/2³², so the
    // "noise" is reproducible for the oracle — the honest caveat is
    // documented (production would use a real RNG; the mechanism
    // arithmetic, clamping, and per-key independence are what this
    // query exercises). ln stays on exact integer arguments:
    // ln(u_num+1) − ln(2³²) with u_num = 2³² − 2|h − 2³¹| — the q204
    // portable_ln pattern. One partial-agg count; noise is O(1) per
    // released key.
    QueryDef("q236_dp_counts", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val k = 4294967296L // 2^32
      val counts = t(s, d, "events")
        .groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n_true"))
      counts
        .withColumn("h", conv(substring(md5(
          concat(lit("dp:"), col("et"))), 1, 8), 16, 10).cast("long"))
        .withColumn("u_num",
          lit(k) - lit(2L) * abs(col("h") - lit(k / 2)))
        .withColumn("noise",
          when(col("h") >= k / 2, lit(-1.0)).otherwise(lit(1.0))
            * (pln(col("u_num") + 1) - pln(lit(k))))
        .select(col("et"), col("n_true"), col("h"), col("noise"),
          (col("n_true").cast("double") + col("noise")).as("released"),
          lit(1.0).as("epsilon"))
    }, Some("""
      WITH counts AS (SELECT event_type AS et,
          CAST(count(*) AS BIGINT) AS n_true
        FROM events GROUP BY 1),
      hs AS (SELECT et, n_true,
          CAST('0x' || substr(md5('dp:' || et), 1, 8) AS BIGINT) AS h
        FROM counts),
      un AS (SELECT et, n_true, h,
          4294967296 - 2 * abs(h - 2147483648) AS u_num FROM hs),
      ns AS (SELECT et, n_true, h,
          (CASE WHEN h >= 2147483648 THEN -1.0 ELSE 1.0 END)
            * (ln(CAST(u_num + 1 AS DOUBLE))
              - ln(CAST(4294967296 AS DOUBLE))) AS noise
        FROM un)
      SELECT et, n_true, h, noise,
        CAST(n_true AS DOUBLE) + noise AS released,
        1.0 AS epsilon
      FROM ns""")),

    // k-anonymity + l-diversity audit of the customer table under the
    // quasi-identifier (nation, market segment), k=10 / l=3, with the
    // one-step generalization (nation only) beside it — the
    // privacy-governance pre-flight a dataset-release pipeline runs
    // before shipping. Sensitive attribute = acctbal thousand-band.
    // Pure partial-aggregated group sizes + one distinct count per
    // level; the audit output is O(levels), never row-scale.
    QueryDef("q237_k_anonymity", (s, d) => {
      val cust = t(s, d, "customer").select(
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("sens"))
      def audit(level: String, keys: Seq[String]) = cust
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("sz"),
          countDistinct("sens").as("ldiv"))
        .agg(lit(level).as("level"), lit(10L).as("k"), lit(3L).as("l"),
          count(lit(1)).as("n_groups"),
          sum(when(col("sz") < 10, 1L).otherwise(0L))
            .as("n_violating_k"),
          sum(when(col("sz") < 10, col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          min("ldiv").as("min_ldiv"),
          sum(when(col("ldiv") < 3, 1L).otherwise(0L))
            .as("n_violating_l"))
      audit("nation_segment", Seq("nk", "seg"))
        .unionAll(audit("nation_only", Seq("nk")))
    }, Some("""
      WITH cust AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
          CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens
        FROM customer),
      g1 AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS sz,
          CAST(count(DISTINCT sens) AS BIGINT) AS ldiv
        FROM cust GROUP BY 1, 2),
      g2 AS (SELECT nk, CAST(count(*) AS BIGINT) AS sz,
          CAST(count(DISTINCT sens) AS BIGINT) AS ldiv
        FROM cust GROUP BY 1),
      a1 AS (SELECT 'nation_segment' AS level, CAST(10 AS BIGINT) AS k,
          CAST(3 AS BIGINT) AS l, CAST(count(*) AS BIGINT) AS n_groups,
          CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_k,
          CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
            AS rows_at_risk,
          CAST(min(ldiv) AS BIGINT) AS min_ldiv,
          CAST(sum(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating_l
        FROM g1),
      a2 AS (SELECT 'nation_only', CAST(10 AS BIGINT),
          CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT),
          CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT),
          CAST(min(ldiv) AS BIGINT),
          CAST(sum(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
        FROM g2)
      SELECT * FROM a1 UNION ALL SELECT * FROM a2""")),

    // Leave-one-source-out corpus-quality sensitivity: how does each
    // source's REMOVAL move the corpus stopword-hit rate (the q17
    // quality signal)? The jackknife-by-source data-valuation readout a
    // curation pipeline uses to rank sources for pruning. Per-doc
    // stop-hit and token counts are exact integers, so the full and
    // every LOO rate are BIGINT rationals with one division each; one
    // scan, one source-keyed aggregation, K-bounded output.
    QueryDef("q238_source_loo", (s, d) => {
      val docs = t(s, d, "documents").select(col("source"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0)))
          .cast("long").as("hits"),
        (length(col("text"))
          - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("toks"))
      val per = docs.groupBy("source")
        .agg(sum("hits").as("sx"), sum("toks").as("st"))
      val tot = per.agg(sum("sx").as("tx"), sum("st").as("tt"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("sx"), col("st"),
          (col("tx").cast("double") / col("tt").cast("double"))
            .as("full_rate"),
          ((col("tx") - col("sx")).cast("double")
            / (col("tt") - col("st")).cast("double")).as("loo_rate"))
        .withColumn("delta", col("loo_rate") - col("full_rate"))
    }, Some("""
      WITH docs AS (SELECT source,
          CAST(len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT) AS hits,
          CAST(length(text) - length(replace(text, ' ', '')) + 1
            AS BIGINT) AS toks
        FROM documents),
      per AS (SELECT source, CAST(sum(hits) AS BIGINT) AS sx,
          CAST(sum(toks) AS BIGINT) AS st
        FROM docs GROUP BY 1),
      tot AS (SELECT CAST(sum(sx) AS BIGINT) AS tx,
          CAST(sum(st) AS BIGINT) AS tt FROM per)
      SELECT source, sx, st,
        CAST(tx AS DOUBLE) / CAST(tt AS DOUBLE) AS full_rate,
        CAST(tx - sx AS DOUBLE) / CAST(tt - st AS DOUBLE) AS loo_rate,
        CAST(tx - sx AS DOUBLE) / CAST(tt - st AS DOUBLE)
          - CAST(tx AS DOUBLE) / CAST(tt AS DOUBLE) AS delta
      FROM per, tot""")),

    // Kolmogorov-Smirnov uniformity audit of the engine's OWN md5 unit
    // splitter (the q163-family A/B draw): the exact one-sample KS
    // distance of u = h/2³² over distinct users against U(0,1), with
    // the 1.36/√n 5% critical value beside it — if this audit fails,
    // every md5-split experiment in the library is suspect. ECDF comes
    // from the distributed PrefixSum over hash-distinct cells (never an
    // unpartitioned window); D⁺/D⁻ are per-cell doubles reduced by
    // max() — order-free, exact. The audit of the randomness is itself
    // a 100 TB-shaped job.
    QueryDef("q239_splitter_uniformity", (s, d) => {
      val k = 4294967296L // 2^32
      val cells = t(s, d, "events")
        .select(col("user_id")).distinct()
        .select(conv(substring(md5(col("user_id").cast("string")),
          1, 8), 16, 10).cast("long").as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      val cum = PrefixSum.withRunningTotals(cells, "h", Seq("c"))
      val tot = cells.agg(sum("c").as("n"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"),
          (col("c_cum").cast("double") / col("n").cast("double")
            - col("h").cast("double") / lit(k.toDouble)).as("dp"),
          (col("h").cast("double") / lit(k.toDouble)
            - (col("c_cum") - col("c")).cast("double")
              / col("n").cast("double")).as("dm"))
        .groupBy("n")
        .agg(max("dp").as("d_plus"), max("dm").as("d_minus"))
        .select(col("n"), col("d_plus"), col("d_minus"),
          greatest(col("d_plus"), col("d_minus")).as("d"),
          (lit(1.36) / sqrt(col("n").cast("double"))).as("crit_05"),
          when(greatest(col("d_plus"), col("d_minus"))
            <= lit(1.36) / sqrt(col("n").cast("double")), 1L)
            .otherwise(0L).as("uniform_ok"))
    }, Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      hs AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
          1, 8) AS BIGINT) AS h FROM u),
      cells AS (SELECT h, CAST(count(*) AS BIGINT) AS c
        FROM hs GROUP BY 1),
      cum AS (SELECT h, c, CAST(sum(c) OVER (ORDER BY h
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c_cum FROM cells),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      ds AS (SELECT n,
          max(CAST(c_cum AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(h AS DOUBLE) / 4294967296.0) AS d_plus,
          max(CAST(h AS DOUBLE) / 4294967296.0
            - CAST(c_cum - c AS DOUBLE) / CAST(n AS DOUBLE)) AS d_minus
        FROM cum, tot GROUP BY 1)
      SELECT n, d_plus, d_minus,
        greatest(d_plus, d_minus) AS d,
        1.36 / sqrt(CAST(n AS DOUBLE)) AS crit_05,
        CAST(CASE WHEN greatest(d_plus, d_minus)
          <= 1.36 / sqrt(CAST(n AS DOUBLE)) THEN 1 ELSE 0 END
          AS BIGINT) AS uniform_ok
      FROM ds""")),

    // Inverse-propensity-weighted ATE of urgent priority on finished
    // status, propensities estimated WITHIN market-segment strata —
    // the observational-causal companion to q219's CMH: IPW reweights
    // instead of pooling. Every stratum cell is BIGINT from one
    // orders⋈customer shuffle; each stratum's treated/control
    // contributions a_s·n_s/nt_s and c_s·n_s/(n_s−nt_s) are single
    // fixed double trees, and the cross-stratum sum folds in sorted
    // order over the K≤5 structs. Per-stratum propensity table with
    // the ATE attached.
    QueryDef("q240_ipw_ate", (s, d) => {
      val strata = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
        .select(col("seg"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("tr"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
        .groupBy("seg")
        .agg(count(lit(1)).as("ns"), sum("tr").as("nt"),
          sum(col("tr") * col("y")).as("a"),
          sum((lit(1L) - col("tr")) * col("y")).as("cc"))
      val terms = strata.select(col("seg"), col("ns"), col("nt"),
        col("a"), col("cc"),
        (dbl(col("nt")) / dbl(col("ns"))).as("e_s"),
        (dbl(col("a")) * dbl(col("ns")) / dbl(col("nt"))
          - dbl(col("cc")) * dbl(col("ns"))
            / dbl(col("ns") - col("nt"))).as("term"))
      val ate = terms
        .agg(sort_array(collect_list(struct(col("seg"), col("term"))))
          .as("cs"), sum("ns").as("n"))
        .select(col("n"),
          (sumInOrder(col("cs"))(_.getField("term")) / col("n").cast("double"))
            .as("ate"))
      terms.drop("term").crossJoin(broadcast(ate))
    }, Some("""
      WITH strata AS (SELECT c_mktsegment AS seg,
          CAST(count(*) AS BIGINT) AS ns,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
            AS BIGINT) AS nt,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderstatus = 'F') AS BIGINT) AS a,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderstatus = 'F') AS BIGINT) AS cc
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      terms AS (SELECT seg, ns, nt, a, cc,
          CAST(nt AS DOUBLE) / CAST(ns AS DOUBLE) AS e_s,
          CAST(a AS DOUBLE) * CAST(ns AS DOUBLE) / CAST(nt AS DOUBLE)
            - CAST(cc AS DOUBLE) * CAST(ns AS DOUBLE)
              / CAST(ns - nt AS DOUBLE) AS term
        FROM strata),
      ate AS (SELECT CAST(sum(ns) AS BIGINT) AS n,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(seg := seg,
              term := term))), e -> e.term)), (p, q) -> p + q)
            / CAST(sum(ns) AS DOUBLE) AS ate
        FROM terms)
      SELECT seg, ns, nt, a, cc, e_s, n, ate
      FROM terms, ate""")),

    // Difference-in-differences for the finished-order rate: urgent
    // (treated) vs non-urgent (control) orders, pre/post the
    // 1998-01-01 period cut — the panel-causal baseline. Four BIGINT
    // cells from one scan; the DiD point estimate and its binomial SE
    // (√Σp(1−p)/n over the four cells) are one fixed double tree.
    QueryDef("q241_diff_in_diff", (s, d) => {
      def cell(tr: Boolean, post: Boolean, c: Column) = {
        val trc = if (tr) col("o_orderpriority") === "1-URGENT"
          else col("o_orderpriority") =!= "1-URGENT"
        val pc = if (post) col("o_orderdate") >= lit("1998-01-01")
          else col("o_orderdate") < lit("1998-01-01")
        sum(when(trc && pc, c).otherwise(0L))
      }
      val f = when(col("o_orderstatus") === "F", 1L).otherwise(0L)
      val cells = t(s, d, "orders").agg(
        cell(tr = true, post = false, lit(1L)).as("nt1"),
        cell(tr = true, post = false, f).as("at1"),
        cell(tr = true, post = true, lit(1L)).as("nt2"),
        cell(tr = true, post = true, f).as("at2"),
        cell(tr = false, post = false, lit(1L)).as("nc1"),
        cell(tr = false, post = false, f).as("ac1"),
        cell(tr = false, post = true, lit(1L)).as("nc2"),
        cell(tr = false, post = true, f).as("ac2"))
      def rate(a: String, n: String) =
        col(a).cast("double") / col(n).cast("double")
      def pv(a: String, n: String) =
        rate(a, n) * (lit(1.0) - rate(a, n)) / col(n).cast("double")
      cells.select(col("nt1"), col("nt2"), col("nc1"), col("nc2"),
        rate("at1", "nt1").as("p_t1"), rate("at2", "nt2").as("p_t2"),
        rate("ac1", "nc1").as("p_c1"), rate("ac2", "nc2").as("p_c2"),
        ((rate("at2", "nt2") - rate("at1", "nt1"))
          - (rate("ac2", "nc2") - rate("ac1", "nc1"))).as("did"),
        sqrt(pv("at1", "nt1") + pv("at2", "nt2")
          + pv("ac1", "nc1") + pv("ac2", "nc2")).as("se"))
    }, Some("""
      WITH cells AS (SELECT
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate < '1998-01-01') AS BIGINT) AS nt1,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate < '1998-01-01' AND o_orderstatus = 'F')
            AS BIGINT) AS at1,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate >= '1998-01-01') AS BIGINT) AS nt2,
          CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate >= '1998-01-01' AND o_orderstatus = 'F')
            AS BIGINT) AS at2,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderdate < '1998-01-01') AS BIGINT) AS nc1,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderdate < '1998-01-01' AND o_orderstatus = 'F')
            AS BIGINT) AS ac1,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderdate >= '1998-01-01') AS BIGINT) AS nc2,
          CAST(count(*) FILTER (WHERE o_orderpriority <> '1-URGENT'
            AND o_orderdate >= '1998-01-01' AND o_orderstatus = 'F')
            AS BIGINT) AS ac2
        FROM orders)
      SELECT nt1, nt2, nc1, nc2,
        CAST(at1 AS DOUBLE) / CAST(nt1 AS DOUBLE) AS p_t1,
        CAST(at2 AS DOUBLE) / CAST(nt2 AS DOUBLE) AS p_t2,
        CAST(ac1 AS DOUBLE) / CAST(nc1 AS DOUBLE) AS p_c1,
        CAST(ac2 AS DOUBLE) / CAST(nc2 AS DOUBLE) AS p_c2,
        (CAST(at2 AS DOUBLE) / CAST(nt2 AS DOUBLE)
          - CAST(at1 AS DOUBLE) / CAST(nt1 AS DOUBLE))
        - (CAST(ac2 AS DOUBLE) / CAST(nc2 AS DOUBLE)
          - CAST(ac1 AS DOUBLE) / CAST(nc1 AS DOUBLE)) AS did,
        sqrt(
          (CAST(at1 AS DOUBLE) / CAST(nt1 AS DOUBLE))
            * (1.0 - CAST(at1 AS DOUBLE) / CAST(nt1 AS DOUBLE))
            / CAST(nt1 AS DOUBLE)
          + (CAST(at2 AS DOUBLE) / CAST(nt2 AS DOUBLE))
            * (1.0 - CAST(at2 AS DOUBLE) / CAST(nt2 AS DOUBLE))
            / CAST(nt2 AS DOUBLE)
          + (CAST(ac1 AS DOUBLE) / CAST(nc1 AS DOUBLE))
            * (1.0 - CAST(ac1 AS DOUBLE) / CAST(nc1 AS DOUBLE))
            / CAST(nc1 AS DOUBLE)
          + (CAST(ac2 AS DOUBLE) / CAST(nc2 AS DOUBLE))
            * (1.0 - CAST(ac2 AS DOUBLE) / CAST(nc2 AS DOUBLE))
            / CAST(nc2 AS DOUBLE)) AS se
      FROM cells""")),

    // Two-round IPF raking: reweight the odd-orderkey half's
    // (priority × status) crosstab to the even half's margins — the
    // survey-calibration / post-stratification primitive. The 15-cell
    // table is domain-bounded, so the row pass is an exact rational
    // (integer margin sums, one division per cell) and the column pass
    // folds the per-column double weights in sorted row order before
    // scaling; residual row-margin error after the column pass is
    // reported the same fold-ordered way. Everything past the one
    // counting scan is O(cells).
    QueryDef("q242_raking", (s, d) => {
      val base = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("i"),
          col("o_orderstatus").as("j"))
        .agg(
          sum(when(col("o_orderkey") % 2 === 1, 1L).otherwise(0L))
            .as("m"),
          sum(when(col("o_orderkey") % 2 === 0, 1L).otherwise(0L))
            .as("tgt"))
      val rowM = base.groupBy("i")
        .agg(sum("m").as("si"), sum("tgt").as("ri"))
      val colM = base.groupBy("j").agg(sum("tgt").as("cj"))
      // row pass: w1 = m·R_i/S_i (exact rational per cell)
      val w1 = base.join(broadcast(rowM), Seq("i"))
        .select(col("i"), col("j"), col("m"), col("tgt"),
          (col("m").cast("double") * col("ri").cast("double")
            / col("si").cast("double")).as("w1"))
      // column pass: T_j = Σ_i w1 folded in sorted-i order, then
      // w2 = w1·C_j/T_j
      val tj = w1.groupBy("j")
        .agg(sort_array(collect_list(struct(col("i"), col("w1"))))
          .as("cs"))
        .select(col("j"), sumInOrder(col("cs"))(_.getField("w1")).as("tj"))
      val w2 = w1.join(broadcast(tj), Seq("j"))
        .join(broadcast(colM), Seq("j"))
        .select(col("i"), col("j"), col("m"), col("w1"),
          (col("w1") * col("cj").cast("double") / col("tj")).as("w2"))
      // residual row-margin error after the column pass
      val rowErr = w2.groupBy("i")
        .agg(sort_array(collect_list(struct(col("j"), col("w2"))))
          .as("cs"))
        .select(col("i"), sumInOrder(col("cs"))(_.getField("w2")).as("rsum"))
        .join(broadcast(rowM), Seq("i"))
        .select(col("i"),
          (abs(col("rsum") - col("ri").cast("double"))
            / col("ri").cast("double")).as("row_err"))
      w2.join(broadcast(rowErr), Seq("i"))
        .select(col("i"), col("j"), col("m"), col("w1"), col("w2"),
          col("row_err"))
    }, Some("""
      WITH base AS (SELECT o_orderpriority AS i, o_orderstatus AS j,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
            AS m,
          CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
            AS tgt
        FROM orders GROUP BY 1, 2),
      rowm AS (SELECT i, CAST(sum(m) AS BIGINT) AS si,
          CAST(sum(tgt) AS BIGINT) AS ri FROM base GROUP BY 1),
      colm AS (SELECT j, CAST(sum(tgt) AS BIGINT) AS cj
        FROM base GROUP BY 1),
      w1 AS (SELECT i, j, m,
          CAST(m AS DOUBLE) * CAST(ri AS DOUBLE) / CAST(si AS DOUBLE)
            AS w1
        FROM base JOIN rowm USING (i)),
      tj AS (SELECT j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(list(struct_pack(i := i,
            w1 := w1))), e -> e.w1)), (p, q) -> p + q) AS tj
        FROM w1 GROUP BY 1),
      w2 AS (SELECT i, j, m, w1,
          w1 * CAST(cj AS DOUBLE) / tj AS w2
        FROM w1 JOIN tj USING (j) JOIN colm USING (j)),
      rerr AS (SELECT i,
          abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(j := j,
              w2 := w2))), e -> e.w2)), (p, q) -> p + q)
            - CAST(ri AS DOUBLE)) / CAST(ri AS DOUBLE) AS row_err
        FROM w2 JOIN rowm USING (i) GROUP BY i, ri)
      SELECT i, j, m, w1, w2, row_err
      FROM w2 JOIN rerr USING (i)""")),

    // Lorenz curve decile table for line-item quantity concentration:
    // at each population decile p=k/10, the cumulative share of total
    // quantity held by the bottom p of lines — the inequality readout
    // behind the q145 Gini-family scalars. Population ranks come from
    // the distributed PrefixSum CDF over the ≤50 value cells; each
    // decile's cumulative quantity interpolates WITHIN its boundary
    // cell by exact integer interval arithmetic (rows below boundary ×
    // cell value), so both coordinates are BIGINT rationals with one
    // division each.
    QueryDef("q243_lorenz_table", (s, d) => {
      val cells = t(s, d, "lineitem")
        .groupBy(col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
        .withColumn("qs", col("q") * col("c"))
      val cum = PrefixSum.withRunningTotals(cells, "q", Seq("c", "qs"))
      val tot = cells.agg(sum("c").as("n"), sum("qs").as("ts"))
      val targets = tot
        .select(col("n"), col("ts"),
          explode(sequence(lit(1), lit(10))).as("k"))
        .select(col("k").cast("long").as("k"), col("n"), col("ts"),
          expr("(n * k) DIV 10").as("rk"))
      // boundary cell: the cell containing rank rk; quantity below rk
      // = qs_cum − qs + (rk − (c_cum − c))·q  (exact integers)
      cum.join(broadcast(targets),
          col("rk") > col("c_cum") - col("c")
            && col("rk") <= col("c_cum"))
        .select(col("k"), col("n"), col("ts"),
          (col("qs_cum") - col("qs")
            + (col("rk") - (col("c_cum") - col("c"))) * col("q"))
            .as("cq"))
        .select(col("k"), col("n"), col("ts"), col("cq"),
          (col("k").cast("double") / 10.0).as("p"),
          (col("cq").cast("double") / col("ts").cast("double"))
            .as("share"))
    }, Some("""
      WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS q,
          CAST(count(*) AS BIGINT) AS c,
          CAST(l_quantity AS BIGINT) * CAST(count(*) AS BIGINT) AS qs
        FROM lineitem GROUP BY 1),
      cum AS (SELECT q, c, qs,
          CAST(sum(c) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS c_cum,
          CAST(sum(qs) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS qs_cum
        FROM cells),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          CAST(sum(qs) AS BIGINT) AS ts FROM cells),
      ks AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS k, n, ts,
          (n * unnest(range(1, 11))) // 10 AS rk
        FROM tot)
      SELECT k, n, ts,
        qs_cum - qs + (rk - (c_cum - c)) * q AS cq,
        CAST(k AS DOUBLE) / 10.0 AS p,
        CAST(qs_cum - qs + (rk - (c_cum - c)) * q AS DOUBLE)
          / CAST(ts AS DOUBLE) AS share
      FROM cum JOIN ks ON rk > c_cum - c AND rk <= c_cum""")),

    // Matthews correlation + precision/recall/F1 for the q17 lang-ID
    // heuristic as a BINARY "is English" classifier against the
    // labeled lang column — the imbalanced-class companion to q218's
    // kappa. Four BIGINT confusion cells from one classify+count scan;
    // MCC keeps its numerator an exact BIGINT and takes ONE sqrt of a
    // double product (the BIGINT denominator product would overflow at
    // corpus scale); precision/recall/F1 are exact rationals. F1 uses
    // the 2TP/(2TP+FP+FN) form — one division, no nested ratios.
    QueryDef("q244_mcc_f1", (s, d) => {
      import graft.functions.TextFunctions
      val cells = t(s, d, "documents")
        .select((col("lang") === "en").cast("long").as("y"),
          (TextFunctions.langId(col("text")) === "en").cast("long")
            .as("p"))
        .agg(sum(col("y") * col("p")).as("tp"),
          sum((lit(1L) - col("y")) * col("p")).as("fp"),
          sum(col("y") * (lit(1L) - col("p"))).as("fn"),
          sum((lit(1L) - col("y")) * (lit(1L) - col("p"))).as("tn"))
      cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
        (dbl(col("tp")) / dbl(col("tp") + col("fp"))).as("precision"),
        (dbl(col("tp")) / dbl(col("tp") + col("fn"))).as("recall"),
        (dbl(lit(2L) * col("tp"))
          / dbl(lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"),
        (dbl(col("tp") * col("tn") - col("fp") * col("fn"))
          / sqrt(dbl(col("tp") + col("fp"))
            * dbl(col("tp") + col("fn"))
            * dbl(col("tn") + col("fp"))
            * dbl(col("tn") + col("fn")))).as("mcc"))
    }, Some("""
      WITH pred AS (SELECT
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
          CASE WHEN (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) = 'en' THEN 1 ELSE 0 END AS p
        FROM documents),
      cells AS (SELECT CAST(sum(y * p) AS BIGINT) AS tp,
          CAST(sum((1 - y) * p) AS BIGINT) AS fp,
          CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
          CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn
        FROM pred)
      SELECT tp, fp, fn, tn,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1,
        CAST(tp * tn - fp * fn AS DOUBLE)
          / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
            * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) AS mcc
      FROM cells""")),

    // "Fightin' words" distinctive-vocabulary ranking (Monroe et al.
    // 2008): Dirichlet-smoothed log-odds z-scores of each term for the
    // web source vs the rest of the corpus, top-10 by |z| — the
    // corpus-comparison primitive a curation pipeline uses to
    // characterize a source. With α=1 pseudo-counts every portable_ln
    // argument is an exact integer product of counts (the q204
    // pattern) and the variance term 1/(a+1)+1/(b+1) is two exact
    // reciprocals; term cells are row-scale, so the ranking is a
    // TakeOrderedAndProject with a deterministic |z|-then-term order,
    // never a global sort.
    QueryDef("q245_log_odds", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val terms = t(s, d, "documents")
        .select((col("source") === "src0").cast("long").as("w"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("term"))
        .groupBy("term")
        .agg(sum("w").as("a"), (count(lit(1)) - sum("w")).as("b"))
      val tot = terms.agg(sum("a").as("na"), sum("b").as("nb"),
        count(lit(1)).as("v"))
      // delta = ln((a+1)/(na+v−a−1)) − ln((b+1)/(nb+v−b−1)), all
      // integer ln arguments via the cross-product form
      // parenthesized as ONE expression: a leading-minus continuation
      // line would parse as a separate unary statement and silently
      // drop the second term (the oracle gate caught exactly that)
      val delta =
        (pln((col("a") + 1) * (col("nb") + col("v") - col("b") - 1))
          - pln((col("b") + 1) * (col("na") + col("v") - col("a") - 1)))
      val z = delta / sqrt(lit(1.0) / (col("a") + 1).cast("double")
        + lit(1.0) / (col("b") + 1).cast("double"))
      terms.crossJoin(broadcast(tot))
        .select(col("term"), col("a"), col("b"), z.as("z"))
        .orderBy(abs(col("z")).desc, col("term")).limit(10)
    }, Some("""
      WITH tk AS (SELECT
          CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS w,
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents),
      terms AS (SELECT term, CAST(sum(w) AS BIGINT) AS a,
          CAST(count(*) - sum(w) AS BIGINT) AS b
        FROM tk GROUP BY 1),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS na,
          CAST(sum(b) AS BIGINT) AS nb,
          CAST(count(*) AS BIGINT) AS v FROM terms),
      zs AS (SELECT term, a, b,
          (ln(CAST((a + 1) * (nb + v - b - 1) AS DOUBLE))
            - ln(CAST((b + 1) * (na + v - a - 1) AS DOUBLE)))
          / sqrt(1.0 / CAST(a + 1 AS DOUBLE)
            + 1.0 / CAST(b + 1 AS DOUBLE)) AS z
        FROM terms, tot)
      SELECT term, a, b, z
      FROM zs ORDER BY abs(z) DESC, term LIMIT 10""")),

    // Per-source trigram NOVELTY of a new crawl wave against the prior
    // corpus (wave = the md5 unit splitter on doc_id — doc_id PARITY
    // would confound with the fixture's source assignment): what
    // fraction of each source's new-wave shingle types was never seen
    // before? The incremental-crawl value signal — a source whose
    // novelty decays to 0 is re-serving old content. Two keyed
    // aggregations plus one LEFT ANTI join on the already-shuffled
    // term key (the q86 decontamination shape, rate-focused);
    // everything downstream of the shingle explode is term-keyed, no
    // row-scale collection.
    QueryDef("q246_ngram_novelty", (s, d) => {
      def shingles(newWave: Boolean) = t(s, d, "documents")
        .where(if (newWave)
          conv(substring(md5(col("doc_id").cast("string")), 1, 1),
            16, 10).cast("long") < 8
        else
          conv(substring(md5(col("doc_id").cast("string")), 1, 1),
            16, 10).cast("long") >= 8)
        .select(col("source"), split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 3)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("ts")) - 2),
            i => concat_ws("_", element_at(col("ts"), i),
              element_at(col("ts"), i + 1),
              element_at(col("ts"), i + 2)))).as("term"))
      val oldTerms = shingles(newWave = false).select("term").distinct()
      // examined r06: cutting newTypes (vocab-sized) measured neutral at
      // best — the q211 materialization-cost lesson; left as-is
      val newTypes = shingles(newWave = true)
        .select("source", "term").distinct()
      val types = newTypes.groupBy("source")
        .agg(count(lit(1)).as("n_types"))
      val novel = newTypes.join(oldTerms, Seq("term"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_novel"))
      types.join(novel, Seq("source"), "left")
        .select(col("source"), col("n_types"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_types").cast("double")).as("novelty"))
    }, Some("""
      WITH dt AS (SELECT
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
            AS BIGINT) AS h,
          source, string_split(text, ' ') AS ts
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      sh AS (SELECT h, source,
          unnest(list_transform(range(1, len(ts) - 1), i ->
            ts[i] || '_' || ts[i + 1] || '_' || ts[i + 2])) AS term
        FROM dt),
      old_t AS (SELECT DISTINCT term FROM sh WHERE h >= 8),
      new_t AS (SELECT DISTINCT source, term FROM sh WHERE h < 8),
      types AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types
        FROM new_t GROUP BY 1),
      novel AS (SELECT source, CAST(count(*) AS BIGINT) AS n_novel
        FROM new_t ANTI JOIN old_t USING (term) GROUP BY 1)
      SELECT source, n_types,
        CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
        CAST(coalesce(n_novel, 0) AS DOUBLE)
          / CAST(n_types AS DOUBLE) AS novelty
      FROM types LEFT JOIN novel USING (source)""")),

    // Simpson's-paradox detector over the urgent→finished association:
    // for each candidate stratifier (region, market segment, nation),
    // does the POOLED association sign contradict every stratum's
    // sign? The audit that says WHEN q219's CMH / q240's IPW are
    // mandatory instead of the pooled 2×2. Association sign is
    // sign(ad − bc) — PURE BIGINT, no logs, no divisions — so the
    // whole detector is integer arithmetic over domain-bounded cells;
    // one customer⋈orders shuffle feeds all three stratifications.
    QueryDef("q247_simpson_detector", (s, d) => {
      val base = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey"),
              col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").cast("string").as("region"),
          col("c_mktsegment").as("segment"),
          col("c_nationkey").cast("string").as("nation"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("e"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("o"))
        // base feeds one stratified pass per stratifier
        .transform(Cut.large)
      def detect(strat: String) = {
        val cells = base.groupBy(col(strat).as("stratum"))
          .agg(sum(col("e") * col("o")).as("a"),
            sum(col("e") * (lit(1L) - col("o"))).as("b"),
            sum((lit(1L) - col("e")) * col("o")).as("cc"),
            sum((lit(1L) - col("e")) * (lit(1L) - col("o"))).as("dd"))
          .withColumn("sgn", signum(
            (col("a") * col("dd") - col("b") * col("cc"))
              .cast("double")).cast("long"))
        val pooled = cells.agg(sum("a").as("pa"), sum("b").as("pb"),
          sum("cc").as("pc"), sum("dd").as("pd"))
          .select(signum((col("pa") * col("pd") - col("pb") * col("pc"))
            .cast("double")).cast("long").as("pooled_sign"))
        cells.crossJoin(broadcast(pooled))
          .agg(first("pooled_sign").as("pooled_sign"),
            count(lit(1)).as("n_strata"),
            sum(when(col("sgn") =!= 0L
              && col("sgn") =!= col("pooled_sign"), 1L).otherwise(0L))
              .as("n_reversed"),
            sum(when(col("sgn") =!= 0L, 1L).otherwise(0L))
              .as("n_signed"))
          .select(lit(strat).as("stratifier"), col("pooled_sign"),
            col("n_strata"), col("n_reversed"), col("n_signed"),
            when(col("n_signed") > 0
              && col("n_reversed") === col("n_signed"), 1L)
              .otherwise(0L).as("simpson_flag"))
      }
      detect("region").unionAll(detect("segment"))
        .unionAll(detect("nation"))
    }, Some("""
      WITH base AS (SELECT
          CAST(n_regionkey AS VARCHAR) AS region,
          c_mktsegment AS segment,
          CAST(c_nationkey AS VARCHAR) AS nation,
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS o
        FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey),
      norm AS (
        SELECT 'region' AS stratifier, region AS stratum, e, o FROM base
        UNION ALL
        SELECT 'segment', segment, e, o FROM base
        UNION ALL
        SELECT 'nation', nation, e, o FROM base),
      cells AS (SELECT stratifier, stratum,
          CAST(sum(e * o) AS BIGINT) AS a,
          CAST(sum(e * (1 - o)) AS BIGINT) AS b,
          CAST(sum((1 - e) * o) AS BIGINT) AS cc,
          CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS dd
        FROM norm GROUP BY 1, 2),
      pooled AS (SELECT stratifier,
          CAST(sign(sum(a) * sum(dd) - sum(b) * sum(cc)) AS BIGINT)
            AS pooled_sign
        FROM cells GROUP BY 1),
      sgns AS (SELECT stratifier, stratum,
          CAST(sign(a * dd - b * cc) AS BIGINT) AS sgn
        FROM cells)
      SELECT sgns.stratifier, any_value(pooled_sign) AS pooled_sign,
        CAST(count(*) AS BIGINT) AS n_strata,
        CAST(sum(CASE WHEN sgn <> 0
          AND sgn <> pooled_sign THEN 1 ELSE 0 END) AS BIGINT)
          AS n_reversed,
        CAST(sum(CASE WHEN sgn <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_signed,
        CAST(CASE WHEN sum(CASE WHEN sgn <> 0 THEN 1 ELSE 0 END) > 0
          AND sum(CASE WHEN sgn <> 0 AND sgn <> pooled_sign
            THEN 1 ELSE 0 END)
            = sum(CASE WHEN sgn <> 0 THEN 1 ELSE 0 END)
          THEN 1 ELSE 0 END AS BIGINT) AS simpson_flag
      FROM sgns JOIN pooled ON sgns.stratifier = pooled.stratifier
      GROUP BY 1""")),

    // Day-of-week seasonality indices of the event stream: each dow's
    // mean daily count relative to the overall mean daily count — the
    // multiplicative seasonal profile behind capacity planning and the
    // denominator of any deseasonalized anomaly check. Exact BIGINT
    // rationals end-to-end: index = (s_d·ND)/(n_d·S) is integer
    // products with ONE division; the only row-scale step is the daily
    // count aggregation (calendar-bounded cells after that).
    QueryDef("q248_seasonality_index", (s, d) => {
      val daily = dailyEvents(s, d)
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val per = daily.groupBy("dow")
        .agg(count(lit(1)).as("n_days"), sum("c").as("s"))
      val tot = per.agg(sum("n_days").as("nd"), sum("s").as("ss"))
      per.crossJoin(broadcast(tot))
        .select(col("dow"), col("n_days"), col("s"),
          (col("s").cast("double") / col("n_days").cast("double"))
            .as("mean_c"),
          ((col("s") * col("nd")).cast("double")
            / (col("n_days") * col("ss")).cast("double")).as("index"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      -- DuckDB dayofweek is 0=Sun..6=Sat; Spark is 1=Sun..7=Sat
      per AS (SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
          CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(c) AS BIGINT) AS s
        FROM daily GROUP BY 1),
      tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS nd,
          CAST(sum(s) AS BIGINT) AS ss FROM per)
      SELECT dow, n_days, s,
        CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_c,
        CAST(s * nd AS DOUBLE) / CAST(n_days * ss AS DOUBLE) AS index
      FROM per, tot""")),

    // Benjamini-Hochberg FDR (α=0.05) over 25 SIMULTANEOUS per-nation
    // permutation tests of the urgent-vs-other finished-rate gap — the
    // multiple-testing discipline a per-entity screening dashboard
    // needs (25 nations at α=0.05 expects ~1 false positive; BH bounds
    // the false-discovery RATE instead). Everything stays exact
    // integers: each test's p-value is the q224 extreme COUNT over
    // P=16 md5-nibble label shuffles (one digest per order row), ranks
    // come from a nation×nation self-join (m² = 625 pairs, bounded —
    // no unpartitioned window), and the BH step p_(k) ≤ αk/m is the
    // integer cross-product 20·m·(e_k+1) ≤ k·(P+1). Degenerate
    // permuted splits guard to NaN (never extreme) instead of an ANSI
    // divide error.
    QueryDef("q249_bh_fdr", (s, d) => {
      val perms = 16
      val base = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nk")),
          col("o_custkey") === col("c_custkey"))
        .select(col("nk"), col("o_orderkey").as("ok"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("e"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val cells = base.groupBy("nk")
        .agg(count(lit(1)).as("n"), sum("e").as("nt"),
          sum(col("e") * col("y")).as("a1"), sum("y").as("aa"))
      def gap(s1: Column, n1: Column, sa: Column, n: Column) =
        when(n1 > 0 && n - n1 > 0,
          dbl(s1) / dbl(n1) - dbl(sa - s1) / dbl(n - n1))
          .otherwise(lit(Double.NaN))
      // one md5 digest per order feeds all 16 permutations (q223
      // chunking); counters per (nation, permutation)
      val perm = base
        .select(col("nk"), col("y"),
          md5(concat_ws(":", col("ok"), lit(1))).as("dig"))
        .select(col("nk"), col("y"),
          explode(sequence(lit(1), lit(perms))).as("p"), col("dig"))
        .select(col("nk"), col("p"), col("y"),
          when(conv(substr(col("dig"), col("p"), lit(1)), 16, 10)
            .cast("long") < 8, 1L).otherwise(0L).as("g1"))
        .groupBy("nk", "p")
        .agg(sum("g1").as("pn1"), sum(col("g1") * col("y")).as("pa1"))
      val tests = perm.join(broadcast(cells.select(col("nk"), col("n"),
          col("aa"), col("nt"), col("a1"))), Seq("nk"))
        .withColumn("dp", gap(col("pa1"), col("pn1"), col("aa"),
          col("n")))
        .withColumn("d0", gap(col("a1"), col("nt"), col("aa"),
          col("n")))
        .groupBy("nk")
        .agg(first("d0").as("d_obs"),
          sum(when(col("dp") * col("dp") >= col("d0") * col("d0"), 1L)
            .otherwise(0L)).as("e_cnt"))
        .withColumn("p_value",
          (col("e_cnt") + 1).cast("double") / lit((perms + 1).toDouble))
        // one row per nation; feeds the rank self-join (both sides), m,
        // kstar and the final select
        .transform(Cut.small(25))
      // integer rank by (e_cnt, nk) via a bounded m×m self-join
      val rks = tests.select(col("nk").as("nk2"), col("e_cnt").as("e2"))
      val ranked = tests.join(rks,
          col("e2") < col("e_cnt")
            || (col("e2") === col("e_cnt") && col("nk2") <= col("nk")),
          "left")
        .groupBy("nk", "d_obs", "e_cnt", "p_value")
        .agg(count(col("nk2")).as("rank"))
      val m = tests.agg(count(lit(1)).as("m"))
      // BH: k* = max rank with 20·m·(e+1) ≤ k·(P+1); no hit → 0
      val kstar = ranked.crossJoin(broadcast(m))
        .agg(coalesce(max(when(
          lit(20L) * col("m") * (col("e_cnt") + 1)
            <= col("rank") * (perms + 1), col("rank"))), lit(0L))
          .as("kstar"))
      ranked.crossJoin(broadcast(m)).crossJoin(broadcast(kstar))
        .select(col("nk"), col("d_obs"), col("e_cnt"), col("p_value"),
          col("rank"), col("m"), col("kstar"),
          when(col("rank") <= col("kstar"), 1L).otherwise(0L)
            .as("rejected"))
    }, Some("""
      WITH base AS (SELECT c_nationkey AS nk, o_orderkey AS ok,
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS e,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      cells AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(e) AS BIGINT) AS nt,
          CAST(sum(e * y) AS BIGINT) AS a1,
          CAST(sum(y) AS BIGINT) AS aa
        FROM base GROUP BY 1),
      ps AS (SELECT CAST(unnest(range(1, 17)) AS INTEGER) AS p),
      perm AS (SELECT nk, p,
          CAST(sum(CASE WHEN CAST('0x' || substr(md5(
            CAST(ok AS VARCHAR) || ':1'), p, 1) AS BIGINT) < 8
            THEN 1 ELSE 0 END) AS BIGINT) AS pn1,
          CAST(sum(CASE WHEN CAST('0x' || substr(md5(
            CAST(ok AS VARCHAR) || ':1'), p, 1) AS BIGINT) < 8
            THEN y ELSE 0 END) AS BIGINT) AS pa1
        FROM base, ps GROUP BY 1, 2),
      gaps AS (SELECT perm.nk,
          CASE WHEN pn1 > 0 AND n - pn1 > 0
            THEN CAST(pa1 AS DOUBLE) / CAST(pn1 AS DOUBLE)
              - CAST(aa - pa1 AS DOUBLE) / CAST(n - pn1 AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS dp,
          CASE WHEN nt > 0 AND n - nt > 0
            THEN CAST(a1 AS DOUBLE) / CAST(nt AS DOUBLE)
              - CAST(aa - a1 AS DOUBLE) / CAST(n - nt AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS d0
        FROM perm JOIN cells ON perm.nk = cells.nk),
      tests AS (SELECT nk, any_value(d0) AS d_obs,
          CAST(sum(CASE WHEN dp * dp >= d0 * d0 THEN 1 ELSE 0 END)
            AS BIGINT) AS e_cnt
        FROM gaps GROUP BY 1),
      ranked AS (SELECT a.nk, a.d_obs, a.e_cnt,
          CAST(a.e_cnt + 1 AS DOUBLE) / 17.0 AS p_value,
          CAST(count(b.nk) AS BIGINT) AS rank
        FROM tests a LEFT JOIN tests b
          ON b.e_cnt < a.e_cnt
            OR (b.e_cnt = a.e_cnt AND b.nk <= a.nk)
        GROUP BY 1, 2, 3),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tests),
      kstar AS (SELECT CAST(coalesce(max(CASE
            WHEN 20 * m * (e_cnt + 1) <= rank * 17 THEN rank END), 0)
          AS BIGINT) AS kstar
        FROM ranked, m)
      SELECT nk, d_obs, e_cnt, p_value, rank, m, kstar,
        CAST(CASE WHEN rank <= kstar THEN 1 ELSE 0 END AS BIGINT)
          AS rejected
      FROM ranked, m, kstar""")),

    // Minimum-detectable-effect planning table per nation: given each
    // nation's observed finished-rate baseline and order volume, the
    // absolute and relative effect a 50/50 two-proportion test could
    // detect at α=0.05 / 80% power — MDE = (z_{α/2}+z_β)·√(4p(1−p)/n).
    // The "is this experiment even worth running here?" readout that
    // pairs with q186's live A/B lift and q249's FDR screen. One
    // shuffle, K-bounded output, one fixed double tree per row.
    QueryDef("q250_mde", (s, d) => {
      val grp = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey").as("nk")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nk")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("a"))
      val p = col("a").cast("double") / col("n").cast("double")
      val mde = lit(1.96 + 0.8416) *
        sqrt(lit(4.0) * p * (lit(1.0) - p) / col("n").cast("double"))
      grp.select(col("nk"), col("n"), col("a"), p.as("p_base"),
        mde.as("mde_abs"), (mde / p).as("mde_rel"))
    }, Some("""
      WITH grp AS (SELECT c_nationkey AS nk,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS a
        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
      SELECT nk, n, a,
        CAST(a AS DOUBLE) / CAST(n AS DOUBLE) AS p_base,
        (1.96 + 0.8416) * sqrt(4.0 * (CAST(a AS DOUBLE)
          / CAST(n AS DOUBLE)) * (1.0 - CAST(a AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS mde_abs,
        ((1.96 + 0.8416) * sqrt(4.0 * (CAST(a AS DOUBLE)
          / CAST(n AS DOUBLE)) * (1.0 - CAST(a AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)))
          / (CAST(a AS DOUBLE) / CAST(n AS DOUBLE)) AS mde_rel
      FROM grp""")),

    // CUPED variance reduction (Deng et al., WSDM'13) for the
    // per-customer post-period order count using the pre-period count
    // as the control covariate — the experimentation-platform staple
    // that shrinks metric variance without touching the treatment
    // effect. Both metrics are integer counts, so all five bivariate
    // moments are exact BIGINT from ONE customer-keyed aggregation;
    // θ = cov/var(X), the adjusted variance var(Y) − cov²/var(X), and
    // the reduction ratio (=ρ²) are one fixed double tree on that
    // single row.
    QueryDef("q251_cuped", (s, d) => {
      val cl = t(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(
          sum(when(col("o_orderdate") < lit("1998-01-01"), 1L)
            .otherwise(0L)).as("x"),
          sum(when(col("o_orderdate") >= lit("1998-01-01"), 1L)
            .otherwise(0L)).as("y"))
      val mom = cl.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val nD = dbl(col("n"))
      val vx = (dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx")) / nD) /
        (nD - 1.0)
      val vy = (dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")) / nD) /
        (nD - 1.0)
      val cxy = (dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy")) / nD) /
        (nD - 1.0)
      mom.select(col("n"),
          (col("sy").cast("double") / nD).as("mean_y"),
          (cxy / vx).as("theta"), vy.as("var_y"),
          (vy - cxy * cxy / vx).as("var_y_adj"))
        .withColumn("reduction",
          lit(1.0) - col("var_y_adj") / col("var_y"))
    }, Some("""
      WITH cl AS (SELECT o_custkey AS ck,
          CAST(count(*) FILTER (WHERE o_orderdate < '1998-01-01')
            AS BIGINT) AS x,
          CAST(count(*) FILTER (WHERE o_orderdate >= '1998-01-01')
            AS BIGINT) AS y
        FROM orders GROUP BY 1),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM cl),
      vs AS (SELECT n,
          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
          (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cxy,
          (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vx,
          (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vy
        FROM mom)
      SELECT n, mean_y, cxy / vx AS theta, vy AS var_y,
        vy - cxy * cxy / vx AS var_y_adj,
        1.0 - (vy - cxy * cxy / vx) / vy AS reduction
      FROM vs""")),

    // Sample-ratio-mismatch monitor for the engine's md5 50/50 user
    // split: the 1-df chi² of assignment counts overall AND per day
    // (the worst-day drill-down that catches a time-localized
    // assignment bug a whole-experiment test would dilute). Exact
    // BIGINT cells — χ² = (n0−n1)²/(n0+n1) is one division per row;
    // per-day rows are calendar-bounded, the overall verdict
    // (χ² > 3.841 at α=0.05) rides along broadcast.
    QueryDef("q252_srm", (s, d) => {
      val tagged = t(s, d, "events")
        .select(col("ts").cast("date").as("day"), col("user_id"))
        .withColumn("v", pmod(conv(substring(
          md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(2L)))
      val daily = tagged.select("day", "user_id", "v").distinct()
        .groupBy("day")
        .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("d1"))
        .withColumn("chi2_day",
          ((col("d0") - col("d1")) * (col("d0") - col("d1")))
            .cast("double") / (col("d0") + col("d1")).cast("double"))
      val overall = tagged.select("user_id", "v").distinct()
        .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n1"))
        .withColumn("chi2",
          ((col("n0") - col("n1")) * (col("n0") - col("n1")))
            .cast("double") / (col("n0") + col("n1")).cast("double"))
        .withColumn("srm_flag",
          when(col("chi2") > 3.841, 1L).otherwise(0L))
      daily.crossJoin(broadcast(overall))
    }, Some("""
      WITH tagged AS (SELECT CAST(ts AS DATE) AS day, user_id,
          CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 2 AS v
        FROM events),
      daily AS (SELECT day,
          CAST(count(DISTINCT CASE WHEN v = 0 THEN user_id END)
            AS BIGINT) AS d0,
          CAST(count(DISTINCT CASE WHEN v = 1 THEN user_id END)
            AS BIGINT) AS d1
        FROM tagged GROUP BY 1),
      dd AS (SELECT day, d0, d1,
          CAST((d0 - d1) * (d0 - d1) AS DOUBLE)
            / CAST(d0 + d1 AS DOUBLE) AS chi2_day
        FROM daily),
      u AS (SELECT DISTINCT user_id, v FROM tagged),
      overall AS (SELECT
          CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM u),
      ov AS (SELECT n0, n1,
          CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
            / CAST(n0 + n1 AS DOUBLE) AS chi2
        FROM overall)
      SELECT day, d0, d1, chi2_day, n0, n1, chi2,
        CAST(CASE WHEN chi2 > 3.841 THEN 1 ELSE 0 END AS BIGINT)
          AS srm_flag
      FROM dd, ov""")),

    // McNemar paired-classifier test: does the full q17 lang-ID beat
    // the naive "any English stopword → en" rule ON THE SAME
    // documents? Paired designs need the DISCORDANT counts (b = only
    // the full model right, c = only the naive rule right), not two
    // independent accuracies — χ² = (b−c)²/(b+c). One classify+count
    // scan, exact BIGINT cells, accuracies as exact rationals; a
    // no-discordance corpus guards to NaN rather than an ANSI divide
    // error.
    QueryDef("q253_mcnemar", (s, d) => {
      import graft.functions.TextFunctions
      val en = size(regexp_extract_all(lower(col("text")),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0)))
      val scored = t(s, d, "documents").select(
        (col("lang") === "en").cast("long").as("y"),
        (TextFunctions.langId(col("text")) === "en").cast("long")
          .as("pa"),
        (en > 0).cast("long").as("pb"))
        .select(col("y"),
          (col("pa") === col("y")).cast("long").as("ra"),
          (col("pb") === col("y")).cast("long").as("rb"))
      scored.agg(count(lit(1)).as("n"), sum("ra").as("ok_a"),
          sum("rb").as("ok_b"),
          sum(col("ra") * (lit(1L) - col("rb"))).as("b"),
          sum((lit(1L) - col("ra")) * col("rb")).as("c"))
        .select(col("n"), col("b"), col("c"),
          (col("ok_a").cast("double") / col("n").cast("double"))
            .as("acc_a"),
          (col("ok_b").cast("double") / col("n").cast("double"))
            .as("acc_b"),
          when(col("b") + col("c") > 0,
            ((col("b") - col("c")) * (col("b") - col("c")))
              .cast("double") / (col("b") + col("c")).cast("double"))
            .otherwise(lit(Double.NaN)).as("chi2_mcnemar"))
    }, Some("""
      WITH scored AS (SELECT
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
          CASE WHEN (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) = 'en' THEN 1 ELSE 0 END AS pa,
          CASE WHEN len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) > 0
            THEN 1 ELSE 0 END AS pb
        FROM documents),
      rs AS (SELECT y,
          CASE WHEN pa = y THEN 1 ELSE 0 END AS ra,
          CASE WHEN pb = y THEN 1 ELSE 0 END AS rb
        FROM scored),
      cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(ra) AS BIGINT) AS ok_a,
          CAST(sum(rb) AS BIGINT) AS ok_b,
          CAST(sum(ra * (1 - rb)) AS BIGINT) AS b,
          CAST(sum((1 - ra) * rb) AS BIGINT) AS c
        FROM rs)
      SELECT n, b, c,
        CAST(ok_a AS DOUBLE) / CAST(n AS DOUBLE) AS acc_a,
        CAST(ok_b AS DOUBLE) / CAST(n AS DOUBLE) AS acc_b,
        CASE WHEN b + c > 0
          THEN CAST((b - c) * (b - c) AS DOUBLE)
            / CAST(b + c AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS chi2_mcnemar
      FROM cells""")),

    // Standardized-mean-difference covariate balance table for the
    // urgent-vs-other "treatment": SMD = (m₁−m₀)/√((v₁+v₀)/2) for each
    // integer covariate (per-order line count and total quantity) —
    // the diagnostic a causal analyst reads BEFORE trusting q240's
    // IPW (|SMD| > 0.1 means the groups differ on that covariate).
    // One lineitem⋈orders shuffle builds both covariates; per-group
    // moments are exact BIGINT; each SMD is one fixed double tree.
    QueryDef("q254_smd_balance", (s, d) => {
      val cov = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("nlines"),
          sum(col("l_quantity").cast("long")).as("totqty"))
      val base = t(s, d, "orders")
        .join(cov, col("o_orderkey") === col("ok"), "left")
        .select(
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("tr"),
          coalesce(col("nlines"), lit(0L)).as("nlines"),
          coalesce(col("totqty"), lit(0L)).as("totqty"))
        // base feeds one grouped scan per covariate
        .transform(Cut.large)
      def smdOf(cn: String) = {
        val g = base.groupBy("tr")
          .agg(count(lit(1)).as("n"), sum(cn).as("sx"),
            sum(col(cn) * col(cn)).as("qx"))
        val t1 = g.where(col("tr") === 1).select(col("n").as("n1"),
          col("sx").as("s1"), col("qx").as("q1"))
        val t0 = g.where(col("tr") === 0).select(col("n").as("n0"),
          col("sx").as("s0"), col("qx").as("q0"))
        def mean(sc: Column, n: Column) = dbl(sc) / dbl(n)
        // ANSI mode traps /0 on DOUBLES too (unlike IEEE), so both the
        // n=1 variance and the zero-pooled-variance SMD need explicit
        // guards: n=1 → undefined variance → NaN; denom=0 → NaN (equal
        // means) / ±Inf (the IEEE values DuckDB's default
        // ieee_floating_point_ops would produce). Never fires on data
        // with both groups populated and any spread — the sf gate path
        // is untouched; InferenceSpec pins the degenerate corpus.
        def variance(q: Column, sc: Column, n: Column) =
          when(dbl(n) > 1.0,
            (dbl(q) - dbl(sc) * dbl(sc) / dbl(n)) / (dbl(n) - 1.0))
            .otherwise(lit(Double.NaN))
        val diff = mean(col("s1"), col("n1")) - mean(col("s0"), col("n0"))
        val denom = sqrt((variance(col("q1"), col("s1"), col("n1"))
          + variance(col("q0"), col("s0"), col("n0"))) / 2.0)
        t1.crossJoin(t0).select(lit(cn).as("covariate"),
          col("n1"), col("n0"),
          mean(col("s1"), col("n1")).as("m1"),
          mean(col("s0"), col("n0")).as("m0"),
          when(denom > 0.0, diff / denom)
            .when(isnan(denom), lit(Double.NaN))
            .when(diff > 0.0, lit(Double.PositiveInfinity))
            .when(diff < 0.0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN)).as("smd"))
      }
      smdOf("nlines").unionAll(smdOf("totqty"))
    }, Some("""
      WITH cov AS (SELECT l_orderkey AS ok,
          CAST(count(*) AS BIGINT) AS nlines,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS totqty
        FROM lineitem GROUP BY 1),
      base AS (SELECT
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            AS tr,
          CAST(coalesce(nlines, 0) AS BIGINT) AS nlines,
          CAST(coalesce(totqty, 0) AS BIGINT) AS totqty
        FROM orders LEFT JOIN cov ON o_orderkey = ok),
      g AS (SELECT tr, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(nlines) AS BIGINT) AS s_nl,
          CAST(sum(nlines * nlines) AS BIGINT) AS q_nl,
          CAST(sum(totqty) AS BIGINT) AS s_tq,
          CAST(sum(totqty * totqty) AS BIGINT) AS q_tq
        FROM base GROUP BY 1),
      w AS (SELECT
          max(CASE WHEN tr = 1 THEN n END) AS n1,
          max(CASE WHEN tr = 0 THEN n END) AS n0,
          max(CASE WHEN tr = 1 THEN s_nl END) AS s1_nl,
          max(CASE WHEN tr = 0 THEN s_nl END) AS s0_nl,
          max(CASE WHEN tr = 1 THEN q_nl END) AS q1_nl,
          max(CASE WHEN tr = 0 THEN q_nl END) AS q0_nl,
          max(CASE WHEN tr = 1 THEN s_tq END) AS s1_tq,
          max(CASE WHEN tr = 0 THEN s_tq END) AS s0_tq,
          max(CASE WHEN tr = 1 THEN q_tq END) AS q1_tq,
          max(CASE WHEN tr = 0 THEN q_tq END) AS q0_tq
        FROM g)
      SELECT 'nlines' AS covariate, n1, n0,
        CAST(s1_nl AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        CAST(s0_nl AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
        (CAST(s1_nl AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s0_nl AS DOUBLE) / CAST(n0 AS DOUBLE))
        / sqrt((
          (CAST(q1_nl AS DOUBLE) - CAST(s1_nl AS DOUBLE)
            * CAST(s1_nl AS DOUBLE) / CAST(n1 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) - 1.0)
          + (CAST(q0_nl AS DOUBLE) - CAST(s0_nl AS DOUBLE)
            * CAST(s0_nl AS DOUBLE) / CAST(n0 AS DOUBLE))
            / (CAST(n0 AS DOUBLE) - 1.0)) / 2.0) AS smd
      FROM w
      UNION ALL
      SELECT 'totqty', n1, n0,
        CAST(s1_tq AS DOUBLE) / CAST(n1 AS DOUBLE),
        CAST(s0_tq AS DOUBLE) / CAST(n0 AS DOUBLE),
        (CAST(s1_tq AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s0_tq AS DOUBLE) / CAST(n0 AS DOUBLE))
        / sqrt((
          (CAST(q1_tq AS DOUBLE) - CAST(s1_tq AS DOUBLE)
            * CAST(s1_tq AS DOUBLE) / CAST(n1 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) - 1.0)
          + (CAST(q0_tq AS DOUBLE) - CAST(s0_tq AS DOUBLE)
            * CAST(s0_tq AS DOUBLE) / CAST(n0 AS DOUBLE))
            / (CAST(n0 AS DOUBLE) - 1.0)) / 2.0)
      FROM w""")),

    // EXACT global Shapley attribution for a two-binary-feature
    // empirical model of the finished-order rate (urgent priority ×
    // BUILDING segment): with 2 features the Shapley value needs only
    // the four conditional-mean coalition values v(∅), v({1}), v({2}),
    // v({1,2}) per feature cell — all exact BIGINT count rationals —
    // so φ₁/φ₂ per cell and the per-cell efficiency identity
    // φ₁+φ₂ = v₁₂−v₀ are closed-form, no sampling. The per-feature
    // global importance Σ n·|φ|/N folds over the 4 sorted cells. The
    // SHAP primitive, done exactly where the feature count permits.
    QueryDef("q255_shapley", (s, d) => {
      val base = t(s, d, "orders")
        .join(t(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("x1"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("x2"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val cells = base.groupBy("x1", "x2")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      val m1 = cells.groupBy("x1")
        .agg(sum("n").as("n_1"), sum("sy").as("sy_1"))
      val m2 = cells.groupBy("x2")
        .agg(sum("n").as("n_2"), sum("sy").as("sy_2"))
      val tot = cells.agg(sum("n").as("nn"), sum("sy").as("syy"))
      def r(sc: Column, n: Column) = sc.cast("double") / n.cast("double")
      val v0 = r(col("syy"), col("nn"))
      val v1 = r(col("sy_1"), col("n_1"))
      val v2 = r(col("sy_2"), col("n_2"))
      val v12 = r(col("sy"), col("n"))
      val per = cells
        .join(broadcast(m1), Seq("x1")).join(broadcast(m2), Seq("x2"))
        .crossJoin(broadcast(tot))
        .select(col("x1"), col("x2"), col("n"),
          v0.as("v0"), v1.as("v1"), v2.as("v2"), v12.as("v12"),
          (((v1 - v0) + (v12 - v2)) / 2.0).as("phi1"),
          (((v2 - v0) + (v12 - v1)) / 2.0).as("phi2"))
      val imp = per
        .agg(sort_array(collect_list(struct(col("x1"), col("x2"),
          col("n"), col("phi1"), col("phi2")))).as("cs"),
          sum("n").as("ntot"))
        .select(
          (sumInOrder(col("cs"))(e => e.getField("n").cast("double")
              * abs(e.getField("phi1"))) / col("ntot").cast("double"))
            .as("importance1"),
          (sumInOrder(col("cs"))(e => e.getField("n").cast("double")
              * abs(e.getField("phi2"))) / col("ntot").cast("double"))
            .as("importance2"))
      per.crossJoin(broadcast(imp))
    }, Some("""
      WITH base AS (SELECT
          CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            AS x1,
          CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS x2,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      cells AS (SELECT x1, x2, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(y) AS BIGINT) AS sy
        FROM base GROUP BY 1, 2),
      m1 AS (SELECT x1, CAST(sum(n) AS BIGINT) AS n_1,
          CAST(sum(sy) AS BIGINT) AS sy_1 FROM cells GROUP BY 1),
      m2 AS (SELECT x2, CAST(sum(n) AS BIGINT) AS n_2,
          CAST(sum(sy) AS BIGINT) AS sy_2 FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
          CAST(sum(sy) AS BIGINT) AS syy FROM cells),
      per AS (SELECT x1, x2, n,
          CAST(syy AS DOUBLE) / CAST(nn AS DOUBLE) AS v0,
          CAST(sy_1 AS DOUBLE) / CAST(n_1 AS DOUBLE) AS v1,
          CAST(sy_2 AS DOUBLE) / CAST(n_2 AS DOUBLE) AS v2,
          CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS v12,
          ((CAST(sy_1 AS DOUBLE) / CAST(n_1 AS DOUBLE)
            - CAST(syy AS DOUBLE) / CAST(nn AS DOUBLE))
           + (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(sy_2 AS DOUBLE) / CAST(n_2 AS DOUBLE))) / 2.0
            AS phi1,
          ((CAST(sy_2 AS DOUBLE) / CAST(n_2 AS DOUBLE)
            - CAST(syy AS DOUBLE) / CAST(nn AS DOUBLE))
           + (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            - CAST(sy_1 AS DOUBLE) / CAST(n_1 AS DOUBLE))) / 2.0
            AS phi2
        FROM cells JOIN m1 USING (x1) JOIN m2 USING (x2), tot),
      imp AS (SELECT
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(x1 := x1,
              x2 := x2, n := n, phi1 := phi1, phi2 := phi2))),
              e -> CAST(e.n AS DOUBLE) * abs(e.phi1))), (p, q) -> p + q)
            / CAST(sum(n) AS DOUBLE) AS importance1,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(x1 := x1,
              x2 := x2, n := n, phi1 := phi1, phi2 := phi2))),
              e -> CAST(e.n AS DOUBLE) * abs(e.phi2))), (p, q) -> p + q)
            / CAST(sum(n) AS DOUBLE) AS importance2
        FROM per)
      SELECT x1, x2, n, v0, v1, v2, v12, phi1, phi2,
        importance1, importance2
      FROM per, imp""")),

    // Two-group log-rank test over the q192 survival framing: arms from
    // the portable md5 splitter (the q84 idiom — reproducible by ANY
    // engine, stable under repartitioning), the life-table again
    // DOMAIN-BOUNDED, so after the per-user reduction everything is
    // cell joins: per-arm at-risk at each pooled death time comes from
    // a deaths⋈cells ≥-join (never a correlated lambda, the q178/q192
    // rule), and O₁/E₁/V fold over the SORTED death-time list — O₁
    // exact BIGINT, E₁ = Σ dₜ·n₁ₜ/nₜ and the hypergeometric variance
    // V = Σ dₜ(n₁ₜ/nₜ)(n₀ₜ/nₜ)(nₜ−dₜ)/(nₜ−1) as fixed IEEE trees with
    // the nₜ=1 term guarded to 0 (ANSI traps /0 on doubles — the q254
    // lesson). χ² = (O₁−E₁)²/V, V=0 guarded to NaN.
    QueryDef("q256_logrank", (s, d) => {
      import graft.functions.TextFunctions
      val per = lifetimes(s, d)
        .withColumn("g", TextFunctions.hashBucket(col("user_id"), 2))
      val cells = per.groupBy("g", "t")
        .agg(sum("died").as("d"), count(lit(1)).as("n"))
      val deaths = cells.groupBy(col("t").as("dtt"))
        .agg(sum("d").as("dt")).where(col("dt") > 0)
      val j = deaths.join(cells, cells("t") >= deaths("dtt"))
        .groupBy("dtt", "dt")
        .agg(sum(when(col("g") === 1, col("n")).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, col("n")).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1 && col("t") === col("dtt"), col("d"))
            .otherwise(0L)).as("d1"))
      j.agg(sort_array(collect_list(struct(col("dtt"), col("dt"),
          col("n1"), col("n0"), col("d1")))).as("xs"))
        .select(
          sumInOrder(col("xs"), lit(0L))(_.getField("d1")).as("o1"),
          sumInOrder(col("xs"))(x => x.getField("dt").cast("double")
              * x.getField("n1").cast("double")
              / (x.getField("n1") + x.getField("n0")).cast("double"))
            .as("e1"),
          sumInOrder(col("xs")) { x =>
            val nt = (x.getField("n1") + x.getField("n0")).cast("double")
            when(nt > 1.0,
              x.getField("dt").cast("double")
                * (x.getField("n1").cast("double") / nt)
                * (x.getField("n0").cast("double") / nt)
                * ((nt - x.getField("dt").cast("double")) / (nt - 1.0)))
              .otherwise(lit(0.0))
          }.as("v"))
        .select(col("o1"), col("e1"), col("v"),
          when(col("v") > 0.0,
            (col("o1").cast("double") - col("e1"))
              * (col("o1").cast("double") - col("e1")) / col("v"))
            .otherwise(lit(Double.NaN)).as("chi2_logrank"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      dd AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      per AS (SELECT s.user_id, s.t, dd.died,
          CAST('0x' || substr(md5(CAST(s.user_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 2 AS g
        FROM span s JOIN dd USING (user_id)),
      cells AS (SELECT g, t, CAST(sum(died) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM per GROUP BY 1, 2),
      deaths AS (SELECT t AS dtt, CAST(sum(d) AS BIGINT) AS dt
        FROM cells GROUP BY 1 HAVING sum(d) > 0),
      j AS (SELECT dtt, dt,
          CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN g = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN g = 1 AND c.t = dtt THEN d ELSE 0 END)
            AS BIGINT) AS d1
        FROM deaths JOIN cells c ON c.t >= dtt GROUP BY 1, 2),
      f AS (SELECT list_sort(list(struct_pack(dtt := dtt, dt := dt,
          n1 := n1, n0 := n0, d1 := d1))) AS xs FROM j)
      SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(xs, x -> x.d1)), (a, b) -> a + b) AS o1,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(xs, x -> CAST(x.dt AS DOUBLE)
            * CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))),
          (a, b) -> a + b) AS e1,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(xs, x -> CASE
            WHEN CAST(x.n1 + x.n0 AS DOUBLE) > 1.0
            THEN CAST(x.dt AS DOUBLE)
              * (CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
              * (CAST(x.n0 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
              * ((CAST(x.n1 + x.n0 AS DOUBLE) - CAST(x.dt AS DOUBLE))
                / (CAST(x.n1 + x.n0 AS DOUBLE) - 1.0))
            ELSE 0.0 END)), (a, b) -> a + b) AS v,
        CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(xs, x -> CASE
              WHEN CAST(x.n1 + x.n0 AS DOUBLE) > 1.0
              THEN CAST(x.dt AS DOUBLE)
                * (CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * (CAST(x.n0 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * ((CAST(x.n1 + x.n0 AS DOUBLE) - CAST(x.dt AS DOUBLE))
                  / (CAST(x.n1 + x.n0 AS DOUBLE) - 1.0))
              ELSE 0.0 END)), (a, b) -> a + b) > 0.0
        THEN (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(xs, x -> x.d1)), (a, b) -> a + b) AS DOUBLE)
          - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(xs, x -> CAST(x.dt AS DOUBLE)
              * CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))),
            (a, b) -> a + b))
          * (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(xs, x -> x.d1)), (a, b) -> a + b) AS DOUBLE)
          - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(xs, x -> CAST(x.dt AS DOUBLE)
              * CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))),
            (a, b) -> a + b))
          / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(xs, x -> CASE
              WHEN CAST(x.n1 + x.n0 AS DOUBLE) > 1.0
              THEN CAST(x.dt AS DOUBLE)
                * (CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * (CAST(x.n0 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * ((CAST(x.n1 + x.n0 AS DOUBLE) - CAST(x.dt AS DOUBLE))
                  / (CAST(x.n1 + x.n0 AS DOUBLE) - 1.0))
              ELSE 0.0 END)), (a, b) -> a + b)
        ELSE CAST('nan' AS DOUBLE) END AS chi2_logrank
      FROM f""")),

    // Cronbach's α internal-consistency over three integer per-document
    // "items" (char length, punctuation count, stopword hits): every
    // moment (Σx, Σx², ΣT, ΣT² for the item sum T) is an exact BIGINT
    // from ONE document scan, and each sum-of-squares nΣx²−(Σx)² is one
    // fixed IEEE tree over those exact longs — bit-identical across
    // engines because both see the same operand doubles (at true corpus
    // scale the cancellation would want int128/decimal accumulation;
    // the determinism contract the gate checks is unaffected).
    // α = k/(k−1)·(1 − ΣSSᵢ/SS_T), SS_T=0 guarded to NaN.
    QueryDef("q257_cronbach", (s, d) => {
      val txt = col("text")
      val x1 = length(txt).cast("long")
      val x2 = (length(txt) - length(regexp_replace(txt,
        "[.,!?;:]", ""))).cast("long")
      val x3 = size(regexp_extract_all(lower(txt),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0))).cast("long")
      val items = t(s, d, "documents")
        .select(x1.as("x1"), x2.as("x2"), x3.as("x3"))
        .withColumn("tt", col("x1") + col("x2") + col("x3"))
      val m = items.agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum(col("x1") * col("x1")).as("q1"),
        sum("x2").as("s2"), sum(col("x2") * col("x2")).as("q2"),
        sum("x3").as("s3"), sum(col("x3") * col("x3")).as("q3"),
        sum("tt").as("st"), sum(col("tt") * col("tt")).as("qt"))
      m.select(col("n"),
          coMoment(col("n"), col("q1"), col("s1"), col("s1")).as("ss1"),
          coMoment(col("n"), col("q2"), col("s2"), col("s2")).as("ss2"),
          coMoment(col("n"), col("q3"), col("s3"), col("s3")).as("ss3"),
          coMoment(col("n"), col("qt"), col("st"), col("st")).as("sst"))
        .select(col("n"), col("ss1"), col("ss2"), col("ss3"), col("sst"),
          when(col("sst") > 0.0, lit(1.5) * (lit(1.0)
            - (col("ss1") + col("ss2") + col("ss3")) / col("sst")))
            .otherwise(lit(Double.NaN)).as("alpha"))
    }, Some("""
      WITH items AS (SELECT
          CAST(length(text) AS BIGINT) AS x1,
          CAST(length(text)
            - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
            AS BIGINT) AS x2,
          CAST(len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT) AS x3
        FROM documents),
      it2 AS (SELECT x1, x2, x3, x1 + x2 + x3 AS tt FROM items),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x1) AS BIGINT) AS s1,
          CAST(sum(x1 * x1) AS BIGINT) AS q1,
          CAST(sum(x2) AS BIGINT) AS s2,
          CAST(sum(x2 * x2) AS BIGINT) AS q2,
          CAST(sum(x3) AS BIGINT) AS s3,
          CAST(sum(x3 * x3) AS BIGINT) AS q3,
          CAST(sum(tt) AS BIGINT) AS st,
          CAST(sum(tt * tt) AS BIGINT) AS qt
        FROM it2),
      sst AS (SELECT n,
          CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS ss1,
          CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
            - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS ss2,
          CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
            - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) AS ss3,
          CAST(n AS DOUBLE) * CAST(qt AS DOUBLE)
            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) AS sst
        FROM m)
      SELECT n, ss1, ss2, ss3, sst,
        CASE WHEN sst > 0.0
          THEN 1.5 * (1.0 - (ss1 + ss2 + ss3) / sst)
          ELSE CAST('nan' AS DOUBLE) END AS alpha
      FROM sst""")),

    // Cramér's V with Bergsma bias correction for the priority×status
    // contingency: cells and margins exact BIGINT from one orders scan,
    // χ² folds over the ≤15 SORTED cells (each term's expected count
    // rᵢcⱼ/N from the broadcast margins), r and c COUNTED from the data
    // rather than assumed. Ṽ uses φ̃² = max(0, φ²−(r−1)(c−1)/(N−1)) and
    // the shrunken r̃/c̃; both denominators when-guarded (min dim 1 or
    // N≤1 → NaN, never an ANSI trap).
    QueryDef("q258_cramers_v", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("p"),
          col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("obs"))
      val rm = cells.groupBy("p").agg(sum("obs").as("rt"))
      val cm = cells.groupBy("st").agg(sum("obs").as("ct"))
      val tot = cells.agg(sum("obs").as("nn"),
        countDistinct("p").as("r"), countDistinct("st").as("c"))
      // χ² sums over the FULL r×c grid, not just observed cells: an
      // empty cell still contributes (0−e)²/e = e (the spec's diagonal
      // 2×2 caught the observed-only fold reading N/2 instead of N).
      // The dense grid is the margins' cross join — domain-bounded, and
      // every expected count is positive because margins come from
      // observed rows.
      val withTerm = rm.crossJoin(cm)
        .join(cells, Seq("p", "st"), "left")
        .withColumn("obs", coalesce(col("obs"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("exp", dbl(col("rt")) * dbl(col("ct"))
          / dbl(col("nn")))
        .withColumn("term", (dbl(col("obs")) - col("exp"))
          * (dbl(col("obs")) - col("exp")) / col("exp"))
      val chi = withTerm
        .agg(max("nn").as("nn"), max("r").as("r"), max("c").as("c"),
          sort_array(collect_list(struct(col("p"), col("st"),
            col("term")))).as("xs"))
        .select(col("nn"), col("r"), col("c"),
          sumInOrder(col("xs"))(_.getField("term")).as("chi2"))
      val minDim = least(col("r"), col("c")).cast("double") - 1.0
      val nD = dbl(col("nn"))
      val phi2 = col("chi2") / nD
      val bias = ((dbl(col("r")) - 1.0) * (dbl(col("c")) - 1.0)
        / (nD - 1.0))
      val rr = (dbl(col("r")) - (dbl(col("r")) - 1.0)
        * (dbl(col("r")) - 1.0) / (nD - 1.0))
      val cc = (dbl(col("c")) - (dbl(col("c")) - 1.0)
        * (dbl(col("c")) - 1.0) / (nD - 1.0))
      chi.select(col("nn"), col("r"), col("c"), col("chi2"),
        when(minDim > 0.0 && nD > 0.0,
          sqrt(col("chi2") / (nD * minDim)))
          .otherwise(lit(Double.NaN)).as("v"),
        when(minDim > 0.0 && nD > 1.0, {
          val phi2c = greatest(phi2 - bias, lit(0.0))
          val denom = least(rr, cc) - 1.0
          when(denom > 0.0, sqrt(phi2c / denom))
            .otherwise(lit(Double.NaN))
        }).otherwise(lit(Double.NaN)).as("v_corrected"))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
          CAST(count(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
      rm AS (SELECT p, CAST(sum(obs) AS BIGINT) AS rt
        FROM cells GROUP BY 1),
      cm AS (SELECT st, CAST(sum(obs) AS BIGINT) AS ct
        FROM cells GROUP BY 1),
      tot AS (SELECT CAST(sum(obs) AS BIGINT) AS nn,
          CAST(count(DISTINCT p) AS BIGINT) AS r,
          CAST(count(DISTINCT st) AS BIGINT) AS c
        FROM cells),
      grid AS (SELECT p, st, rt, ct,
          CAST(coalesce(obs, 0) AS BIGINT) AS obs
        FROM rm CROSS JOIN cm LEFT JOIN cells USING (p, st)),
      terms AS (SELECT p, st,
          (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(nn AS DOUBLE))
          * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(nn AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(nn AS DOUBLE)) AS term
        FROM grid, tot),
      chi AS (SELECT max(nn) AS nn, max(r) AS r, max(c) AS c,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(p := p, st := st,
              term := term))), x -> x.term)), (a, b) -> a + b) AS chi2
        FROM terms, tot)
      SELECT nn, r, c, chi2,
        CASE WHEN CAST(least(r, c) AS DOUBLE) - 1.0 > 0.0
             AND CAST(nn AS DOUBLE) > 0.0
          THEN sqrt(chi2 / (CAST(nn AS DOUBLE)
            * (CAST(least(r, c) AS DOUBLE) - 1.0)))
          ELSE CAST('nan' AS DOUBLE) END AS v,
        CASE WHEN CAST(least(r, c) AS DOUBLE) - 1.0 > 0.0
             AND CAST(nn AS DOUBLE) > 1.0
          THEN CASE WHEN least(
              CAST(r AS DOUBLE) - (CAST(r AS DOUBLE) - 1.0)
                * (CAST(r AS DOUBLE) - 1.0)
                / (CAST(nn AS DOUBLE) - 1.0),
              CAST(c AS DOUBLE) - (CAST(c AS DOUBLE) - 1.0)
                * (CAST(c AS DOUBLE) - 1.0)
                / (CAST(nn AS DOUBLE) - 1.0)) - 1.0 > 0.0
            THEN sqrt(greatest(chi2 / CAST(nn AS DOUBLE)
              - (CAST(r AS DOUBLE) - 1.0) * (CAST(c AS DOUBLE) - 1.0)
                / (CAST(nn AS DOUBLE) - 1.0), 0.0)
              / (least(
                CAST(r AS DOUBLE) - (CAST(r AS DOUBLE) - 1.0)
                  * (CAST(r AS DOUBLE) - 1.0)
                  / (CAST(nn AS DOUBLE) - 1.0),
                CAST(c AS DOUBLE) - (CAST(c AS DOUBLE) - 1.0)
                  * (CAST(c AS DOUBLE) - 1.0)
                  / (CAST(nn AS DOUBLE) - 1.0)) - 1.0))
            ELSE CAST('nan' AS DOUBLE) END
          ELSE CAST('nan' AS DOUBLE) END AS v_corrected
      FROM chi""")),

    // Hosmer-Lemeshow calibration over the q231 odd/even train-eval
    // split: the odd half learns a per-priority finished-rate p̂_g, the
    // even half is scored in those same 5 groups, and
    // χ²_HL = Σ (O_g − m_g·p̂_g)²/(m_g·p̂_g(1−p̂_g)) folds over the
    // SORTED groups. Everything is exact BIGINT counts until the fixed
    // per-group IEEE terms; a group with p̂∈{0,1} or no eval rows has
    // an undefined HL term and is EXCLUDED (when-guarded, counted in
    // g_used — the q254 ANSI lesson applied up front). Per-group rows
    // ship with the statistic attached (the q231 readout shape).
    QueryDef("q259_hosmer_lemeshow", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("g"))
        .agg(
          sum(when(col("o_orderkey") % 2 === 1, 1L).otherwise(0L))
            .as("tn"),
          sum(when(col("o_orderkey") % 2 === 1
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("ta"),
          sum(when(col("o_orderkey") % 2 === 0, 1L).otherwise(0L))
            .as("m"),
          sum(when(col("o_orderkey") % 2 === 0
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("o"))
      val g = cells.select(col("g"), col("tn"), col("m"), col("o"),
        when(col("tn") > 0, dbl(col("ta")) / dbl(col("tn")))
          .otherwise(lit(Double.NaN)).as("p_g"))
        .withColumn("e_g", dbl(col("m")) * col("p_g"))
        .withColumn("usable", col("tn") > 0 && col("m") > 0
          && col("p_g") > 0.0 && col("p_g") < 1.0)
        .withColumn("term", when(col("usable"),
          (dbl(col("o")) - col("e_g")) * (dbl(col("o")) - col("e_g"))
            / (col("e_g") * (lit(1.0) - col("p_g"))))
          .otherwise(lit(0.0)))
      val hl = g.agg(
          sort_array(collect_list(struct(col("g"), col("term"))))
            .as("cs"),
          sum(when(col("usable"), 1L).otherwise(0L)).as("g_used"))
        .select(col("g_used"),
          sumInOrder(col("cs"))(_.getField("term")).as("chi2_hl"))
      g.select("g", "tn", "m", "o", "p_g", "e_g", "term")
        .crossJoin(broadcast(hl))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS g,
          CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
          CAST(sum(CASE WHEN o_orderkey % 2 = 1
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
          CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS m,
          CAST(sum(CASE WHEN o_orderkey % 2 = 0
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS o
        FROM orders GROUP BY 1),
      g AS (SELECT g, tn, m, o,
          CASE WHEN tn > 0 THEN CAST(ta AS DOUBLE) / CAST(tn AS DOUBLE)
               ELSE CAST('nan' AS DOUBLE) END AS p_g
        FROM cells),
      g2 AS (SELECT g, tn, m, o, p_g,
          CAST(m AS DOUBLE) * p_g AS e_g,
          (tn > 0 AND m > 0 AND p_g > 0.0 AND p_g < 1.0) AS usable
        FROM g),
      g3 AS (SELECT g, tn, m, o, p_g, e_g,
          CASE WHEN usable THEN
            (CAST(o AS DOUBLE) - e_g) * (CAST(o AS DOUBLE) - e_g)
              / (e_g * (1.0 - p_g))
          ELSE 0.0 END AS term, usable
        FROM g2),
      hl AS (SELECT
          CAST(sum(CASE WHEN usable THEN 1 ELSE 0 END) AS BIGINT)
            AS g_used,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(g := g,
              term := term))), x -> x.term)), (a, b) -> a + b)
            AS chi2_hl
        FROM g3)
      SELECT g, tn, m, o, p_g, e_g, term, g_used, chi2_hl
      FROM g3, hl""")),

    // Somers' D of the ordinal priority score against the binary
    // finished outcome — the rank-association form of the Gini/AUC
    // readout: D = (C−D)/(C+D+X₀) over pairs that DIFFER on the
    // outcome, where X₀ counts score-tied pairs among them, so
    // D ≡ 2·AUC−1 (the q189 identity, spec-pinned against a
    // brute-force pair count). The whole statistic lives on the ≤10
    // (priority × outcome) cells: C/D/X₀ are exact BIGINT products
    // from a cell pair join — at web scale the n·n products want
    // decimal(38) accumulation, the same note as the Kendall cells.
    QueryDef("q260_somers_d", (s, d) => {
      val cells = t(s, d, "orders")
        .select(col("o_orderpriority").as("x"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n"))
      val a = cells.select(col("x").as("ax"), col("y").as("ay"),
        col("n").as("an"))
      val b = cells.select(col("x").as("bx"), col("y").as("by"),
        col("n").as("bn"))
      val pairs = a.join(b, col("ax") < col("bx"))
        .agg(
          sum(when(col("ay") < col("by"), col("an") * col("bn"))
            .otherwise(0L)).as("nc"),
          sum(when(col("ay") > col("by"), col("an") * col("bn"))
            .otherwise(0L)).as("nd"))
      val tiedX = cells
        .groupBy("x")
        .agg((sum(when(col("y") === 1, col("n")).otherwise(0L))
          * sum(when(col("y") === 0, col("n")).otherwise(0L))).as("t"))
        .agg(sum("t").as("x0"))
      pairs.crossJoin(broadcast(tiedX))
        .select(
          coalesce(col("nc"), lit(0L)).as("nc"),
          coalesce(col("nd"), lit(0L)).as("nd"),
          coalesce(col("x0"), lit(0L)).as("x0"))
        .withColumn("somers_d",
          when(col("nc") + col("nd") + col("x0") > 0,
            (col("nc") - col("nd")).cast("double")
              / (col("nc") + col("nd") + col("x0")).cast("double"))
            .otherwise(lit(Double.NaN)))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS x,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
          CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2),
      pairs AS (SELECT
          CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.n * b.n
            ELSE 0 END), 0) AS BIGINT) AS nc,
          CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.n * b.n
            ELSE 0 END), 0) AS BIGINT) AS nd
        FROM cells a JOIN cells b ON a.x < b.x),
      tx AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS x0
        FROM (SELECT x,
            sum(CASE WHEN y = 1 THEN n ELSE 0 END)
              * sum(CASE WHEN y = 0 THEN n ELSE 0 END) AS t
          FROM cells GROUP BY 1))
      SELECT nc, nd, x0,
        CASE WHEN nc + nd + x0 > 0
          THEN CAST(nc - nd AS DOUBLE) / CAST(nc + nd + x0 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS somers_d
      FROM pairs, tx""")),

    // Lin's concordance correlation between the two q254 covariates
    // (per-order line count vs total quantity): agreement, not just
    // correlation — CCC = 2s_xy/(s_x²+s_y²+(x̄−ȳ)²) penalizes scale and
    // location shift. Multiplying through by n² gives the all-integer
    // form 2(nΣxy−ΣxΣy) / (nΣx²−(Σx)² + nΣy²−(Σy)² + (Σx−Σy)²): one
    // lineitem scan to exact BIGINT moments, one fixed IEEE tree,
    // zero-denominator (both covariates constant and equal) guarded
    // to NaN.
    QueryDef("q261_lin_ccc", (s, d) => {
      val per = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("x"),
          sum(col("l_quantity").cast("long")).as("y"))
      val m = per.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"),
        sum(col("x") * col("y")).as("sxy"))
      val num = lit(2.0) * coMoment(col("n"), col("sxy"), col("sx"), col("sy"))
      val den = coMoment(col("n"), col("qx"), col("sx"), col("sx"))
        .plus(coMoment(col("n"), col("qy"), col("sy"), col("sy")))
        .plus((dbl(col("sx")) - dbl(col("sy")))
          * (dbl(col("sx")) - dbl(col("sy"))))
      m.select(col("n"),
        when(den > 0.0, num / den).otherwise(lit(Double.NaN))
          .as("ccc"))
    }, Some("""
      WITH per AS (SELECT l_orderkey,
          CAST(count(*) AS BIGINT) AS x,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS qx,
          CAST(sum(y * y) AS BIGINT) AS qy,
          CAST(sum(x * y) AS BIGINT) AS sxy
        FROM per)
      SELECT n,
        CASE WHEN (CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            + (CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
              * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)) > 0.0
          THEN 2.0 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / ((CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            + (CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
              * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS ccc
      FROM m""")),

    // Cochran's Q over binary repeated measures: blocks = users,
    // treatments = the event types present in the data, xᵢⱼ = "user i
    // logged ≥ 15 events of type j" (the threshold creates real 0/1
    // variation — at the sf scales every user touches every type at
    // least once, which would degenerate the raw-presence design to
    // the NaN guard). Q = (k−1)(kΣC²−N²)/(kN−ΣR²) is ALL-INTEGER until
    // the final division: N and the squared column/row sums come from
    // the sparse (user,type) presence pairs — no dense grid needed,
    // absent pairs contribute 0 to every sum. Σᵢ Rᵢ(k−Rᵢ) = 0 (every
    // block constant) guards to NaN.
    QueryDef("q262_cochran_q", (s, d) => {
      val ev = t(s, d, "events")
      val pres = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 15)
      val kk = ev.agg(countDistinct("event_type").as("k"))
      val nTot = pres.agg(count(lit(1)).as("nn"))
      val sr2 = pres.groupBy("user_id").agg(count(lit(1)).as("r"))
        .agg(coalesce(sum(col("r") * col("r")), lit(0L)).as("sum_r2"))
      val sc2 = pres.groupBy("event_type").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("sum_c2"))
      kk.crossJoin(broadcast(nTot)).crossJoin(broadcast(sr2))
        .crossJoin(broadcast(sc2))
        .select(col("k"), col("nn"), col("sum_r2"), col("sum_c2"),
          when(col("k") * col("nn") - col("sum_r2") > 0,
            (dbl(col("k")) - 1.0)
              * coMoment(col("k"), col("sum_c2"), col("nn"), col("nn"))
              / (dbl(col("k")) * dbl(col("nn")) - dbl(col("sum_r2"))))
            .otherwise(lit(Double.NaN)).as("q_cochran"))
    }, Some("""
      WITH pres AS (SELECT user_id, event_type
        FROM events GROUP BY 1, 2 HAVING count(*) >= 15),
      kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
        FROM events),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pres),
      sr AS (SELECT CAST(coalesce(sum(r * r), 0) AS BIGINT) AS sum_r2
        FROM (SELECT CAST(count(*) AS BIGINT) AS r FROM pres
          GROUP BY user_id)),
      sc AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS sum_c2
        FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM pres
          GROUP BY event_type))
      SELECT k, nn, sum_r2, sum_c2,
        CASE WHEN k * nn - sum_r2 > 0
          THEN (CAST(k AS DOUBLE) - 1.0)
            * (CAST(k AS DOUBLE) * CAST(sum_c2 AS DOUBLE)
              - CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
            / (CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(sum_r2 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS q_cochran
      FROM kk, nt, sr, sc""")),

    // Gwet's AC1 chance-corrected agreement between the engine's own
    // lang-ID and the corpus label — the prevalence-robust counterpart
    // of q218's Cohen's kappa (κ collapses when one category dominates;
    // AC1's chance term π_q(1−π_q)/(Q−1) does not). The category set Q
    // is the union OBSERVED across both raters (full-outer-joined
    // marginals, absent side coalesced to 0), p_a and the marginal
    // means are exact count rationals, and p_e folds over the SORTED
    // category list. p_e = 1 (degenerate single category) guards to
    // NaN.
    QueryDef("q263_gwet_ac1", (s, d) => {
      import graft.functions.TextFunctions
      val scored = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("r1"),
          col("lang").as("r2"))
      val tot = scored.agg(count(lit(1)).as("n"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L))
          .as("agree"))
      val m1 = scored.groupBy(col("r1").as("cat"))
        .agg(count(lit(1)).as("c1"))
      val m2 = scored.groupBy(col("r2").as("cat"))
        .agg(count(lit(1)).as("c2"))
      val cats = m1.join(m2, Seq("cat"), "full_outer")
        .select(col("cat"), coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      val folded = cats.crossJoin(broadcast(tot))
        .withColumn("pi", (dbl(col("c1")) / dbl(col("n"))
          + dbl(col("c2")) / dbl(col("n"))) / 2.0)
        .agg(max("n").as("n"), max("agree").as("agree"),
          count(lit(1)).as("q"),
          sort_array(collect_list(struct(col("cat"), col("pi"))))
            .as("cs"))
      folded
        .select(col("n"), col("q"),
          (dbl(col("agree")) / dbl(col("n"))).as("pa"),
          when(col("q") > 1,
            sumInOrder(col("cs"))(e =>
              e.getField("pi") * (lit(1.0) - e.getField("pi")))
              / (dbl(col("q")) - 1.0))
            .otherwise(lit(Double.NaN)).as("pe"))
        .withColumn("ac1", when(col("pe") < 1.0,
          (col("pa") - col("pe")) / (lit(1.0) - col("pe")))
          .otherwise(lit(Double.NaN)))
    }, Some("""
      WITH scored AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS r1, lang AS r2
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
            AS agree
        FROM scored),
      m1 AS (SELECT r1 AS cat, CAST(count(*) AS BIGINT) AS c1
        FROM scored GROUP BY 1),
      m2 AS (SELECT r2 AS cat, CAST(count(*) AS BIGINT) AS c2
        FROM scored GROUP BY 1),
      cats AS (SELECT cat,
          CAST(coalesce(c1, 0) AS BIGINT) AS c1,
          CAST(coalesce(c2, 0) AS BIGINT) AS c2
        FROM m1 FULL OUTER JOIN m2 USING (cat)),
      pis AS (SELECT cat,
          (CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)
            + CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)) / 2.0 AS pi,
          n, agree
        FROM cats, tot),
      f AS (SELECT max(n) AS n, max(agree) AS agree,
          CAST(count(*) AS BIGINT) AS q,
          list_sort(list(struct_pack(cat := cat, pi := pi))) AS cs
        FROM pis),
      r AS (SELECT n, q,
          CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS pa,
          CASE WHEN q > 1
            THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, x -> x.pi * (1.0 - x.pi))),
              (a, b) -> a + b) / (CAST(q AS DOUBLE) - 1.0)
            ELSE CAST('nan' AS DOUBLE) END AS pe
        FROM f)
      SELECT n, q, pa, pe,
        CASE WHEN pe < 1.0 THEN (pa - pe) / (1.0 - pe)
          ELSE CAST('nan' AS DOUBLE) END AS ac1
      FROM r""")),

    // Tie-robust Friedman test: blocks = nations, ordered treatments =
    // the 5 priorities, measurement = the nation's order count at that
    // priority. The nation×priority grid is DENSIFIED from the margins
    // (the q258 lesson — a nation with zero orders at a priority is a
    // real 0 cell, not a missing row), average ranks within each block
    // come from a bounded cell self-join (less + (tied+1)/2 — exact
    // dyadic halves, so every sum below is order-independent in IEEE
    // and plain SUMs are safe), and the ANOVA-on-ranks form
    // χ² = (k−1)·Σⱼ(Rⱼ−n(k+1)/2)² / Σᵢⱼ(rᵢⱼ−(k+1)/2)² stays valid
    // under ties (the textbook 12/nk(k+1) form does not). Zero rank
    // variance guards to NaN.
    QueryDef("q264_friedman", (s, d) => {
      val counts = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("b"),
          col("o_orderpriority").as("tr"))
        .agg(count(lit(1)).as("cnt"))
        // nations × priorities; feeds blocks/treats/grid and every
        // rank/moment consumer
        .transform(Cut.small(25 * 5))
      val blocks = counts.select("b").distinct()
      val treats = counts.select("tr").distinct()
      val grid = blocks.crossJoin(treats)
        .join(counts, Seq("b", "tr"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val o = grid.select(col("b").as("ob"), col("tr").as("otr"),
        col("cnt").as("ocnt"))
      val ranked = grid.join(o, col("b") === col("ob"))
        .groupBy("b", "tr")
        .agg(
          sum(when(col("ocnt") < col("cnt"), 1L).otherwise(0L))
            .as("less"),
          sum(when(col("ocnt") === col("cnt"), 1L).otherwise(0L))
            .as("tied"))
        .withColumn("r", col("less").cast("double")
          + (col("tied").cast("double") + 1.0) / 2.0)
      val dims = ranked.agg(
        countDistinct("b").as("n"), countDistinct("tr").as("k"))
      val wd = ranked.crossJoin(broadcast(dims))
        .withColumn("dev", col("r")
          - (dbl(col("k")) + 1.0) / 2.0)
      val den = wd.agg(sum(col("dev") * col("dev")).as("den"))
      val num = wd.groupBy("tr")
        .agg(max("n").as("n"), max("k").as("k"),
          sum("r").as("rj"))
        .withColumn("jdev", col("rj")
          - dbl(col("n")) * (dbl(col("k")) + 1.0) / 2.0)
        .agg(max("n").as("n"), max("k").as("k"),
          sum(col("jdev") * col("jdev")).as("num"))
      num.crossJoin(broadcast(den))
        .select(col("n"), col("k"),
          when(col("den") > 0.0,
            (dbl(col("k")) - 1.0) * col("num") / col("den"))
            .otherwise(lit(Double.NaN)).as("chi2_friedman"))
    }, Some("""
      WITH counts AS (SELECT c_nationkey AS b, o_orderpriority AS tr,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      grid AS (SELECT b, tr, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
        FROM (SELECT DISTINCT b FROM counts)
        CROSS JOIN (SELECT DISTINCT tr FROM counts)
        LEFT JOIN counts USING (b, tr)),
      ranked AS (SELECT g.b, g.tr,
          CAST(sum(CASE WHEN o.cnt < g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE)
          + (CAST(sum(CASE WHEN o.cnt = g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE) + 1.0) / 2.0 AS r
        FROM grid g JOIN grid o ON o.b = g.b
        GROUP BY 1, 2),
      dims AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n,
          CAST(count(DISTINCT tr) AS BIGINT) AS k
        FROM ranked),
      den AS (SELECT sum((r - (CAST(k AS DOUBLE) + 1.0) / 2.0)
            * (r - (CAST(k AS DOUBLE) + 1.0) / 2.0)) AS den
        FROM ranked, dims),
      num AS (SELECT max(n) AS n, max(k) AS k,
          sum(jdev * jdev) AS num
        FROM (SELECT max(d.n) AS n, max(d.k) AS k,
            sum(r) - CAST(max(d.n) AS DOUBLE)
              * (CAST(max(d.k) AS DOUBLE) + 1.0) / 2.0 AS jdev
          FROM ranked, dims d GROUP BY tr))
      SELECT n, k,
        CASE WHEN den > 0.0
          THEN (CAST(k AS DOUBLE) - 1.0) * num / den
          ELSE CAST('nan' AS DOUBLE) END AS chi2_friedman
      FROM num, den""")),

    // First-order partial correlation r_xy·z between per-order line
    // count (x) and total quantity (y) CONTROLLING for order value —
    // the "is the x–y link just both growing with order size?" readout.
    // z is the price rounded to whole units and cast BIGINT (the raw
    // DOUBLE would make Σz partition-order-dependent; rounding gives an
    // exact integer covariate both engines derive identically — .5
    // ties round away from zero in both). All three pairwise Pearson
    // r's come from ONE joined scan's exact BIGINT moments (Σz² caps
    // the safe range around sf~10; decimal accumulation is the web-
    // scale variant), then r_xy·z = (r_xy − r_xz r_yz)/√((1−r_xz²)(1−r_yz²)),
    // any zero variance or |r|=1 denominator when-guarded to NaN.
    QueryDef("q265_partial_corr", (s, d) => {
      val per = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("x"),
          sum(col("l_quantity").cast("long")).as("y"))
      val triple = per.join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("x"), col("y"),
          round(col("o_totalprice")).cast("long").as("z"))
      val m = triple.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"),
        sum(col("z") * col("z")).as("qz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      def r(sab: Column, sa: Column, sb: Column, qa: Column,
          qb: Column) = {
        val va = coMoment(col("n"), qa, sa, sa)
        val vb = coMoment(col("n"), qb, sb, sb)
        when(va > 0.0 && vb > 0.0,
          coMoment(col("n"), sab, sa, sb) / sqrt(va * vb))
          .otherwise(lit(Double.NaN))
      }
      val withR = m.select(col("n"),
        r(col("sxy"), col("sx"), col("sy"), col("qx"), col("qy"))
          .as("r_xy"),
        r(col("sxz"), col("sx"), col("sz"), col("qx"), col("qz"))
          .as("r_xz"),
        r(col("syz"), col("sy"), col("sz"), col("qy"), col("qz"))
          .as("r_yz"))
      withR.withColumn("r_partial", {
        val den = (lit(1.0) - col("r_xz") * col("r_xz"))
          .*(lit(1.0) - col("r_yz") * col("r_yz"))
        when(den > 0.0,
          (col("r_xy") - col("r_xz") * col("r_yz")) / sqrt(den))
          .otherwise(lit(Double.NaN))
      })
    }, Some("""
      WITH per AS (SELECT l_orderkey,
          CAST(count(*) AS BIGINT) AS x,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1),
      triple AS (SELECT x, y,
          CAST(round(o_totalprice) AS BIGINT) AS z
        FROM per JOIN orders ON l_orderkey = o_orderkey),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(z) AS BIGINT) AS sz,
          CAST(sum(x * x) AS BIGINT) AS qx,
          CAST(sum(y * y) AS BIGINT) AS qy,
          CAST(sum(z * z) AS BIGINT) AS qz,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * z) AS BIGINT) AS sxz,
          CAST(sum(y * z) AS BIGINT) AS syz
        FROM triple),
      rr AS (SELECT n,
          CASE WHEN CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
               AND CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            ELSE CAST('nan' AS DOUBLE) END AS r_xy,
          CASE WHEN CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
               AND CAST(n AS DOUBLE) * CAST(qz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0.0
            THEN (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(qx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(qz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
            ELSE CAST('nan' AS DOUBLE) END AS r_xz,
          CASE WHEN CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
               AND CAST(n AS DOUBLE) * CAST(qz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) > 0.0
            THEN (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(qy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(qz AS DOUBLE)
                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
            ELSE CAST('nan' AS DOUBLE) END AS r_yz
        FROM m)
      SELECT n, r_xy, r_xz, r_yz,
        CASE WHEN (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0.0
          THEN (r_xy - r_xz * r_yz)
            / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
          ELSE CAST('nan' AS DOUBLE) END AS r_partial
      FROM rr""")),

    // Distribution distance between the priority mix of finished vs
    // open orders, three classical readouts from ONE densified cell
    // table: Bhattacharyya coefficient Σ√(pᵢqᵢ), Hellinger distance
    // √(max(0, 1−BC)) (the clamp absorbs the ≤1-ulp excess a perfect
    // match can leave), and total-variation ½Σ|pᵢ−qᵢ|. The priority
    // domain is densified from the observed margins (the q258 lesson);
    // each side's probabilities are exact count rationals; both folds
    // run over the SORTED priority list. An empty side guards to NaN.
    QueryDef("q266_hellinger", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("p"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("cf"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
            .as("co"))
      val tot = cells.agg(sum("cf").as("nf"), sum("co").as("no"))
      val folded = cells.crossJoin(broadcast(tot))
        .withColumn("pp", dbl(col("cf")) / dbl(col("nf")))
        .withColumn("qq", dbl(col("co")) / dbl(col("no")))
        .agg(max("nf").as("nf"), max("no").as("no"),
          sort_array(collect_list(struct(col("p"), col("pp"),
            col("qq")))).as("cs"))
      folded.select(col("nf"), col("no"),
          when(col("nf") > 0 && col("no") > 0,
            sumInOrder(col("cs"))(e =>
              sqrt(e.getField("pp") * e.getField("qq"))))
            .otherwise(lit(Double.NaN)).as("bc"),
          when(col("nf") > 0 && col("no") > 0,
            sumInOrder(col("cs"))(e =>
              abs(e.getField("pp") - e.getField("qq"))) / 2.0)
            .otherwise(lit(Double.NaN)).as("tvd"))
        .withColumn("hellinger",
          when(col("bc").isNaN, lit(Double.NaN))
            .otherwise(sqrt(greatest(lit(1.0) - col("bc"), lit(0.0)))))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS p,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS cf,
          CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS co
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(cf) AS BIGINT) AS nf,
          CAST(sum(co) AS BIGINT) AS no FROM cells),
      f AS (SELECT max(nf) AS nf, max(no) AS no,
          list_sort(list(struct_pack(p := p,
            pp := CAST(cf AS DOUBLE) / CAST(nf AS DOUBLE),
            qq := CAST(co AS DOUBLE) / CAST(no AS DOUBLE)))) AS cs
        FROM cells, tot),
      r AS (SELECT nf, no,
          CASE WHEN nf > 0 AND no > 0
            THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, e -> sqrt(e.pp * e.qq))),
              (a, b) -> a + b)
            ELSE CAST('nan' AS DOUBLE) END AS bc,
          CASE WHEN nf > 0 AND no > 0
            THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, e -> abs(e.pp - e.qq))),
              (a, b) -> a + b) / 2.0
            ELSE CAST('nan' AS DOUBLE) END AS tvd
        FROM f)
      SELECT nf, no, bc, tvd,
        CASE WHEN isnan(bc) THEN CAST('nan' AS DOUBLE)
          ELSE sqrt(greatest(1.0 - bc, 0.0)) END AS hellinger
      FROM r""")),

    // Theil's uncertainty coefficient U(status|priority) — the
    // NORMALIZED, asymmetric form of q199's mutual information: what
    // fraction of the outcome's entropy does knowing the priority
    // remove? U = (H(Y)+H(X)−H(X,Y))/H(Y), every entropy the q138/q199
    // shape — a sorted fold of c·ln c over dimension-bounded count
    // lists with INTEGER-valued portable_ln arguments only, so all
    // doubles are fixed IEEE trees. H(Y)=0 (single outcome) guards to
    // NaN.
    QueryDef("q267_theils_u", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "orders")
        .select(col("o_orderpriority").as("x"),
          col("o_orderstatus").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("c"))
      val sxy = cells.agg(sort_array(collect_list(col("c"))).as("cs"),
          sum("c").as("n"))
        .select(sumInOrder(col("cs"))(c => dbl(c) * pln(c)).as("sxy"),
          col("n"))
      val sx = cells.groupBy("x").agg(sum("c").as("cx"))
        .agg(sort_array(collect_list(col("cx"))).as("cs"))
        .select(sumInOrder(col("cs"))(c => dbl(c) * pln(c)).as("sx"))
      val sy = cells.groupBy("y").agg(sum("c").as("cy"))
        .agg(sort_array(collect_list(col("cy"))).as("cs"))
        .select(sumInOrder(col("cs"))(c => dbl(c) * pln(c)).as("sy"))
      sxy.crossJoin(sx).crossJoin(sy)
        .select(col("n"),
          (pln(dbl(col("n"))) - col("sx") / dbl(col("n"))).as("h_x"),
          (pln(dbl(col("n"))) - col("sy") / dbl(col("n"))).as("h_y"),
          (pln(dbl(col("n"))) - col("sxy") / dbl(col("n"))).as("h_xy"))
        .select(col("n"), col("h_x"), col("h_y"), col("h_xy"),
          when(col("h_y") > 0.0,
            (col("h_x") + col("h_y") - col("h_xy")) / col("h_y"))
            .otherwise(lit(Double.NaN)).as("u_y_given_x"))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
          CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
      sxy AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(c)),
              v -> CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)))),
            (a, b) -> a + b) AS sxy,
          CAST(sum(c) AS BIGINT) AS n
        FROM cells),
      sx AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(cx)),
              v -> CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)))),
            (a, b) -> a + b) AS sx
        FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells
          GROUP BY 1)),
      sy AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(cy)),
              v -> CAST(v AS DOUBLE) * ln(CAST(v AS DOUBLE)))),
            (a, b) -> a + b) AS sy
        FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells
          GROUP BY 1)),
      h AS (SELECT n,
          ln(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE) AS h_x,
          ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE) AS h_y,
          ln(CAST(n AS DOUBLE)) - sxy / CAST(n AS DOUBLE) AS h_xy
        FROM sxy, sx, sy)
      SELECT n, h_x, h_y, h_xy,
        CASE WHEN h_y > 0.0 THEN (h_x + h_y - h_xy) / h_y
          ELSE CAST('nan' AS DOUBLE) END AS u_y_given_x
      FROM h""")),

    // Page's L trend test — the ORDERED-alternative sharpening of
    // q264's Friedman (is the per-nation order count monotone in
    // priority urgency, not merely different?). Reuses the densified
    // grid + bounded-self-join average ranks (exact dyadic halves),
    // then L = Σⱼ posⱼ·Rⱼ with posⱼ the treatment's 1..k position in
    // lexicographic (= urgency) order, and the classical untied
    // moments E[L] = nk(k+1)²/4, Var[L] = nk²(k+1)²(k−1)/144 give
    // z = (L−E)/√Var (tie-corrected variance would shrink Var; with
    // heavy ties |z| is conservative-UP, noted, the statistic itself
    // exact). Var = 0 (k<2 or n=0) guards to NaN.
    QueryDef("q268_page_trend", (s, d) => {
      val counts = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("b"),
          col("o_orderpriority").as("tr"))
        .agg(count(lit(1)).as("cnt"))
        // nations × priorities; feeds blocks/treats/grid and every
        // rank/moment consumer
        .transform(Cut.small(25 * 5))
      val blocks = counts.select("b").distinct()
      val treats = counts.select("tr").distinct()
      val grid = blocks.crossJoin(treats)
        .join(counts, Seq("b", "tr"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val o = grid.select(col("b").as("ob"), col("tr").as("otr"),
        col("cnt").as("ocnt"))
      val ranked = grid.join(o, col("b") === col("ob"))
        .groupBy("b", "tr")
        .agg(sum(when(col("ocnt") < col("cnt"), 1L).otherwise(0L))
            .as("less"),
          sum(when(col("ocnt") === col("cnt"), 1L).otherwise(0L))
            .as("tied"))
        .withColumn("r", col("less").cast("double")
          + (col("tied").cast("double") + 1.0) / 2.0)
      // treatment position 1..k in lexicographic order, from a bounded
      // self-join over the treatment list (window-free)
      val t2 = treats.select(col("tr").as("tr2"))
      val pos = treats.join(t2, col("tr2") <= col("tr"))
        .groupBy("tr").agg(count(lit(1)).as("pos"))
      val dims = ranked.agg(countDistinct("b").as("n"),
        countDistinct("tr").as("k"))
      val l = ranked.join(broadcast(pos), "tr")
        .groupBy("tr").agg(max("pos").as("pos"), sum("r").as("rj"))
        .agg(sum(dbl(col("pos")) * col("rj")).as("l"))
      l.crossJoin(broadcast(dims))
        .select(col("n"), col("k"), col("l"),
          (dbl(col("n")) * dbl(col("k"))
            * (dbl(col("k")) + 1.0) * (dbl(col("k")) + 1.0) / 4.0)
            .as("e_l"),
          (dbl(col("n")) * dbl(col("k")) * dbl(col("k"))
            * (dbl(col("k")) + 1.0) * (dbl(col("k")) + 1.0)
            * (dbl(col("k")) - 1.0) / 144.0).as("var_l"))
        .withColumn("z", when(col("var_l") > 0.0,
          (col("l") - col("e_l")) / sqrt(col("var_l")))
          .otherwise(lit(Double.NaN)))
    }, Some("""
      WITH counts AS (SELECT c_nationkey AS b, o_orderpriority AS tr,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      grid AS (SELECT b, tr, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
        FROM (SELECT DISTINCT b FROM counts)
        CROSS JOIN (SELECT DISTINCT tr FROM counts)
        LEFT JOIN counts USING (b, tr)),
      ranked AS (SELECT g.b, g.tr,
          CAST(sum(CASE WHEN o.cnt < g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE)
          + (CAST(sum(CASE WHEN o.cnt = g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE) + 1.0) / 2.0 AS r
        FROM grid g JOIN grid o ON o.b = g.b
        GROUP BY 1, 2),
      pos AS (SELECT a.tr, CAST(count(*) AS BIGINT) AS pos
        FROM (SELECT DISTINCT tr FROM counts) a
        JOIN (SELECT DISTINCT tr FROM counts) b2 ON b2.tr <= a.tr
        GROUP BY 1),
      dims AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n,
          CAST(count(DISTINCT tr) AS BIGINT) AS k
        FROM ranked),
      ll AS (SELECT sum(CAST(pos AS DOUBLE) * rj) AS l
        FROM (SELECT tr, max(pos) AS pos, sum(r) AS rj
          FROM ranked JOIN pos USING (tr) GROUP BY tr)),
      mo AS (SELECT n, k, l,
          CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
            * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)
            / 4.0 AS e_l,
          CAST(n AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
            * (CAST(k AS DOUBLE) + 1.0) * (CAST(k AS DOUBLE) + 1.0)
            * (CAST(k AS DOUBLE) - 1.0) / 144.0 AS var_l
        FROM ll, dims)
      SELECT n, k, l, e_l, var_l,
        CASE WHEN var_l > 0.0 THEN (l - e_l) / sqrt(var_l)
          ELSE CAST('nan' AS DOUBLE) END AS z
      FROM mo""")),

    // Goodman-Kruskal λ in BOTH directions — proportional reduction in
    // prediction error for categorical⇄categorical, and the rare
    // statistic that stays ALL-INTEGER to the final division:
    // λ(Y|X) = (Σₓ maxy c − maxy C)/(N − maxy C). Modal counts come
    // from bounded per-margin aggregates (tie-breaking is irrelevant —
    // only the max VALUE enters); a degenerate margin (single observed
    // category → denominator 0) guards to NaN.
    QueryDef("q269_gk_lambda", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("x"),
          col("o_orderstatus").as("y"))
        .agg(count(lit(1)).as("c"))
      val sxmax = cells.groupBy("x").agg(max("c").as("mx"))
        .agg(sum("mx").as("sum_max_y_given_x"))
      val symax = cells.groupBy("y").agg(max("c").as("my"))
        .agg(sum("my").as("sum_max_x_given_y"))
      val margY = cells.groupBy("y").agg(sum("c").as("cy"))
        .agg(max("cy").as("max_y"))
      val margX = cells.groupBy("x").agg(sum("c").as("cx"))
        .agg(max("cx").as("max_x"))
      val n = cells.agg(sum("c").as("n"))
      n.crossJoin(broadcast(sxmax)).crossJoin(broadcast(symax))
        .crossJoin(broadcast(margY)).crossJoin(broadcast(margX))
        .select(col("n"), col("sum_max_y_given_x"),
          col("sum_max_x_given_y"), col("max_y"), col("max_x"),
          when(col("n") - col("max_y") > 0,
            dbl(col("sum_max_y_given_x") - col("max_y"))
              / dbl(col("n") - col("max_y")))
            .otherwise(lit(Double.NaN)).as("lambda_y_given_x"),
          when(col("n") - col("max_x") > 0,
            dbl(col("sum_max_x_given_y") - col("max_x"))
              / dbl(col("n") - col("max_x")))
            .otherwise(lit(Double.NaN)).as("lambda_x_given_y"))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
          CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
      sxm AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_max_y_given_x
        FROM (SELECT x, max(c) AS mx FROM cells GROUP BY 1)),
      sym AS (SELECT CAST(sum(my) AS BIGINT) AS sum_max_x_given_y
        FROM (SELECT y, max(c) AS my FROM cells GROUP BY 1)),
      my2 AS (SELECT CAST(max(cy) AS BIGINT) AS max_y
        FROM (SELECT y, sum(c) AS cy FROM cells GROUP BY 1)),
      mx2 AS (SELECT CAST(max(cx) AS BIGINT) AS max_x
        FROM (SELECT x, sum(c) AS cx FROM cells GROUP BY 1)),
      nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
      SELECT n, sum_max_y_given_x, sum_max_x_given_y, max_y, max_x,
        CASE WHEN n - max_y > 0
          THEN CAST(sum_max_y_given_x - max_y AS DOUBLE)
            / CAST(n - max_y AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS lambda_y_given_x,
        CASE WHEN n - max_x > 0
          THEN CAST(sum_max_x_given_y - max_x AS DOUBLE)
            / CAST(n - max_x AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS lambda_x_given_y
      FROM nt, sxm, sym, my2, mx2""")),

    // Goodman-Kruskal γ and Stuart's τ-c for the ordinal priority ×
    // ordinal status pair (F<O<P lexicographic in both engines) — the
    // tie-IGNORING and the rectangular-table-corrected companions to
    // q213's τ-b, from the same ≤15-cell contingency: C and D are
    // exact BIGINT products over the x-ordered cell pair join,
    // γ = (C−D)/(C+D) (no-untied-pairs → NaN) and
    // τ-c = 2m(C−D)/(n²(m−1)) with m = min(r,c) counted from the data
    // (m=1 → NaN).
    QueryDef("q270_ordinal_gamma", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("x"),
          col("o_orderstatus").as("y"))
        .agg(count(lit(1)).as("cn"))
      val a = cells.select(col("x").as("ax"), col("y").as("ay"),
        col("cn").as("an"))
      val b = cells.select(col("x").as("bx"), col("y").as("by"),
        col("cn").as("bn"))
      val pairs = a.join(b, col("ax") < col("bx"))
        .agg(
          coalesce(sum(when(col("ay") < col("by"),
            col("an") * col("bn")).otherwise(0L)), lit(0L)).as("nc"),
          coalesce(sum(when(col("ay") > col("by"),
            col("an") * col("bn")).otherwise(0L)), lit(0L)).as("nd"))
      val dims = cells.agg(sum("cn").as("n"),
        countDistinct("x").as("r"), countDistinct("y").as("c"))
      pairs.crossJoin(broadcast(dims))
        .withColumn("m", least(col("r"), col("c")))
        .select(col("n"), col("nc"), col("nd"), col("m"),
          when(col("nc") + col("nd") > 0,
            dbl(col("nc") - col("nd")) / dbl(col("nc") + col("nd")))
            .otherwise(lit(Double.NaN)).as("gamma"),
          when(col("m") > 1,
            lit(2.0) * dbl(col("m")) * dbl(col("nc") - col("nd"))
              / (dbl(col("n")) * dbl(col("n"))
                * (dbl(col("m")) - 1.0)))
            .otherwise(lit(Double.NaN)).as("tau_c"))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
          CAST(count(*) AS BIGINT) AS cn
        FROM orders GROUP BY 1, 2),
      pairs AS (SELECT
          CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.cn * b.cn
            ELSE 0 END), 0) AS BIGINT) AS nc,
          CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.cn * b.cn
            ELSE 0 END), 0) AS BIGINT) AS nd
        FROM cells a JOIN cells b ON a.x < b.x),
      dims AS (SELECT CAST(sum(cn) AS BIGINT) AS n,
          CAST(count(DISTINCT x) AS BIGINT) AS r,
          CAST(count(DISTINCT y) AS BIGINT) AS c
        FROM cells)
      SELECT n, nc, nd, least(r, c) AS m,
        CASE WHEN nc + nd > 0
          THEN CAST(nc - nd AS DOUBLE) / CAST(nc + nd AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS gamma,
        CASE WHEN least(r, c) > 1
          THEN 2.0 * CAST(least(r, c) AS DOUBLE)
            * CAST(nc - nd AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (CAST(least(r, c) AS DOUBLE) - 1.0))
          ELSE CAST('nan' AS DOUBLE) END AS tau_c
      FROM pairs, dims""")),

    // Breslow-Day homogeneity of odds ratios across nation strata —
    // the diagnostic that must PASS before q219's CMH common OR is
    // meaningful. Per stratum the 2×2 (urgent×finished) cells are
    // conditional sums; ψ̂_MH folds Σaᵢdᵢ/Nᵢ / Σbᵢcᵢ/Nᵢ over the SORTED
    // strata; each stratum's expected aₑ solves the margin-preserving
    // quadratic (1−ψ)a² + (N−r₁−c₁+ψ(r₁+c₁))a − ψr₁c₁ = 0 — both
    // roots are formed from the same IEEE discriminant in both
    // engines and the admissible one (all four expected cells > 0) is
    // selected by value, ψ=1 degenerating to the independence a via a
    // guard rather than 0/0. Strata with an empty margin or no
    // admissible root contribute 0 and are excluded from g_used.
    // X²_BD = Σ (a−aₑ)²·(1/aₑ+1/bₑ+1/cₑ+1/dₑ).
    QueryDef("q271_breslow_day", (s, d) => {
      val cells = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("st"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT"
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("a"),
          sum(when(col("o_orderpriority") === "1-URGENT"
            && col("o_orderstatus") =!= "F", 1L).otherwise(0L))
            .as("b"),
          sum(when(col("o_orderpriority") =!= "1-URGENT"
            && col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("c"),
          sum(when(col("o_orderpriority") =!= "1-URGENT"
            && col("o_orderstatus") =!= "F", 1L).otherwise(0L))
            .as("dd"))
      val withN = cells.withColumn("nn",
        col("a") + col("b") + col("c") + col("dd"))
      val psi = withN
        .agg(sort_array(collect_list(struct(col("st"), col("a"),
          col("b"), col("c"), col("dd"), col("nn")))).as("cs"))
        .select(col("cs"),
          sumInOrder(col("cs"))(e =>
            dbl(e.getField("a")) * dbl(e.getField("dd"))
              / dbl(e.getField("nn"))).as("sad"),
          sumInOrder(col("cs"))(e => dbl(e.getField("b")) * dbl(e.getField("c"))
              / dbl(e.getField("nn"))).as("sbc"))
        .select(col("cs"), col("sad"), col("sbc"),
          when(col("sbc") > 0.0, col("sad") / col("sbc"))
            .otherwise(lit(Double.NaN)).as("psi_mh"))
      val strata = psi.select(col("psi_mh"), col("sad"), col("sbc"),
          explode(col("cs")).as("e"))
        .select(col("psi_mh"), col("sad"), col("sbc"),
          col("e.st").as("st"), dbl(col("e.a")).as("a"),
          dbl(col("e.b")).as("b"), dbl(col("e.c")).as("c"),
          dbl(col("e.dd")).as("dd"), dbl(col("e.nn")).as("nn"))
        .withColumn("r1", col("a") + col("b"))
        .withColumn("c1", col("a") + col("c"))
        .withColumn("qa", lit(1.0) - col("psi_mh"))
        .withColumn("qb", col("nn") - col("r1") - col("c1")
          + col("psi_mh") * (col("r1") + col("c1")))
        .withColumn("qc", -col("psi_mh") * col("r1") * col("c1"))
        .withColumn("disc", col("qb") * col("qb")
          - lit(4.0) * col("qa") * col("qc"))
        .withColumn("root1", when(col("qa") =!= 0.0,
          (-col("qb") + sqrt(greatest(col("disc"), lit(0.0))))
            / (lit(2.0) * col("qa")))
          .otherwise(col("r1") * col("c1") / col("nn")))
        .withColumn("root2", when(col("qa") =!= 0.0,
          (-col("qb") - sqrt(greatest(col("disc"), lit(0.0))))
            / (lit(2.0) * col("qa")))
          .otherwise(col("r1") * col("c1") / col("nn")))
      def cellsOk(ae: Column) =
        ae > 0.0 && (col("r1") - ae) > 0.0 && (col("c1") - ae) > 0.0 &&
          (col("nn") - col("r1") - col("c1") + ae) > 0.0
      val picked = strata
        .withColumn("ae", when(cellsOk(col("root1")), col("root1"))
          .when(cellsOk(col("root2")), col("root2"))
          .otherwise(lit(Double.NaN)))
        .withColumn("usable", !col("ae").isNaN && !col("psi_mh").isNaN)
        .withColumn("term", when(col("usable"), {
          val be = col("r1") - col("ae")
          val ce = col("c1") - col("ae")
          val de = col("nn") - col("r1") - col("c1") + col("ae")
          ((col("a") - col("ae")) * (col("a") - col("ae"))
            * (lit(1.0) / col("ae") + lit(1.0) / be + lit(1.0) / ce
              + lit(1.0) / de))
        }).otherwise(lit(0.0)))
      picked
        .agg(max("psi_mh").as("psi_mh"),
          sum(when(col("usable"), 1L).otherwise(0L)).as("g_used"),
          sort_array(collect_list(struct(col("st"), col("term"))))
            .as("ts"))
        .select(col("psi_mh"), col("g_used"),
          sumInOrder(col("ts"))(_.getField("term")).as("chi2_bd"))
    }, Some("""
      WITH cells AS (SELECT c_nationkey AS st,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS b,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS dd
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
      wn AS (SELECT st, a, b, c, dd, a + b + c + dd AS nn FROM cells),
      agg1 AS (SELECT
          list_sort(list(struct_pack(st := st, a := a, b := b, c := c,
            dd := dd, nn := nn))) AS cs,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(st := st, a := a,
              b := b, c := c, dd := dd, nn := nn))),
              e -> CAST(e.a AS DOUBLE) * CAST(e.dd AS DOUBLE)
                / CAST(e.nn AS DOUBLE))), (x, y) -> x + y) AS sad,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(st := st, a := a,
              b := b, c := c, dd := dd, nn := nn))),
              e -> CAST(e.b AS DOUBLE) * CAST(e.c AS DOUBLE)
                / CAST(e.nn AS DOUBLE))), (x, y) -> x + y) AS sbc
        FROM wn),
      psi AS (SELECT cs, sad, sbc,
          CASE WHEN sbc > 0.0 THEN sad / sbc
            ELSE CAST('nan' AS DOUBLE) END AS psi_mh
        FROM agg1),
      strata AS (SELECT psi_mh, e.st AS st,
          CAST(e.a AS DOUBLE) AS a, CAST(e.b AS DOUBLE) AS b,
          CAST(e.c AS DOUBLE) AS c, CAST(e.dd AS DOUBLE) AS dd,
          CAST(e.nn AS DOUBLE) AS nn
        FROM psi, unnest(cs) AS u(e)),
      qd AS (SELECT *, a + b AS r1, a + c AS c1,
          1.0 - psi_mh AS qa,
          nn - (a + b) - (a + c) + psi_mh * ((a + b) + (a + c)) AS qb,
          -psi_mh * (a + b) * (a + c) AS qc
        FROM strata),
      roots AS (SELECT *,
          CASE WHEN qa <> 0.0
            THEN (-qb + sqrt(greatest(qb * qb - 4.0 * qa * qc, 0.0)))
              / (2.0 * qa)
            ELSE r1 * c1 / nn END AS root1,
          CASE WHEN qa <> 0.0
            THEN (-qb - sqrt(greatest(qb * qb - 4.0 * qa * qc, 0.0)))
              / (2.0 * qa)
            ELSE r1 * c1 / nn END AS root2
        FROM qd),
      picked AS (SELECT *,
          CASE WHEN root1 > 0.0 AND r1 - root1 > 0.0
              AND c1 - root1 > 0.0
              AND nn - r1 - c1 + root1 > 0.0 THEN root1
            WHEN root2 > 0.0 AND r1 - root2 > 0.0
              AND c1 - root2 > 0.0
              AND nn - r1 - c1 + root2 > 0.0 THEN root2
            ELSE CAST('nan' AS DOUBLE) END AS ae
        FROM roots),
      terms AS (SELECT st, psi_mh,
          (NOT isnan(ae)) AND (NOT isnan(psi_mh)) AS usable,
          CASE WHEN (NOT isnan(ae)) AND (NOT isnan(psi_mh))
            THEN (a - ae) * (a - ae)
              * (1.0 / ae + 1.0 / (r1 - ae) + 1.0 / (c1 - ae)
                + 1.0 / (nn - r1 - c1 + ae))
            ELSE 0.0 END AS term
        FROM picked)
      SELECT max(psi_mh) AS psi_mh,
        CAST(sum(CASE WHEN usable THEN 1 ELSE 0 END) AS BIGINT)
          AS g_used,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(list(struct_pack(st := st,
            term := term))), e -> e.term)), (x, y) -> x + y) AS chi2_bd
      FROM terms""")),

    // Kendall's coefficient of concordance W — how strongly the nation
    // blocks AGREE on the priority ranking, the [0,1] normalization of
    // q264's Friedman (tie-robust via the same ANOVA-on-ranks route:
    // W = χ²_F/(n(k−1))). Same densified grid, same exact dyadic
    // ranks; zero rank variance (all tied everywhere) guards to NaN.
    QueryDef("q272_kendalls_w", (s, d) => {
      val counts = t(s, d, "orders")
        .join(t(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("b"),
          col("o_orderpriority").as("tr"))
        .agg(count(lit(1)).as("cnt"))
        // nations × priorities; feeds blocks/treats/grid and every
        // rank/moment consumer
        .transform(Cut.small(25 * 5))
      val blocks = counts.select("b").distinct()
      val treats = counts.select("tr").distinct()
      val grid = blocks.crossJoin(treats)
        .join(counts, Seq("b", "tr"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val o = grid.select(col("b").as("ob"), col("tr").as("otr"),
        col("cnt").as("ocnt"))
      val ranked = grid.join(o, col("b") === col("ob"))
        .groupBy("b", "tr")
        .agg(sum(when(col("ocnt") < col("cnt"), 1L).otherwise(0L))
            .as("less"),
          sum(when(col("ocnt") === col("cnt"), 1L).otherwise(0L))
            .as("tied"))
        .withColumn("r", col("less").cast("double")
          + (col("tied").cast("double") + 1.0) / 2.0)
      val dims = ranked.agg(countDistinct("b").as("n"),
        countDistinct("tr").as("k"))
      val wd = ranked.crossJoin(broadcast(dims))
        .withColumn("dev", col("r") - (dbl(col("k")) + 1.0) / 2.0)
      val den = wd.agg(sum(col("dev") * col("dev")).as("den"))
      val num = wd.groupBy("tr")
        .agg(max("n").as("n"), max("k").as("k"), sum("r").as("rj"))
        .withColumn("jdev", col("rj")
          - dbl(col("n")) * (dbl(col("k")) + 1.0) / 2.0)
        .agg(max("n").as("n"), max("k").as("k"),
          sum(col("jdev") * col("jdev")).as("num"))
      num.crossJoin(broadcast(den))
        .select(col("n"), col("k"),
          when(col("den") > 0.0 && col("k") > 1,
            ((dbl(col("k")) - 1.0) * col("num") / col("den"))
              / (dbl(col("n")) * (dbl(col("k")) - 1.0)))
            .otherwise(lit(Double.NaN)).as("w"))
    }, Some("""
      WITH counts AS (SELECT c_nationkey AS b, o_orderpriority AS tr,
          CAST(count(*) AS BIGINT) AS cnt
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      grid AS (SELECT b, tr, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
        FROM (SELECT DISTINCT b FROM counts)
        CROSS JOIN (SELECT DISTINCT tr FROM counts)
        LEFT JOIN counts USING (b, tr)),
      ranked AS (SELECT g.b, g.tr,
          CAST(sum(CASE WHEN o.cnt < g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE)
          + (CAST(sum(CASE WHEN o.cnt = g.cnt THEN 1 ELSE 0 END)
            AS DOUBLE) + 1.0) / 2.0 AS r
        FROM grid g JOIN grid o ON o.b = g.b
        GROUP BY 1, 2),
      dims AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n,
          CAST(count(DISTINCT tr) AS BIGINT) AS k
        FROM ranked),
      den AS (SELECT sum((r - (CAST(k AS DOUBLE) + 1.0) / 2.0)
            * (r - (CAST(k AS DOUBLE) + 1.0) / 2.0)) AS den
        FROM ranked, dims),
      num AS (SELECT max(n) AS n, max(k) AS k, sum(jdev * jdev) AS num
        FROM (SELECT max(d.n) AS n, max(d.k) AS k,
            sum(r) - CAST(max(d.n) AS DOUBLE)
              * (CAST(max(d.k) AS DOUBLE) + 1.0) / 2.0 AS jdev
          FROM ranked, dims d GROUP BY tr))
      SELECT n, k,
        CASE WHEN den > 0.0 AND k > 1
          THEN ((CAST(k AS DOUBLE) - 1.0) * num / den)
            / (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0))
          ELSE CAST('nan' AS DOUBLE) END AS w
      FROM num, den""")),

    // Prevalence-adjusted bias-adjusted kappa (PABAK = 2p_a−1) plus the
    // per-label recall of the corpus labels by the engine's own
    // lang-ID — the companion readout to q218's κ and q263's AC1 that
    // separates "chance-corrected agreement" from the raw hit rate a
    // skewed prevalence can mask. Per-label rows are label-bounded;
    // pa and every recall are exact count rationals; a label the
    // detector can never emit (fr/zh here) shows recall 0, not an
    // error.
    QueryDef("q273_pabak", (s, d) => {
      import graft.functions.TextFunctions
      val scored = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("r1"),
          col("lang").as("r2"))
      val per = scored.groupBy(col("r2").as("label"))
        .agg(count(lit(1)).as("n_label"),
          sum(when(col("r1") === col("r2"), 1L).otherwise(0L))
            .as("hits"))
        .withColumn("recall", col("hits").cast("double")
          / col("n_label").cast("double"))
      val tot = per.agg(sum("n_label").as("n"), sum("hits").as("agree"))
        .select(col("n"), col("agree"),
          (col("agree").cast("double") / col("n").cast("double"))
            .as("pa"))
        .withColumn("pabak", lit(2.0) * col("pa") - 1.0)
      per.crossJoin(broadcast(tot))
    }, Some("""
      WITH scored AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS r1, lang AS r2
        FROM documents),
      per AS (SELECT r2 AS label,
          CAST(count(*) AS BIGINT) AS n_label,
          CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
            AS hits
        FROM scored GROUP BY 1),
      per2 AS (SELECT label, n_label, hits,
          CAST(hits AS DOUBLE) / CAST(n_label AS DOUBLE) AS recall
        FROM per),
      tot AS (SELECT CAST(sum(n_label) AS BIGINT) AS n,
          CAST(sum(hits) AS BIGINT) AS agree,
          CAST(sum(hits) AS DOUBLE) / CAST(sum(n_label) AS DOUBLE)
            AS pa
        FROM per)
      SELECT label, n_label, hits, recall, n, agree, pa,
        2.0 * pa - 1.0 AS pabak
      FROM per2, tot""")),

    // Fleiss' κ for THREE deterministic raters over two categories —
    // the m>2 generalization q218 (Cohen) and q263 (AC1) cannot
    // express. The raters are English-stopword thresholds 1/2/3 on the
    // same text, so eᵢ ∈ {0..3} "en votes" per doc is one codegen
    // scan; Σᵢ Σⱼ nᵢⱼ(nᵢⱼ−1) stays an exact BIGINT (per-doc values are
    // bounded by m(m−1)=6), P̄ = S/(m(m−1)N) and
    // P̄ₑ = (E² + (mN−E)²)/(mN)² are fixed IEEE trees over exact longs,
    // κ = (P̄−P̄ₑ)/(1−P̄ₑ) with unanimous-everywhere (P̄ₑ=1) guarded to
    // NaN.
    QueryDef("q274_fleiss_kappa", (s, d) => {
      val en = size(regexp_extract_all(lower(col("text")),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0)))
      val perDoc = t(s, d, "documents")
        .select(((en >= 1).cast("long") + (en >= 2).cast("long")
          + (en >= 3).cast("long")).as("e"))
        .select(col("e"),
          (col("e") * (col("e") - 1L)
            + (lit(3L) - col("e")) * (lit(2L) - col("e"))).as("pairs"))
      val m = perDoc.agg(count(lit(1)).as("n"), sum("e").as("ev"),
        sum("pairs").as("sp"))
      m.select(col("n"), col("ev"), col("sp"),
          (dbl(col("sp")) / (lit(6.0) * dbl(col("n")))).as("p_bar"),
          ((dbl(col("ev")) * dbl(col("ev"))
            + (lit(3.0) * dbl(col("n")) - dbl(col("ev")))
              * (lit(3.0) * dbl(col("n")) - dbl(col("ev"))))
            / (lit(9.0) * dbl(col("n")) * dbl(col("n")))).as("p_e"))
        .withColumn("kappa_fleiss", when(col("p_e") < 1.0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .otherwise(lit(Double.NaN)))
    }, Some("""
      WITH perdoc AS (SELECT e,
          e * (e - 1) + (3 - e) * (2 - e) AS pairs
        FROM (SELECT
            (CASE WHEN len(regexp_extract_all(lower(text),
              '\b(the|a|and|of|to|in|is|that)\b')) >= 1
              THEN 1 ELSE 0 END)
          + (CASE WHEN len(regexp_extract_all(lower(text),
              '\b(the|a|and|of|to|in|is|that)\b')) >= 2
              THEN 1 ELSE 0 END)
          + (CASE WHEN len(regexp_extract_all(lower(text),
              '\b(the|a|and|of|to|in|is|that)\b')) >= 3
              THEN 1 ELSE 0 END) AS e
          FROM documents)),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(e) AS BIGINT) AS ev,
          CAST(sum(pairs) AS BIGINT) AS sp
        FROM perdoc),
      r AS (SELECT n, ev, sp,
          CAST(sp AS DOUBLE) / (6.0 * CAST(n AS DOUBLE)) AS p_bar,
          (CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)
            + (3.0 * CAST(n AS DOUBLE) - CAST(ev AS DOUBLE))
              * (3.0 * CAST(n AS DOUBLE) - CAST(ev AS DOUBLE)))
            / (9.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS p_e
        FROM m)
      SELECT n, ev, sp, p_bar, p_e,
        CASE WHEN p_e < 1.0 THEN (p_bar - p_e) / (1.0 - p_e)
          ELSE CAST('nan' AS DOUBLE) END AS kappa_fleiss
      FROM r""")),

    // Youden's J threshold scan: treat priority urgency as a 5-level
    // score for "order finishes", sweep every threshold t (predict
    // positive when level ≤ t), and report per-threshold TPR/FPR/J
    // plus the maximizing threshold — ties broken to the SMALLEST t by
    // a relational argmax (max J then min t among exact-equal J's —
    // both engines compare the same doubles, so the tie set is
    // identical). Cumulative counts come from a bounded ≤ cell
    // self-join, never a window; P=0 or N=0 guards every rate to NaN.
    QueryDef("q275_youden_j", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(substring(col("o_orderpriority"), 1, 1)
          .cast("long").as("lvl"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("pos"),
          sum(when(col("o_orderstatus") =!= "F", 1L).otherwise(0L))
            .as("neg"))
      val tot = cells.agg(sum("pos").as("p"), sum("neg").as("nn"))
      val c2 = cells.select(col("lvl").as("l2"), col("pos").as("p2"),
        col("neg").as("n2"))
      val cum = cells.join(c2, col("l2") <= col("lvl"))
        .groupBy(col("lvl"))
        .agg(sum("p2").as("cpos"), sum("n2").as("cneg"))
      val rates = cum.crossJoin(broadcast(tot))
        .withColumn("tpr", when(col("p") > 0,
          dbl(col("cpos")) / dbl(col("p"))).otherwise(lit(Double.NaN)))
        .withColumn("fpr", when(col("nn") > 0,
          dbl(col("cneg")) / dbl(col("nn"))).otherwise(lit(Double.NaN)))
        .withColumn("j", col("tpr") - col("fpr"))
      val best = rates.agg(max("j").as("bj"))
      val bestT = rates.join(broadcast(best), col("j") === col("bj"))
        .agg(min("lvl").as("best_lvl"), max("bj").as("best_j"))
      rates.select("lvl", "cpos", "cneg", "tpr", "fpr", "j")
        .crossJoin(broadcast(bestT))
    }, Some("""
      WITH cells AS (SELECT
          CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS lvl,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS pos,
          CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS neg
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
          CAST(sum(neg) AS BIGINT) AS nn FROM cells),
      cum AS (SELECT a.lvl, CAST(sum(b.pos) AS BIGINT) AS cpos,
          CAST(sum(b.neg) AS BIGINT) AS cneg
        FROM cells a JOIN cells b ON b.lvl <= a.lvl GROUP BY 1),
      rates AS (SELECT lvl, cpos, cneg,
          CASE WHEN p > 0 THEN CAST(cpos AS DOUBLE) / CAST(p AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS tpr,
          CASE WHEN nn > 0
            THEN CAST(cneg AS DOUBLE) / CAST(nn AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS fpr
        FROM cum, tot),
      r2 AS (SELECT lvl, cpos, cneg, tpr, fpr, tpr - fpr AS j
        FROM rates),
      best AS (SELECT max(j) AS bj FROM r2),
      bt AS (SELECT CAST(min(lvl) AS BIGINT) AS best_lvl,
          max(bj) AS best_j
        FROM r2, best WHERE j = bj)
      SELECT lvl, cpos, cneg, tpr, fpr, j, best_lvl, best_j
      FROM r2, bt""")),

    // Multiclass Matthews correlation (the R_K statistic) plus
    // macro-P/R/F1 over the lang-ID confusion matrix — the single-
    // number and per-label views of multiclass quality that q244's
    // binary MCC cannot give. The label set is the UNION of predicted
    // and true labels (full-outer margins, the q258/q263 lesson), so
    // an emitted-but-never-true label (und) and a true-but-never-
    // emitted one (fr/zh) both stay in the denominator sums. Zero-
    // division conventions are the standard ones — per-label P/R/F1
    // degenerate to 0.0 (macro averages stay finite and honest),
    // R_K's √(N²−Σp²)√(N²−Σt²) = 0 guards to NaN. Everything is exact
    // BIGINT counts until the fixed per-label IEEE terms; macro sums
    // fold over the SORTED label list.
    QueryDef("q276_multiclass_mcc", (s, d) => {
      import graft.functions.TextFunctions
      val scored = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pred"),
          col("lang").as("truth"))
      val conf = scored.groupBy("pred", "truth")
        .agg(count(lit(1)).as("cnt"))
        // langId labels × langs; feeds pm/tm/diag
        .transform(Cut.small(4 * 5))
      val pm = conf.groupBy(col("pred").as("label"))
        .agg(sum("cnt").as("pn"))
      val tm = conf.groupBy(col("truth").as("label"))
        .agg(sum("cnt").as("tn"))
      val labels = pm.join(tm, Seq("label"), "full_outer")
        .select(col("label"), coalesce(col("pn"), lit(0L)).as("pn"),
          coalesce(col("tn"), lit(0L)).as("tn"))
      val diag = conf.where(col("pred") === col("truth"))
        .select(col("pred").as("label"), col("cnt").as("tp"))
      val per = labels.join(diag, Seq("label"), "left")
        .withColumn("tp", coalesce(col("tp"), lit(0L)))
        .withColumn("precision", when(col("pn") > 0,
          dbl(col("tp")) / dbl(col("pn"))).otherwise(lit(0.0)))
        .withColumn("recall", when(col("tn") > 0,
          dbl(col("tp")) / dbl(col("tn"))).otherwise(lit(0.0)))
        .withColumn("f1",
          when(col("precision") + col("recall") > 0.0,
            lit(2.0) * col("precision") * col("recall")
              / (col("precision") + col("recall"))).otherwise(lit(0.0)))
      val scal = per.agg(
          sum("tp").as("c_diag"), sum("pn").as("n"),
          sum(col("pn") * col("pn")).as("sp2"),
          sum(col("tn") * col("tn")).as("st2"),
          sum(dbl(col("pn")) * dbl(col("tn"))).as("spt"),
          count(lit(1)).as("n_labels"),
          sort_array(collect_list(struct(col("label"),
            col("precision"), col("recall"), col("f1")))).as("cs"))
        .select(col("c_diag"), col("n"), col("n_labels"),
          sumInOrder(col("cs"))(_.getField("precision")).as("sum_p"),
          sumInOrder(col("cs"))(_.getField("recall")).as("sum_r"),
          sumInOrder(col("cs"))(_.getField("f1")).as("sum_f1"),
          col("sp2"), col("st2"), col("spt"))
        .select(col("n_labels"),
          (col("sum_p") / dbl(col("n_labels"))).as("macro_precision"),
          (col("sum_r") / dbl(col("n_labels"))).as("macro_recall"),
          (col("sum_f1") / dbl(col("n_labels"))).as("macro_f1"),
          when(
            (dbl(col("n")) * dbl(col("n")) - dbl(col("sp2"))) > 0.0 &&
            (dbl(col("n")) * dbl(col("n")) - dbl(col("st2"))) > 0.0,
            // ONE sqrt of the product, not sqrt·sqrt: a perfect
            // confusion matrix then lands on exactly 1.0 instead of
            // 1±1ulp (the spec pin caught the two-sqrt form at
            // 1.0000000000000002)
            (dbl(col("n")) * dbl(col("c_diag")) - col("spt"))
              / sqrt((dbl(col("n")) * dbl(col("n")) - dbl(col("sp2")))
                * (dbl(col("n")) * dbl(col("n")) - dbl(col("st2")))))
            .otherwise(lit(Double.NaN)).as("r_k"))
      per.select("label", "pn", "tn", "tp", "precision", "recall",
          "f1")
        .crossJoin(broadcast(scal))
    }, Some("""
      WITH scored AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pred, lang AS truth
        FROM documents),
      conf AS (SELECT pred, truth, CAST(count(*) AS BIGINT) AS cnt
        FROM scored GROUP BY 1, 2),
      pm AS (SELECT pred AS label, CAST(sum(cnt) AS BIGINT) AS pn
        FROM conf GROUP BY 1),
      tm AS (SELECT truth AS label, CAST(sum(cnt) AS BIGINT) AS tn
        FROM conf GROUP BY 1),
      labels AS (SELECT label, CAST(coalesce(pn, 0) AS BIGINT) AS pn,
          CAST(coalesce(tn, 0) AS BIGINT) AS tn
        FROM pm FULL OUTER JOIN tm USING (label)),
      diag AS (SELECT pred AS label, CAST(cnt AS BIGINT) AS tp
        FROM conf WHERE pred = truth),
      per AS (SELECT label, pn, tn,
          CAST(coalesce(tp, 0) AS BIGINT) AS tp
        FROM labels LEFT JOIN diag USING (label)),
      per2 AS (SELECT label, pn, tn, tp,
          CASE WHEN pn > 0 THEN CAST(tp AS DOUBLE) / CAST(pn AS DOUBLE)
            ELSE 0.0 END AS precision,
          CASE WHEN tn > 0 THEN CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
            ELSE 0.0 END AS recall
        FROM per),
      per3 AS (SELECT *,
          CASE WHEN precision + recall > 0.0
            THEN 2.0 * precision * recall / (precision + recall)
            ELSE 0.0 END AS f1
        FROM per2),
      scal AS (SELECT CAST(sum(tp) AS BIGINT) AS c_diag,
          CAST(sum(pn) AS BIGINT) AS n,
          CAST(sum(pn * pn) AS BIGINT) AS sp2,
          CAST(sum(tn * tn) AS BIGINT) AS st2,
          sum(CAST(pn AS DOUBLE) * CAST(tn AS DOUBLE)) AS spt,
          CAST(count(*) AS BIGINT) AS n_labels,
          list_sort(list(struct_pack(label := label,
            prec := precision, recall := recall, f1 := f1)))
            AS cs
        FROM per3),
      scal2 AS (SELECT n_labels,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.prec)), (a, b) -> a + b)
            / CAST(n_labels AS DOUBLE) AS macro_precision,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.recall)), (a, b) -> a + b)
            / CAST(n_labels AS DOUBLE) AS macro_recall,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> e.f1)), (a, b) -> a + b)
            / CAST(n_labels AS DOUBLE) AS macro_f1,
          CASE WHEN CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(sp2 AS DOUBLE) > 0.0
               AND CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(st2 AS DOUBLE) > 0.0
            THEN (CAST(n AS DOUBLE) * CAST(c_diag AS DOUBLE) - spt)
              / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(sp2 AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  - CAST(st2 AS DOUBLE)))
            ELSE CAST('nan' AS DOUBLE) END AS r_k
        FROM scal)
      SELECT label, pn, tn, tp, precision, recall, f1,
        n_labels, macro_precision, macro_recall, macro_f1, r_k
      FROM per3, scal2""")),

    // Bowker's test of symmetry — the k×k generalization of q253's
    // McNemar over the lang-ID confusion matrix: is mislabeling
    // en→es as common as es→en, for every unordered label pair?
    // χ² = Σᵢ<ⱼ (nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ) over pairs with any discordance;
    // both directions of each pair come from one full-outer join of
    // the upper and (swapped) lower off-diagonal cells, absent
    // directions coalesced to 0, empty pairs excluded and df counted.
    // All-integer cells; the fold runs over the SORTED pair list.
    QueryDef("q277_bowker", (s, d) => {
      import graft.functions.TextFunctions
      val conf = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pred"),
          col("lang").as("truth"))
        .groupBy("pred", "truth").agg(count(lit(1)).as("cnt"))
        .where(col("pred") =!= col("truth"))
        // langId labels × langs; feeds both triangle halves
        .transform(Cut.small(4 * 5))
      val up = conf.where(col("pred") < col("truth"))
        .select(col("pred").as("i"), col("truth").as("j"),
          col("cnt").as("nij"))
      val lo = conf.where(col("pred") > col("truth"))
        .select(col("truth").as("i"), col("pred").as("j"),
          col("cnt").as("nji"))
      val pairs = up.join(lo, Seq("i", "j"), "full_outer")
        .select(col("i"), col("j"),
          coalesce(col("nij"), lit(0L)).as("nij"),
          coalesce(col("nji"), lit(0L)).as("nji"))
      pairs
        .withColumn("term",
          dbl((col("nij") - col("nji")) * (col("nij") - col("nji")))
            / dbl(col("nij") + col("nji")))
        .agg(count(lit(1)).as("df"),
          sort_array(collect_list(struct(col("i"), col("j"),
            col("term")))).as("cs"))
        .select(col("df"),
          sumInOrder(col("cs"))(_.getField("term")).as("chi2_bowker"))
    }, Some("""
      WITH conf AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pred, lang AS truth,
          CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2),
      offd AS (SELECT * FROM conf WHERE pred <> truth),
      up AS (SELECT pred AS i, truth AS j, cnt AS nij
        FROM offd WHERE pred < truth),
      lo AS (SELECT truth AS i, pred AS j, cnt AS nji
        FROM offd WHERE pred > truth),
      pairs AS (SELECT i, j,
          CAST(coalesce(nij, 0) AS BIGINT) AS nij,
          CAST(coalesce(nji, 0) AS BIGINT) AS nji
        FROM up FULL OUTER JOIN lo USING (i, j)),
      terms AS (SELECT i, j,
          CAST((nij - nji) * (nij - nji) AS DOUBLE)
            / CAST(nij + nji AS DOUBLE) AS term
        FROM pairs)
      SELECT CAST(count(*) AS BIGINT) AS df,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_sort(list(struct_pack(i := i, j := j,
            term := term))), e -> e.term)), (a, b) -> a + b)
          AS chi2_bowker
      FROM terms""")),

    // Woolf logit confidence bounds for the urgent×finished odds
    // ratio, kept ENTIRELY on the log scale so every transcendental is
    // portable_ln of an INTEGER count (the q162 contract — exp() would
    // reintroduce the libm divergence portable_ln exists to avoid):
    // ln OR = ln a − ln b − ln c + ln d, SE = √(1/a+1/b+1/c+1/d),
    // bounds ± 1.96·SE. Any empty cell → NaN (no silent Haldane
    // correction — 0.5 args would break the integer-ln contract).
    QueryDef("q278_woolf_ci", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "orders").agg(
        sum(when(col("o_orderpriority") === "1-URGENT"
          && col("o_orderstatus") === "F", 1L).otherwise(0L)).as("a"),
        sum(when(col("o_orderpriority") === "1-URGENT"
          && col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("b"),
        sum(when(col("o_orderpriority") =!= "1-URGENT"
          && col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c"),
        sum(when(col("o_orderpriority") =!= "1-URGENT"
          && col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("dd"))
      val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 &&
        col("dd") > 0
      cells.select(col("a"), col("b"), col("c"), col("dd"),
          when(ok, pln(dbl(col("a"))) - pln(dbl(col("b")))
            - pln(dbl(col("c"))) + pln(dbl(col("dd"))))
            .otherwise(lit(Double.NaN)).as("ln_or"),
          when(ok, sqrt(lit(1.0) / dbl(col("a"))
            + lit(1.0) / dbl(col("b")) + lit(1.0) / dbl(col("c"))
            + lit(1.0) / dbl(col("dd"))))
            .otherwise(lit(Double.NaN)).as("se"))
        .withColumn("lo", col("ln_or") - lit(1.96) * col("se"))
        .withColumn("hi", col("ln_or") + lit(1.96) * col("se"))
    }, Some("""
      WITH cells AS (SELECT
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS b,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS dd
        FROM orders),
      r AS (SELECT a, b, c, dd,
          CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0
            THEN ln(CAST(a AS DOUBLE)) - ln(CAST(b AS DOUBLE))
              - ln(CAST(c AS DOUBLE)) + ln(CAST(dd AS DOUBLE))
            ELSE CAST('nan' AS DOUBLE) END AS ln_or,
          CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0
            THEN sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
              + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))
            ELSE CAST('nan' AS DOUBLE) END AS se
        FROM cells)
      SELECT a, b, c, dd, ln_or, se,
        ln_or - 1.96 * se AS lo, ln_or + 1.96 * se AS hi
      FROM r""")),

    // Ljung-Box portmanteau Q over the daily event-count series at
    // lags 1–7 — "is the ingest series white noise at all?" where
    // q209 reads one lag at a time. The global-mean autocorrelations
    // are made EXACT by clearing denominators: uₜ = n·xₜ − S is an
    // exact BIGINT residual, ρ̂ₖ = Σuₜuₜ₊ₖ / Σuₜ² an exact integer
    // ratio (the n² factors cancel), lag pairing the same broadcast
    // calendar join as q209 (observed days only, gaps drop pairs).
    // Q = n(n+2)·Σₖ ρ̂ₖ²/(n−k) folds over the SORTED lag list; lags
    // with n−k ≤ 0 are excluded and counted; Σu² = 0 (constant
    // series) guards to NaN.
    QueryDef("q279_ljung_box", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"), sum("c").as("ss"))
      val u = daily.crossJoin(broadcast(tot))
        .select(col("day"), col("n"),
          (col("n") * col("c") - col("ss")).as("u"))
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val den = u.agg(max("n").as("n"),
        sum(col("u") * col("u")).as("su2"))
      val pairs = u.select(col("day"), col("u").as("ua"))
        .crossJoin(broadcast(lags))
        .join(u.select(col("day").as("day_b"), col("u").as("ub")),
          col("day_b") === date_add(col("day"), col("lag").cast("int")))
        .groupBy("lag").agg(sum(col("ua") * col("ub")).as("suu"))
      pairs.crossJoin(broadcast(den))
        .withColumn("rho", when(col("su2") > 0,
          dbl(col("suu")) / dbl(col("su2")))
          .otherwise(lit(Double.NaN)))
        .withColumn("usable", col("n") - col("lag") > 0
          && !col("rho").isNaN)
        .agg(max("n").as("n"),
          sum(when(col("usable"), 1L).otherwise(0L)).as("lags_used"),
          sort_array(collect_list(struct(col("lag"),
            when(col("usable"),
              col("rho") * col("rho")
                / dbl(col("n") - col("lag"))).otherwise(lit(0.0))
              .as("term")))).as("cs"),
          max(when(col("rho").isNaN, 1L).otherwise(0L)).as("had_nan"))
        .select(col("n"), col("lags_used"),
          when(col("had_nan") === 0,
            dbl(col("n")) * (dbl(col("n")) + 2.0)
              * sumInOrder(col("cs"))(_.getField("term")))
            .otherwise(lit(Double.NaN)).as("q_lb"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(c) AS BIGINT) AS ss FROM daily),
      u AS (SELECT day, n, CAST(n * c - ss AS BIGINT) AS u
        FROM daily, tot),
      den AS (SELECT max(n) AS n, CAST(sum(u * u) AS BIGINT) AS su2
        FROM u),
      lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
      pairs AS (SELECT l.lag, CAST(sum(a.u * b.u) AS BIGINT) AS suu
        FROM u a, lags l
        JOIN u b ON b.day = a.day + CAST(l.lag AS INTEGER)
        GROUP BY 1),
      terms AS (SELECT lag,
          CASE WHEN su2 > 0 THEN CAST(suu AS DOUBLE)
            / CAST(su2 AS DOUBLE) ELSE CAST('nan' AS DOUBLE) END
            AS rho,
          n, su2
        FROM pairs, den),
      t2 AS (SELECT lag, rho, n,
          (n - lag > 0) AND (NOT isnan(rho)) AS usable
        FROM terms)
      SELECT max(n) AS n,
        CAST(sum(CASE WHEN usable THEN 1 ELSE 0 END) AS BIGINT)
          AS lags_used,
        CASE WHEN max(CASE WHEN isnan(rho) THEN 1 ELSE 0 END) = 0
          THEN CAST(max(n) AS DOUBLE) * (CAST(max(n) AS DOUBLE) + 2.0)
            * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list_sort(list(struct_pack(lag := lag,
                term := CASE WHEN usable THEN rho * rho
                  / CAST(n - lag AS DOUBLE) ELSE 0.0 END))),
                e -> e.term)), (x, y) -> x + y)
          ELSE CAST('nan' AS DOUBLE) END AS q_lb
      FROM t2""")),

    // Mann-Kendall trend test over the daily event-count series — the
    // nonparametric "is ingest drifting?" monitor that q232's
    // Theil-Sen slope estimates but never tests. S = Σᵢ<ⱼ sgn(xⱼ−xᵢ)
    // over the day-ordered cells and the tie-corrected variance
    // [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 are BOTH exact integers (the
    // /18 cleared by computing 18·Var), z applies the ±1 continuity
    // correction. Everything after the daily aggregation runs on the
    // calendar-bounded cell pair join; Var ≤ 0 guards to NaN.
    QueryDef("q280_mann_kendall", (s, d) => {
      val daily = dailyEvents(s, d)
      val b = daily.select(col("day").as("day_b"), col("c").as("cb"))
      val sAgg = daily.join(b, col("day") < col("day_b"))
        .agg(coalesce(sum(
          when(col("cb") > col("c"), 1L)
            .when(col("cb") < col("c"), -1L).otherwise(0L)), lit(0L))
          .as("s_mk"))
      val nn = daily.agg(count(lit(1)).as("n"))
      val ties = daily.groupBy("c").agg(count(lit(1)).as("tsz"))
        .agg(coalesce(sum(col("tsz") * (col("tsz") - 1L)
          * (lit(2L) * col("tsz") + 5L)), lit(0L)).as("tie_term"))
      sAgg.crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
        .withColumn("var18", col("n") * (col("n") - 1L)
          * (lit(2L) * col("n") + 5L) - col("tie_term"))
        .select(col("n"), col("s_mk"), col("var18"),
          when(col("var18") > 0,
            when(col("s_mk") > 0, (dbl(col("s_mk")) - 1.0)
              / sqrt(dbl(col("var18")) / 18.0))
              .when(col("s_mk") < 0, (dbl(col("s_mk")) + 1.0)
                / sqrt(dbl(col("var18")) / 18.0))
              .otherwise(lit(0.0)))
            .otherwise(lit(Double.NaN)).as("z_mk"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      sa AS (SELECT CAST(coalesce(sum(CASE WHEN b.c > a.c THEN 1
            WHEN b.c < a.c THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_mk
        FROM daily a JOIN daily b ON a.day < b.day),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      ties AS (SELECT CAST(coalesce(sum(tsz * (tsz - 1)
            * (2 * tsz + 5)), 0) AS BIGINT) AS tie_term
        FROM (SELECT c, CAST(count(*) AS BIGINT) AS tsz
          FROM daily GROUP BY 1)),
      v AS (SELECT n, s_mk,
          n * (n - 1) * (2 * n + 5) - tie_term AS var18
        FROM sa, nn, ties)
      SELECT n, s_mk, var18,
        CASE WHEN var18 > 0 THEN
          CASE WHEN s_mk > 0
            THEN (CAST(s_mk AS DOUBLE) - 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
          WHEN s_mk < 0
            THEN (CAST(s_mk AS DOUBLE) + 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
          ELSE 0.0 END
        ELSE CAST('nan' AS DOUBLE) END AS z_mk
      FROM v""")),

    // Absolute-risk readout for the urgent×finished contrast — the
    // numbers a decision-maker actually uses where q278 gives the
    // ratio scale: risk difference with its Wald CI, number needed to
    // treat (1/|RD|, sign-annotated), relative risk, and VanderWeele-
    // Ding E-value on the RR scale (how strong an unmeasured
    // confounder must be to explain the association away; RR < 1 uses
    // the 1/RR transform). Everything from the four exact BIGINT
    // cells; empty arms guard to NaN, RD = 0 reports NNT as NaN
    // (infinite), RR = 1 gives E-value exactly 1.
    QueryDef("q281_risk_readout", (s, d) => {
      val cells = t(s, d, "orders").agg(
        sum(when(col("o_orderpriority") === "1-URGENT"
          && col("o_orderstatus") === "F", 1L).otherwise(0L)).as("a"),
        sum(when(col("o_orderpriority") === "1-URGENT"
          && col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("b"),
        sum(when(col("o_orderpriority") =!= "1-URGENT"
          && col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c"),
        sum(when(col("o_orderpriority") =!= "1-URGENT"
          && col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("dd"))
      val n1 = col("a") + col("b")
      val n0 = col("c") + col("dd")
      val armsOk = n1 > 0 && n0 > 0
      val p1 = dbl(col("a")) / dbl(n1)
      val p0 = dbl(col("c")) / dbl(n0)
      val base = cells.select(col("a"), col("b"), col("c"), col("dd"),
        when(armsOk, p1).otherwise(lit(Double.NaN)).as("p1"),
        when(armsOk, p0).otherwise(lit(Double.NaN)).as("p0"),
        when(armsOk, p1 - p0).otherwise(lit(Double.NaN)).as("rd"),
        when(armsOk && n1 > 0 && n0 > 0,
          sqrt(p1 * (lit(1.0) - p1) / dbl(n1)
            + p0 * (lit(1.0) - p0) / dbl(n0)))
          .otherwise(lit(Double.NaN)).as("se_rd"),
        when(armsOk && dbl(col("c")) > 0.0, p1 / p0)
          .otherwise(lit(Double.NaN)).as("rr"))
      base
        .withColumn("rd_lo", col("rd") - lit(1.96) * col("se_rd"))
        .withColumn("rd_hi", col("rd") + lit(1.96) * col("se_rd"))
        .withColumn("nnt", when(col("rd") =!= 0.0,
          lit(1.0) / abs(col("rd"))).otherwise(lit(Double.NaN)))
        .withColumn("e_value", when(col("rr").isNaN, lit(Double.NaN))
          .otherwise({
            val rs = when(col("rr") >= 1.0, col("rr"))
              .otherwise(lit(1.0) / col("rr"))
            rs + sqrt(rs * (rs - lit(1.0)))
          }))
    }, Some("""
      WITH cells AS (SELECT
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS b,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
          CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS dd
        FROM orders),
      base AS (SELECT a, b, c, dd,
          CASE WHEN a + b > 0 AND c + dd > 0
            THEN CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS p1,
          CASE WHEN a + b > 0 AND c + dd > 0
            THEN CAST(c AS DOUBLE) / CAST(c + dd AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS p0
        FROM cells),
      b2 AS (SELECT a, b, c, dd, p1, p0, p1 - p0 AS rd,
          CASE WHEN NOT isnan(p1)
            THEN sqrt(p1 * (1.0 - p1) / CAST(a + b AS DOUBLE)
              + p0 * (1.0 - p0) / CAST(c + dd AS DOUBLE))
            ELSE CAST('nan' AS DOUBLE) END AS se_rd,
          CASE WHEN NOT isnan(p1) AND CAST(c AS DOUBLE) > 0.0
            THEN p1 / p0
            ELSE CAST('nan' AS DOUBLE) END AS rr
        FROM base)
      SELECT a, b, c, dd, p1, p0, rd, se_rd, rr,
        rd - 1.96 * se_rd AS rd_lo,
        rd + 1.96 * se_rd AS rd_hi,
        CASE WHEN rd <> 0.0 THEN 1.0 / abs(rd)
          ELSE CAST('nan' AS DOUBLE) END AS nnt,
        CASE WHEN isnan(rr) THEN CAST('nan' AS DOUBLE)
          ELSE (CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END)
            + sqrt((CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END)
              * ((CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END)
                - 1.0)) END AS e_value
      FROM b2""")),

    // Single-breakpoint segmented trend over the daily event-count
    // series: for every candidate split τ (≥2 days per side) fit OLS
    // on each side from PREFIX-SUM moments over the calendar-bounded
    // cells (SSE = (Syy − Sxy²/Sxx)/n in the n-cleared integer-moment
    // form, evaluated as one fixed IEEE tree per candidate), pick the
    // τ minimizing total SSE (ties → earliest, by relational argmin on
    // exact-equal doubles), and report Chow's F for the break against
    // the pooled single-line fit: F = ((SSEp−SSEs)/2)/(SSEs/(n−4)).
    // Day index comes from a bounded ≤-join rank, never a global
    // window; degenerate sides (zero x-variance cannot happen for
    // distinct day indices) and n < 5 guard F to NaN.
    QueryDef("q282_segmented_trend", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
      val d2 = daily.select(col("day").as("day_b"), col("y").as("yb"))
      val idx = daily.join(d2, col("day_b") <= col("day"))
        .groupBy(col("day"), col("y"))
        .agg(count(lit(1)).as("x"))
      def mom(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      def sse(n: Column, sx: Column, sy: Column, sxx: Column,
          sxy: Column, syy: Column) = {
        val vx = coMoment(n, sxx, sx, sx)
        val vy = coMoment(n, syy, sy, sy)
        val cxy = coMoment(n, sxy, sx, sy)
        when(vx > 0.0, (vy - cxy * cxy / vx) / dbl(n))
          .otherwise(lit(Double.NaN))
      }
      val tot = mom(idx)
      val cand = idx.select(col("x").as("tau"))
        .crossJoin(broadcast(tot))
        .where(col("tau") >= 2 && col("tau") <= col("n") - 2)
        .select("tau")
      val pre = cand.join(idx, idx("x") <= cand("tau"))
        .groupBy("tau")
        .agg(count(lit(1)).as("nl"), sum("x").as("lsx"),
          sum("y").as("lsy"), sum(col("x") * col("x")).as("lsxx"),
          sum(col("x") * col("y")).as("lsxy"),
          sum(col("y") * col("y")).as("lsyy"))
      val scored = pre.crossJoin(broadcast(tot))
        .withColumn("sse_l", sse(col("nl"), col("lsx"), col("lsy"),
          col("lsxx"), col("lsxy"), col("lsyy")))
        .withColumn("sse_r", sse(col("n") - col("nl"),
          col("sx") - col("lsx"), col("sy") - col("lsy"),
          col("sxx") - col("lsxx"), col("sxy") - col("lsxy"),
          col("syy") - col("lsyy")))
        .withColumn("sse_split", col("sse_l") + col("sse_r"))
      val best = scored.agg(min("sse_split").as("bs"))
      val bestT = scored.join(broadcast(best),
          col("sse_split") === col("bs"))
        .agg(min("tau").as("break_idx"), max("bs").as("sse_split"))
      val pooled = tot.select(col("n"),
        sse(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
          col("syy")).as("sse_pooled"))
      bestT.crossJoin(broadcast(pooled))
        .select(col("n"), col("break_idx"), col("sse_pooled"),
          col("sse_split"),
          when(col("n") > 4 && col("sse_split") > 0.0,
            ((col("sse_pooled") - col("sse_split")) / 2.0)
              / (col("sse_split") / (dbl(col("n")) - 4.0)))
            .otherwise(lit(Double.NaN)).as("chow_f"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      idx AS (SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS x
        FROM daily a JOIN daily b ON b.day <= a.day
        GROUP BY 1, 2),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM idx),
      cand AS (SELECT x AS tau FROM idx, tot
        WHERE x >= 2 AND x <= n - 2),
      pre AS (SELECT tau, CAST(count(*) AS BIGINT) AS nl,
          CAST(sum(x) AS BIGINT) AS lsx, CAST(sum(y) AS BIGINT) AS lsy,
          CAST(sum(x * x) AS BIGINT) AS lsxx,
          CAST(sum(x * y) AS BIGINT) AS lsxy,
          CAST(sum(y * y) AS BIGINT) AS lsyy
        FROM cand JOIN idx ON idx.x <= cand.tau GROUP BY 1),
      scored AS (SELECT tau,
          CASE WHEN CAST(nl AS DOUBLE) * CAST(lsxx AS DOUBLE)
              - CAST(lsx AS DOUBLE) * CAST(lsx AS DOUBLE) > 0.0
            THEN ((CAST(nl AS DOUBLE) * CAST(lsyy AS DOUBLE)
                - CAST(lsy AS DOUBLE) * CAST(lsy AS DOUBLE))
              - (CAST(nl AS DOUBLE) * CAST(lsxy AS DOUBLE)
                - CAST(lsx AS DOUBLE) * CAST(lsy AS DOUBLE))
                * (CAST(nl AS DOUBLE) * CAST(lsxy AS DOUBLE)
                - CAST(lsx AS DOUBLE) * CAST(lsy AS DOUBLE))
                / (CAST(nl AS DOUBLE) * CAST(lsxx AS DOUBLE)
                - CAST(lsx AS DOUBLE) * CAST(lsx AS DOUBLE)))
              / CAST(nl AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END
          + CASE WHEN CAST(n - nl AS DOUBLE)
              * CAST(sxx - lsxx AS DOUBLE)
              - CAST(sx - lsx AS DOUBLE) * CAST(sx - lsx AS DOUBLE)
              > 0.0
            THEN ((CAST(n - nl AS DOUBLE) * CAST(syy - lsyy AS DOUBLE)
                - CAST(sy - lsy AS DOUBLE) * CAST(sy - lsy AS DOUBLE))
              - (CAST(n - nl AS DOUBLE) * CAST(sxy - lsxy AS DOUBLE)
                - CAST(sx - lsx AS DOUBLE) * CAST(sy - lsy AS DOUBLE))
                * (CAST(n - nl AS DOUBLE) * CAST(sxy - lsxy AS DOUBLE)
                - CAST(sx - lsx AS DOUBLE) * CAST(sy - lsy AS DOUBLE))
                / (CAST(n - nl AS DOUBLE) * CAST(sxx - lsxx AS DOUBLE)
                - CAST(sx - lsx AS DOUBLE) * CAST(sx - lsx AS DOUBLE)))
              / CAST(n - nl AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS sse_split
        FROM pre, tot),
      best AS (SELECT min(sse_split) AS bs FROM scored),
      bt AS (SELECT CAST(min(tau) AS BIGINT) AS break_idx,
          max(bs) AS sse_split
        FROM scored, best WHERE sse_split = bs),
      pooled AS (SELECT n,
          CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
            THEN ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              / CAST(n AS DOUBLE)
            ELSE CAST('nan' AS DOUBLE) END AS sse_pooled
        FROM tot)
      SELECT n, break_idx, sse_pooled, sse_split,
        CASE WHEN n > 4 AND sse_split > 0.0
          THEN ((sse_pooled - sse_split) / 2.0)
            / (sse_split / (CAST(n AS DOUBLE) - 4.0))
          ELSE CAST('nan' AS DOUBLE) END AS chow_f
      FROM bt, pooled""")),

    // Chao1 species-richness estimate over the document unigram
    // vocabulary — "how many token types exist that the crawl has NOT
    // seen yet?", the vocabulary-coverage readout a corpus-growth
    // planner reads next to Heaps' law (q198) and Good–Turing (q227).
    // The only row-scale step is one term-count aggregation; the
    // estimator lives on three BIGINT counts (S_obs distinct types, F1
    // singletons, F2 doubletons): bias-corrected Chao1 =
    // S + F1(F1−1)/(2(F2+1)), the Chao-1987 SE from the ratio r=F1/F2
    // (guarded to NaN when F2=0 — the ratio's divisor is CASE-pinned
    // to 1 there so ANSI mode never sees a 0 divisor on the untaken
    // branch), and Good's coverage Ĉ = 1 − F1/N. Every float op is an
    // IEEE-exact division/sqrt on integer-valued doubles — the
    // cross-engine-stable shape of the whole batch.
    QueryDef("q283_chao1", (s, d) => {
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("r"))
        .agg(
          count(lit(1)).as("s_obs"),
          coalesce(sum(when(col("r") === 1, 1L).otherwise(0L)), lit(0L))
            .as("f1"),
          coalesce(sum(when(col("r") === 2, 1L).otherwise(0L)), lit(0L))
            .as("f2"),
          coalesce(sum(col("r")), lit(0L)).as("n_tok"))
        .withColumn("chao1", dbl(col("s_obs"))
          + dbl(col("f1")) * (dbl(col("f1")) - 1.0)
            / (lit(2.0) * (dbl(col("f2")) + 1.0)))
        .withColumn("rr", dbl(col("f1"))
          / dbl(when(col("f2") > 0, col("f2")).otherwise(lit(1L))))
        .select(col("s_obs"), col("f1"), col("f2"), col("n_tok"),
          col("chao1"),
          when(col("f2") > 0, sqrt(dbl(col("f2"))
            * (col("rr") * col("rr") / 2.0
              + col("rr") * col("rr") * col("rr")
              + col("rr") * col("rr") * col("rr") * col("rr") / 4.0)))
            .otherwise(lit(Double.NaN)).as("se_chao1"),
          when(col("n_tok") > 0,
            lit(1.0) - dbl(col("f1")) / dbl(col("n_tok")))
            .otherwise(lit(Double.NaN)).as("coverage"))
    }, Some("""
      WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS r
        FROM (SELECT unnest(string_split(text, ' ')) AS term
          FROM documents)
        WHERE len(term) > 0 GROUP BY 1),
      a AS (SELECT CAST(count(*) AS BIGINT) AS s_obs,
        CAST(coalesce(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS f1,
        CAST(coalesce(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS f2,
        CAST(coalesce(sum(r), 0) AS BIGINT) AS n_tok FROM tc),
      e AS (SELECT *,
        CAST(s_obs AS DOUBLE) + CAST(f1 AS DOUBLE)
          * (CAST(f1 AS DOUBLE) - 1.0)
          / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) AS chao1,
        CAST(f1 AS DOUBLE)
          / CAST(CASE WHEN f2 > 0 THEN f2 ELSE 1 END AS DOUBLE) AS rr
        FROM a)
      SELECT s_obs, f1, f2, n_tok, chao1,
        CASE WHEN f2 > 0 THEN sqrt(CAST(f2 AS DOUBLE)
            * (rr * rr / 2.0 + rr * rr * rr
              + rr * rr * rr * rr / 4.0))
          ELSE CAST('nan' AS DOUBLE) END AS se_chao1,
        CASE WHEN n_tok > 0
          THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_tok AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS coverage
      FROM e""")),

    // Gumbel block-maxima fit over the event stream — the
    // extreme-value readout capacity planning actually uses ("what
    // daily-peak load should we provision for?"), complementing the
    // central-tendency suite: monthly maxima of the daily event count
    // are the blocks, and the Gumbel location/scale come from the
    // method of moments (β̂ = s·√6/π, μ̂ = x̄ − γβ̂ with
    // Euler–Mascheroni γ). Maxima, their sum and sum of squares stay
    // BIGINT; mean/variance/β̂/μ̂ and the standardized most-extreme
    // block z = (max − μ̂)/β̂ are a fixed double tree (π enters as the
    // same IEEE literal both engines expose; √6 via exact sqrt). A
    // single block or an all-equal block set guards variance/z to NaN.
    QueryDef("q284_gumbel_fit", (s, d) => {
      dailyEvents(s, d)
        .groupBy(date_trunc("month", col("day")).as("m"))
        .agg(max(col("c")).as("mx"))
        .agg(
          count(lit(1)).as("n_blocks"),
          coalesce(sum(col("mx")), lit(0L)).as("s1"),
          coalesce(sum(col("mx") * col("mx")), lit(0L)).as("s2"),
          coalesce(max(col("mx")), lit(0L)).as("m_top"))
        .withColumn("mean_max",
          when(col("n_blocks") > 0,
            dbl(col("s1")) / dbl(col("n_blocks")))
            .otherwise(lit(Double.NaN)))
        .withColumn("var_max",
          when(col("n_blocks") > 1,
            dbl(col("n_blocks") * col("s2") - col("s1") * col("s1"))
              / dbl(col("n_blocks") * (col("n_blocks") - 1L)))
            .otherwise(lit(Double.NaN)))
        .withColumn("sd_max", sqrt(col("var_max")))
        .withColumn("beta_g",
          col("sd_max") * sqrt(lit(6.0)) / lit(math.Pi))
        .withColumn("mu_g",
          col("mean_max") - lit(0.5772156649015329) * col("beta_g"))
        .select(col("n_blocks"), col("m_top"), col("mean_max"),
          col("sd_max"), col("mu_g"), col("beta_g"),
          when(col("var_max") > 0,
            (dbl(col("m_top")) - col("mu_g")) / col("beta_g"))
            .otherwise(lit(Double.NaN)).as("z_extreme"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      blocks AS (SELECT date_trunc('month', day) AS m,
          CAST(max(c) AS BIGINT) AS mx
        FROM daily GROUP BY 1),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(coalesce(sum(mx), 0) AS BIGINT) AS s1,
        CAST(coalesce(sum(mx * mx), 0) AS BIGINT) AS s2,
        CAST(coalesce(max(mx), 0) AS BIGINT) AS m_top FROM blocks),
      b AS (SELECT *,
        CASE WHEN n_blocks > 0
          THEN CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS mean_max,
        CASE WHEN n_blocks > 1
          THEN CAST(n_blocks * s2 - s1 * s1 AS DOUBLE)
            / CAST(n_blocks * (n_blocks - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS var_max
        FROM a),
      c AS (SELECT *, sqrt(var_max) AS sd_max FROM b),
      g AS (SELECT *, sd_max * sqrt(6.0) / pi() AS beta_g FROM c),
      m AS (SELECT *,
        mean_max - 0.5772156649015329 * beta_g AS mu_g FROM g)
      SELECT n_blocks, m_top, mean_max, sd_max, mu_g, beta_g,
        CASE WHEN var_max > 0
          THEN (CAST(m_top AS DOUBLE) - mu_g) / beta_g
          ELSE CAST('nan' AS DOUBLE) END AS z_extreme
      FROM m""")),

    // Jonckheere–Terpstra ordered-alternative trend test: does order
    // size (lineitems per order, a small discrete response) trend
    // monotonically across the ORDERED priority classes 1-URGENT →
    // 5-LOW? The a-priori-ordered version of Kruskal–Wallis (q220) —
    // strictly more powerful when the alternative is a dose-response
    // trend. After one row-scale orders⋈lineitem aggregation the test
    // lives on a ≤5×7-cell contingency table: pairwise between-group
    // "less" and "tie" mass from a cell self-join on g < g' (BIGINT
    // products), group sizes from the cell marginals, and
    // 2U = 2·#less + #ties stays an exact BIGINT. The null mean
    // (N²−Σnᵢ²)/4 is a /4.0 on an even BIGINT (exact in double); the
    // no-ties null variance (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72 is assembled
    // in DOUBLE from the BIGINT aggregates (the cubic products would
    // overflow BIGINT at web scale — the q228 rule); ties make it
    // slightly conservative, stated here rather than hidden. A
    // single-priority input has zero variance and guards z to NaN.
    QueryDef("q285_jonckheere", (s, d) => {
      val v = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("v"))
      val cells = t(s, d, "orders")
        .select(col("o_orderkey"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("g"))
        .join(v, col("o_orderkey") === col("l_orderkey"))
        .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
        // the g×v cells feed the pair self-join (both sides) and the
        // group sizes
        .transform(Cut.large)
      val b = cells.select(col("g").as("gb"), col("v").as("vb"),
        col("cnt").as("cb"))
      val pair = cells.join(b, col("g") < col("gb"))
        .agg(
          coalesce(sum(when(col("v") < col("vb"),
            col("cnt") * col("cb")).otherwise(0L)), lit(0L))
            .as("n_less"),
          coalesce(sum(when(col("v") === col("vb"),
            col("cnt") * col("cb")).otherwise(0L)), lit(0L))
            .as("n_tie"))
      val sizes = cells.groupBy("g").agg(sum(col("cnt")).as("ni"))
        .agg(
          coalesce(sum(col("ni")), lit(0L)).as("n_tot"),
          coalesce(sum(col("ni") * col("ni")), lit(0L)).as("sum_ni2"),
          coalesce(sum(col("ni") * col("ni")
            * (lit(2L) * col("ni") + 3L)), lit(0L)).as("sum_ni23"))
      pair.crossJoin(broadcast(sizes))
        .withColumn("u2", lit(2L) * col("n_less") + col("n_tie"))
        .withColumn("u_jt", dbl(col("u2")) / 2.0)
        .withColumn("e_u",
          dbl(col("n_tot") * col("n_tot") - col("sum_ni2")) / 4.0)
        .withColumn("var_u",
          (dbl(col("n_tot")) * dbl(col("n_tot"))
            * (lit(2.0) * dbl(col("n_tot")) + 3.0)
            - dbl(col("sum_ni23"))) / 72.0)
        .select(col("n_tot"), col("n_less"), col("n_tie"), col("u_jt"),
          when(col("var_u") > 0,
            (col("u_jt") - col("e_u")) / sqrt(col("var_u")))
            .otherwise(lit(Double.NaN)).as("z_jt"))
    }, Some("""
      WITH v AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS v
        FROM lineitem GROUP BY 1),
      cells AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
          v, CAST(count(*) AS BIGINT) AS cnt
        FROM orders JOIN v ON o_orderkey = l_orderkey GROUP BY 1, 2),
      pair AS (SELECT
        CAST(coalesce(sum(CASE WHEN a.v < b.v
          THEN a.cnt * b.cnt ELSE 0 END), 0) AS BIGINT) AS n_less,
        CAST(coalesce(sum(CASE WHEN a.v = b.v
          THEN a.cnt * b.cnt ELSE 0 END), 0) AS BIGINT) AS n_tie
        FROM cells a JOIN cells b ON a.g < b.g),
      sizes AS (SELECT
        CAST(coalesce(sum(ni), 0) AS BIGINT) AS n_tot,
        CAST(coalesce(sum(ni * ni), 0) AS BIGINT) AS sum_ni2,
        CAST(coalesce(sum(ni * ni * (2 * ni + 3)), 0) AS BIGINT)
          AS sum_ni23
        FROM (SELECT g, CAST(sum(cnt) AS BIGINT) AS ni
          FROM cells GROUP BY 1)),
      u AS (SELECT *, 2 * n_less + n_tie AS u2,
        CAST(n_tot * n_tot - sum_ni2 AS DOUBLE) / 4.0 AS e_u
        FROM pair, sizes),
      w AS (SELECT *, CAST(u2 AS DOUBLE) / 2.0 AS u_jt,
        (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
          * (2.0 * CAST(n_tot AS DOUBLE) + 3.0)
          - CAST(sum_ni23 AS DOUBLE)) / 72.0 AS var_u
        FROM u)
      SELECT n_tot, n_less, n_tie, u_jt,
        CASE WHEN var_u > 0 THEN (u_jt - e_u) / sqrt(var_u)
          ELSE CAST('nan' AS DOUBLE) END AS z_jt
      FROM w""")),

    // Wald–Wolfowitz runs test on the daily event-count series: is the
    // above/below-mean sign sequence random, or does load cluster into
    // sticky regimes (the monitoring question behind q215's CUSUM,
    // answered distribution-free)? The cutpoint comparison is the
    // EXACT cross-multiplication c·nDays vs Σc (no double mean — days
    // exactly at the mean drop, the standard treatment). The sign
    // sequence is day-bounded, so the one global lag window for the
    // run count runs on at most a few hundred rows; n1/n2/R stay
    // BIGINT and the z = (R − μ)/σ chain is one fixed double tree.
    // A one-sided (n1 or n2 = 0) or sub-2-day sequence guards to NaN.
    QueryDef("q286_runs_test", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(
        coalesce(sum(col("c")), lit(0L)).as("s_tot"),
        count(lit(1)).as("n_days"))
      val signed = daily.crossJoin(broadcast(tot))
        .where(col("c") * col("n_days") =!= col("s_tot"))
        .select(col("day"),
          when(col("c") * col("n_days") > col("s_tot"), 1L)
            .otherwise(0L).as("sgn"))
      val w = Window.orderBy("day")
      signed
        .withColumn("prev", lag(col("sgn"), 1).over(w))
        .agg(
          coalesce(sum(when(col("prev").isNull
            || col("prev") =!= col("sgn"), 1L).otherwise(0L)), lit(0L))
            .as("r_runs"),
          coalesce(sum(col("sgn")), lit(0L)).as("n1"),
          coalesce(sum(lit(1L) - col("sgn")), lit(0L)).as("n2"))
        .withColumn("m2", lit(2L) * col("n1") * col("n2"))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("mu_r",
          when(col("nn") > 0,
            lit(2.0) * dbl(col("n1")) * dbl(col("n2")) / dbl(col("nn"))
              + 1.0)
            .otherwise(lit(Double.NaN)))
        .withColumn("var_r",
          when(col("nn") > 1,
            dbl(col("m2") * (col("m2") - col("nn")))
              / dbl(col("nn") * col("nn") * (col("nn") - 1L)))
            .otherwise(lit(Double.NaN)))
        .select(col("n1"), col("n2"), col("r_runs"), col("mu_r"),
          when(col("var_r") > 0,
            (dbl(col("r_runs")) - col("mu_r")) / sqrt(col("var_r")))
            .otherwise(lit(Double.NaN)).as("z_runs"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot,
        CAST(count(*) AS BIGINT) AS n_days FROM daily),
      signed AS (SELECT day,
          CASE WHEN c * n_days > s_tot THEN 1 ELSE 0 END AS sgn
        FROM daily, tot WHERE c * n_days <> s_tot),
      lagged AS (SELECT sgn,
          lag(sgn) OVER (ORDER BY day) AS prev FROM signed),
      a AS (SELECT
        CAST(coalesce(sum(CASE WHEN prev IS NULL OR prev <> sgn
          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r_runs,
        CAST(coalesce(sum(sgn), 0) AS BIGINT) AS n1,
        CAST(coalesce(sum(1 - sgn), 0) AS BIGINT) AS n2 FROM lagged),
      b AS (SELECT *, 2 * n1 * n2 AS m2, n1 + n2 AS nn FROM a),
      e AS (SELECT *,
        CASE WHEN nn > 0 THEN 2.0 * CAST(n1 AS DOUBLE)
            * CAST(n2 AS DOUBLE) / CAST(nn AS DOUBLE) + 1.0
          ELSE CAST('nan' AS DOUBLE) END AS mu_r,
        CASE WHEN nn > 1
          THEN CAST(m2 * (m2 - nn) AS DOUBLE)
            / CAST(nn * nn * (nn - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS var_r
        FROM b)
      SELECT n1, n2, r_runs, mu_r,
        CASE WHEN var_r > 0
          THEN (CAST(r_runs AS DOUBLE) - mu_r) / sqrt(var_r)
          ELSE CAST('nan' AS DOUBLE) END AS z_runs
      FROM e""")),

    // Linearly-weighted Cohen's kappa between two ordinal customer
    // segmentations — quintile by order COUNT vs quintile by biggest
    // single order — "do the two tierings agree beyond chance, with
    // near-misses counted as partial agreement?" (q218's unweighted κ
    // treats a 1-vs-2 disagreement the same as 1-vs-5; ordinal tiers
    // shouldn't). Quintiles come from the distributed PrefixSum CDF on
    // distinct-value cells (the q194 rule: integer bin = 5·above DIV N,
    // ties share a bin, no global ntile window). With disagreement
    // weights v=|i−j|, κ_w = 1 − N·Σv·O / Σv·r·c is an exact BIGINT
    // rational — ONE double division; the ≤5×5 observed and expected
    // grids are cell joins, nothing row-scale past the per-customer
    // aggregation. A degenerate expected grid (Σv·r·c = 0) guards NaN.
    QueryDef("q287_weighted_kappa", (s, d) => {
      val per = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), max(col("o_totalprice")).as("mx"))
        // per feeds both quintile cell tables and the rated join
        .transform(Cut.large)
      def quintiles(values: org.apache.spark.sql.DataFrame,
          vc: String, out: String) = {
        val cells = values.groupBy(col(vc).as("sc"))
          .agg(count(lit(1)).as("n"))
        val nn = cells.agg(sum("n").as("nn"))
        PrefixSum.withRunningTotals(cells, "sc", Seq("n"))
          .crossJoin(broadcast(nn))
          .select(col("sc").as(vc),
            expr("(5 * (nn - n_cum)) DIV nn").as(out))
      }
      val rated = per
        .join(broadcast(quintiles(per, "cnt", "qa")), Seq("cnt"))
        .join(broadcast(quintiles(per, "mx", "qb")), Seq("mx"))
      val cells = rated.groupBy("qa", "qb").agg(count(lit(1)).as("c"))
      val obs = cells.agg(
        coalesce(sum(abs(col("qa") - col("qb")) * col("c")), lit(0L))
          .as("d_obs"),
        coalesce(sum(col("c")), lit(0L)).as("n"))
      val rows = cells.groupBy(col("qa").as("i")).agg(sum("c").as("rc"))
      val cols = cells.groupBy(col("qb").as("j")).agg(sum("c").as("cc"))
      val exp_ = rows.crossJoin(cols)
        .agg(coalesce(sum(abs(col("i") - col("j"))
          * col("rc") * col("cc")), lit(0L)).as("d_exp"))
      obs.crossJoin(broadcast(exp_))
        .select(col("n"), col("d_obs"), col("d_exp"),
          when(col("d_exp") > 0, lit(1.0)
            - dbl(col("n")) * dbl(col("d_obs")) / dbl(col("d_exp")))
            .otherwise(lit(Double.NaN)).as("kappa_w"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
          max(o_totalprice) AS mx
        FROM orders GROUP BY 1),
      ca AS (SELECT sc, n,
          CAST(sum(n) OVER (ORDER BY sc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_cum
        FROM (SELECT cnt AS sc, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      na AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ca),
      qa AS (SELECT sc AS cnt, (5 * (nn - n_cum)) // nn AS qa
        FROM ca, na),
      cb AS (SELECT sc, n,
          CAST(sum(n) OVER (ORDER BY sc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_cum
        FROM (SELECT mx AS sc, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      nb AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cb),
      qb AS (SELECT sc AS mx, (5 * (nn - n_cum)) // nn AS qb
        FROM cb, nb),
      rated AS (SELECT p.o_custkey, a.qa, b.qb
        FROM per p JOIN qa a ON p.cnt = a.cnt
        JOIN qb b ON p.mx = b.mx),
      cells AS (SELECT qa, qb, CAST(count(*) AS BIGINT) AS c
        FROM rated GROUP BY 1, 2),
      obs AS (SELECT
        CAST(coalesce(sum(abs(qa - qb) * c), 0) AS BIGINT) AS d_obs,
        CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cells),
      r AS (SELECT qa AS i, CAST(sum(c) AS BIGINT) AS rc
        FROM cells GROUP BY 1),
      cl AS (SELECT qb AS j, CAST(sum(c) AS BIGINT) AS cc
        FROM cells GROUP BY 1),
      ex AS (SELECT CAST(coalesce(sum(abs(i - j) * rc * cc), 0)
          AS BIGINT) AS d_exp
        FROM r CROSS JOIN cl)
      SELECT n, d_obs, d_exp,
        CASE WHEN d_exp > 0 THEN 1.0 - CAST(n AS DOUBLE)
            * CAST(d_obs AS DOUBLE) / CAST(d_exp AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS kappa_w
      FROM obs, ex""")),

    // Stuart–Maxwell marginal-homogeneity test over the en/es/de
    // corner of the lang-ID confusion matrix: does the CLASSIFIER's
    // label distribution match the TRUTH's, jointly across all three
    // languages? Bowker (q277) asks about pairwise symmetry; this asks
    // about the marginals — the drift question "is the classifier
    // systematically over-calling English?". For k=3 the (k−1)×(k−1)
    // covariance inverts in closed form, so χ²(df 2) =
    // (S₂₂d₁² − 2S₁₂d₁d₂ + S₁₁d₂²)/(S₁₁S₂₂ − S₁₂²) with dᵢ the
    // marginal differences, Sᵢᵢ = rᵢ+cᵢ−2nᵢᵢ, S₁₂ = −(n₁₂+n₂₁) — all
    // BIGINT cells from one ≤9-cell pivot; the quadratic form is
    // assembled in DOUBLE (the q228 web-scale-overflow rule) with one
    // division, determinant ≤ 0 guarded to NaN.
    QueryDef("q288_stuart_maxwell", (s, d) => {
      import graft.functions.TextFunctions
      def idx(c: Column) = when(c === "en", 1)
        .when(c === "es", 2).otherwise(3)
      val cells = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pred"),
          col("lang").as("truth"))
        .where(col("pred").isin("en", "es", "de")
          && col("truth").isin("en", "es", "de"))
        .select(idx(col("truth")).as("i"), idx(col("pred")).as("j"))
        .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      def cell(i: Int, j: Int) = coalesce(sum(
        when(col("i") === i && col("j") === j, col("cnt"))
          .otherwise(0L)), lit(0L))
      cells.agg(
          cell(1, 1).as("n11"), cell(1, 2).as("n12"), cell(1, 3).as("n13"),
          cell(2, 1).as("n21"), cell(2, 2).as("n22"), cell(2, 3).as("n23"),
          cell(3, 1).as("n31"), cell(3, 2).as("n32"), cell(3, 3).as("n33"))
        .withColumn("d1", col("n11") + col("n12") + col("n13")
          - (col("n11") + col("n21") + col("n31")))
        .withColumn("d2", col("n21") + col("n22") + col("n23")
          - (col("n12") + col("n22") + col("n32")))
        .withColumn("s11", col("n11") + col("n12") + col("n13")
          + col("n11") + col("n21") + col("n31")
          - lit(2L) * col("n11"))
        .withColumn("s22", col("n21") + col("n22") + col("n23")
          + col("n12") + col("n22") + col("n32")
          - lit(2L) * col("n22"))
        .withColumn("s12", -(col("n12") + col("n21")))
        .withColumn("det",
          dbl(col("s11")) * dbl(col("s22"))
            - dbl(col("s12")) * dbl(col("s12")))
        .select(col("d1"), col("d2"), col("s11"), col("s22"),
          col("s12"),
          when(col("det") > 0,
            (dbl(col("s22")) * dbl(col("d1")) * dbl(col("d1"))
              - lit(2.0) * dbl(col("s12")) * dbl(col("d1"))
                * dbl(col("d2"))
              + dbl(col("s11")) * dbl(col("d2")) * dbl(col("d2")))
              / col("det"))
            .otherwise(lit(Double.NaN)).as("chi2_sm"))
    }, Some("""
      WITH conf AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pred, lang AS truth
        FROM documents),
      cells AS (SELECT
          CASE truth WHEN 'en' THEN 1 WHEN 'es' THEN 2 ELSE 3 END AS i,
          CASE pred WHEN 'en' THEN 1 WHEN 'es' THEN 2 ELSE 3 END AS j,
          CAST(count(*) AS BIGINT) AS cnt
        FROM conf
        WHERE pred IN ('en', 'es', 'de') AND truth IN ('en', 'es', 'de')
        GROUP BY 1, 2),
      p AS (SELECT
        CAST(coalesce(sum(CASE WHEN i = 1 AND j = 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n11,
        CAST(coalesce(sum(CASE WHEN i = 1 AND j = 2 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n12,
        CAST(coalesce(sum(CASE WHEN i = 1 AND j = 3 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n13,
        CAST(coalesce(sum(CASE WHEN i = 2 AND j = 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n21,
        CAST(coalesce(sum(CASE WHEN i = 2 AND j = 2 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n22,
        CAST(coalesce(sum(CASE WHEN i = 2 AND j = 3 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n23,
        CAST(coalesce(sum(CASE WHEN i = 3 AND j = 1 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n31,
        CAST(coalesce(sum(CASE WHEN i = 3 AND j = 2 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n32,
        CAST(coalesce(sum(CASE WHEN i = 3 AND j = 3 THEN cnt ELSE 0 END), 0) AS BIGINT) AS n33
        FROM cells),
      m AS (SELECT *,
        n11 + n12 + n13 - (n11 + n21 + n31) AS d1,
        n21 + n22 + n23 - (n12 + n22 + n32) AS d2,
        n11 + n12 + n13 + n11 + n21 + n31 - 2 * n11 AS s11,
        n21 + n22 + n23 + n12 + n22 + n32 - 2 * n22 AS s22,
        -(n12 + n21) AS s12
        FROM p),
      e AS (SELECT *, CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) AS det
        FROM m)
      SELECT d1, d2, s11, s22, s12,
        CASE WHEN det > 0
          THEN (CAST(s22 AS DOUBLE) * CAST(d1 AS DOUBLE)
              * CAST(d1 AS DOUBLE)
            - 2.0 * CAST(s12 AS DOUBLE) * CAST(d1 AS DOUBLE)
              * CAST(d2 AS DOUBLE)
            + CAST(s11 AS DOUBLE) * CAST(d2 AS DOUBLE)
              * CAST(d2 AS DOUBLE)) / det
          ELSE CAST('nan' AS DOUBLE) END AS chi2_sm
      FROM e""")),

    // Attribute (categorical) assortativity of the trade multigraph:
    // each lineitem is a directed edge customer-nation → supplier-
    // nation, and the coefficient asks "do nations trade with
    // themselves more than random mixing predicts?" — the KG-hygiene
    // analogue is checking whether extracted entity links stay inside
    // a source domain. Where q161 correlates DEGREES, this mixes
    // LABELS: with E edges, D diagonal (same-nation) edges, and
    // AB = Σᵢ outᵢ·inᵢ over the ≤25×25 mixing cells,
    // r = (E·D − AB)/(E² − AB) — Cohen's-κ-shaped, exact BIGINT until
    // one division (assembled in DOUBLE; E² would overflow BIGINT at
    // web scale — the q228 rule). Perfectly concentrated mixing
    // (E² = AB) guards to NaN. The only row-scale work is the
    // orders⋈lineitem⋈customer⋈supplier chain feeding one cell count.
    QueryDef("q289_attr_assortativity", (s, d) => {
      val cells = t(s, d, "lineitem")
        .join(t(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer").select(col("c_custkey"),
          col("c_nationkey").as("cn"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "supplier").select(col("s_suppkey"),
          col("s_nationkey").as("sn"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("cn", "sn").agg(count(lit(1)).as("c"))
        // nations × nations; feeds tot/outs/ins
        .transform(Cut.small(25 * 25))
      val tot = cells.agg(
        coalesce(sum(col("c")), lit(0L)).as("e_tot"),
        coalesce(sum(when(col("cn") === col("sn"), col("c"))
          .otherwise(0L)), lit(0L)).as("diag"))
      val outs = cells.groupBy(col("cn").as("nat"))
        .agg(sum("c").as("oc"))
      val ins = cells.groupBy(col("sn").as("nat"))
        .agg(sum("c").as("ic"))
      val ab = outs.join(ins, Seq("nat"), "full_outer")
        .agg(coalesce(sum(coalesce(col("oc"), lit(0L))
          * coalesce(col("ic"), lit(0L))), lit(0L)).as("ab"))
      tot.crossJoin(broadcast(ab))
        .withColumn("num", dbl(col("e_tot")) * dbl(col("diag"))
          - dbl(col("ab")))
        .withColumn("den", dbl(col("e_tot")) * dbl(col("e_tot"))
          - dbl(col("ab")))
        .select(col("e_tot"), col("diag"), col("ab"),
          when(col("den") =!= 0.0, col("num") / col("den"))
            .otherwise(lit(Double.NaN)).as("r_attr"))
    }, Some("""
      WITH cells AS (SELECT c.c_nationkey AS cn, s.s_nationkey AS sn,
          CAST(count(*) AS BIGINT) AS c
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS e_tot,
        CAST(coalesce(sum(CASE WHEN cn = sn THEN c ELSE 0 END), 0)
          AS BIGINT) AS diag FROM cells),
      o2 AS (SELECT cn AS nat, CAST(sum(c) AS BIGINT) AS oc
        FROM cells GROUP BY 1),
      i2 AS (SELECT sn AS nat, CAST(sum(c) AS BIGINT) AS ic
        FROM cells GROUP BY 1),
      ab AS (SELECT CAST(coalesce(sum(coalesce(oc, 0)
          * coalesce(ic, 0)), 0) AS BIGINT) AS ab
        FROM o2 FULL OUTER JOIN i2 USING (nat)),
      e AS (SELECT *,
        CAST(e_tot AS DOUBLE) * CAST(diag AS DOUBLE)
          - CAST(ab AS DOUBLE) AS num,
        CAST(e_tot AS DOUBLE) * CAST(e_tot AS DOUBLE)
          - CAST(ab AS DOUBLE) AS den
        FROM tot, ab)
      SELECT e_tot, diag, ab,
        CASE WHEN den <> 0.0 THEN num / den
          ELSE CAST('nan' AS DOUBLE) END AS r_attr
      FROM e""")),

    // Rich-club coefficient φ(k) of the deterministic synthetic
    // digraph (the q161 construction: two functional edge maps over
    // doc_id mod 389, self-loops excluded): among the nodes of total
    // degree > k, what fraction of the possible directed edges
    // actually exist? A rising φ(k) is the "hubs preferentially link
    // to hubs" signature — for a KG it flags whether canonical
    // high-degree entities form a densely self-referential core. One
    // degree table, one edge⋈degree⋈degree filter per k ∈ {2,3,4}
    // (a 3-row broadcast), counts BIGINT, one division
    // φ = E_k/(n_k(n_k−1)), guarded NaN when fewer than 2 rich nodes.
    QueryDef("q290_rich_club", (s, d) => {
      import s.implicits._
      val edges = docGraph(s, d)
      val deg = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val ks = Seq(2L, 3L, 4L).toDF("k")
      val nk = deg.crossJoin(broadcast(ks))
        .where(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = edges
        .join(deg.select(col("node").as("src"), col("deg").as("ds")),
          Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("dd")),
          Seq("dst"))
        .crossJoin(broadcast(ks))
        .where(col("ds") > col("k") && col("dd") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      // anchor on the k list: a threshold with NO rich nodes must still
      // emit its (0, 0, NaN) row, not vanish with the empty groupBy
      ks.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_k"), lit(0L)).as("n_k"),
          coalesce(col("e_k"), lit(0L)).as("e_k"))
        .select(col("k"), col("n_k"), col("e_k"),
          when(col("n_k") > 1, dbl(col("e_k"))
            / dbl(col("n_k") * (col("n_k") - 1L)))
            .otherwise(lit(Double.NaN)).as("phi"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0)
        WHERE src <> dst),
      n AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        GROUP BY 1),
      ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2), (3), (4)) t(k)),
      nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
        FROM n, ks WHERE deg > k GROUP BY 1),
      ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
        FROM e JOIN n a ON e.src = a.node JOIN n b ON e.dst = b.node,
          ks
        WHERE a.deg > k AND b.deg > k GROUP BY 1)
      SELECT k, coalesce(n_k, 0) AS n_k, coalesce(e_k, 0) AS e_k,
        CASE WHEN coalesce(n_k, 0) > 1
          THEN CAST(coalesce(e_k, 0) AS DOUBLE)
            / CAST(n_k * (n_k - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS phi
      FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)""")),

    // Truncated Katz centrality (walk length ≤ 3, attenuation β = ½)
    // on the same synthetic digraph: katz(v) = Σₖ βᵏ·walksₖ(v) ranks
    // nodes by attenuated inbound reachability — the "influence"
    // readout between raw in-degree and full PageRank (q94), and the
    // exact-arithmetic one: walk counts are BIGINT (w₁ = in-degree,
    // wₖ₊₁(v) = Σ_{u→v} wₖ(u), two edge⋈count joins), and the dyadic
    // weights ½/¼/⅛ make every katz value an EXACT double — no
    // iteration-order or summation-order sensitivity anywhere. Each
    // propagation is one shuffle on dst; at web scale the same plan
    // runs per-iteration like the PageRank leg.
    QueryDef("q291_katz3", (s, d) => {
      val nodes = docNodes(s, d)
      val edges = docGraph(s, d)
        // two out-edges per node; feeds w1 and both push steps
        .transform(Cut.small(2 * 389))
      val w1 = edges.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("w"))
        // one row per node, as is w2; each feeds the next push and the
        // final join
        .transform(Cut.small(389))
      def push(w: org.apache.spark.sql.DataFrame) = edges
        .join(w.select(col("node").as("src"), col("w").as("wu")),
          Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum("wu").as("w"))
      val w2 = push(w1).transform(Cut.small(389))
      val w3 = push(w2)
      nodes.select(col("x").as("node"))
        .join(w1.select(col("node"), col("w").as("w1")), Seq("node"),
          "left")
        .join(w2.select(col("node"), col("w").as("w2")), Seq("node"),
          "left")
        .join(w3.select(col("node"), col("w").as("w3")), Seq("node"),
          "left")
        .select(col("node"),
          coalesce(col("w1"), lit(0L)).as("w1"),
          coalesce(col("w2"), lit(0L)).as("w2"),
          coalesce(col("w3"), lit(0L)).as("w3"))
        .select(col("node"), col("w1"), col("w2"), col("w3"),
          (lit(0.5) * dbl(col("w1")) + lit(0.25) * dbl(col("w2"))
            + lit(0.125) * dbl(col("w3"))).as("katz"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0)
        WHERE src <> dst),
      w1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS w
        FROM e GROUP BY 1),
      w2 AS (SELECT e.dst AS node, CAST(sum(w1.w) AS BIGINT) AS w
        FROM e JOIN w1 ON e.src = w1.node GROUP BY 1),
      w3 AS (SELECT e.dst AS node, CAST(sum(w2.w) AS BIGINT) AS w
        FROM e JOIN w2 ON e.src = w2.node GROUP BY 1)
      SELECT x AS node,
        CAST(coalesce(w1.w, 0) AS BIGINT) AS w1,
        CAST(coalesce(w2.w, 0) AS BIGINT) AS w2,
        CAST(coalesce(w3.w, 0) AS BIGINT) AS w3,
        0.5 * CAST(coalesce(w1.w, 0) AS DOUBLE)
          + 0.25 * CAST(coalesce(w2.w, 0) AS DOUBLE)
          + 0.125 * CAST(coalesce(w3.w, 0) AS DOUBLE) AS katz
      FROM nodes0
      LEFT JOIN w1 ON nodes0.x = w1.node
      LEFT JOIN w2 ON nodes0.x = w2.node
      LEFT JOIN w3 ON nodes0.x = w3.node""")),

    // Grubbs' max-studentized-deviate test on the daily event-count
    // series — "is the single most extreme crawl day a statistical
    // outlier, or just the tail of normal volume?" (q282's Mann-Kendall
    // asks about TREND; this asks about one point). All moments are
    // exact BIGINT on the dimension-sized daily cells: with n days,
    // S = Σc and M2n = n·Σc² − S², the deviation of day i is
    // |n·cᵢ − S| (integer — no mean subtraction in floating point),
    // and G = max|n·c − S| / (n·s) with s = √(M2n/(n(n−1))) — two
    // IEEE ops total. The argmax day is reported via an ordered
    // LIMIT 1 (TakeOrderedAndProject — a tie on the deviation picks
    // the earliest day in both engines). Zero-variance series guards
    // to NaN.
    QueryDef("q292_grubbs", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(
          count(lit(1)).as("n"),
          coalesce(sum(col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(col("c") * col("c")), lit(0L)).as("q_tot"))
        .withColumn("m2n",
          col("n") * col("q_tot") - col("s_tot") * col("s_tot"))
      val dev = daily.crossJoin(broadcast(tot))
        .select(col("day"), col("c"),
          abs(col("n") * col("c") - col("s_tot")).as("dev"),
          col("n"), col("m2n"))
      val mx = dev.agg(coalesce(max(col("dev")), lit(0L)).as("mx"))
      dev.crossJoin(broadcast(mx))
        .where(col("dev") === col("mx"))
        .select(col("day").as("day_out"), col("c").as("c_out"),
          col("n").as("n_days"),
          when(col("m2n") > 0 && col("n") > 1,
            dbl(col("mx")) / (dbl(col("n"))
              * sqrt(dbl(col("m2n"))
                / dbl(col("n") * (col("n") - 1L)))))
            .otherwise(lit(Double.NaN)).as("g_stat"))
        .orderBy("day_out").limit(1)
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(c * c), 0) AS BIGINT) AS q_tot
        FROM daily),
      t2 AS (SELECT *, n * q_tot - s_tot * s_tot AS m2n FROM tot),
      dev AS (SELECT day, c, abs(n * c - s_tot) AS dev, n, m2n
        FROM daily, t2),
      mx AS (SELECT CAST(coalesce(max(dev), 0) AS BIGINT) AS mx
        FROM dev)
      SELECT day AS day_out, c AS c_out, n AS n_days,
        CASE WHEN m2n > 0 AND n > 1
          THEN CAST(mx AS DOUBLE) / (CAST(n AS DOUBLE)
            * sqrt(CAST(m2n AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS g_stat
      FROM dev, mx WHERE dev = mx
      ORDER BY day_out LIMIT 1""")),

    // Bartlett's test for homogeneity of variance of order quantity
    // across the three return-flag populations — the parametric
    // complement to q227's Brown–Forsythe (which is robust but loses
    // power when normality holds). Over a deterministic 1-in-101
    // orderkey stratum (which keeps the common-denominator pooled
    // numerator num = Σᵢ Mᵢ·Πⱼ≠ᵢnⱼ inside BIGINT — at full row scale
    // this term is the one that overflows first, and the web-scale
    // assembly would move it to DOUBLE per the q228 rule) every
    // variance is the exact rational Mᵢ/(nᵢ(nᵢ−1)) with
    // Mᵢ = nᵢΣx² − Sᵢ² from one 3-way conditional pivot, so
    // ln s²ₚ = ln num − ln den − ln(N−k) and each ln sᵢ² =
    // ln Mᵢ − ln nᵢ − ln(nᵢ−1) feed portable_ln INTEGER-valued
    // arguments only; the statistic and its Bartlett correction C are
    // a fixed-shape IEEE tree with explicit per-group terms (no fold
    // needed at k=3). Degenerate groups (nᵢ ≤ 1 or Mᵢ ≤ 0) guard NaN.
    QueryDef("q293_bartlett", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val x = t(s, d, "lineitem")
        .where(col("l_orderkey") % 101 === 0)
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("x"))
      def grp(flag: String, out: String) = Seq(
        coalesce(sum(when(col("g") === flag, 1L).otherwise(0L)), lit(0L))
          .as(s"n$out"),
        coalesce(sum(when(col("g") === flag, col("x")).otherwise(0L)),
          lit(0L)).as(s"s$out"),
        coalesce(sum(when(col("g") === flag, col("x") * col("x"))
          .otherwise(0L)), lit(0L)).as(s"q$out"))
      val aggs = grp("A", "1") ++ grp("N", "2") ++ grp("R", "3")
      val base = x.agg(aggs.head, aggs.tail: _*)
      val m = base
        .withColumn("m1", col("n1") * col("q1") - col("s1") * col("s1"))
        .withColumn("m2", col("n2") * col("q2") - col("s2") * col("s2"))
        .withColumn("m3", col("n3") * col("q3") - col("s3") * col("s3"))
        .withColumn("nn", col("n1") + col("n2") + col("n3"))
        .withColumn("num", col("m1") * col("n2") * col("n3")
          + col("m2") * col("n1") * col("n3")
          + col("m3") * col("n1") * col("n2"))
        .withColumn("den", col("n1") * col("n2") * col("n3"))
      m.select(col("n1"), col("n2"), col("n3"),
        when(col("n1") > 1 && col("n2") > 1 && col("n3") > 1
            && col("m1") > 0 && col("m2") > 0 && col("m3") > 0
            && col("num") > 0,
          ((dbl(col("nn") - 3L)
              * (pln(col("num")) - pln(col("den"))
                - pln(col("nn") - 3L))
            - ((dbl(col("n1") - 1L) * (pln(col("m1")) - pln(col("n1"))
                - pln(col("n1") - 1L)))
              + (dbl(col("n2") - 1L) * (pln(col("m2")) - pln(col("n2"))
                - pln(col("n2") - 1L)))
              + (dbl(col("n3") - 1L) * (pln(col("m3")) - pln(col("n3"))
                - pln(col("n3") - 1L)))))
            / (lit(1.0)
              + (lit(1.0) / dbl(col("n1") - 1L)
                + lit(1.0) / dbl(col("n2") - 1L)
                + lit(1.0) / dbl(col("n3") - 1L)
                - lit(1.0) / dbl(col("nn") - 3L)) / lit(6.0))))
          .otherwise(lit(Double.NaN)).as("chi2_bartlett"),
        lit(2L).as("dof"))
    }, Some("""
      WITH x AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS x
        FROM lineitem WHERE l_orderkey % 101 = 0),
      p AS (SELECT
        CAST(coalesce(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
        CAST(coalesce(sum(CASE WHEN g = 'A' THEN x ELSE 0 END), 0) AS BIGINT) AS s1,
        CAST(coalesce(sum(CASE WHEN g = 'A' THEN x * x ELSE 0 END), 0) AS BIGINT) AS q1,
        CAST(coalesce(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
        CAST(coalesce(sum(CASE WHEN g = 'N' THEN x ELSE 0 END), 0) AS BIGINT) AS s2,
        CAST(coalesce(sum(CASE WHEN g = 'N' THEN x * x ELSE 0 END), 0) AS BIGINT) AS q2,
        CAST(coalesce(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n3,
        CAST(coalesce(sum(CASE WHEN g = 'R' THEN x ELSE 0 END), 0) AS BIGINT) AS s3,
        CAST(coalesce(sum(CASE WHEN g = 'R' THEN x * x ELSE 0 END), 0) AS BIGINT) AS q3
        FROM x),
      m AS (SELECT *,
        n1 * q1 - s1 * s1 AS m1,
        n2 * q2 - s2 * s2 AS m2,
        n3 * q3 - s3 * s3 AS m3,
        n1 + n2 + n3 AS nn
        FROM p),
      f AS (SELECT *,
        m1 * n2 * n3 + m2 * n1 * n3 + m3 * n1 * n2 AS num,
        n1 * n2 * n3 AS den
        FROM m)
      SELECT n1, n2, n3,
        CASE WHEN n1 > 1 AND n2 > 1 AND n3 > 1
            AND m1 > 0 AND m2 > 0 AND m3 > 0 AND num > 0
          THEN (CAST(nn - 3 AS DOUBLE)
              * (ln(CAST(num AS DOUBLE)) - ln(CAST(den AS DOUBLE))
                - ln(CAST(nn - 3 AS DOUBLE)))
            - ((CAST(n1 - 1 AS DOUBLE) * (ln(CAST(m1 AS DOUBLE))
                - ln(CAST(n1 AS DOUBLE)) - ln(CAST(n1 - 1 AS DOUBLE))))
              + (CAST(n2 - 1 AS DOUBLE) * (ln(CAST(m2 AS DOUBLE))
                - ln(CAST(n2 AS DOUBLE)) - ln(CAST(n2 - 1 AS DOUBLE))))
              + (CAST(n3 - 1 AS DOUBLE) * (ln(CAST(m3 AS DOUBLE))
                - ln(CAST(n3 AS DOUBLE)) - ln(CAST(n3 - 1 AS DOUBLE))))))
            / (1.0 + (1.0 / CAST(n1 - 1 AS DOUBLE)
                + 1.0 / CAST(n2 - 1 AS DOUBLE)
                + 1.0 / CAST(n3 - 1 AS DOUBLE)
                - 1.0 / CAST(nn - 3 AS DOUBLE)) / 6.0)
          ELSE CAST('nan' AS DOUBLE) END AS chi2_bartlett,
        CAST(2 AS BIGINT) AS dof
      FROM f""")),

    // Mood's median test: does the share of orders priced above the
    // GRAND median differ across the five order priorities? The
    // nonparametric k-sample location test that needs only the
    // median — no rank sums (q214) and no variance assumptions
    // (q226). The grand lower median is an exact type-1 order
    // statistic from the distributed PrefixSum CDF over distinct-
    // price cells (the q205 shape, rank (N+1) DIV 2, never an
    // unpartitioned window); each priority contributes one
    // above/not-above split, and the 5×2 chi-square folds in
    // g-sorted order over the dimension-sized cell list (the q138
    // bit-stability pattern) with expected counts from exact BIGINT
    // margins. A degenerate column margin (everything on one side of
    // the median) guards to NaN.
    QueryDef("q294_mood_median", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("c"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("c"))
      val nn = cells.agg(coalesce(sum(col("c")), lit(0L)).as("nn"))
        .select(col("nn"), expr("(nn + 1) DIV 2").as("rk"))
      val med = cum.crossJoin(broadcast(nn))
        .where(col("rk") > col("c_cum") - col("c")
          && col("rk") <= col("c_cum"))
        .select(col("v").as("med"), col("nn"))
      val split = t(s, d, "orders")
        .crossJoin(broadcast(med))
        .select(substring(col("o_orderpriority"), 1, 1).cast("int")
            .as("g"),
          when(col("o_totalprice") > col("med"), 1L).otherwise(0L)
            .as("above"),
          col("med"), col("nn"))
        .groupBy("g", "med", "nn")
        .agg(coalesce(sum(col("above")), lit(0L)).as("a"),
          coalesce(sum(lit(1L) - col("above")), lit(0L)).as("b"))
        // one row per priority; feeds margins and the final chi-square
        // join
        .transform(Cut.small(5))
      val margins = split.groupBy("med", "nn").agg(
        coalesce(sum(col("a")), lit(0L)).as("ca"),
        coalesce(sum(col("b")), lit(0L)).as("cb"))
      val term = {
        val r = col("a") + col("b")
        val ea = dbl(r * col("ca")) / dbl(col("nn"))
        val eb = dbl(r * col("cb")) / dbl(col("nn"))
        (((dbl(col("a")) - ea) * (dbl(col("a")) - ea) / ea)
          + ((dbl(col("b")) - eb) * (dbl(col("b")) - eb) / eb))
      }
      split.join(broadcast(margins), Seq("med", "nn"))
        .select(col("med"), col("nn"), col("ca"), col("cb"),
          struct(col("g"), term.as("term")).as("cell"))
        .groupBy("med", "nn", "ca", "cb")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("med").as("median_price"), col("nn").as("n"),
          when(col("ca") > 0 && col("cb") > 0,
            sumInOrder(col("cs"))(_.getField("term")))
            .otherwise(lit(Double.NaN)).as("chi2_mood"),
          lit(4L).as("dof"))
    }, Some("""
      WITH cells AS (SELECT o_totalprice AS v,
          CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1),
      cum AS (SELECT v, c,
          CAST(sum(c) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS c_cum
        FROM cells),
      nn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS nn,
          (coalesce(sum(c), 0) + 1) // 2 AS rk
        FROM cells),
      med AS (SELECT v AS med, nn FROM cum, nn
        WHERE rk > c_cum - c AND rk <= c_cum),
      split AS (SELECT
          CAST(substring(o_orderpriority, 1, 1) AS INT) AS g, med, nn,
          CAST(coalesce(sum(CASE WHEN o_totalprice > med THEN 1
            ELSE 0 END), 0) AS BIGINT) AS a,
          CAST(coalesce(sum(CASE WHEN o_totalprice > med THEN 0
            ELSE 1 END), 0) AS BIGINT) AS b
        FROM orders, med GROUP BY 1, 2, 3),
      margins AS (SELECT med, nn,
          CAST(coalesce(sum(a), 0) AS BIGINT) AS ca,
          CAST(coalesce(sum(b), 0) AS BIGINT) AS cb
        FROM split GROUP BY 1, 2),
      folded AS (SELECT med, nn, ca, cb,
          list_sort(list(struct_pack(g := g,
            term := (CAST(a AS DOUBLE)
                - CAST((a + b) * ca AS DOUBLE) / CAST(nn AS DOUBLE))
              * (CAST(a AS DOUBLE)
                - CAST((a + b) * ca AS DOUBLE) / CAST(nn AS DOUBLE))
              / (CAST((a + b) * ca AS DOUBLE) / CAST(nn AS DOUBLE))
              + (CAST(b AS DOUBLE)
                - CAST((a + b) * cb AS DOUBLE) / CAST(nn AS DOUBLE))
              * (CAST(b AS DOUBLE)
                - CAST((a + b) * cb AS DOUBLE) / CAST(nn AS DOUBLE))
              / (CAST((a + b) * cb AS DOUBLE) / CAST(nn AS DOUBLE)))))
            AS cs
        FROM split JOIN margins USING (med, nn)
        GROUP BY 1, 2, 3, 4)
      SELECT med AS median_price, nn AS n,
        CASE WHEN ca > 0 AND cb > 0
          THEN list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, x -> x.term)),
            (a, b) -> a + b)
          ELSE CAST('nan' AS DOUBLE) END AS chi2_mood,
        CAST(4 AS BIGINT) AS dof
      FROM folded""")),

    // Paired sign test AND Wilcoxon signed-rank on the per-customer
    // open-minus-finished order-count difference — "do customers
    // carry more open than finished orders?", the paired-location
    // question q214's (independent-sample) Mann-Whitney can't ask.
    // Differences are INTEGERS (two conditional counts), so the
    // whole rank apparatus stays exact: zero differences drop (the
    // standard treatment), midranks over |d| come from the
    // distributed PrefixSum CDF on the ≤|d|-domain cells, and
    // 2·W⁺ = Σ(2(cum−t)+t+1)·pos is an exact BIGINT — no
    // row-scale floating-point sum anywhere, so no fold ordering to
    // defend. Normal approximations: z_sign = (n⁺−n⁻)/√n and
    // z_wilcoxon with the Σ(t³−t)/48 tie correction, each one
    // fixed-shape IEEE tree; a degenerate variance guards NaN.
    QueryDef("q295_sign_wilcoxon", (s, d) => {
      val diffs = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg((coalesce(sum(when(col("o_orderstatus") === "O", 1L)
            .otherwise(0L)), lit(0L))
          - coalesce(sum(when(col("o_orderstatus") === "F", 1L)
            .otherwise(0L)), lit(0L))).as("diff"))
        .where(col("diff") =!= 0L)
      val cells = diffs
        .groupBy(abs(col("diff")).as("ad"))
        .agg(count(lit(1)).as("t"),
          coalesce(sum(when(col("diff") > 0, 1L).otherwise(0L)),
            lit(0L)).as("p"))
      val cum = PrefixSum.withRunningTotals(cells, "ad", Seq("t"))
      cum.agg(
          coalesce(sum(col("t")), lit(0L)).as("n"),
          coalesce(sum(col("p")), lit(0L)).as("n_pos"),
          coalesce(sum(doubledMidrank("t") * col("p")), lit(0L)).as("w2"),
          coalesce(sum(col("t") * col("t") * col("t") - col("t")),
            lit(0L)).as("ties"))
        .select(col("n").as("n_pairs"), col("n_pos"), col("w2"),
          when(col("n") > 0,
            (dbl(col("n_pos")) - dbl(col("n") - col("n_pos")))
              / sqrt(dbl(col("n"))))
            .otherwise(lit(Double.NaN)).as("z_sign"),
          when(dbl(col("n") * (col("n") + 1L)
              * (lit(2L) * col("n") + 1L)) / lit(24.0)
              - dbl(col("ties")) / lit(48.0) > 0.0,
            (dbl(col("w2")) / lit(2.0)
              - dbl(col("n") * (col("n") + 1L)) / lit(4.0))
              / sqrt(dbl(col("n") * (col("n") + 1L)
                  * (lit(2L) * col("n") + 1L)) / lit(24.0)
                - dbl(col("ties")) / lit(48.0)))
            .otherwise(lit(Double.NaN)).as("z_wilcoxon"))
    }, Some("""
      WITH diffs AS (SELECT o_custkey,
          CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1
            ELSE 0 END), 0) AS BIGINT)
          - CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS diff
        FROM orders GROUP BY 1 HAVING
          coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0)
          <> coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0)),
      cells AS (SELECT abs(diff) AS ad, CAST(count(*) AS BIGINT) AS t,
          CAST(coalesce(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS p
        FROM diffs GROUP BY 1),
      cum AS (SELECT *, CAST(sum(t) OVER (ORDER BY ad
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum FROM cells),
      a AS (SELECT
        CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
        CAST(coalesce(sum(p), 0) AS BIGINT) AS n_pos,
        CAST(coalesce(sum((2 * (t_cum - t) + t + 1) * p), 0)
          AS BIGINT) AS w2,
        CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS ties
        FROM cum)
      SELECT n AS n_pairs, n_pos, w2,
        CASE WHEN n > 0
          THEN (CAST(n_pos AS DOUBLE) - CAST(n - n_pos AS DOUBLE))
            / sqrt(CAST(n AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS z_sign,
        CASE WHEN CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
            - CAST(ties AS DOUBLE) / 48.0 > 0.0
          THEN (CAST(w2 AS DOUBLE) / 2.0
              - CAST(n * (n + 1) AS DOUBLE) / 4.0)
            / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
              - CAST(ties AS DOUBLE) / 48.0)
          ELSE CAST('nan' AS DOUBLE) END AS z_wilcoxon
      FROM a""")),

    // Cliff's delta and Vargha–Delaney A₁₂ between the returned (A)
    // and refused (R) quantity distributions — the EFFECT-SIZE
    // companions to the rank tests: "by how much does one population
    // stochastically dominate the other?", robust and scale-free
    // where q231's SMD assumes comparable variances. Quantity has a
    // ≤50-value domain, so all n₁·n₂ pair comparisons collapse to a
    // ≤50×50 value-cell theta join (broadcast — bounded by the
    // domain product BY CONSTRUCTION, never row-scale): gt/lt/eq are
    // exact BIGINT pair counts, δ = (gt−lt)/(n₁n₂) and
    // A₁₂ = (2·gt+eq)/(2·n₁n₂) are each ONE double division.
    QueryDef("q296_cliffs_delta", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val ca = q.where(col("g") === "A").groupBy("v")
        .agg(count(lit(1)).as("a"))
      val cr = q.where(col("g") === "R")
        .groupBy(col("v").as("v2")).agg(count(lit(1)).as("b"))
      ca.crossJoin(broadcast(cr))
        .agg(
          coalesce(sum(when(col("v") > col("v2"),
            col("a") * col("b")).otherwise(0L)), lit(0L)).as("gt"),
          coalesce(sum(when(col("v") < col("v2"),
            col("a") * col("b")).otherwise(0L)), lit(0L)).as("lt"),
          coalesce(sum(when(col("v") === col("v2"),
            col("a") * col("b")).otherwise(0L)), lit(0L)).as("eq"))
        .select(col("gt"), col("lt"), col("eq"),
          (col("gt") + col("lt") + col("eq")).as("n_pairs"),
          when(col("gt") + col("lt") + col("eq") > 0,
            (dbl(col("gt")) - dbl(col("lt")))
              / dbl(col("gt") + col("lt") + col("eq")))
            .otherwise(lit(Double.NaN)).as("delta_cliff"),
          when(col("gt") + col("lt") + col("eq") > 0,
            dbl(lit(2L) * col("gt") + col("eq"))
              / dbl(lit(2L) * (col("gt") + col("lt") + col("eq"))))
            .otherwise(lit(Double.NaN)).as("a12"))
    }, Some("""
      WITH ca AS (SELECT CAST(l_quantity AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS a
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      cr AS (SELECT CAST(l_quantity AS BIGINT) AS v2,
          CAST(count(*) AS BIGINT) AS b
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      agg AS (SELECT
        CAST(coalesce(sum(CASE WHEN v > v2 THEN a * b ELSE 0 END), 0)
          AS BIGINT) AS gt,
        CAST(coalesce(sum(CASE WHEN v < v2 THEN a * b ELSE 0 END), 0)
          AS BIGINT) AS lt,
        CAST(coalesce(sum(CASE WHEN v = v2 THEN a * b ELSE 0 END), 0)
          AS BIGINT) AS eq
        FROM ca CROSS JOIN cr)
      SELECT gt, lt, eq, gt + lt + eq AS n_pairs,
        CASE WHEN gt + lt + eq > 0
          THEN (CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
            / CAST(gt + lt + eq AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS delta_cliff,
        CASE WHEN gt + lt + eq > 0
          THEN CAST(2 * gt + eq AS DOUBLE)
            / CAST(2 * (gt + lt + eq) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS a12
      FROM agg""")),

    // Chatterjee's ξ (xicor) of the daily event-count series against
    // time — the modern dependence coefficient that detects ANY
    // measurable y=f(x) relationship, not just monotone ones
    // (q282's Mann-Kendall misses an oscillating load pattern; ξ
    // doesn't). On the dimension-sized daily series the tie-aware
    // formula ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ lᵢ(n−lᵢ)) is exact
    // BIGINT until one division: y-ranks rᵢ = #{cⱼ ≤ cᵢ} and
    // lᵢ = #{cⱼ ≥ cᵢ} come from value cells (no per-row window),
    // adjacency from a lag over the ≤day-count frame. Days are
    // unique, so the x-ordering is deterministic in both engines.
    QueryDef("q297_chatterjee_xi", (s, d) => {
      val daily = dailyEvents(s, d)
      val cells = daily.groupBy(col("c").as("cv"))
        .agg(count(lit(1)).as("t"))
      val cum = PrefixSum.withRunningTotals(cells, "cv", Seq("t"))
      val nn = cells.agg(coalesce(sum(col("t")), lit(0L)).as("n"))
      val ranked = daily
        .join(cum.select(col("cv").as("c"), col("t"), col("t_cum")),
          Seq("c"))
        .crossJoin(broadcast(nn))
        .select(col("day"), col("t_cum").as("r"),
          (col("n") - (col("t_cum") - col("t"))).as("l"), col("n"))
      val w = Window.orderBy("day")
      ranked
        .withColumn("r_next", lead(col("r"), 1).over(w))
        .agg(max(col("n")).as("n"),
          coalesce(sum(when(col("r_next").isNotNull,
            abs(col("r_next") - col("r"))).otherwise(0L)), lit(0L))
            .as("sum_dr"),
          coalesce(sum(col("l") * (col("n") - col("l"))),
            lit(0L)).as("sum_l"))
        .select(col("n").as("n_days"), col("sum_dr"),
          (lit(2L) * col("sum_l")).as("denom"),
          when(col("sum_l") > 0,
            lit(1.0) - dbl(col("n") * col("sum_dr"))
              / dbl(lit(2L) * col("sum_l")))
            .otherwise(lit(Double.NaN)).as("xi"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      cells AS (SELECT c AS cv, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1),
      cum AS (SELECT *, CAST(sum(t) OVER (ORDER BY cv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum FROM cells),
      nn AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n
        FROM cells),
      ranked AS (SELECT day, t_cum AS r,
          n - (t_cum - t) AS l, n
        FROM daily JOIN cum ON daily.c = cum.cv, nn),
      led AS (SELECT r, l, n,
          lead(r) OVER (ORDER BY day) AS r_next
        FROM ranked),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
        CAST(coalesce(sum(CASE WHEN r_next IS NOT NULL
          THEN abs(r_next - r) ELSE 0 END), 0) AS BIGINT) AS sum_dr,
        CAST(coalesce(sum(l * (n - l)), 0) AS BIGINT) AS sum_l
        FROM led)
      SELECT n AS n_days, sum_dr, 2 * sum_l AS denom,
        CASE WHEN sum_l > 0
          THEN 1.0 - CAST(n * sum_dr AS DOUBLE)
            / CAST(2 * sum_l AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS xi
      FROM a""")),

    // Pettitt changepoint test on the daily event-count series — the
    // rank-based "WHEN did the level shift?" locator (q281's segmented
    // trend fits slopes; Pettitt needs no model and resists
    // outliers). Doubled midranks 2rᵢ = 2(cum−t)+t+1 from the value-
    // cell CDF keep everything integer through ties; the Mann-
    // Whitney-style drift Uₜ = Σᵢ≤ₜ2rᵢ − t(n+1) is a running BIGINT
    // over the ≤day-count frame, K = max|Uₜ| (t<n) with the earliest
    // argmax day via ordered LIMIT 1, and the approximate-p exponent
    // 6K²/(n³+n²) (p ≈ 2e^(−x); reported as the exponent — exp()
    // would reintroduce the libm divergence portable_ln avoids) is
    // ONE double division.
    QueryDef("q298_pettitt", (s, d) => {
      val daily = dailyEvents(s, d)
      val cells = daily.groupBy(col("c").as("cv"))
        .agg(count(lit(1)).as("t"))
      val cum = PrefixSum.withRunningTotals(cells, "cv", Seq("t"))
        .select(col("cv").as("c"),
          doubledMidrank("t").as("r2"))
      val nn = daily.agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day")
      val u = daily.join(cum, Seq("c")).crossJoin(broadcast(nn))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("u",
          sum(col("r2")).over(w) - col("i") * (col("n") + 1L))
        .where(col("i") < col("n"))
      val mx = u.agg(coalesce(max(abs(col("u"))), lit(0L)).as("k_u"))
      u.crossJoin(broadcast(mx))
        .where(abs(col("u")) === col("k_u"))
        .select(col("day").as("day_break"), col("n").as("n_days"),
          col("k_u"),
          when(col("n") > 1,
            lit(6.0) * dbl(col("k_u")) * dbl(col("k_u"))
              / dbl(col("n") * col("n") * col("n")
                + col("n") * col("n")))
            .otherwise(lit(Double.NaN)).as("pettitt_stat"))
        .orderBy("day_break").limit(1)
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      cells AS (SELECT c AS cv, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1),
      cum AS (SELECT cv AS c,
          2 * (CAST(sum(t) OVER (ORDER BY cv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) - t) + t + 1 AS r2
        FROM cells),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      seq AS (SELECT day, r2, n,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
          CAST(sum(r2) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cr2
        FROM daily JOIN cum USING (c), nn),
      u AS (SELECT day, n, cr2 - i * (n + 1) AS u
        FROM seq WHERE i < n),
      mx AS (SELECT CAST(coalesce(max(abs(u)), 0) AS BIGINT) AS k_u
        FROM u)
      SELECT day AS day_break, n AS n_days, k_u,
        CASE WHEN n > 1
          THEN 6.0 * CAST(k_u AS DOUBLE) * CAST(k_u AS DOUBLE)
            / CAST(n * n * n + n * n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS pettitt_stat
      FROM u, mx WHERE abs(u) = k_u
      ORDER BY day_break LIMIT 1""")),

    // Bartels' rank von Neumann ratio — the rank test of RANDOMNESS
    // against serial dependence in the daily series (q286's runs
    // test sees only the sign pattern around the mean; Bartels uses
    // full rank magnitudes and is its more powerful cousin). With
    // doubled midranks the mean doubles to exactly n+1, so BOTH sums
    // are pure BIGINT: num₄ = Σ(2rᵢ−2rᵢ₊₁)² over the lead frame and
    // den₄ = Σ(2rᵢ−(n+1))², the 4s cancelling in
    // RVN = num₄/den₄ — one division; the normal approximation
    // z = (RVN−2)/√(4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²)) is a fixed
    // IEEE tree of integer-derived doubles. Constant series
    // (den₄ = 0) guards NaN.
    QueryDef("q299_bartels_rvn", (s, d) => {
      val daily = dailyEvents(s, d)
      val cells = daily.groupBy(col("c").as("cv"))
        .agg(count(lit(1)).as("t"))
      val cum = PrefixSum.withRunningTotals(cells, "cv", Seq("t"))
        .select(col("cv").as("c"),
          doubledMidrank("t").as("r2"))
      val nn = daily.agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day")
      daily.join(cum, Seq("c")).crossJoin(broadcast(nn))
        .withColumn("r2n", lead(col("r2"), 1).over(w))
        .agg(max(col("n")).as("n"),
          coalesce(sum(when(col("r2n").isNotNull,
            (col("r2") - col("r2n")) * (col("r2") - col("r2n")))
            .otherwise(0L)), lit(0L)).as("num4"),
          coalesce(sum((col("r2") - (col("n") + 1L))
            * (col("r2") - (col("n") + 1L))), lit(0L)).as("den4"))
        .select(col("n").as("n_days"), col("num4"), col("den4"),
          when(col("den4") > 0,
            dbl(col("num4")) / dbl(col("den4")))
            .otherwise(lit(Double.NaN)).as("rvn"),
          when(col("den4") > 0 && col("n") > 2,
            (dbl(col("num4")) / dbl(col("den4")) - lit(2.0))
              / sqrt(dbl(lit(4L) * (col("n") - 2L)
                  * (lit(5L) * col("n") * col("n")
                    - lit(2L) * col("n") - 9L))
                / dbl(lit(5L) * col("n") * (col("n") + 1L)
                  * (col("n") - 1L) * (col("n") - 1L))))
            .otherwise(lit(Double.NaN)).as("z_rvn"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      cells AS (SELECT c AS cv, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1),
      cum AS (SELECT cv AS c,
          2 * (CAST(sum(t) OVER (ORDER BY cv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) - t) + t + 1 AS r2
        FROM cells),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      seq AS (SELECT day, r2, n,
          lead(r2) OVER (ORDER BY day) AS r2n
        FROM daily JOIN cum USING (c), nn),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
        CAST(coalesce(sum(CASE WHEN r2n IS NOT NULL
          THEN (r2 - r2n) * (r2 - r2n) ELSE 0 END), 0)
          AS BIGINT) AS num4,
        CAST(coalesce(sum((r2 - (n + 1)) * (r2 - (n + 1))), 0)
          AS BIGINT) AS den4
        FROM seq)
      SELECT n AS n_days, num4, den4,
        CASE WHEN den4 > 0
          THEN CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS rvn,
        CASE WHEN den4 > 0 AND n > 2
          THEN (CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) - 2.0)
            / sqrt(CAST(4 * (n - 2) * (5 * n * n - 2 * n - 9)
                AS DOUBLE)
              / CAST(5 * n * (n + 1) * (n - 1) * (n - 1) AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS z_rvn
      FROM a""")),

    // Cox–Stuart trend test on the daily series: pair each day in
    // the first half with its partner one half-length later (odd
    // middle dropped), count rises vs falls, and read the binomial
    // sign z — the assumption-free trend check whose power
    // concentrates at the endpoints, complementing Mann-Kendall's
    // all-pairs view (q282) at a fraction of the pair count. The
    // pairing is a dimension-sized self-join on the day index (a
    // row_number over the ≤day-count frame), differences are
    // integer, zero differences drop, and the only floating-point
    // op is z = (n⁺−n⁻)/√(n⁺+n⁻), NaN when no pair survives.
    QueryDef("q300_cox_stuart", (s, d) => {
      val daily = dailyEvents(s, d)
      val nn = daily.agg(count(lit(1)).as("n"))
        .select(col("n"), expr("(n + 1) DIV 2").as("off"))
      val w = Window.orderBy("day")
      val idx = daily.crossJoin(broadcast(nn))
        .withColumn("i", row_number().over(w).cast("long"))
      val first_ = idx.where(col("i") <= col("n") - col("off"))
        .select(col("i"), col("c").as("c1"))
      val second = idx
        .select((col("i") - col("off")).as("i"), col("c").as("c2"))
      first_.join(second, Seq("i"))
        .select(when(col("c2") > col("c1"), 1L)
          .when(col("c2") < col("c1"), -1L).otherwise(0L).as("sgn"))
        .agg(
          coalesce(sum(when(col("sgn") === 1L, 1L).otherwise(0L)),
            lit(0L)).as("n_pos"),
          coalesce(sum(when(col("sgn") === -1L, 1L).otherwise(0L)),
            lit(0L)).as("n_neg"))
        .select(col("n_pos"), col("n_neg"),
          (col("n_pos") + col("n_neg")).as("n_pairs"),
          when(col("n_pos") + col("n_neg") > 0,
            (dbl(col("n_pos")) - dbl(col("n_neg")))
              / sqrt(dbl(col("n_pos") + col("n_neg"))))
            .otherwise(lit(Double.NaN)).as("z_cox_stuart"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
          (count(*) + 1) // 2 AS off FROM daily),
      idx AS (SELECT day, c, n, off,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
        FROM daily, nn),
      f AS (SELECT i, c AS c1 FROM idx WHERE i <= n - off),
      s AS (SELECT i - off AS i, c AS c2 FROM idx),
      sg AS (SELECT CASE WHEN c2 > c1 THEN 1
          WHEN c2 < c1 THEN -1 ELSE 0 END AS sgn
        FROM f JOIN s USING (i)),
      a AS (SELECT
        CAST(coalesce(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS n_pos,
        CAST(coalesce(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS n_neg
        FROM sg)
      SELECT n_pos, n_neg, n_pos + n_neg AS n_pairs,
        CASE WHEN n_pos + n_neg > 0
          THEN (CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
            / sqrt(CAST(n_pos + n_neg AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS z_cox_stuart
      FROM a""")),

    // Theil inequality indices of the per-customer order-count
    // distribution — "how unequally is crawl/order volume spread
    // across accounts?" as ONE number with an exact decomposition
    // story (q193's Lorenz deciles show the curve; Theil T and the
    // mean-log-deviation L summarize it and decompose additively by
    // subgroup at lake scale). Counts have a tiny domain, so both
    // indices reduce to folds over the value cells:
    // T = (Σ m·x·ln x)/S − ln S + ln N and
    // L = ln S − ln N − (Σ m·ln x)/N — every portable_ln argument an
    // INTEGER (x ≤ ~40, well inside the 1..9169 libm-parity domain;
    // ln S and ln N integer-valued too), folded in x-sorted order
    // (the q138 pattern). Degenerate N = 0 or S = 0 guards NaN.
    QueryDef("q301_theil_inequality", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("m"))
      cells
        .select(struct(col("x"), col("m")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("cs"),
          sumInOrder(col("cs"), lit(0L))(_.getField("m")).as("n"),
          sumInOrder(col("cs"), lit(0L))(c => c.getField("m") * c.getField("x"))
            .as("s_tot"))
        .select(col("n"), col("s_tot"),
          when(col("n") > 0 && col("s_tot") > 0,
            sumInOrder(col("cs"))(c => dbl(c.getField("m") * c.getField("x"))
                * pln(c.getField("x")))
              / dbl(col("s_tot"))
              - pln(col("s_tot")) + pln(col("n")))
            .otherwise(lit(Double.NaN)).as("theil_t"),
          when(col("n") > 0 && col("s_tot") > 0,
            pln(col("s_tot")) - pln(col("n"))
              - sumInOrder(col("cs"))(c =>
                dbl(c.getField("m")) * pln(c.getField("x")))
                / dbl(col("n")))
            .otherwise(lit(Double.NaN)).as("theil_l"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      cells AS (SELECT x, CAST(count(*) AS BIGINT) AS m
        FROM per GROUP BY 1),
      l AS (SELECT list_sort(list(struct_pack(x := x, m := m))) AS cs
        FROM cells),
      a AS (SELECT cs,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.m)), (a, b) -> a + b) AS n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.m * c.x)), (a, b) -> a + b)
          AS s_tot
        FROM l)
      SELECT n, s_tot,
        CASE WHEN n > 0 AND s_tot > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, c -> CAST(c.m * c.x AS DOUBLE)
                * ln(CAST(c.x AS DOUBLE)))), (a, b) -> a + b)
            / CAST(s_tot AS DOUBLE)
            - ln(CAST(s_tot AS DOUBLE)) + ln(CAST(n AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS theil_t,
        CASE WHEN n > 0 AND s_tot > 0
          THEN ln(CAST(s_tot AS DOUBLE)) - ln(CAST(n AS DOUBLE))
            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, c -> CAST(c.m AS DOUBLE)
                * ln(CAST(c.x AS DOUBLE)))), (a, b) -> a + b)
            / CAST(n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS theil_l
      FROM a""")),

    // Simpson diversity profile of each source's language mix —
    // "how concentrated is a crawl source on its dominant
    // language?" per source, the ecology-standard trio: the
    // unbiased Simpson index D = Σnᵢ(nᵢ−1)/(N(N−1)) (the
    // probability two random docs share a language), its
    // Gini–Simpson complement, and the Berger–Parker dominance
    // max nᵢ/N. All numerators and denominators are exact BIGINT
    // from the ≤source×lang cell table; two divisions per source
    // row. Single-doc sources (N ≤ 1) guard NaN.
    QueryDef("q302_simpson_diversity", (s, d) => {
      t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_docs"),
          coalesce(sum(col("n") * (col("n") - 1L)), lit(0L)).as("num"),
          coalesce(max(col("n")), lit(0L)).as("mx"))
        .select(col("source"), col("n_docs"),
          when(col("n_docs") > 1,
            dbl(col("num")) / dbl(col("n_docs") * (col("n_docs") - 1L)))
            .otherwise(lit(Double.NaN)).as("simpson_d"),
          when(col("n_docs") > 1,
            lit(1.0) - dbl(col("num"))
              / dbl(col("n_docs") * (col("n_docs") - 1L)))
            .otherwise(lit(Double.NaN)).as("gini_simpson"),
          when(col("n_docs") > 0,
            dbl(col("mx")) / dbl(col("n_docs")))
            .otherwise(lit(Double.NaN)).as("berger_parker"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      a AS (SELECT source,
          CAST(coalesce(sum(n), 0) AS BIGINT) AS n_docs,
          CAST(coalesce(sum(n * (n - 1)), 0) AS BIGINT) AS num,
          CAST(coalesce(max(n), 0) AS BIGINT) AS mx
        FROM cells GROUP BY 1)
      SELECT source, n_docs,
        CASE WHEN n_docs > 1
          THEN CAST(num AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS simpson_d,
        CASE WHEN n_docs > 1
          THEN 1.0 - CAST(num AS DOUBLE)
            / CAST(n_docs * (n_docs - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS gini_simpson,
        CASE WHEN n_docs > 0
          THEN CAST(mx AS DOUBLE) / CAST(n_docs AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS berger_parker
      FROM a""")),

    // Bray–Curtis dissimilarity and Morisita–Horn overlap for every
    // source pair over the language-count composition — the
    // community-ecology pair-matrix answering "which crawl sources
    // have interchangeable language mixes?" (q144's vocab overlap
    // compares term SETS; these weight by abundance). The shared-lang
    // sums Σmin and Σn₁n₂ come from a lang-keyed inner self-join of
    // the ≤source×lang cells (absent langs contribute 0 to both);
    // per-source totals N and Σn² attach via two broadcast joins on
    // the pair frame (s1 < s2 — ≤(sources choose 2) rows BY
    // CONSTRUCTION). BC = 1 − 2Σmin/(N₁+N₂) is exact-BIGINT-until-
    // one-division; the Morisita–Horn quotient
    // 2Σn₁n₂·N₁N₂/(Σn₁²·N₂² + Σn₂²·N₁²) is assembled in DOUBLE (the
    // four-factor products overflow BIGINT at web scale — q228 rule).
    QueryDef("q303_bray_curtis", (s, d) => {
      val cells = t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy(col("source"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("nt"),
          coalesce(sum(col("n") * col("n")), lit(0L)).as("q2"))
      val shared = cells.select(col("source").as("s1"), col("lang"),
          col("n").as("n1"))
        .join(cells.select(col("source").as("s2"), col("lang"),
          col("n").as("n2")), Seq("lang"))
        .where(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(coalesce(sum(least(col("n1"), col("n2"))), lit(0L))
            .as("sum_min"),
          coalesce(sum(col("n1") * col("n2")), lit(0L)).as("sum_xy"))
      val pairs = tot.select(col("source").as("s1"),
          col("nt").as("nt1"), col("q2").as("q21"))
        .crossJoin(broadcast(tot.select(col("source").as("s2"),
          col("nt").as("nt2"), col("q2").as("q22"))))
        .where(col("s1") < col("s2"))
      pairs.join(shared, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          coalesce(col("sum_min"), lit(0L)).as("sum_min"),
          coalesce(col("sum_xy"), lit(0L)).as("sum_xy"),
          col("nt1"), col("nt2"), col("q21"), col("q22"))
        .select(col("s1"), col("s2"),
          when(col("nt1") + col("nt2") > 0,
            lit(1.0) - dbl(lit(2L) * col("sum_min"))
              / dbl(col("nt1") + col("nt2")))
            .otherwise(lit(Double.NaN)).as("bray_curtis"),
          when(dbl(col("q21")) * dbl(col("nt2")) * dbl(col("nt2"))
              + dbl(col("q22")) * dbl(col("nt1")) * dbl(col("nt1"))
              > 0.0,
            lit(2.0) * dbl(col("sum_xy")) * dbl(col("nt1"))
              * dbl(col("nt2"))
              / (dbl(col("q21")) * dbl(col("nt2")) * dbl(col("nt2"))
                + dbl(col("q22")) * dbl(col("nt1")) * dbl(col("nt1"))))
            .otherwise(lit(Double.NaN)).as("morisita_horn"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      tot AS (SELECT source, CAST(coalesce(sum(n), 0) AS BIGINT) AS nt,
          CAST(coalesce(sum(n * n), 0) AS BIGINT) AS q2
        FROM cells GROUP BY 1),
      shared AS (SELECT a.source AS s1, b.source AS s2,
          CAST(coalesce(sum(least(a.n, b.n)), 0) AS BIGINT) AS sum_min,
          CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS sum_xy
        FROM cells a JOIN cells b ON a.lang = b.lang
          AND a.source < b.source
        GROUP BY 1, 2),
      pairs AS (SELECT a.source AS s1, b.source AS s2,
          a.nt AS nt1, b.nt AS nt2, a.q2 AS q21, b.q2 AS q22
        FROM tot a CROSS JOIN tot b WHERE a.source < b.source)
      SELECT s1, s2,
        CASE WHEN nt1 + nt2 > 0
          THEN 1.0 - CAST(2 * coalesce(sum_min, 0) AS DOUBLE)
            / CAST(nt1 + nt2 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS bray_curtis,
        CASE WHEN CAST(q21 AS DOUBLE) * CAST(nt2 AS DOUBLE)
            * CAST(nt2 AS DOUBLE)
            + CAST(q22 AS DOUBLE) * CAST(nt1 AS DOUBLE)
            * CAST(nt1 AS DOUBLE) > 0.0
          THEN 2.0 * CAST(coalesce(sum_xy, 0) AS DOUBLE)
            * CAST(nt1 AS DOUBLE) * CAST(nt2 AS DOUBLE)
            / (CAST(q21 AS DOUBLE) * CAST(nt2 AS DOUBLE)
              * CAST(nt2 AS DOUBLE)
              + CAST(q22 AS DOUBLE) * CAST(nt1 AS DOUBLE)
              * CAST(nt1 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS morisita_horn
      FROM pairs LEFT JOIN shared USING (s1, s2)""")),

    // Krippendorff's nominal α between the n-gram language
    // classifier and ground truth — the chance-corrected agreement
    // coefficient that (unlike q218's Cohen κ) is built from a
    // COINCIDENCE matrix, generalizes to missing data, and is the
    // content-analysis standard. For two raters over N units the
    // nominal form collapses to exact BIGINT margins:
    // α = 1 − (n−1)·2·disagree / (n² − Σ_c n_c²) with n = 2N and
    // n_c each category's count across BOTH raters (classifier
    // 'und' verdicts are their own category — a disagreement with
    // every truth label, which is exactly how Krippendorff treats
    // a distinct value). One double division; a degenerate margin
    // (single category) guards NaN.
    QueryDef("q304_krippendorff", (s, d) => {
      import graft.functions.TextFunctions
      val rated = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pred"),
          col("lang").as("truth"))
      val base = rated.agg(count(lit(1)).as("n_units"),
        coalesce(sum(when(col("pred") =!= col("truth"), 1L)
          .otherwise(0L)), lit(0L)).as("disagree"))
      val margins = rated.select(col("pred").as("v"))
        .unionByName(rated.select(col("truth").as("v")))
        .groupBy("v").agg(count(lit(1)).as("nc"))
        .agg(coalesce(sum(col("nc") * col("nc")), lit(0L)).as("sq"))
      base.crossJoin(broadcast(margins))
        .withColumn("n2", lit(2L) * col("n_units"))
        .select(col("n_units"), col("disagree"),
          when(col("n2") * col("n2") - col("sq") > 0,
            lit(1.0) - dbl((col("n2") - 1L) * lit(2L) * col("disagree"))
              / dbl(col("n2") * col("n2") - col("sq")))
            .otherwise(lit(Double.NaN)).as("alpha_k"))
    }, Some("""
      WITH rated AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pred, lang AS truth
        FROM documents),
      base AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
          CAST(coalesce(sum(CASE WHEN pred <> truth THEN 1 ELSE 0 END),
            0) AS BIGINT) AS disagree
        FROM rated),
      margins AS (SELECT CAST(coalesce(sum(nc * nc), 0) AS BIGINT) AS sq
        FROM (SELECT v, CAST(count(*) AS BIGINT) AS nc
          FROM (SELECT pred AS v FROM rated
            UNION ALL SELECT truth FROM rated)
          GROUP BY 1)),
      a AS (SELECT *, 2 * n_units AS n2 FROM base, margins)
      SELECT n_units, disagree,
        CASE WHEN n2 * n2 - sq > 0
          THEN 1.0 - CAST((n2 - 1) * 2 * disagree AS DOUBLE)
            / CAST(n2 * n2 - sq AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS alpha_k
      FROM a""")),

    // One-way random-effects intraclass correlation ICC(1,1) of
    // per-customer order counts grouped by nation — "how much of
    // the variance in account activity is BETWEEN nations?" — the
    // reliability companion to q226's ANOVA F (same decomposition,
    // different readout), with the unequal-group-size correction
    // k₀ = (N − Σnᵢ²/N)/(g−1). Per-group moments (nᵢ, Sᵢ) are exact
    // BIGINT; the three rational reductions Σ Sᵢ²/nᵢ, Σnᵢ², and the
    // grand terms fold in nation-sorted order over the ≤nation-count
    // cell list (q138 pattern), and MSB/MSW/ICC are a fixed IEEE
    // tree. Degenerate designs (g ≤ 1 or N ≤ g) guard NaN.
    QueryDef("q305_icc1", (s, d) => {
      val per = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("nk"), col("o_custkey"))
        .agg(count(lit(1)).as("x"))
      val grp = per.groupBy("nk")
        .agg(count(lit(1)).as("ni"),
          coalesce(sum(col("x")), lit(0L)).as("si"),
          coalesce(sum(col("x") * col("x")), lit(0L)).as("qi"))
      grp.select(struct(col("nk"), col("ni"), col("si"), col("qi"))
          .as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(
          sumInOrder(col("cs"), lit(0L))(_ => lit(1L)).as("g"),
          sumInOrder(col("cs"), lit(0L))(_.getField("ni")).as("n"),
          sumInOrder(col("cs"), lit(0L))(_.getField("si")).as("s_tot"),
          sumInOrder(col("cs"), lit(0L))(_.getField("qi")).as("q_tot"),
          sumInOrder(col("cs"), lit(0L))(c =>
            c.getField("ni") * c.getField("ni"))
            .as("sn2"),
          sumInOrder(col("cs"))(c => dbl(c.getField("si") * c.getField("si"))
              / dbl(c.getField("ni"))).as("sb"))
        .withColumn("ssb", col("sb")
          - dbl(col("s_tot") * col("s_tot")) / dbl(col("n")))
        .withColumn("ssw", dbl(col("q_tot")) - col("sb"))
        .withColumn("msb",
          when(col("g") > 1, col("ssb") / dbl(col("g") - 1L)))
        .withColumn("msw",
          when(col("n") > col("g"),
            col("ssw") / dbl(col("n") - col("g"))))
        .withColumn("k0",
          when(col("g") > 1,
            (dbl(col("n")) - dbl(col("sn2")) / dbl(col("n")))
              / dbl(col("g") - 1L)))
        .select(col("g").as("n_groups"), col("n"),
          col("msb"), col("msw"),
          when(col("g") > 1 && col("n") > col("g")
              && (col("msb") + (col("k0") - lit(1.0)) * col("msw"))
                =!= 0.0,
            (col("msb") - col("msw"))
              / (col("msb") + (col("k0") - lit(1.0)) * col("msw")))
            .otherwise(lit(Double.NaN)).as("icc1"))
    }, Some("""
      WITH per AS (SELECT c.c_nationkey AS nk, o.o_custkey,
          CAST(count(*) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      grp AS (SELECT nk, CAST(count(*) AS BIGINT) AS ni,
          CAST(coalesce(sum(x), 0) AS BIGINT) AS si,
          CAST(coalesce(sum(x * x), 0) AS BIGINT) AS qi
        FROM per GROUP BY 1),
      l AS (SELECT list_sort(list(struct_pack(nk := nk, ni := ni,
          si := si, qi := qi))) AS cs FROM grp),
      a AS (SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> CAST(1 AS BIGINT))),
          (a, b) -> a + b) AS g,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.ni)), (a, b) -> a + b) AS n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.si)), (a, b) -> a + b) AS s_tot,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.qi)), (a, b) -> a + b) AS q_tot,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.ni * c.ni)), (a, b) -> a + b)
          AS sn2,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.si * c.si AS DOUBLE)
            / CAST(c.ni AS DOUBLE))), (a, b) -> a + b) AS sb
        FROM l),
      m AS (SELECT *,
        sb - CAST(s_tot * s_tot AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        CAST(q_tot AS DOUBLE) - sb AS ssw
        FROM a),
      f AS (SELECT *,
        CASE WHEN g > 1 THEN ssb / CAST(g - 1 AS DOUBLE) END AS msb,
        CASE WHEN n > g THEN ssw / CAST(n - g AS DOUBLE) END AS msw,
        CASE WHEN g > 1 THEN (CAST(n AS DOUBLE)
            - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE))
          / CAST(g - 1 AS DOUBLE) END AS k0
        FROM m)
      SELECT g AS n_groups, n, msb, msw,
        CASE WHEN g > 1 AND n > g
            AND msb + (k0 - 1.0) * msw <> 0.0
          THEN (msb - msw) / (msb + (k0 - 1.0) * msw)
          ELSE CAST('nan' AS DOUBLE) END AS icc1
      FROM f""")),

    // Nelson–Aalen cumulative hazard over the q192 user-lifetime
    // life-table — the additive counterpart to Kaplan–Meier's
    // product (less bias at small at-risk counts, and the natural
    // input to Cox-model diagnostics), plus its Poisson variance
    // Σd/n². Identical cell machinery to q192 (domain-bounded
    // durations, PrefixSum at-risk counts, factor lists from a cell
    // self-join — never a correlated lambda), but each row's fold
    // SUMS d/n in duration-sorted order with a left-join identity of
    // exactly 0.0 (a true IEEE no-op, as 1.0 is for the product).
    QueryDef("q306_nelson_aalen", (s, d) => {
      kmRiskSets(s, d)
        .select(col("t"), col("at_risk"), col("d"), col("c"),
          sumInOrder(col("fs"))(f => coalesce(f.getField("bd").cast("double") /
              f.getField("bar").cast("double"), lit(0.0)))
            .as("cum_hazard"),
          sumInOrder(col("fs"))(f => coalesce(f.getField("bd").cast("double") /
              (f.getField("bar").cast("double")
                * f.getField("bar").cast("double")), lit(0.0)))
            .as("var_na"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      died AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      cells AS (SELECT t, CAST(sum(died) AS BIGINT) AS d,
          CAST(sum(1 - died) AS BIGINT) AS c
        FROM span JOIN died USING (user_id) GROUP BY 1),
      enr AS (SELECT t, d, c,
          CAST(sum(d + c) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS at_risk
        FROM cells),
      fs AS (SELECT a.t, a.at_risk, a.d, a.c,
          list_sort(list(struct_pack(bt := b.t, bd := b.d,
            bar := b.at_risk))) AS fs
        FROM enr a LEFT JOIN enr b ON b.t <= a.t AND b.d > 0
        GROUP BY 1, 2, 3, 4)
      SELECT t, at_risk, d, c,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(fs, f -> coalesce(
            CAST(f.bd AS DOUBLE) / CAST(f.bar AS DOUBLE), 0.0))),
          (a, b) -> a + b) AS cum_hazard,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(fs, f -> coalesce(
            CAST(f.bd AS DOUBLE) / (CAST(f.bar AS DOUBLE)
              * CAST(f.bar AS DOUBLE)), 0.0))),
          (a, b) -> a + b) AS var_na
      FROM fs""")),

    // Lo–MacKinlay variance-ratio statistic VR(5) on the daily
    // event-count series — the random-walk diagnostic: if daily
    // volumes are serially independent, the variance of overlapping
    // 5-day sums is 5× the 1-day variance and VR = 1; VR > 1 flags
    // positive persistence (load waves), VR < 1 mean reversion.
    // Common-denominator form keeps it exact: with S = Σc the
    // centered squares Σ(n·yᵢ−qS)² (5-day window sums yᵢ, a
    // dimension-sized ROWS frame) and Σ(n·cᵢ−S)² are BIGINT, so
    // VR = A(n−1)/(qBm) with m = n−q+1 is ONE double division, and
    // the homoskedastic z = (VR−1)/√(2(2q−1)(q−1)/(3qn)) a fixed
    // tree. Constant series (B = 0) or n ≤ q guard NaN.
    QueryDef("q307_variance_ratio", (s, d) => {
      val q = 5
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c")), lit(0L)).as("s_tot"))
      val w = Window.orderBy("day")
      daily.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("y",
          sum(col("c")).over(w.rowsBetween(-(q - 1), 0)))
        .agg(max(col("n")).as("n"),
          coalesce(sum((col("n") * col("c") - col("s_tot"))
            * (col("n") * col("c") - col("s_tot"))), lit(0L)).as("b"),
          coalesce(sum(when(col("i") >= q,
            (col("n") * col("y") - lit(q.toLong) * col("s_tot"))
              * (col("n") * col("y") - lit(q.toLong) * col("s_tot")))
            .otherwise(0L)), lit(0L)).as("a"))
        .select(col("n").as("n_days"), lit(q.toLong).as("q"),
          when(col("b") > 0 && col("n") > q,
            dbl(col("a") * (col("n") - 1L))
              / dbl(lit(q.toLong) * col("b")
                * (col("n") - lit(q.toLong) + 1L)))
            .otherwise(lit(Double.NaN)).as("vr"),
          when(col("b") > 0 && col("n") > q,
            (dbl(col("a") * (col("n") - 1L))
              / dbl(lit(q.toLong) * col("b")
                * (col("n") - lit(q.toLong) + 1L)) - lit(1.0))
              / sqrt(dbl(lit(2L * (2 * q - 1) * (q - 1)))
                / (lit(3.0 * q) * dbl(col("n")))))
            .otherwise(lit(Double.NaN)).as("z_vr"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot FROM daily),
      seq AS (SELECT day, c, n, s_tot,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
          CAST(sum(c) OVER (ORDER BY day
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS y
        FROM daily, tot),
      agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
        CAST(coalesce(sum((n * c - s_tot) * (n * c - s_tot)), 0)
          AS BIGINT) AS b,
        CAST(coalesce(sum(CASE WHEN i >= 5
          THEN (n * y - 5 * s_tot) * (n * y - 5 * s_tot)
          ELSE 0 END), 0) AS BIGINT) AS a
        FROM seq)
      SELECT n AS n_days, CAST(5 AS BIGINT) AS q,
        CASE WHEN b > 0 AND n > 5
          THEN CAST(a * (n - 1) AS DOUBLE)
            / CAST(5 * b * (n - 5 + 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS vr,
        CASE WHEN b > 0 AND n > 5
          THEN (CAST(a * (n - 1) AS DOUBLE)
              / CAST(5 * b * (n - 5 + 1) AS DOUBLE) - 1.0)
            / sqrt(CAST(72 AS DOUBLE) / (15.0 * CAST(n AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS z_vr
      FROM agg""")),

    // Yule's K, Sichel's S, and Honoré's H — the classical
    // vocabulary-richness trio over the corpus token-frequency
    // spectrum, complementing q283's Chao1 (which extrapolates
    // UNSEEN types; these characterize the observed repeat
    // structure, and K is famously text-length-invariant). The
    // spectrum identity Σₘ m²Vₘ = Σ_terms r² lets everything reduce
    // to exact BIGINT moments of the term-count table (same
    // whitespace tokenization as q283): K = 10⁴(Σr² − N)/N²
    // (denominator assembled in DOUBLE — N² overflows BIGINT at
    // web scale, the q228 rule), S = V₂/V, and
    // H = 100·ln N·V/(V − V₁) with the only ln argument an
    // integer-valued N. A hapax-only vocabulary (V = V₁) guards H
    // to NaN.
    QueryDef("q308_yule_k", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("r"))
        .agg(
          count(lit(1)).as("v_types"),
          coalesce(sum(col("r")), lit(0L)).as("n_tok"),
          coalesce(sum(col("r") * col("r")), lit(0L)).as("sum_r2"),
          coalesce(sum(when(col("r") === 1, 1L).otherwise(0L)),
            lit(0L)).as("v1"),
          coalesce(sum(when(col("r") === 2, 1L).otherwise(0L)),
            lit(0L)).as("v2"))
        .select(col("n_tok"), col("v_types"), col("v1"), col("v2"),
          when(col("n_tok") > 0,
            lit(10000.0) * (dbl(col("sum_r2")) - dbl(col("n_tok")))
              / (dbl(col("n_tok")) * dbl(col("n_tok"))))
            .otherwise(lit(Double.NaN)).as("yule_k"),
          when(col("v_types") > 0,
            dbl(col("v2")) / dbl(col("v_types")))
            .otherwise(lit(Double.NaN)).as("sichel_s"),
          when(col("v_types") > col("v1") && col("n_tok") > 0,
            lit(100.0) * pln(col("n_tok")) * dbl(col("v_types"))
              / dbl(col("v_types") - col("v1")))
            .otherwise(lit(Double.NaN)).as("honore_h"))
    }, Some("""
      WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS r
        FROM (SELECT unnest(string_split(text, ' ')) AS term
          FROM documents)
        WHERE len(term) > 0 GROUP BY 1),
      a AS (SELECT CAST(count(*) AS BIGINT) AS v_types,
        CAST(coalesce(sum(r), 0) AS BIGINT) AS n_tok,
        CAST(coalesce(sum(r * r), 0) AS BIGINT) AS sum_r2,
        CAST(coalesce(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS v1,
        CAST(coalesce(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS v2
        FROM tc)
      SELECT n_tok, v_types, v1, v2,
        CASE WHEN n_tok > 0
          THEN 10000.0 * (CAST(sum_r2 AS DOUBLE) - CAST(n_tok AS DOUBLE))
            / (CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS yule_k,
        CASE WHEN v_types > 0
          THEN CAST(v2 AS DOUBLE) / CAST(v_types AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS sichel_s,
        CASE WHEN v_types > v1 AND n_tok > 0
          THEN 100.0 * ln(CAST(n_tok AS DOUBLE))
            * CAST(v_types AS DOUBLE)
            / CAST(v_types - v1 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS honore_h
      FROM a""")),

    // Inverse-variance meta-analysis across nations — each nation is
    // a "study" of the urgent-priority → finished-status association
    // (per-nation 2×2 log-odds ratio), pooled fixed-effect, with
    // Cochran's Q heterogeneity, DerSimonian–Laird τ², and I² — the
    // multi-site readout "is the effect consistent across markets,
    // and how much true heterogeneity remains?" that q276's
    // Breslow–Day only TESTS and CMH (q225) only pools. Each θᵢ =
    // ln(aᵢdᵢ) − ln(bᵢcᵢ) keeps portable_ln arguments INTEGER;
    // zero-cell nations drop (no Haldane 0.5 — it would feed
    // non-integer lns; the drop is the documented policy). Weighted
    // sums fold nation-sorted (q138), θ_F first, then Q in a second
    // fold over the SAME retained list. τ² floors at 0; I² guards on
    // Q > 0, τ² on a positive DL denominator.
    QueryDef("q309_meta_fixed", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nk")
        .agg(
          coalesce(sum(when(substring(col("o_orderpriority"), 1, 1)
              === "1" && col("o_orderstatus") === "F", 1L)
            .otherwise(0L)), lit(0L)).as("a"),
          coalesce(sum(when(substring(col("o_orderpriority"), 1, 1)
              === "1" && col("o_orderstatus") =!= "F", 1L)
            .otherwise(0L)), lit(0L)).as("b"),
          coalesce(sum(when(substring(col("o_orderpriority"), 1, 1)
              =!= "1" && col("o_orderstatus") === "F", 1L)
            .otherwise(0L)), lit(0L)).as("c"),
          coalesce(sum(when(substring(col("o_orderpriority"), 1, 1)
              =!= "1" && col("o_orderstatus") =!= "F", 1L)
            .otherwise(0L)), lit(0L)).as("dd"))
        .where(col("a") > 0 && col("b") > 0 && col("c") > 0
          && col("dd") > 0)
        .select(col("nk"),
          (pln(col("a") * col("dd")) - pln(col("b") * col("c")))
            .as("theta"),
          (lit(1.0) / (lit(1.0) / dbl(col("a"))
            + lit(1.0) / dbl(col("b")) + lit(1.0) / dbl(col("c"))
            + lit(1.0) / dbl(col("dd")))).as("wt"))
      cells.select(struct(col("nk"), col("theta"), col("wt"))
          .as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("cs"),
          size(col("cs")).cast("long").as("k"),
          sumInOrder(col("cs"))(_.getField("wt")).as("sw"),
          sumInOrder(col("cs"))(c => c.getField("wt") * c.getField("theta"))
            .as("swt"),
          sumInOrder(col("cs"))(c => c.getField("wt") * c.getField("wt"))
            .as("sw2"))
        .withColumn("theta_fixed",
          when(col("sw") > 0, col("swt") / col("sw")))
        .withColumn("q_het",
          sumInOrder(col("cs"))(c => c.getField("wt")
              * (c.getField("theta") - col("theta_fixed"))
              * (c.getField("theta") - col("theta_fixed"))))
        .select(col("k").as("k_studies"), col("theta_fixed"),
          col("q_het"),
          when(col("k") > 1 && col("sw") - col("sw2") / col("sw") > 0,
            greatest(lit(0.0),
              (col("q_het") - dbl(col("k") - 1L))
                / (col("sw") - col("sw2") / col("sw"))))
            .otherwise(lit(Double.NaN)).as("tau2_dl"),
          when(col("q_het") > 0,
            greatest(lit(0.0),
              (col("q_het") - dbl(col("k") - 1L)) / col("q_het")))
            .otherwise(lit(Double.NaN)).as("i2"))
    }, Some("""
      WITH cells0 AS (SELECT c.c_nationkey AS nk,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1) = '1'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1) = '1'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS b,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1) <> '1'
            AND o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS c,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1) <> '1'
            AND o_orderstatus <> 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS dd
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      cells AS (SELECT * FROM cells0
        WHERE a > 0 AND b > 0 AND c > 0 AND dd > 0),
      st AS (SELECT nk,
          ln(CAST(a * dd AS DOUBLE)) - ln(CAST(b * c AS DOUBLE))
            AS theta,
          1.0 / (1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
            + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(dd AS DOUBLE))
            AS wt
        FROM cells),
      l AS (SELECT list_sort(list(struct_pack(nk := nk,
          theta := theta, wt := wt))) AS cs FROM st),
      a1 AS (SELECT cs, CAST(len(cs) AS BIGINT) AS k,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.wt)), (a, b) -> a + b) AS sw,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.wt * c.theta)), (a, b) -> a + b)
          AS swt,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.wt * c.wt)), (a, b) -> a + b)
          AS sw2
        FROM l),
      a2 AS (SELECT *,
        CASE WHEN sw > 0 THEN swt / sw END AS theta_fixed
        FROM a1),
      a3 AS (SELECT *,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.wt * (c.theta - theta_fixed)
            * (c.theta - theta_fixed))), (a, b) -> a + b) AS q_het
        FROM a2)
      SELECT k AS k_studies, theta_fixed, q_het,
        CASE WHEN k > 1 AND sw - sw2 / sw > 0
          THEN greatest(0.0, (q_het - CAST(k - 1 AS DOUBLE))
            / (sw - sw2 / sw))
          ELSE CAST('nan' AS DOUBLE) END AS tau2_dl,
        CASE WHEN q_het > 0
          THEN greatest(0.0, (q_het - CAST(k - 1 AS DOUBLE)) / q_het)
          ELSE CAST('nan' AS DOUBLE) END AS i2
      FROM a3""")),

    // Per-node local clustering coefficient on the undirected view of
    // the deterministic synthetic graph (the q161/q290 construction)
    // — "how interconnected is each entity's neighborhood?", the
    // node-level refinement of q148's global triangle census and the
    // standard structural feature for KG-entity triage. Triangles
    // are enumerated once in canonical a<b<c orientation (the
    // merge-path shape that avoids counting each 3-cycle six times),
    // exploded to their three corners, and counted per node;
    // Cᵥ = 2Tᵥ/(degᵥ(degᵥ−1)) is one double division per node row,
    // NaN for degree < 2. Every step is a keyed equi-join — the
    // same plan runs on a billion-edge graph.
    QueryDef("q310_local_clustering", (s, d) => {
      val nodes = docNodes(s, d)
      val dir = nodes
        .select(col("x").as("src"),
          ((col("x") * col("x") + 1) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 7 + 5) % 389).as("dst")))
        .where(col("src") =!= col("dst"))
      val und = dir.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val tri = und.select(col("a"), col("b"))
        .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select(explode(array(col("a"), col("b"), col("c")))
          .as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      deg.join(tri, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .select(col("node"), col("deg"), col("tri"),
          when(col("deg") > 1,
            dbl(lit(2L) * col("tri"))
              / dbl(col("deg") * (col("deg") - 1L)))
            .otherwise(lit(Double.NaN)).as("c_local"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      dir AS (SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
        UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0),
      und AS (SELECT DISTINCT least(src, dst) AS a,
          greatest(src, dst) AS b
        FROM dir WHERE src <> dst),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
      tri AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
          SELECT unnest([e1.a, e1.b, e2.c]) AS node
          FROM und e1
          JOIN (SELECT a AS b2, b AS c FROM und) e2 ON e1.b = e2.b2
          JOIN (SELECT a, b AS c FROM und) e3
            ON e1.a = e3.a AND e2.c = e3.c)
        GROUP BY 1)
      SELECT node, deg, coalesce(tri, 0) AS tri,
        CASE WHEN deg > 1
          THEN CAST(2 * coalesce(tri, 0) AS DOUBLE)
            / CAST(deg * (deg - 1) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS c_local
      FROM deg LEFT JOIN tri USING (node)""")),

    // Gini coefficient of the synthetic graph's total-degree
    // distribution — "how hub-dominated is the graph?" as one exact
    // number (q177 fits the tail exponent; Gini summarizes the WHOLE
    // inequality, the standard scale-free-ness sanity check before
    // skew-handling decisions). Fully exact: degree value-cells with
    // multiplicity m at running count cum give the rank-weighted sum
    // 2W = Σ v·m·(2·cum − m + 1) via the distributed PrefixSum CDF,
    // and G = (2W − (n+1)S)/(nS) is exact BIGINT until ONE double
    // division. Zero total degree guards NaN.
    QueryDef("q311_degree_gini", (s, d) => {
      val edges = docGraph(s, d)
      val deg = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val cells = deg.groupBy(col("dg").as("v"))
        .agg(count(lit(1)).as("m"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("m"))
      cum.agg(
          coalesce(sum(col("m")), lit(0L)).as("n"),
          coalesce(sum(col("v") * col("m")), lit(0L)).as("s_deg"),
          coalesce(sum(col("v") * col("m")
            * (lit(2L) * col("m_cum") - col("m") + 1L)), lit(0L))
            .as("w2"))
        .select(col("n").as("n_nodes"), col("s_deg").as("sum_deg"),
          when(col("n") > 0 && col("s_deg") > 0,
            dbl(col("w2") - (col("n") + 1L) * col("s_deg"))
              / dbl(col("n") * col("s_deg")))
            .otherwise(lit(Double.NaN)).as("gini_degree"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0)
        WHERE src <> dst),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        GROUP BY 1),
      cells AS (SELECT dg AS v, CAST(count(*) AS BIGINT) AS m
        FROM deg GROUP BY 1),
      cum AS (SELECT *, CAST(sum(m) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS m_cum FROM cells),
      a AS (SELECT
        CAST(coalesce(sum(m), 0) AS BIGINT) AS n,
        CAST(coalesce(sum(v * m), 0) AS BIGINT) AS s_deg,
        CAST(coalesce(sum(v * m * (2 * m_cum - m + 1)), 0)
          AS BIGINT) AS w2
        FROM cum)
      SELECT n AS n_nodes, s_deg AS sum_deg,
        CASE WHEN n > 0 AND s_deg > 0
          THEN CAST(w2 - (n + 1) * s_deg AS DOUBLE)
            / CAST(n * s_deg AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS gini_degree
      FROM a""")),

    // Truncated harmonic centrality (incoming distance ≤ 3) on the
    // synthetic digraph — H(v) = Σᵤ 1/d(u,v), the centrality that
    // stays well-defined on DISCONNECTED graphs where closeness
    // diverges, truncated to the 3-hop horizon like q291's Katz (the
    // difference: harmonic weights by exact hop DISTANCE, Katz by
    // attenuated WALK counts — a node reached twice counts once
    // here). Distance shells are set algebra on keyed joins:
    // D₁ = predecessors, D₂ = preds(D₁) ∖ (D₁ ∪ self),
    // D₃ = preds(D₂) ∖ (D₂ ∪ D₁ ∪ self) — left-anti joins, each
    // shuffle keyed on the target node, the per-iteration shape that
    // scales like the BFS/PageRank legs. H = |D₁| + |D₂|/2 + |D₃|/3
    // is one fixed tree per node.
    QueryDef("q312_harmonic", (s, d) => {
      val nodes = docNodes(s, d)
      val edges = docGraph(s, d)
        // two out-edges per node; feeds d1/d2/d3
        .transform(Cut.small(2 * 389))
      // distance-1 shell: direct predecessors of v
      val d1 = edges.select(col("dst").as("v"), col("src").as("u"))
        .distinct()
        // feeds d2, d3's anti-joins and its count
        .transform(Cut.small(2 * 389))
      // distance-2: predecessors of the d1 shell, minus d1 and self
      val d2 = d1.select(col("v"), col("u").as("mid"))
        .join(edges.select(col("dst").as("mid"), col("src").as("u")),
          Seq("mid"))
        .select(col("v"), col("u")).distinct()
        .where(col("u") =!= col("v"))
        .join(d1, Seq("v", "u"), "left_anti")
        .transform(Cut.small(389 * 389)) // feeds d3 and its count
      val d3 = d2.select(col("v"), col("u").as("mid"))
        .join(edges.select(col("dst").as("mid"), col("src").as("u")),
          Seq("mid"))
        .select(col("v"), col("u")).distinct()
        .where(col("u") =!= col("v"))
        .join(d1, Seq("v", "u"), "left_anti")
        .join(d2, Seq("v", "u"), "left_anti")
      def cnt(df: org.apache.spark.sql.DataFrame, out: String) =
        df.groupBy(col("v")).agg(count(lit(1)).as(out))
      nodes.select(col("x").as("v"))
        .join(cnt(d1, "n1"), Seq("v"), "left")
        .join(cnt(d2, "n2"), Seq("v"), "left")
        .join(cnt(d3, "n3"), Seq("v"), "left")
        .select(col("v").as("node"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"),
          coalesce(col("n3"), lit(0L)).as("n3"))
        .select(col("node"), col("n1"), col("n2"), col("n3"),
          (dbl(col("n1")) + dbl(col("n2")) / lit(2.0)
            + dbl(col("n3")) / lit(3.0)).as("harmonic"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0)
        WHERE src <> dst),
      d1 AS (SELECT DISTINCT dst AS v, src AS u FROM e),
      d2 AS (SELECT v, u FROM (
          SELECT DISTINCT d1.v, e.src AS u
          FROM d1 JOIN e ON d1.u = e.dst) p
        WHERE u <> v AND NOT EXISTS (SELECT 1 FROM d1
          WHERE d1.v = p.v AND d1.u = p.u)),
      d3 AS (SELECT v, u FROM (
          SELECT DISTINCT d2.v, e.src AS u
          FROM d2 JOIN e ON d2.u = e.dst) p
        WHERE u <> v AND NOT EXISTS (SELECT 1 FROM d1
          WHERE d1.v = p.v AND d1.u = p.u)
        AND NOT EXISTS (SELECT 1 FROM d2
          WHERE d2.v = p.v AND d2.u = p.u)),
      c1 AS (SELECT v, CAST(count(*) AS BIGINT) AS n1 FROM d1 GROUP BY 1),
      c2 AS (SELECT v, CAST(count(*) AS BIGINT) AS n2 FROM d2 GROUP BY 1),
      c3 AS (SELECT v, CAST(count(*) AS BIGINT) AS n3 FROM d3 GROUP BY 1)
      SELECT x AS node,
        CAST(coalesce(n1, 0) AS BIGINT) AS n1,
        CAST(coalesce(n2, 0) AS BIGINT) AS n2,
        CAST(coalesce(n3, 0) AS BIGINT) AS n3,
        CAST(coalesce(n1, 0) AS DOUBLE)
          + CAST(coalesce(n2, 0) AS DOUBLE) / 2.0
          + CAST(coalesce(n3, 0) AS DOUBLE) / 3.0 AS harmonic
      FROM nodes0
      LEFT JOIN c1 ON nodes0.x = c1.v
      LEFT JOIN c2 ON nodes0.x = c2.v
      LEFT JOIN c3 ON nodes0.x = c3.v""")),

    // Directed association-rule quality — confidence, lift, leverage,
    // conviction — for every frequent part pair (the q128 A-priori
    // front end), emitted BOTH directions since conviction is
    // asymmetric: "does a basket containing A commit it to B?" goes
    // beyond q128's raw support exactly the way a recommender needs.
    // Item and pair supports are exact BIGINT from the distinct
    // basket-item table; the four metrics are fixed IEEE trees with
    // the N² leverage denominator assembled in DOUBLE (q228 rule).
    // A perfect rule (conf = 1) sends conviction to NaN explicitly
    // rather than +Inf.
    QueryDef("q313_rule_metrics", (s, d) => {
      // each basket's sorted item set is collected once (state = items
      // per basket), spread and cut: nb, supp and the pair expansion read it
      val g = t(s, d, "lineitem")
        .select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item"))
        .groupBy("basket")
        .agg(sort_array(collect_set(col("item"))).as("items"))
        .transform(Spread.orderFree)
        .transform(Cut.large)
      val nb = g.agg(count(lit(1)).as("n"))
      val supp = g.select(explode(col("items")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("s"))
      val pairs = Pairs(g, "items", "ia", "ib", "sab")
        .where(col("sab") >= 3L)
      val rules = pairs
        .select(col("ia").as("ante"), col("ib").as("cons"), col("sab"))
        .unionByName(pairs.select(col("ib").as("ante"),
          col("ia").as("cons"), col("sab")))
      rules
        .join(broadcast(supp.select(col("item").as("ante"),
          col("s").as("sa"))), Seq("ante"))
        .join(broadcast(supp.select(col("item").as("cons"),
          col("s").as("sc"))), Seq("cons"))
        .crossJoin(broadcast(nb))
        .select(col("ante"), col("cons"), col("sab"),
          (dbl(col("sab")) / dbl(col("sa"))).as("conf"),
          (dbl(col("n") * col("sab"))
            / dbl(col("sa") * col("sc"))).as("lift"),
          (dbl(col("sab")) / dbl(col("n"))
            - dbl(col("sa")) * dbl(col("sc"))
              / (dbl(col("n")) * dbl(col("n")))).as("leverage"),
          when(col("sab") =!= col("sa"),
            (lit(1.0) - dbl(col("sc")) / dbl(col("n")))
              / (lit(1.0) - dbl(col("sab")) / dbl(col("sa"))))
            .otherwise(lit(Double.NaN)).as("conviction"))
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket,
          l_partkey AS item FROM lineitem),
      nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM b),
      supp AS (SELECT item, CAST(count(*) AS BIGINT) AS s
        FROM b GROUP BY 1),
      pairs AS (SELECT a.item AS ia, bb.item AS ib,
          CAST(count(*) AS BIGINT) AS sab
        FROM b a JOIN b bb
          ON a.basket = bb.basket AND a.item < bb.item
        GROUP BY 1, 2 HAVING count(*) >= 3),
      rules AS (SELECT ia AS ante, ib AS cons, sab FROM pairs
        UNION ALL SELECT ib, ia, sab FROM pairs)
      SELECT ante, cons, sab,
        CAST(sab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS conf,
        CAST(n * sab AS DOUBLE)
          / CAST(sa.s * sc.s AS DOUBLE) AS lift,
        CAST(sab AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS leverage,
        CASE WHEN sab <> sa.s
          THEN (1.0 - CAST(sc.s AS DOUBLE) / CAST(n AS DOUBLE))
            / (1.0 - CAST(sab AS DOUBLE) / CAST(sa.s AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS conviction
      FROM rules
      JOIN supp sa ON rules.ante = sa.item
      JOIN supp sc ON rules.cons = sc.item
      CROSS JOIN nb""")),

    // Quade test — the block-weighted rank ANOVA over the
    // nation × priority order-count design: like q264's Friedman it
    // asks "do priorities rank consistently across nations?", but
    // Quade WEIGHTS each nation-block by the rank of its range, so
    // high-signal markets dominate — the more powerful choice at
    // small k. Everything is integer to the last step: the
    // nation-anchored 25×5 grid (absent cells are true zero counts),
    // doubled within-block midranks from a block-local ≤5×5 cell
    // self-join, doubled block-range ranks from the PrefixSum CDF,
    // and the scaled scores S' = Q₂(r₂−(k+1)) whose common factor
    // cancels in F = (n−1)·ΣS'ⱼ² / (n·ΣS'ᵢⱼ² − ΣS'ⱼ²) — ONE double
    // division. A zero denominator (all blocks tie) guards NaN.
    QueryDef("q314_quade", (s, d) => {
      val counts = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("nk"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("g"))
        .agg(count(lit(1)).as("x0"))
      val grid = t(s, d, "customer")
        .select(col("c_nationkey").as("nk")).distinct()
        .crossJoin(broadcast(t(s, d, "region")
          .select((col("r_regionkey") + 1).cast("int").as("g"))))
        .join(counts, Seq("nk", "g"), "left")
        .select(col("nk"), col("g"),
          coalesce(col("x0"), lit(0L)).as("x"))
        // nations × priorities; feeds r2 (both self-join sides), rng and
        // sp/a4/b4/n
        .transform(Cut.small(25 * 5))
      val r2 = grid
        .join(grid.select(col("nk"), col("x").as("xb")), Seq("nk"))
        .groupBy("nk", "g", "x")
        .agg((lit(2L) * sum(when(col("xb") < col("x"), 1L)
            .otherwise(0L))
          + sum(when(col("xb") === col("x"), 1L).otherwise(0L))
          + 1L).as("r2"))
      val rng = grid.groupBy("nk")
        .agg((max(col("x")) - min(col("x"))).as("rng"))
      val rcells = rng.groupBy(col("rng").as("rv"))
        .agg(count(lit(1)).as("m"))
      val q2 = PrefixSum.withRunningTotals(rcells, "rv", Seq("m"))
        .select(col("rv").as("rng"),
          doubledMidrank("m").as("q2"))
      val sp = r2.join(rng, Seq("nk")).join(broadcast(q2), Seq("rng"))
        .select(col("nk"), col("g"),
          (col("q2") * (col("r2") - 6L)).as("sp"))
      val a4 = sp.agg(
        count(lit(1)).as("cells"),
        coalesce(sum(col("sp") * col("sp")), lit(0L)).as("a4"))
      val b4 = sp.groupBy("g")
        .agg(coalesce(sum(col("sp")), lit(0L)).as("sj"))
        .agg(coalesce(sum(col("sj") * col("sj")), lit(0L)).as("b4"))
      val n = rng.agg(count(lit(1)).as("n_blocks"))
      a4.crossJoin(broadcast(b4)).crossJoin(broadcast(n))
        .select(col("n_blocks"), lit(5L).as("k"), col("a4"), col("b4"),
          when(col("n_blocks") * col("a4") - col("b4") > 0,
            dbl((col("n_blocks") - 1L) * col("b4"))
              / dbl(col("n_blocks") * col("a4") - col("b4")))
            .otherwise(lit(Double.NaN)).as("f_quade"))
    }, Some("""
      WITH counts AS (SELECT c.c_nationkey AS nk,
          CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
          CAST(count(*) AS BIGINT) AS x0
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
      grid AS (SELECT nk, g, CAST(coalesce(x0, 0) AS BIGINT) AS x
        FROM (SELECT DISTINCT c_nationkey AS nk FROM customer)
        CROSS JOIN (SELECT CAST(r_regionkey + 1 AS INT) AS g
          FROM region)
        LEFT JOIN counts USING (nk, g)),
      r2 AS (SELECT a.nk, a.g, a.x,
          2 * CAST(sum(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
            AS BIGINT)
          + CAST(sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)
            AS BIGINT) + 1 AS r2
        FROM grid a JOIN grid b ON a.nk = b.nk
        GROUP BY 1, 2, 3),
      rng AS (SELECT nk, CAST(max(x) - min(x) AS BIGINT) AS rng
        FROM grid GROUP BY 1),
      rcells AS (SELECT rng AS rv, CAST(count(*) AS BIGINT) AS m
        FROM rng GROUP BY 1),
      q2 AS (SELECT rv AS rng,
          2 * (CAST(sum(m) OVER (ORDER BY rv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) - m) + m + 1 AS q2
        FROM rcells),
      sp AS (SELECT r2.nk, r2.g, q2.q2 * (r2.r2 - 6) AS sp
        FROM r2 JOIN rng ON r2.nk = rng.nk
        JOIN q2 ON rng.rng = q2.rng),
      a4 AS (SELECT CAST(count(*) AS BIGINT) AS cells,
          CAST(coalesce(sum(sp * sp), 0) AS BIGINT) AS a4 FROM sp),
      b4 AS (SELECT CAST(coalesce(sum(sj * sj), 0) AS BIGINT) AS b4
        FROM (SELECT g, CAST(coalesce(sum(sp), 0) AS BIGINT) AS sj
          FROM sp GROUP BY 1)),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks FROM rng)
      SELECT n_blocks, CAST(5 AS BIGINT) AS k, a4, b4,
        CASE WHEN n_blocks * a4 - b4 > 0
          THEN CAST((n_blocks - 1) * b4 AS DOUBLE)
            / CAST(n_blocks * a4 - b4 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS f_quade
      FROM a4, b4, nb""")),

    // Dunn's post-hoc test — all pairwise mean-rank comparisons
    // between the five event-type value populations, the step AFTER
    // q220's Kruskal-Wallis rejects: "WHICH groups differ?" Uses the
    // identical global doubled-midrank machinery (PrefixSum CDF over
    // value cells, per-group BIGINT rank sums r2, tie term Σ(t³−t)),
    // so z_ij = (r2ᵢ/2nᵢ − r2ⱼ/2nⱼ) /
    // √((N(N+1)/12 − TT/(12(N−1)))·(1/nᵢ+1/nⱼ)) shares every exact
    // input with the omnibus test; the ≤k² pair frame is a broadcast
    // self-join on the k-row group table. Degenerate variance
    // guards NaN.
    QueryDef("q315_dunn", (s, d) => {
      val etv = t(s, d, "events")
        .groupBy(col("value").as("v"), col("event_type").as("et"))
        .agg(count(lit(1)).as("c"))
        // etv feeds tv (cum and tot) and rj
        .transform(Cut.large)
      val tv = etv.groupBy("v").agg(sum("c").as("t"))
      val cum = PrefixSum.withRunningTotals(tv, "v", Seq("t"))
        .select(col("v"), col("t"), col("t_cum"))
      val rj = etv.join(cum, Seq("v"))
        .groupBy("et")
        .agg(sum(col("c") * doubledMidrank("t")).as("r2"), sum("c").as("nj"))
        // one row per event type; feeds every downstream consumer
        .transform(Cut.small(5))
      val tot = tv.agg(sum(col("t")).as("n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      val prs = rj.select(col("et").as("g1"), col("r2").as("ra"),
          col("nj").as("na"))
        .crossJoin(broadcast(rj.select(col("et").as("g2"),
          col("r2").as("rb"), col("nj").as("nb"))))
        .where(col("g1") < col("g2"))
      prs.crossJoin(broadcast(tot))
        .withColumn("varf",
          (dbl(col("n") * (col("n") + 1L)) / lit(12.0)
            - dbl(col("tt"))
              / (lit(12.0) * dbl(col("n") - 1L)))
            * (lit(1.0) / dbl(col("na")) + lit(1.0) / dbl(col("nb"))))
        .select(col("g1"), col("g2"),
          (dbl(col("ra")) / (lit(2.0) * dbl(col("na")))).as("mr1"),
          (dbl(col("rb")) / (lit(2.0) * dbl(col("nb")))).as("mr2"),
          when(col("varf") > 0.0,
            (dbl(col("ra")) / (lit(2.0) * dbl(col("na")))
              - dbl(col("rb")) / (lit(2.0) * dbl(col("nb"))))
              / sqrt(col("varf")))
            .otherwise(lit(Double.NaN)).as("z_dunn"))
    }, Some("""
      WITH etv AS (SELECT value AS v, event_type AS et,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      tv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t
        FROM etv GROUP BY 1),
      cum AS (SELECT v, t, CAST(sum(t) OVER (ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS t_cum FROM tv),
      rj AS (SELECT et,
          CAST(sum(c * (2 * (t_cum - t) + t + 1)) AS BIGINT) AS r2,
          CAST(sum(c) AS BIGINT) AS nj
        FROM etv JOIN cum USING (v) GROUP BY 1),
      tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
          CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM tv),
      prs AS (SELECT a.et AS g1, a.r2 AS ra, a.nj AS na,
          b.et AS g2, b.r2 AS rb, b.nj AS nb
        FROM rj a CROSS JOIN rj b WHERE a.et < b.et),
      vf AS (SELECT *,
          (CAST(n * (n + 1) AS DOUBLE) / 12.0
            - CAST(tt AS DOUBLE) / (12.0 * CAST(n - 1 AS DOUBLE)))
          * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
            AS varf
        FROM prs, tot)
      SELECT g1, g2,
        CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)) AS mr1,
        CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)) AS mr2,
        CASE WHEN varf > 0.0
          THEN (CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
            - CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)))
            / sqrt(varf)
          ELSE CAST('nan' AS DOUBLE) END AS z_dunn
      FROM vf""")),

    // Blomqvist's β (medial correlation) between a customer's order
    // COUNT and their biggest single order — the quadrant statistic:
    // "do the two activity dimensions co-exceed their medians?" It
    // is the maximally robust correlation (only medians and signs),
    // reading the same pairing as q287's weighted κ through a 2×2
    // lens. Both medians are exact type-1 order statistics from the
    // PrefixSum CDF; exactly-median units drop (the classical
    // treatment); β = ((n₁₁+n₂₂)−(n₁₂+n₂₁))/n and its normal
    // z = β√n are one IEEE tree from four BIGINT quadrant counts.
    // An empty off-median population guards NaN.
    QueryDef("q316_blomqvist", (s, d) => {
      val per = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), max(col("o_totalprice")).as("mx"))
        // per feeds both medianOf legs and the final agreement scan
        .transform(Cut.large)
      def medianOf(vc: String) = {
        val cells = per.groupBy(col(vc).as("v"))
          .agg(count(lit(1)).as("c"))
        val nn = cells.agg(coalesce(sum(col("c")), lit(0L)).as("nn"))
          .select(col("nn"), expr("(nn + 1) DIV 2").as("rk"))
        PrefixSum.withRunningTotals(cells, "v", Seq("c"))
          .crossJoin(broadcast(nn))
          .where(col("rk") > col("c_cum") - col("c")
            && col("rk") <= col("c_cum"))
          .select(col("v").as(s"med_$vc"))
      }
      per.crossJoin(broadcast(medianOf("cnt")))
        .crossJoin(broadcast(medianOf("mx")))
        .where(col("cnt") =!= col("med_cnt")
          && col("mx") =!= col("med_mx"))
        .agg(
          coalesce(sum(when(col("cnt") > col("med_cnt")
              === (col("mx") > col("med_mx")), 1L).otherwise(0L)),
            lit(0L)).as("agree"),
          count(lit(1)).as("n_used"))
        .select(col("n_used"), col("agree"),
          when(col("n_used") > 0,
            (dbl(lit(2L) * col("agree") - col("n_used")))
              / dbl(col("n_used")))
            .otherwise(lit(Double.NaN)).as("beta_b"),
          when(col("n_used") > 0,
            (dbl(lit(2L) * col("agree") - col("n_used")))
              / dbl(col("n_used")) * sqrt(dbl(col("n_used"))))
            .otherwise(lit(Double.NaN)).as("z_blomqvist"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
          max(o_totalprice) AS mx
        FROM orders GROUP BY 1),
      cc AS (SELECT cnt AS v, CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
      ccum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS c_cum FROM cc),
      cnn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS nn,
          (coalesce(sum(c), 0) + 1) // 2 AS rk FROM cc),
      medc AS (SELECT v AS med_cnt FROM ccum, cnn
        WHERE rk > c_cum - c AND rk <= c_cum),
      mc AS (SELECT mx AS v, CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
      mcum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS c_cum FROM mc),
      mnn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS nn,
          (coalesce(sum(c), 0) + 1) // 2 AS rk FROM mc),
      medm AS (SELECT v AS med_mx FROM mcum, mnn
        WHERE rk > c_cum - c AND rk <= c_cum),
      a AS (SELECT
          CAST(coalesce(sum(CASE WHEN (cnt > med_cnt) = (mx > med_mx)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS agree,
          CAST(count(*) AS BIGINT) AS n_used
        FROM per, medc, medm
        WHERE cnt <> med_cnt AND mx <> med_mx)
      SELECT n_used, agree,
        CASE WHEN n_used > 0
          THEN CAST(2 * agree - n_used AS DOUBLE)
            / CAST(n_used AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS beta_b,
        CASE WHEN n_used > 0
          THEN CAST(2 * agree - n_used AS DOUBLE)
            / CAST(n_used AS DOUBLE) * sqrt(CAST(n_used AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS z_blomqvist
      FROM a""")),

    // Hodges–Lehmann estimator of the returned-vs-refused quantity
    // shift — the median of ALL n₁·n₂ pairwise differences, the
    // robust effect-SIZE companion to q296's Cliff δ (that one says
    // "who dominates"; this says "by how many units"). The ≤50-value
    // domain collapses the Θ(n₁n₂) pair set into a ≤99-cell
    // difference distribution (one value-cell theta join, weights
    // a·b exact BIGINT); the lower median of that weighted
    // distribution is a type-1 order statistic from the PrefixSum
    // CDF at rank (n₁n₂+1) DIV 2 — EXACT integer output, no
    // floating point anywhere. Empty groups emit no row (the
    // defined-on-data contract).
    QueryDef("q317_hodges_lehmann", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val ca = q.where(col("g") === "A").groupBy("v")
        .agg(count(lit(1)).as("a"))
      val cr = q.where(col("g") === "R")
        .groupBy(col("v").as("v2")).agg(count(lit(1)).as("b"))
      val dcells = ca.crossJoin(broadcast(cr))
        .groupBy((col("v") - col("v2")).as("dv"))
        .agg(coalesce(sum(col("a") * col("b")), lit(0L)).as("w"))
      val tot = dcells.agg(coalesce(sum(col("w")), lit(0L)).as("tw"))
        .select(col("tw"), expr("(tw + 1) DIV 2").as("rk"))
      PrefixSum.withRunningTotals(dcells, "dv", Seq("w"))
        .crossJoin(broadcast(tot))
        .where(col("rk") > col("w_cum") - col("w")
          && col("rk") <= col("w_cum"))
        .select(col("tw").as("n_pairs"), col("dv").as("hl_shift"))
    }, Some("""
      WITH ca AS (SELECT CAST(l_quantity AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS a
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      cr AS (SELECT CAST(l_quantity AS BIGINT) AS v2,
          CAST(count(*) AS BIGINT) AS b
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
      dcells AS (SELECT v - v2 AS dv,
          CAST(coalesce(sum(a * b), 0) AS BIGINT) AS w
        FROM ca CROSS JOIN cr GROUP BY 1),
      cum AS (SELECT dv, w, CAST(sum(w) OVER (ORDER BY dv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS w_cum FROM dcells),
      tot AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS tw,
          (coalesce(sum(w), 0) + 1) // 2 AS rk FROM dcells)
      SELECT tw AS n_pairs, dv AS hl_shift
      FROM cum, tot WHERE rk > w_cum - w AND rk <= w_cum""")),

    // Ansari–Bradley dispersion test: are returned (A) and refused
    // (R) quantities equally SPREAD around their common center? The
    // rank test q214/q296 can't ask — its scores run 1,2,…,⌈N/2⌉,…,
    // 2,1 from both ends, so compressed distributions score high.
    // Tie-exact on value cells: a cell occupying sorted positions
    // (lo..hi) has score sum S_v = Σ min(i, N+1−i), two closed-form
    // arithmetic series split at m = (N+1) DIV 2 — pure BIGINT; the
    // per-item tie-average S_v/t_v and the sampling-without-
    // replacement moments (E = n₁ΣS/N,
    // Var = n₁n₂/(N(N−1))·(Σ S_v²/t_v − (ΣS)²/N)) are v-sorted
    // folds of per-cell doubles (S_v² would overflow BIGINT at web
    // scale — the q228 rule). Degenerate variance guards z to NaN.
    QueryDef("q318_ansari_bradley", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val cells = q.groupBy("v")
        .agg(count(lit(1)).as("t"),
          coalesce(sum(when(col("g") === "A", 1L).otherwise(0L)),
            lit(0L)).as("a"))
      val nn = cells.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
        coalesce(sum(col("a")), lit(0L)).as("n1"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("t"))
        .crossJoin(broadcast(nn))
      // score sum over positions lo..hi: Σ i for i ≤ m plus
      // Σ (N+1−i) for i > m, m = (N+1) DIV 2; tri(x,y) = Σ_{x..y} i
      val scored = cum
        .withColumn("lo", col("t_cum") - col("t") + 1L)
        .withColumn("hi", col("t_cum"))
        .withColumn("m", expr("(n + 1) DIV 2"))
        .withColumn("b1", least(col("hi"), col("m")))
        .withColumn("a2", greatest(col("lo"), col("m") + 1L))
        .withColumn("s_v",
          when(col("b1") >= col("lo"),
            expr("(b1 * (b1 + 1) - (lo - 1) * lo) DIV 2"))
            .otherwise(lit(0L))
          + when(col("hi") >= col("a2"),
            (col("n") + 1L) * (col("hi") - col("a2") + 1L)
              - expr("(hi * (hi + 1) - (a2 - 1) * a2) DIV 2"))
            .otherwise(lit(0L)))
      scored
        .select(col("n"), col("n1"),
          struct(col("v"), col("a"), col("t"), col("s_v")).as("cell"))
        .groupBy("n", "n1")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("n"), col("n1"),
          sumInOrder(col("cs"), lit(0L))(_.getField("s_v")).as("ss"),
          sumInOrder(col("cs"))(c => dbl(c.getField("a") * c.getField("s_v"))
              / dbl(c.getField("t"))).as("ab"),
          sumInOrder(col("cs"))(c => dbl(c.getField("s_v"))
              * dbl(c.getField("s_v")) / dbl(c.getField("t")))
            .as("ss2"))
        .select(col("n1"), (col("n") - col("n1")).as("n2"), col("ab"),
          when(col("n") > 1 && col("n1") > 0 && col("n") > col("n1")
              && (col("ss2") - dbl(col("ss")) * dbl(col("ss"))
                / dbl(col("n"))) > 0.0,
            (col("ab") - dbl(col("n1")) * dbl(col("ss")) / dbl(col("n")))
              / sqrt(dbl(col("n1")) * dbl(col("n") - col("n1"))
                / (dbl(col("n")) * dbl(col("n") - 1L))
                * (col("ss2") - dbl(col("ss")) * dbl(col("ss"))
                  / dbl(col("n")))))
            .otherwise(lit(Double.NaN)).as("z_ab"))
    }, Some("""
      WITH q AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      cells AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
          CAST(coalesce(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS a
        FROM q GROUP BY 1),
      nn AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(a), 0) AS BIGINT) AS n1 FROM cells),
      cum AS (SELECT v, t, a, CAST(sum(t) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum FROM cells),
      scored AS (SELECT v, t, a, n, n1,
          t_cum - t + 1 AS lo, t_cum AS hi, (n + 1) // 2 AS m
        FROM cum, nn),
      s2 AS (SELECT *, least(hi, m) AS b1,
          greatest(lo, m + 1) AS a2 FROM scored),
      s3 AS (SELECT v, t, a, n, n1,
          (CASE WHEN b1 >= lo
            THEN (b1 * (b1 + 1) - (lo - 1) * lo) // 2 ELSE 0 END)
          + (CASE WHEN hi >= a2
            THEN (n + 1) * (hi - a2 + 1)
              - (hi * (hi + 1) - (a2 - 1) * a2) // 2 ELSE 0 END)
            AS s_v
        FROM s2),
      l AS (SELECT n, n1, list_sort(list(struct_pack(v := v, a := a,
          t := t, s_v := s_v))) AS cs
        FROM s3 GROUP BY 1, 2),
      agg AS (SELECT n, n1,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.s_v)), (x, y) -> x + y) AS ss,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.a * c.s_v AS DOUBLE)
            / CAST(c.t AS DOUBLE))), (x, y) -> x + y) AS ab,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.s_v AS DOUBLE)
            * CAST(c.s_v AS DOUBLE) / CAST(c.t AS DOUBLE))),
          (x, y) -> x + y) AS ss2
        FROM l)
      SELECT n1, n - n1 AS n2, ab,
        CASE WHEN n > 1 AND n1 > 0 AND n > n1
            AND ss2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
              / CAST(n AS DOUBLE) > 0.0
          THEN (ab - CAST(n1 AS DOUBLE) * CAST(ss AS DOUBLE)
              / CAST(n AS DOUBLE))
            / sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
              * (ss2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                / CAST(n AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS z_ab
      FROM agg""")),

    // Page–Hinkley drift statistics on the daily event-count series —
    // the sequential-monitoring companion to q298's Pettitt (that one
    // asks retrospectively WHEN; PH is the running max-excursion a
    // live monitor thresholds). Mean-centered WITHOUT a floating
    // mean: Mₜ = Σᵢ≤ₜ(n·cᵢ − S) = n·cumₜ − t·S is exact BIGINT, the
    // running min/max over the ≤day-count frame stay integer, and
    // the two one-sided excursions max(Mₜ − min Mᵢ) (level-up) and
    // max(max Mᵢ − Mₜ) (level-down) divide by n only at the end —
    // two double divisions total. n = 0 guards NaN.
    QueryDef("q319_page_hinkley", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c")), lit(0L)).as("s_tot"))
      val w = Window.orderBy("day")
      daily.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("m",
          sum(col("c")).over(w) * col("n") - col("i") * col("s_tot"))
        .withColumn("runmin",
          min(col("m")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("runmax",
          max(col("m")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .agg(max(col("n")).as("n"),
          coalesce(max(col("m") - col("runmin")), lit(0L)).as("m_inc"),
          coalesce(max(col("runmax") - col("m")), lit(0L)).as("m_dec"))
        .select(col("n").as("n_days"), col("m_inc"), col("m_dec"),
          when(col("n") > 0, dbl(col("m_inc")) / dbl(col("n")))
            .otherwise(lit(Double.NaN)).as("ph_inc"),
          when(col("n") > 0, dbl(col("m_dec")) / dbl(col("n")))
            .otherwise(lit(Double.NaN)).as("ph_dec"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot FROM daily),
      seq AS (SELECT day, c, n, s_tot,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
          CAST(sum(c) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
        FROM daily, tot),
      m AS (SELECT day, n, cum * n - i * s_tot AS m FROM seq),
      r AS (SELECT day, n, m,
          min(m) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin,
          max(m) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        FROM m),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
          CAST(coalesce(max(m - runmin), 0) AS BIGINT) AS m_inc,
          CAST(coalesce(max(runmax - m), 0) AS BIGINT) AS m_dec
        FROM r)
      SELECT n AS n_days, m_inc, m_dec,
        CASE WHEN n > 0 THEN CAST(m_inc AS DOUBLE) / CAST(n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS ph_inc,
        CASE WHEN n > 0 THEN CAST(m_dec AS DOUBLE) / CAST(n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS ph_dec
      FROM a""")),

    // Shannon entropy and Pielou evenness of each source's language
    // mix — the information-theoretic siblings of q302's Simpson
    // trio (Simpson weights dominance quadratically; Shannon weights
    // all abundances, and Pielou's J = H/ln k normalizes to "what
    // fraction of the maximum possible diversity does this source
    // achieve?"). H = ln N − (Σ n·ln n)/N keeps every portable_ln
    // argument an INTEGER count; the per-source fold runs
    // lang-sorted over ≤|langs| cells (q138). Monolingual sources
    // (k = 1) guard J to NaN.
    QueryDef("q320_evenness", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sort_array(collect_list(struct(col("lang"), col("n"))))
          .as("cs"))
        .select(col("source"),
          sumInOrder(col("cs"), lit(0L))(_.getField("n")).as("n_docs"),
          size(col("cs")).cast("long").as("k_langs"),
          col("cs"))
        .withColumn("shannon_h",
          when(col("n_docs") > 0,
            pln(col("n_docs"))
              - sumInOrder(col("cs"))(c =>
                dbl(c.getField("n")) * pln(c.getField("n")))
                / dbl(col("n_docs")))
            .otherwise(lit(Double.NaN)))
        .select(col("source"), col("n_docs"), col("k_langs"),
          col("shannon_h"),
          when(col("k_langs") > 1,
            col("shannon_h") / pln(col("k_langs")))
            .otherwise(lit(Double.NaN)).as("pielou_j"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      l AS (SELECT source, list_sort(list(struct_pack(lang := lang,
          n := n))) AS cs FROM cells GROUP BY 1),
      a AS (SELECT source, cs,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.n)), (x, y) -> x + y) AS n_docs,
        CAST(len(cs) AS BIGINT) AS k_langs
        FROM l),
      h AS (SELECT source, n_docs, k_langs,
        CASE WHEN n_docs > 0
          THEN ln(CAST(n_docs AS DOUBLE))
            - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, c -> CAST(c.n AS DOUBLE)
                * ln(CAST(c.n AS DOUBLE)))), (x, y) -> x + y)
            / CAST(n_docs AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS shannon_h
        FROM a)
      SELECT source, n_docs, k_langs, shannon_h,
        CASE WHEN k_langs > 1
          THEN shannon_h / ln(CAST(k_langs AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS pielou_j
      FROM h""")),

    // Gehan–Breslow–Wilcoxon test — q256's log-rank with each death
    // time weighted by the total at-risk count nₜ, which shifts the
    // power toward EARLY differences (churn that hits in week one)
    // where log-rank weights all times equally. The weighting makes
    // the numerator EXACT: each term nₜ·d₁ₜ − dₜ·n₁ₜ is BIGINT, so
    // U = Σ(nₜd₁ₜ − dₜn₁ₜ) carries no rounding at all, and only the
    // variance Σ dₜ·n₁ₜ·n₀ₜ·(nₜ−dₜ)/(nₜ−1) folds per-term doubles
    // (nₜ = 1 guarded to 0, the q254 ANSI lesson). Same md5-split
    // arms and cell machinery as q256; χ² = U²/V, V = 0 NaN.
    QueryDef("q321_gehan", (s, d) => {
      import graft.functions.TextFunctions
      val per = lifetimes(s, d)
        .withColumn("g", TextFunctions.hashBucket(col("user_id"), 2))
      val cells = per.groupBy("g", "t")
        .agg(sum("died").as("d"), count(lit(1)).as("n"))
      val deaths = cells.groupBy(col("t").as("dtt"))
        .agg(sum("d").as("dt")).where(col("dt") > 0)
      val j = deaths.join(cells, cells("t") >= deaths("dtt"))
        .groupBy("dtt", "dt")
        .agg(sum(when(col("g") === 1, col("n")).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, col("n")).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1 && col("t") === col("dtt"), col("d"))
            .otherwise(0L)).as("d1"))
      j.agg(
          coalesce(sum((col("n1") + col("n0")) * col("d1")
            - col("dt") * col("n1")), lit(0L)).as("u"),
          sort_array(collect_list(struct(col("dtt"), col("dt"),
            col("n1"), col("n0")))).as("xs"))
        .select(col("u"),
          sumInOrder(col("xs")) { x =>
            val nt = (x.getField("n1") + x.getField("n0")).cast("double")
            when(nt > 1.0,
              x.getField("dt").cast("double")
                * x.getField("n1").cast("double")
                * x.getField("n0").cast("double")
                * ((nt - x.getField("dt").cast("double")) / (nt - 1.0)))
              .otherwise(lit(0.0))
          }.as("v"))
        .select(col("u"), col("v"),
          when(col("v") > 0.0,
            dbl(col("u")) * dbl(col("u")) / col("v"))
            .otherwise(lit(Double.NaN)).as("chi2_gehan"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      dd AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      per AS (SELECT s.user_id, s.t, dd.died,
          CAST('0x' || substr(md5(CAST(s.user_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 2 AS g
        FROM span s JOIN dd USING (user_id)),
      cells AS (SELECT g, t, CAST(sum(died) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM per GROUP BY 1, 2),
      deaths AS (SELECT t AS dtt, CAST(sum(d) AS BIGINT) AS dt
        FROM cells GROUP BY 1 HAVING sum(d) > 0),
      j AS (SELECT dtt, dt,
          CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN g = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN g = 1 AND c.t = dtt THEN d ELSE 0 END)
            AS BIGINT) AS d1
        FROM deaths JOIN cells c ON c.t >= dtt GROUP BY 1, 2),
      f AS (SELECT
          CAST(coalesce(sum((n1 + n0) * d1 - dt * n1), 0) AS BIGINT)
            AS u,
          list_sort(list(struct_pack(dtt := dtt, dt := dt,
            n1 := n1, n0 := n0))) AS xs
        FROM j),
      vv AS (SELECT u,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(xs, x -> CASE
            WHEN CAST(x.n1 + x.n0 AS DOUBLE) > 1.0
            THEN CAST(x.dt AS DOUBLE) * CAST(x.n1 AS DOUBLE)
              * CAST(x.n0 AS DOUBLE)
              * ((CAST(x.n1 + x.n0 AS DOUBLE) - CAST(x.dt AS DOUBLE))
                / (CAST(x.n1 + x.n0 AS DOUBLE) - 1.0))
            ELSE 0.0 END)), (a, b) -> a + b) AS v
        FROM f)
      SELECT u, v,
        CASE WHEN v > 0.0
          THEN CAST(u AS DOUBLE) * CAST(u AS DOUBLE) / v
          ELSE CAST('nan' AS DOUBLE) END AS chi2_gehan
      FROM vv""")),

    // Goodman–Kruskal τ in both directions over the event-type ×
    // day-quarter table — the proportional-reduction-in-VARIANCE
    // association (Gini-based), the quantitative sibling of q273's
    // λ (which only counts modal hits and often degenerates to 0 on
    // flat tables; τ almost never does). Closed form on the ≤|X||Y|
    // cells: τ_{Y|X} = (N·Σᵢⱼnᵢⱼ²/nᵢ· − Σⱼn·ⱼ²)/(N² − Σⱼn·ⱼ²) — the
    // only non-integer term is the Σn²/nᵢ· fold (cell-sorted, q138);
    // margins and N² assemble in DOUBLE (q228). Degenerate margins
    // (one category holds everything) guard NaN.
    QueryDef("q322_gk_tau", (s, d) => {
      val cells = t(s, d, "events")
        .select(col("event_type").as("x"),
          expr("CAST(hour(ts) div 6 AS INT)").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n"))
      val rx = cells.groupBy("x").agg(sum("n").as("nx"))
      val ry = cells.groupBy("y").agg(sum("n").as("ny"))
      val tot = cells.agg(coalesce(sum(col("n")), lit(0L)).as("nn"))
      val sx = rx.agg(coalesce(sum(col("nx") * col("nx")), lit(0L))
        .as("sx2"))
      val sy = ry.agg(coalesce(sum(col("ny") * col("ny")), lit(0L))
        .as("sy2"))
      val folds = cells.join(rx, Seq("x")).join(ry, Seq("y"))
        .select(struct(col("x"), col("y"), col("n"), col("nx"),
          col("ny")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(
          sumInOrder(col("cs"))(c => dbl(c.getField("n") * c.getField("n"))
              / dbl(c.getField("nx"))).as("qx"),
          sumInOrder(col("cs"))(c => dbl(c.getField("n") * c.getField("n"))
              / dbl(c.getField("ny"))).as("qy"))
      folds.crossJoin(broadcast(tot)).crossJoin(broadcast(sx))
        .crossJoin(broadcast(sy))
        .select(col("nn").as("n"),
          when(dbl(col("nn")) * dbl(col("nn")) - dbl(col("sy2")) > 0.0,
            (dbl(col("nn")) * col("qx") - dbl(col("sy2")))
              / (dbl(col("nn")) * dbl(col("nn")) - dbl(col("sy2"))))
            .otherwise(lit(Double.NaN)).as("tau_y_given_x"),
          when(dbl(col("nn")) * dbl(col("nn")) - dbl(col("sx2")) > 0.0,
            (dbl(col("nn")) * col("qy") - dbl(col("sx2")))
              / (dbl(col("nn")) * dbl(col("nn")) - dbl(col("sx2"))))
            .otherwise(lit(Double.NaN)).as("tau_x_given_y"))
    }, Some("""
      WITH cells AS (SELECT event_type AS x,
          CAST(hour(ts) // 6 AS INT) AS y,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      rx AS (SELECT x, CAST(sum(n) AS BIGINT) AS nx
        FROM cells GROUP BY 1),
      ry AS (SELECT y, CAST(sum(n) AS BIGINT) AS ny
        FROM cells GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nn
        FROM cells),
      sx AS (SELECT CAST(coalesce(sum(nx * nx), 0) AS BIGINT) AS sx2
        FROM rx),
      sy AS (SELECT CAST(coalesce(sum(ny * ny), 0) AS BIGINT) AS sy2
        FROM ry),
      l AS (SELECT list_sort(list(struct_pack(x := x, y := y, n := n,
          nx := nx, ny := ny))) AS cs
        FROM cells JOIN rx USING (x) JOIN ry USING (y)),
      f AS (SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.n * c.n AS DOUBLE)
            / CAST(c.nx AS DOUBLE))), (a, b) -> a + b) AS qx,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.n * c.n AS DOUBLE)
            / CAST(c.ny AS DOUBLE))), (a, b) -> a + b) AS qy
        FROM l)
      SELECT nn AS n,
        CASE WHEN CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
            - CAST(sy2 AS DOUBLE) > 0.0
          THEN (CAST(nn AS DOUBLE) * qx - CAST(sy2 AS DOUBLE))
            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(sy2 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_y_given_x,
        CASE WHEN CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
            - CAST(sx2 AS DOUBLE) > 0.0
          THEN (CAST(nn AS DOUBLE) * qy - CAST(sx2 AS DOUBLE))
            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(sx2 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_x_given_y
      FROM f, tot, sx, sy""")),

    // Lepage combined location-scale test between the returned (A)
    // and refused (R) quantity populations: L = z_W² + z_AB², the
    // omnibus "did the distribution move OR change spread?" that a
    // pure rank-sum (q214) or pure dispersion (q318) test each miss
    // half of. Both components come from the SAME value-cell table:
    // the doubled-midrank Wilcoxon sum 2W (exact BIGINT, tie
    // variance with the Σ(t³−t)/(N(N−1)) correction) and the
    // Ansari–Bradley score sum with its tie-average sampling
    // moments (the q318 closed-form series). Every row-scale step is
    // the one cell aggregation; folds run v-sorted; either
    // degenerate variance sends L to NaN.
    QueryDef("q323_lepage", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val cells = q.groupBy("v")
        .agg(count(lit(1)).as("t"),
          coalesce(sum(when(col("g") === "A", 1L).otherwise(0L)),
            lit(0L)).as("a"))
      val nn = cells.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
        coalesce(sum(col("a")), lit(0L)).as("n1"),
        coalesce(sum(col("t") * col("t") * col("t") - col("t")),
          lit(0L)).as("tt"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("t"))
        .crossJoin(broadcast(nn))
      val scored = cum
        .withColumn("mid2", doubledMidrank("t"))
        .withColumn("lo", col("t_cum") - col("t") + 1L)
        .withColumn("hi", col("t_cum"))
        .withColumn("m", expr("(n + 1) DIV 2"))
        .withColumn("b1", least(col("hi"), col("m")))
        .withColumn("a2", greatest(col("lo"), col("m") + 1L))
        .withColumn("s_v",
          when(col("b1") >= col("lo"),
            expr("(b1 * (b1 + 1) - (lo - 1) * lo) DIV 2"))
            .otherwise(lit(0L))
          + when(col("hi") >= col("a2"),
            (col("n") + 1L) * (col("hi") - col("a2") + 1L)
              - expr("(hi * (hi + 1) - (a2 - 1) * a2) DIV 2"))
            .otherwise(lit(0L)))
      scored
        .select(col("n"), col("n1"), col("tt"),
          struct(col("v"), col("a"), col("t"), col("mid2"),
            col("s_v")).as("cell"))
        .groupBy("n", "n1", "tt")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("n"), col("n1"), col("tt"),
          sumInOrder(col("cs"), lit(0L))(c =>
            c.getField("a") * c.getField("mid2"))
            .as("w2"),
          sumInOrder(col("cs"), lit(0L))(_.getField("s_v")).as("ss"),
          sumInOrder(col("cs"))(c => dbl(c.getField("a") * c.getField("s_v"))
              / dbl(c.getField("t"))).as("ab"),
          sumInOrder(col("cs"))(c => dbl(c.getField("s_v"))
              * dbl(c.getField("s_v")) / dbl(c.getField("t")))
            .as("ss2"))
        .withColumn("n2", col("n") - col("n1"))
        .withColumn("var_w",
          when(col("n") > 1,
            dbl(col("n1")) * dbl(col("n2")) / lit(12.0)
              * (dbl(col("n") + 1L)
                - dbl(col("tt"))
                  / (dbl(col("n")) * dbl(col("n") - 1L)))))
        .withColumn("var_ab",
          when(col("n") > 1,
            dbl(col("n1")) * dbl(col("n2"))
              / (dbl(col("n")) * dbl(col("n") - 1L))
              * (col("ss2") - dbl(col("ss")) * dbl(col("ss"))
                / dbl(col("n")))))
        .withColumn("z_w",
          when(col("var_w") > 0.0,
            (dbl(col("w2")) - dbl(col("n1") * (col("n") + 1L)))
              / (lit(2.0) * sqrt(col("var_w")))))
        .withColumn("z_ab",
          when(col("var_ab") > 0.0,
            (col("ab") - dbl(col("n1")) * dbl(col("ss"))
              / dbl(col("n"))) / sqrt(col("var_ab"))))
        .select(col("n1"), col("n2"), col("z_w"), col("z_ab"),
          when(col("z_w").isNotNull && col("z_ab").isNotNull,
            col("z_w") * col("z_w") + col("z_ab") * col("z_ab"))
            .otherwise(lit(Double.NaN)).as("lepage_l"))
    }, Some("""
      WITH q AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      cells AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
          CAST(coalesce(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS a
        FROM q GROUP BY 1),
      nn AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(a), 0) AS BIGINT) AS n1,
          CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tt
        FROM cells),
      cum AS (SELECT v, t, a, CAST(sum(t) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum FROM cells),
      scored AS (SELECT v, t, a, n, n1, tt,
          2 * (t_cum - t) + t + 1 AS mid2,
          t_cum - t + 1 AS lo, t_cum AS hi, (n + 1) // 2 AS m
        FROM cum, nn),
      s2 AS (SELECT *, least(hi, m) AS b1,
          greatest(lo, m + 1) AS a2 FROM scored),
      s3 AS (SELECT v, t, a, n, n1, tt, mid2,
          (CASE WHEN b1 >= lo
            THEN (b1 * (b1 + 1) - (lo - 1) * lo) // 2 ELSE 0 END)
          + (CASE WHEN hi >= a2
            THEN (n + 1) * (hi - a2 + 1)
              - (hi * (hi + 1) - (a2 - 1) * a2) // 2 ELSE 0 END)
            AS s_v
        FROM s2),
      l AS (SELECT n, n1, tt, list_sort(list(struct_pack(v := v,
          a := a, t := t, mid2 := mid2, s_v := s_v))) AS cs
        FROM s3 GROUP BY 1, 2, 3),
      agg AS (SELECT n, n1, tt,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.a * c.mid2)), (x, y) -> x + y)
          AS w2,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.s_v)), (x, y) -> x + y) AS ss,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.a * c.s_v AS DOUBLE)
            / CAST(c.t AS DOUBLE))), (x, y) -> x + y) AS ab,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.s_v AS DOUBLE)
            * CAST(c.s_v AS DOUBLE) / CAST(c.t AS DOUBLE))),
          (x, y) -> x + y) AS ss2
        FROM l),
      vv AS (SELECT *, n - n1 AS n2,
        CASE WHEN n > 1
          THEN CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0
            * (CAST(n + 1 AS DOUBLE)
              - CAST(tt AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
          END AS var_w,
        CASE WHEN n > 1
          THEN CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
            * (ss2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
              / CAST(n AS DOUBLE))
          END AS var_ab
        FROM agg),
      zz AS (SELECT n1, n2,
        CASE WHEN var_w > 0.0
          THEN (CAST(w2 AS DOUBLE) - CAST(n1 * (n + 1) AS DOUBLE))
            / (2.0 * sqrt(var_w)) END AS z_w,
        CASE WHEN var_ab > 0.0
          THEN (ab - CAST(n1 AS DOUBLE) * CAST(ss AS DOUBLE)
            / CAST(n AS DOUBLE)) / sqrt(var_ab) END AS z_ab
        FROM vv)
      SELECT n1, n2, z_w, z_ab,
        CASE WHEN z_w IS NOT NULL AND z_ab IS NOT NULL
          THEN z_w * z_w + z_ab * z_ab
          ELSE CAST('nan' AS DOUBLE) END AS lepage_l
      FROM zz""")),

    // Moran's I and Geary's C of node degree over the undirected
    // synthetic graph — graph autocorrelation: "do high-degree
    // entities NEIGHBOR high-degree entities?" — the edge-level
    // complement to q289's label mixing and q161's degree
    // correlation, and the standard pre-check before any
    // neighborhood-smoothing feature. Mean-centering is exact by
    // n-scaling: over symmetric edge list W (both directions),
    // num_I = Σ_edges (n·xᵢ−S)(n·xⱼ−S) and num_C = n²Σ(xᵢ−xⱼ)² are
    // BIGINT, den = Σ(n·xᵢ−S)², so I = n·num_I/(W·den) and
    // C = (n−1)·num_C/(2W·den) are each ONE double division.
    // Degenerate variance (all degrees equal) guards both to NaN.
    QueryDef("q324_moran_geary", (s, d) => {
      val nodes = docNodes(s, d)
      val dir = nodes
        .select(col("x").as("src"),
          ((col("x") * col("x") + 1) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 7 + 5) % 389).as("dst")))
        .where(col("src") =!= col("dst"))
      val und = dir.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val sym = und.select(col("a").as("i"), col("b").as("j"))
        .unionByName(und.select(col("b").as("i"), col("a").as("j")))
      val deg = sym.groupBy(col("i").as("node"))
        .agg(count(lit(1)).as("dg"))
      val tot = deg.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dg")), lit(0L)).as("s_deg"),
        coalesce(sum(col("dg") * col("dg")), lit(0L)).as("q_deg"))
      val pairs = sym
        .join(deg.select(col("node").as("i"), col("dg").as("xi")),
          Seq("i"))
        .join(deg.select(col("node").as("j"), col("dg").as("xj")),
          Seq("j"))
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("w_tot"),
          coalesce(sum((col("n") * col("xi") - col("s_deg"))
            * (col("n") * col("xj") - col("s_deg"))), lit(0L))
            .as("num_i"),
          coalesce(sum((col("xi") - col("xj"))
            * (col("xi") - col("xj"))), lit(0L)).as("sum_d2"),
          max(col("n")).as("n"), max(col("s_deg")).as("s_deg"),
          max(col("q_deg")).as("q_deg"))
        .withColumn("den",
          col("n") * col("q_deg") - col("s_deg") * col("s_deg"))
      pairs.select(col("n").as("n_nodes"), col("w_tot"),
        when(col("den") > 0,
          dbl(col("n") * col("num_i"))
            / dbl(col("w_tot") * col("den")))
          .otherwise(lit(Double.NaN)).as("moran_i"),
        when(col("den") > 0,
          dbl((col("n") - 1L) * col("n") * col("n") * col("sum_d2"))
            / dbl(lit(2L) * col("w_tot") * col("den")))
          .otherwise(lit(Double.NaN)).as("geary_c"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      dir AS (SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
        UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0),
      und AS (SELECT DISTINCT least(src, dst) AS a,
          greatest(src, dst) AS b
        FROM dir WHERE src <> dst),
      sym AS (SELECT a AS i, b AS j FROM und
        UNION ALL SELECT b, a FROM und),
      deg AS (SELECT i AS node, CAST(count(*) AS BIGINT) AS dg
        FROM sym GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(dg), 0) AS BIGINT) AS s_deg,
          CAST(coalesce(sum(dg * dg), 0) AS BIGINT) AS q_deg
        FROM deg),
      pr AS (SELECT CAST(count(*) AS BIGINT) AS w_tot,
          CAST(coalesce(sum((n * a.dg - s_deg) * (n * b.dg - s_deg)),
            0) AS BIGINT) AS num_i,
          CAST(coalesce(sum((a.dg - b.dg) * (a.dg - b.dg)), 0)
            AS BIGINT) AS sum_d2,
          CAST(max(n) AS BIGINT) AS n,
          CAST(max(s_deg) AS BIGINT) AS s_deg,
          CAST(max(q_deg) AS BIGINT) AS q_deg
        FROM sym
        JOIN deg a ON sym.i = a.node
        JOIN deg b ON sym.j = b.node, tot),
      e AS (SELECT *, n * q_deg - s_deg * s_deg AS den FROM pr)
      SELECT n AS n_nodes, w_tot,
        CASE WHEN den > 0
          THEN CAST(n * num_i AS DOUBLE)
            / CAST(w_tot * den AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS moran_i,
        CASE WHEN den > 0
          THEN CAST((n - 1) * n * n * sum_d2 AS DOUBLE)
            / CAST(2 * w_tot * den AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS geary_c
      FROM e""")),

    // Jarque–Bera normality test on the daily event-count series —
    // the omnibus skewness+kurtosis check that decides whether the
    // z-approximations the monitoring suite leans on (q292's Grubbs,
    // q284's Gumbel moments) are even admissible. The four raw power
    // sums Σc, Σc², Σc³, Σc⁴ are exact BIGINT over the dimension-
    // sized daily cells; central moments, g₁ = m₃/m₂^1.5,
    // g₂ = m₄/m₂², and JB = n(g₁²/6 + (g₂−3)²/24) are one fixed
    // IEEE tree from those integers. Zero variance guards NaN.
    QueryDef("q325_jarque_bera", (s, d) => {
      dailyEvents(s, d)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("c")), lit(0L)).as("s1"),
          coalesce(sum(col("c") * col("c")), lit(0L)).as("s2"),
          coalesce(sum(col("c") * col("c") * col("c")), lit(0L))
            .as("s3"),
          coalesce(sum(col("c") * col("c") * col("c") * col("c")),
            lit(0L)).as("s4"))
        .withColumn("mu", dbl(col("s1")) / dbl(col("n")))
        .withColumn("m2",
          dbl(col("s2")) / dbl(col("n")) - col("mu") * col("mu"))
        .withColumn("m3",
          dbl(col("s3")) / dbl(col("n"))
            - lit(3.0) * col("mu") * dbl(col("s2")) / dbl(col("n"))
            + lit(2.0) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4",
          dbl(col("s4")) / dbl(col("n"))
            - lit(4.0) * col("mu") * dbl(col("s3")) / dbl(col("n"))
            + lit(6.0) * col("mu") * col("mu") * dbl(col("s2"))
              / dbl(col("n"))
            - lit(3.0) * col("mu") * col("mu") * col("mu")
              * col("mu"))
        .withColumn("g1",
          when(col("m2") > 0.0,
            col("m3") / (col("m2") * sqrt(col("m2")))))
        .withColumn("g2",
          when(col("m2") > 0.0,
            col("m4") / (col("m2") * col("m2"))))
        .select(col("n").as("n_days"), col("g1").as("skewness"),
          col("g2").as("kurtosis"),
          when(col("m2") > 0.0,
            dbl(col("n")) * (col("g1") * col("g1") / lit(6.0)
              + (col("g2") - lit(3.0)) * (col("g2") - lit(3.0))
                / lit(24.0)))
            .otherwise(lit(Double.NaN)).as("jb"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(coalesce(sum(c), 0) AS BIGINT) AS s1,
        CAST(coalesce(sum(c * c), 0) AS BIGINT) AS s2,
        CAST(coalesce(sum(c * c * c), 0) AS BIGINT) AS s3,
        CAST(coalesce(sum(c * c * c * c), 0) AS BIGINT) AS s4
        FROM daily),
      m AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu
        FROM p),
      cm AS (SELECT *,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu AS m2,
        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
          - 3.0 * mu * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          + 2.0 * mu * mu * mu AS m3,
        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
          - 4.0 * mu * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
          + 6.0 * mu * mu * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          - 3.0 * mu * mu * mu * mu AS m4
        FROM m),
      g AS (SELECT *,
        CASE WHEN m2 > 0.0 THEN m3 / (m2 * sqrt(m2)) END AS g1,
        CASE WHEN m2 > 0.0 THEN m4 / (m2 * m2) END AS g2
        FROM cm)
      SELECT n AS n_days, g1 AS skewness, g2 AS kurtosis,
        CASE WHEN m2 > 0.0
          THEN CAST(n AS DOUBLE) * (g1 * g1 / 6.0
            + (g2 - 3.0) * (g2 - 3.0) / 24.0)
          ELSE CAST('nan' AS DOUBLE) END AS jb
      FROM g""")),

    // Tarone–Ware test — the √nₜ-weighted member completing the
    // survival trilogy (q256 log-rank weights 1, q321 Gehan weights
    // nₜ): the compromise that hedges between early- and late-
    // difference sensitivity, which is what one runs when the churn
    // mechanism is unknown. Same md5 arms and life-table cells; the
    // numerator Σ√nₜ(d₁ₜ − dₜn₁ₜ/nₜ) and variance Σnₜ·vₜ fold
    // per-term doubles over the SORTED death list (√ makes exactness
    // impossible by construction — both engines evaluate the same
    // IEEE tree in the same order); nₜ = 1 guarded to 0, V = 0 NaN.
    QueryDef("q326_tarone_ware", (s, d) => {
      import graft.functions.TextFunctions
      val per = lifetimes(s, d)
        .withColumn("g", TextFunctions.hashBucket(col("user_id"), 2))
      val cells = per.groupBy("g", "t")
        .agg(sum("died").as("d"), count(lit(1)).as("n"))
      val deaths = cells.groupBy(col("t").as("dtt"))
        .agg(sum("d").as("dt")).where(col("dt") > 0)
      val j = deaths.join(cells, cells("t") >= deaths("dtt"))
        .groupBy("dtt", "dt")
        .agg(sum(when(col("g") === 1, col("n")).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, col("n")).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1 && col("t") === col("dtt"), col("d"))
            .otherwise(0L)).as("d1"))
      j.agg(sort_array(collect_list(struct(col("dtt"), col("dt"),
          col("n1"), col("n0"), col("d1")))).as("xs"))
        .select(
          sumInOrder(col("xs")) { x =>
            val nt = (x.getField("n1") + x.getField("n0")).cast("double")
            sqrt(nt) * (x.getField("d1").cast("double")
              - x.getField("dt").cast("double")
                * x.getField("n1").cast("double") / nt)
          }.as("u"),
          sumInOrder(col("xs")) { x =>
            val nt = (x.getField("n1") + x.getField("n0")).cast("double")
            when(nt > 1.0,
              nt * (x.getField("dt").cast("double")
                * (x.getField("n1").cast("double") / nt)
                * (x.getField("n0").cast("double") / nt)
                * ((nt - x.getField("dt").cast("double"))
                  / (nt - 1.0))))
              .otherwise(lit(0.0))
          }.as("v"))
        .select(col("u"), col("v"),
          when(col("v") > 0.0, col("u") * col("u") / col("v"))
            .otherwise(lit(Double.NaN)).as("chi2_tarone_ware"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      dd AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      per AS (SELECT s.user_id, s.t, dd.died,
          CAST('0x' || substr(md5(CAST(s.user_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 2 AS g
        FROM span s JOIN dd USING (user_id)),
      cells AS (SELECT g, t, CAST(sum(died) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM per GROUP BY 1, 2),
      deaths AS (SELECT t AS dtt, CAST(sum(d) AS BIGINT) AS dt
        FROM cells GROUP BY 1 HAVING sum(d) > 0),
      j AS (SELECT dtt, dt,
          CAST(sum(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN g = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN g = 1 AND c.t = dtt THEN d ELSE 0 END)
            AS BIGINT) AS d1
        FROM deaths JOIN cells c ON c.t >= dtt GROUP BY 1, 2),
      f AS (SELECT list_sort(list(struct_pack(dtt := dtt, dt := dt,
          n1 := n1, n0 := n0, d1 := d1))) AS xs FROM j),
      uv AS (SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(xs, x -> sqrt(CAST(x.n1 + x.n0 AS DOUBLE))
            * (CAST(x.d1 AS DOUBLE) - CAST(x.dt AS DOUBLE)
              * CAST(x.n1 AS DOUBLE)
              / CAST(x.n1 + x.n0 AS DOUBLE)))), (a, b) -> a + b) AS u,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(xs, x -> CASE
            WHEN CAST(x.n1 + x.n0 AS DOUBLE) > 1.0
            THEN CAST(x.n1 + x.n0 AS DOUBLE)
              * (CAST(x.dt AS DOUBLE)
                * (CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * (CAST(x.n0 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
                * ((CAST(x.n1 + x.n0 AS DOUBLE)
                    - CAST(x.dt AS DOUBLE))
                  / (CAST(x.n1 + x.n0 AS DOUBLE) - 1.0)))
            ELSE 0.0 END)), (a, b) -> a + b) AS v
        FROM f)
      SELECT u, v,
        CASE WHEN v > 0.0 THEN u * u / v
          ELSE CAST('nan' AS DOUBLE) END AS chi2_tarone_ware
      FROM uv""")),

    // Cucconi test — the ORIGINAL joint location-scale rank test
    // (predating Lepage, q323) built from squared ranks taken from
    // both ends: U standardizes ΣR², V standardizes Σ(N+1−R)², and
    // C = (U² + V² − 2ρUV)/(2(1−ρ²)) with the closed-form
    // ρ = 2(N²−4)/((2N+1)(8N+11)) − 1. With doubled midranks the two
    // score sums stay EXACT: Σa·mid2² and Σa·(2(N+1)−mid2)² are
    // BIGINT (= 4ΣR² and 4Σ(N+1−R)²), so both numerators
    // 3·S − 2n₁(N+1)(2N+1) are integers halved once; the moment
    // denominators assemble in DOUBLE (five-factor products — q228).
    // Degenerate ρ² = 1 or empty groups guard NaN.
    QueryDef("q327_cucconi", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val cells = q.groupBy("v")
        .agg(count(lit(1)).as("t"),
          coalesce(sum(when(col("g") === "A", 1L).otherwise(0L)),
            lit(0L)).as("a"))
      val nn = cells.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
        coalesce(sum(col("a")), lit(0L)).as("n1"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("t"))
        .crossJoin(broadcast(nn))
        .withColumn("mid2", doubledMidrank("t"))
        .withColumn("rev2", lit(2L) * (col("n") + 1L) - col("mid2"))
      val agg = cum.agg(
        max(col("n")).as("n"), max(col("n1")).as("n1"),
        coalesce(sum(col("a") * col("mid2") * col("mid2")), lit(0L))
          .as("s4f"),
        coalesce(sum(col("a") * col("rev2") * col("rev2")), lit(0L))
          .as("s4r"))
      agg
        .withColumn("n2", col("n") - col("n1"))
        .withColumn("numu",
          dbl(lit(3L) * col("s4f")
            - lit(2L) * col("n1") * (col("n") + 1L)
              * (lit(2L) * col("n") + 1L)) / lit(2.0))
        .withColumn("numv",
          dbl(lit(3L) * col("s4r")
            - lit(2L) * col("n1") * (col("n") + 1L)
              * (lit(2L) * col("n") + 1L)) / lit(2.0))
        .withColumn("den",
          sqrt(dbl(col("n1")) * dbl(col("n2")) * dbl(col("n") + 1L)
            * dbl(lit(2L) * col("n") + 1L)
            * dbl(lit(8L) * col("n") + 11L) / lit(5.0)))
        .withColumn("rho",
          lit(2.0) * (dbl(col("n")) * dbl(col("n")) - lit(4.0))
            / (dbl(lit(2L) * col("n") + 1L)
              * dbl(lit(8L) * col("n") + 11L)) - lit(1.0))
        .withColumn("u",
          when(col("den") > 0.0, col("numu") / col("den")))
        .withColumn("vv",
          when(col("den") > 0.0, col("numv") / col("den")))
        .select(col("n1"), col("n2"), col("u"), col("vv").as("v"),
          col("rho"),
          when(col("den") > 0.0
              && lit(1.0) - col("rho") * col("rho") > 0.0,
            (col("u") * col("u") + col("vv") * col("vv")
              - lit(2.0) * col("rho") * col("u") * col("vv"))
              / (lit(2.0) * (lit(1.0) - col("rho") * col("rho"))))
            .otherwise(lit(Double.NaN)).as("cucconi_c"))
    }, Some("""
      WITH q AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      cells AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
          CAST(coalesce(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS a
        FROM q GROUP BY 1),
      nn AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(a), 0) AS BIGINT) AS n1 FROM cells),
      cum AS (SELECT v, t, a, n, n1,
          2 * (CAST(sum(t) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) - t) + t + 1 AS mid2
        FROM cells, nn),
      r AS (SELECT *, 2 * (n + 1) - mid2 AS rev2 FROM cum),
      agg AS (SELECT CAST(max(n) AS BIGINT) AS n,
          CAST(max(n1) AS BIGINT) AS n1,
          CAST(coalesce(sum(a * mid2 * mid2), 0) AS BIGINT) AS s4f,
          CAST(coalesce(sum(a * rev2 * rev2), 0) AS BIGINT) AS s4r
        FROM r),
      e AS (SELECT *, n - n1 AS n2,
        CAST(3 * s4f - 2 * n1 * (n + 1) * (2 * n + 1) AS DOUBLE)
          / 2.0 AS numu,
        CAST(3 * s4r - 2 * n1 * (n + 1) * (2 * n + 1) AS DOUBLE)
          / 2.0 AS numv,
        sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
          * CAST(n + 1 AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE)
          * CAST(8 * n + 11 AS DOUBLE) / 5.0) AS den,
        2.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 4.0)
          / (CAST(2 * n + 1 AS DOUBLE) * CAST(8 * n + 11 AS DOUBLE))
          - 1.0 AS rho
        FROM agg),
      z AS (SELECT *,
        CASE WHEN den > 0.0 THEN numu / den END AS u,
        CASE WHEN den > 0.0 THEN numv / den END AS vv
        FROM e)
      SELECT n1, n2, u, vv AS v, rho,
        CASE WHEN den > 0.0 AND 1.0 - rho * rho > 0.0
          THEN (u * u + vv * vv - 2.0 * rho * u * vv)
            / (2.0 * (1.0 - rho * rho))
          ELSE CAST('nan' AS DOUBLE) END AS cucconi_c
      FROM z""")),

    // Poisson dispersion (index-of-dispersion) test on the daily
    // event counts — the FIRST question about any count series:
    // "is arrival volume Poisson, or over-dispersed?" (everything
    // downstream — q284's extremes, q325's normality — reads
    // differently if clumping is real). The algebra collapses
    // beautifully exact: with S = Σc and M2n = n·Σc² − S², the
    // χ²(n−1) statistic D = (n−1)s²/x̄ is EXACTLY M2n/S — one
    // BIGINT ratio — and the variance-to-mean ratio is
    // M2n/((n−1)S); the Wilson–Hilferty normal approximation
    // z = √(2D) − √(2(n−1)−1) is two sqrts. S = 0 guards NaN.
    QueryDef("q328_poisson_dispersion", (s, d) => {
      dailyEvents(s, d)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(col("c") * col("c")), lit(0L)).as("q_tot"))
        .withColumn("m2n",
          col("n") * col("q_tot") - col("s_tot") * col("s_tot"))
        .select(col("n").as("n_days"),
          when(col("s_tot") > 0,
            dbl(col("m2n")) / dbl(col("s_tot")))
            .otherwise(lit(Double.NaN)).as("dispersion_d"),
          when(col("s_tot") > 0 && col("n") > 1,
            dbl(col("m2n")) / dbl((col("n") - 1L) * col("s_tot")))
            .otherwise(lit(Double.NaN)).as("vmr"),
          when(col("s_tot") > 0 && col("n") > 1,
            sqrt(lit(2.0) * dbl(col("m2n")) / dbl(col("s_tot")))
              - sqrt(dbl(lit(2L) * (col("n") - 1L) - 1L)))
            .otherwise(lit(Double.NaN)).as("z_dispersion"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot,
        CAST(coalesce(sum(c * c), 0) AS BIGINT) AS q_tot
        FROM daily),
      m AS (SELECT *, n * q_tot - s_tot * s_tot AS m2n FROM p)
      SELECT n AS n_days,
        CASE WHEN s_tot > 0
          THEN CAST(m2n AS DOUBLE) / CAST(s_tot AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS dispersion_d,
        CASE WHEN s_tot > 0 AND n > 1
          THEN CAST(m2n AS DOUBLE) / CAST((n - 1) * s_tot AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS vmr,
        CASE WHEN s_tot > 0 AND n > 1
          THEN sqrt(2.0 * CAST(m2n AS DOUBLE) / CAST(s_tot AS DOUBLE))
            - sqrt(CAST(2 * (n - 1) - 1 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS z_dispersion
      FROM m""")),

    // Adjusted Rand index between the n-gram language classifier's
    // partition and the ground-truth partition of the corpus — the
    // chance-corrected PAIR-counting agreement (q304's α corrects
    // item-level agreement; ARI asks whether pairs land together),
    // the standard external clustering metric. Every term is a
    // binomial C(x,2) = x(x−1)/2 over exact BIGINT contingency
    // cells/margins; the expected-index product and the final ratio
    // assemble in DOUBLE (ΣC(aᵢ,2)·ΣC(bⱼ,2) overflows BIGINT at web
    // scale — q228). The plain Rand index rides along from the same
    // pair table. A degenerate partition pair (max = expected)
    // guards NaN.
    QueryDef("q329_adjusted_rand", (s, d) => {
      import graft.functions.TextFunctions
      // DOUBLED pair counts x(x−1) = 2·C(x,2): the common factor 2
      // cancels in every ratio below, so no halving division ever
      // happens (Spark's `/` on longs is double division — avoided)
      def c22(c: Column) = c * (c - 1L)
      val cellsRaw = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pa"),
          col("lang").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("nij"))
      val sij = cellsRaw.agg(
        coalesce(sum(c22(col("nij"))), lit(0L)).as("sij"),
        coalesce(sum(col("nij")), lit(0L)).as("n"))
      val sa = cellsRaw.groupBy("pa").agg(sum("nij").as("ai"))
        .agg(coalesce(sum(c22(col("ai"))), lit(0L)).as("sa"))
      val sb = cellsRaw.groupBy("pb").agg(sum("nij").as("bj"))
        .agg(coalesce(sum(c22(col("bj"))), lit(0L)).as("sb"))
      sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .withColumn("cn2", c22(col("n")))
        .withColumn("expected",
          dbl(col("sa")) * dbl(col("sb")) / dbl(col("cn2")))
        .withColumn("maxi",
          (dbl(col("sa")) + dbl(col("sb"))) / lit(2.0))
        .select(col("n").as("n_docs"), col("sij"), col("sa"),
          col("sb"),
          when(col("cn2") > 0,
            (dbl(col("cn2")) - dbl(col("sa")) - dbl(col("sb"))
              + lit(2.0) * dbl(col("sij"))) / dbl(col("cn2")))
            .otherwise(lit(Double.NaN)).as("rand_index"),
          when(col("cn2") > 0
              && col("maxi") - col("expected") =!= 0.0,
            (dbl(col("sij")) - col("expected"))
              / (col("maxi") - col("expected")))
            .otherwise(lit(Double.NaN)).as("ari"))
    }, Some("""
      WITH conf AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pa, lang AS pb
        FROM documents),
      cells AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS nij
        FROM conf GROUP BY 1, 2),
      sij AS (SELECT
          CAST(coalesce(sum(nij * (nij - 1)), 0) AS BIGINT) AS sij,
          CAST(coalesce(sum(nij), 0) AS BIGINT) AS n FROM cells),
      sa AS (SELECT CAST(coalesce(sum(ai * (ai - 1)), 0)
          AS BIGINT) AS sa
        FROM (SELECT pa, CAST(sum(nij) AS BIGINT) AS ai
          FROM cells GROUP BY 1)),
      sb AS (SELECT CAST(coalesce(sum(bj * (bj - 1)), 0)
          AS BIGINT) AS sb
        FROM (SELECT pb, CAST(sum(nij) AS BIGINT) AS bj
          FROM cells GROUP BY 1)),
      e AS (SELECT *, n * (n - 1) AS cn2,
        CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
          / CAST(n * (n - 1) AS DOUBLE) AS expected,
        (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0 AS maxi
        FROM sij, sa, sb)
      SELECT n AS n_docs, sij, sa, sb,
        CASE WHEN cn2 > 0
          THEN (CAST(cn2 AS DOUBLE) - CAST(sa AS DOUBLE)
            - CAST(sb AS DOUBLE) + 2.0 * CAST(sij AS DOUBLE))
            / CAST(cn2 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS rand_index,
        CASE WHEN cn2 > 0 AND maxi - expected <> 0.0
          THEN (CAST(sij AS DOUBLE) - expected) / (maxi - expected)
          ELSE CAST('nan' AS DOUBLE) END AS ari
      FROM e""")),

    // Fowlkes–Mallows index and B-cubed precision/recall for the
    // same classifier-vs-truth partition pair — the geometric-mean
    // pair view (FM = TP/√((TP+FP)(TP+FN))) and the per-ITEM view
    // (B³ precision = Σnᵢⱼ²/aᵢ /N weights every document's own
    // neighborhood, catching the small-cluster failures ARI's global
    // pair count dilutes). TP/FP/FN are exact BIGINT from C(·,2)
    // sums; the two B³ rational folds run cell-sorted (q138); the
    // FM square root assembles in DOUBLE (q228). Degenerate
    // partitions (no same-cluster pairs) guard NaN.
    QueryDef("q330_fowlkes_bcubed", (s, d) => {
      import graft.functions.TextFunctions
      // doubled pair counts (q329 note) — the factor cancels in FM
      def c22(c: Column) = c * (c - 1L)
      val cells = t(s, d, "documents")
        .select(TextFunctions.langId(col("text")).as("pa"),
          col("lang").as("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("nij"))
      val ai = cells.groupBy("pa").agg(sum("nij").as("ai"))
      val bj = cells.groupBy("pb").agg(sum("nij").as("bj"))
      val tp = cells.agg(
        coalesce(sum(c22(col("nij"))), lit(0L)).as("tp2"),
        coalesce(sum(col("nij")), lit(0L)).as("n"))
      val pa2 = ai.agg(coalesce(sum(c22(col("ai"))), lit(0L)).as("pa2"))
      val pb2 = bj.agg(coalesce(sum(c22(col("bj"))), lit(0L)).as("pb2"))
      val folds = cells.join(broadcast(ai), Seq("pa"))
        .join(broadcast(bj), Seq("pb"))
        .select(struct(col("pa"), col("pb"), col("nij"), col("ai"),
          col("bj")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(
          sumInOrder(col("cs"))(c => dbl(c.getField("nij") * c.getField("nij"))
              / dbl(c.getField("ai"))).as("bp"),
          sumInOrder(col("cs"))(c => dbl(c.getField("nij") * c.getField("nij"))
              / dbl(c.getField("bj"))).as("br"))
      tp.crossJoin(broadcast(pa2)).crossJoin(broadcast(pb2))
        .crossJoin(broadcast(folds))
        .select(col("n").as("n_docs"), col("tp2"),
          when(col("pa2") > 0 && col("pb2") > 0,
            dbl(col("tp2"))
              / sqrt(dbl(col("pa2")) * dbl(col("pb2"))))
            .otherwise(lit(Double.NaN)).as("fowlkes_mallows"),
          when(col("n") > 0, col("bp") / dbl(col("n")))
            .otherwise(lit(Double.NaN)).as("bcubed_precision"),
          when(col("n") > 0, col("br") / dbl(col("n")))
            .otherwise(lit(Double.NaN)).as("bcubed_recall"))
    }, Some("""
      WITH conf AS (SELECT (CASE
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b')) = 0
             AND len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b')) = 0
            THEN 'und'
            WHEN len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
             AND len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'en'
            WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los|del)\b'))
              >= len(regexp_extract_all(lower(text), '\b(der|die|und|das|nicht|ist|von|mit)\b'))
            THEN 'es'
            ELSE 'de' END) AS pa, lang AS pb
        FROM documents),
      cells AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS nij
        FROM conf GROUP BY 1, 2),
      ai AS (SELECT pa, CAST(sum(nij) AS BIGINT) AS ai
        FROM cells GROUP BY 1),
      bj AS (SELECT pb, CAST(sum(nij) AS BIGINT) AS bj
        FROM cells GROUP BY 1),
      tp AS (SELECT
          CAST(coalesce(sum(nij * (nij - 1)), 0) AS BIGINT) AS tp2,
          CAST(coalesce(sum(nij), 0) AS BIGINT) AS n FROM cells),
      p2 AS (SELECT CAST(coalesce(sum(ai * (ai - 1)), 0)
          AS BIGINT) AS pa2 FROM ai),
      q2 AS (SELECT CAST(coalesce(sum(bj * (bj - 1)), 0)
          AS BIGINT) AS pb2 FROM bj),
      l AS (SELECT list_sort(list(struct_pack(pa := cells.pa,
          pb := cells.pb, nij := nij, ai := ai.ai, bj := bj.bj)))
          AS cs
        FROM cells JOIN ai USING (pa) JOIN bj USING (pb)),
      f AS (SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.nij * c.nij AS DOUBLE)
            / CAST(c.ai AS DOUBLE))), (x, y) -> x + y) AS bp,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.nij * c.nij AS DOUBLE)
            / CAST(c.bj AS DOUBLE))), (x, y) -> x + y) AS br
        FROM l)
      SELECT n AS n_docs, tp2,
        CASE WHEN pa2 > 0 AND pb2 > 0
          THEN CAST(tp2 AS DOUBLE)
            / sqrt(CAST(pa2 AS DOUBLE) * CAST(pb2 AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS fowlkes_mallows,
        CASE WHEN n > 0 THEN bp / CAST(n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS bcubed_precision,
        CASE WHEN n > 0 THEN br / CAST(n AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS bcubed_recall
      FROM tp, p2, q2, f""")),

    // Variance inflation factors for the three q257 text features
    // (char length, token count, stopword hits) — the
    // collinearity diagnostic run BEFORE trusting any regression on
    // them (q159's group regression, q238's WoE screening): at k = 3
    // each R²ⱼ has the closed form
    // (r²ⱼₐ + r²ⱼᵦ − 2rⱼₐrⱼᵦrₐᵦ)/(1 − r²ₐᵦ) over the pairwise
    // correlations, and VIFⱼ = 1/(1−R²ⱼ). Every correlation is
    // assembled from exact BIGINT raw moments (n·Σxy − SₓSᵧ over
    // √-scaled SS), one fixed IEEE tree; a singular pair (rₐᵦ² = 1)
    // or R²ⱼ = 1 guards that VIF to NaN.
    QueryDef("q331_vif", (s, d) => {
      val txt = col("text")
      val x1 = length(txt).cast("long")
      val x2 = (length(txt) - length(regexp_replace(txt,
        " ", "")) + 1).cast("long")
      val x3 = size(regexp_extract_all(lower(txt),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0))).cast("long")
      val m = t(s, d, "documents")
        .select(x1.as("x1"), x2.as("x2"), x3.as("x3"))
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum(col("x1") * col("x1")).as("q1"),
          sum("x2").as("s2"), sum(col("x2") * col("x2")).as("q2"),
          sum("x3").as("s3"), sum(col("x3") * col("x3")).as("q3"),
          sum(col("x1") * col("x2")).as("p12"),
          sum(col("x1") * col("x3")).as("p13"),
          sum(col("x2") * col("x3")).as("p23"))
      // a CONSTANT item (zero SS — the synthetic corpus really has
      // one if the item is chosen badly, e.g. punctuation) must read
      // NaN, not trip ANSI's double divide-by-zero
      def corr(p: String, sa: String, qa: String, sb: String,
          qb: String) = {
        val vv = (coMoment(col("n"), col(qa), col(sa), col(sa))
          * coMoment(col("n"), col(qb), col(sb), col(sb)))
        when(vv > 0.0,
          coMoment(col("n"), col(p), col(sa), col(sb)) / sqrt(vv))
          .otherwise(lit(Double.NaN))
      }
      val withR = m
        .withColumn("r12", corr("p12", "s1", "q1", "s2", "q2"))
        .withColumn("r13", corr("p13", "s1", "q1", "s3", "q3"))
        .withColumn("r23", corr("p23", "s2", "q2", "s3", "q3"))
      def r2of(ra: Column, rb: Column, rc: Column) =
        ((ra * ra + rb * rb - lit(2.0) * ra * rb * rc)
          / (lit(1.0) - rc * rc))
      def vif(r2: Column) =
        when(lit(1.0) - r2 =!= 0.0, lit(1.0) / (lit(1.0) - r2))
          .otherwise(lit(Double.NaN))
      withR.select(col("n"), col("r12"), col("r13"), col("r23"),
        when(lit(1.0) - col("r23") * col("r23") =!= 0.0,
          vif(r2of(col("r12"), col("r13"), col("r23"))))
          .otherwise(lit(Double.NaN)).as("vif1"),
        when(lit(1.0) - col("r13") * col("r13") =!= 0.0,
          vif(r2of(col("r12"), col("r23"), col("r13"))))
          .otherwise(lit(Double.NaN)).as("vif2"),
        when(lit(1.0) - col("r12") * col("r12") =!= 0.0,
          vif(r2of(col("r13"), col("r23"), col("r12"))))
          .otherwise(lit(Double.NaN)).as("vif3"))
    }, Some("""
      WITH items AS (SELECT
          CAST(length(text) AS BIGINT) AS x1,
          CAST(length(text)
            - length(replace(text, ' ', '')) + 1
            AS BIGINT) AS x2,
          CAST(len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT) AS x3
        FROM documents),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1 * x1) AS BIGINT) AS q1,
        CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(x2 * x2) AS BIGINT) AS q2,
        CAST(sum(x3) AS BIGINT) AS s3, CAST(sum(x3 * x3) AS BIGINT) AS q3,
        CAST(sum(x1 * x2) AS BIGINT) AS p12,
        CAST(sum(x1 * x3) AS BIGINT) AS p13,
        CAST(sum(x2 * x3) AS BIGINT) AS p23
        FROM items),
      r AS (SELECT n,
        (CAST(n AS DOUBLE) * CAST(p12 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS r12,
        (CAST(n AS DOUBLE) * CAST(p13 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
              - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r13,
        (CAST(n AS DOUBLE) * CAST(p23 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE))
          / sqrt((CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
              - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r23
        FROM m)
      SELECT n, r12, r13, r23,
        CASE WHEN 1.0 - r23 * r23 <> 0.0
          AND 1.0 - (r12 * r12 + r13 * r13
            - 2.0 * r12 * r13 * r23) / (1.0 - r23 * r23) <> 0.0
          THEN 1.0 / (1.0 - (r12 * r12 + r13 * r13
            - 2.0 * r12 * r13 * r23) / (1.0 - r23 * r23))
          ELSE CAST('nan' AS DOUBLE) END AS vif1,
        CASE WHEN 1.0 - r13 * r13 <> 0.0
          AND 1.0 - (r12 * r12 + r23 * r23
            - 2.0 * r12 * r23 * r13) / (1.0 - r13 * r13) <> 0.0
          THEN 1.0 / (1.0 - (r12 * r12 + r23 * r23
            - 2.0 * r12 * r23 * r13) / (1.0 - r13 * r13))
          ELSE CAST('nan' AS DOUBLE) END AS vif2,
        CASE WHEN 1.0 - r12 * r12 <> 0.0
          AND 1.0 - (r13 * r13 + r23 * r23
            - 2.0 * r13 * r23 * r12) / (1.0 - r12 * r12) <> 0.0
          THEN 1.0 / (1.0 - (r13 * r13 + r23 * r23
            - 2.0 * r13 * r23 * r12) / (1.0 - r12 * r12))
          ELSE CAST('nan' AS DOUBLE) END AS vif3
      FROM r""")),

    // Top-10 multivariate outliers by Mahalanobis distance over the
    // same three text features — the joint-outlier lens that catches
    // documents whose FEATURE COMBINATION is anomalous even when
    // every marginal looks normal (q105's MAD flags marginals only).
    // The 3×3 sample covariance comes from exact BIGINT moments, its
    // inverse from the closed-form adjugate (one broadcast 1-row
    // frame — no per-row matrix algebra), and each document's
    // d² = Σ invⱼₖ(xⱼ−μⱼ)(xₖ−μₖ) is a fixed per-row tree, ranked
    // with a deterministic (d² DESC, doc_id) TakeOrderedAndProject.
    // A singular covariance (det = 0) yields no rows by the guard.
    QueryDef("q332_mahalanobis", (s, d) => {
      val txt = col("text")
      val x1 = length(txt).cast("long")
      val x2 = (length(txt) - length(regexp_replace(txt,
        " ", "")) + 1).cast("long")
      val x3 = size(regexp_extract_all(lower(txt),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0))).cast("long")
      val items = t(s, d, "documents")
        .select(col("doc_id"), x1.as("x1"), x2.as("x2"), x3.as("x3"))
      val m = items
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum(col("x1") * col("x1")).as("q1"),
          sum("x2").as("s2"), sum(col("x2") * col("x2")).as("q2"),
          sum("x3").as("s3"), sum(col("x3") * col("x3")).as("q3"),
          sum(col("x1") * col("x2")).as("p12"),
          sum(col("x1") * col("x3")).as("p13"),
          sum(col("x2") * col("x3")).as("p23"))
        .withColumn("dn", dbl(col("n")) * dbl(col("n") - 1L))
        .withColumn("c11",
          coMoment(col("n"), col("q1"), col("s1"), col("s1")) / col("dn"))
        .withColumn("c22",
          coMoment(col("n"), col("q2"), col("s2"), col("s2")) / col("dn"))
        .withColumn("c33",
          coMoment(col("n"), col("q3"), col("s3"), col("s3")) / col("dn"))
        .withColumn("c12",
          coMoment(col("n"), col("p12"), col("s1"), col("s2")) / col("dn"))
        .withColumn("c13",
          coMoment(col("n"), col("p13"), col("s1"), col("s3")) / col("dn"))
        .withColumn("c23",
          coMoment(col("n"), col("p23"), col("s2"), col("s3")) / col("dn"))
        .withColumn("det",
          col("c11") * (col("c22") * col("c33")
            - col("c23") * col("c23"))
          - col("c12") * (col("c12") * col("c33")
            - col("c23") * col("c13"))
          + col("c13") * (col("c12") * col("c23")
            - col("c22") * col("c13")))
        .where(col("det") =!= 0.0)
        .withColumn("i11", (col("c22") * col("c33")
          - col("c23") * col("c23")) / col("det"))
        .withColumn("i22", (col("c11") * col("c33")
          - col("c13") * col("c13")) / col("det"))
        .withColumn("i33", (col("c11") * col("c22")
          - col("c12") * col("c12")) / col("det"))
        .withColumn("i12", (col("c13") * col("c23")
          - col("c12") * col("c33")) / col("det"))
        .withColumn("i13", (col("c12") * col("c23")
          - col("c13") * col("c22")) / col("det"))
        .withColumn("i23", (col("c12") * col("c13")
          - col("c11") * col("c23")) / col("det"))
        .withColumn("m1", dbl(col("s1")) / dbl(col("n")))
        .withColumn("m2", dbl(col("s2")) / dbl(col("n")))
        .withColumn("m3", dbl(col("s3")) / dbl(col("n")))
        .select("i11", "i22", "i33", "i12", "i13", "i23",
          "m1", "m2", "m3")
      items.crossJoin(broadcast(m))
        .withColumn("d1", dbl(col("x1")) - col("m1"))
        .withColumn("d2", dbl(col("x2")) - col("m2"))
        .withColumn("d3", dbl(col("x3")) - col("m3"))
        .select(col("doc_id"),
          (col("i11") * col("d1") * col("d1")
            + col("i22") * col("d2") * col("d2")
            + col("i33") * col("d3") * col("d3")
            + lit(2.0) * col("i12") * col("d1") * col("d2")
            + lit(2.0) * col("i13") * col("d1") * col("d3")
            + lit(2.0) * col("i23") * col("d2") * col("d3"))
            .as("d2_maha"))
        .orderBy(col("d2_maha").desc, col("doc_id"))
        .limit(10)
    }, Some("""
      WITH items AS (SELECT doc_id,
          CAST(length(text) AS BIGINT) AS x1,
          CAST(length(text)
            - length(replace(text, ' ', '')) + 1
            AS BIGINT) AS x2,
          CAST(len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT) AS x3
        FROM documents),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1 * x1) AS BIGINT) AS q1,
        CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(x2 * x2) AS BIGINT) AS q2,
        CAST(sum(x3) AS BIGINT) AS s3, CAST(sum(x3 * x3) AS BIGINT) AS q3,
        CAST(sum(x1 * x2) AS BIGINT) AS p12,
        CAST(sum(x1 * x3) AS BIGINT) AS p13,
        CAST(sum(x2 * x3) AS BIGINT) AS p23
        FROM items),
      cv AS (SELECT *,
        CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS dn FROM mm),
      c2 AS (SELECT *,
        (CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / dn AS c11,
        (CAST(n AS DOUBLE) * CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / dn AS c22,
        (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
          - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)) / dn AS c33,
        (CAST(n AS DOUBLE) * CAST(p12 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)) / dn AS c12,
        (CAST(n AS DOUBLE) * CAST(p13 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)) / dn AS c13,
        (CAST(n AS DOUBLE) * CAST(p23 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE)) / dn AS c23
        FROM cv),
      dt AS (SELECT *,
        c11 * (c22 * c33 - c23 * c23)
          - c12 * (c12 * c33 - c23 * c13)
          + c13 * (c12 * c23 - c22 * c13) AS det
        FROM c2),
      iv AS (SELECT
        (c22 * c33 - c23 * c23) / det AS i11,
        (c11 * c33 - c13 * c13) / det AS i22,
        (c11 * c22 - c12 * c12) / det AS i33,
        (c13 * c23 - c12 * c33) / det AS i12,
        (c12 * c23 - c13 * c22) / det AS i13,
        (c12 * c13 - c11 * c23) / det AS i23,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3
        FROM dt WHERE det <> 0.0),
      dd AS (SELECT doc_id,
        CAST(x1 AS DOUBLE) - m1 AS d1,
        CAST(x2 AS DOUBLE) - m2 AS d2,
        CAST(x3 AS DOUBLE) - m3 AS d3,
        i11, i22, i33, i12, i13, i23
        FROM items, iv)
      SELECT doc_id,
        i11 * d1 * d1 + i22 * d2 * d2 + i33 * d3 * d3
          + 2.0 * i12 * d1 * d2 + 2.0 * i13 * d1 * d3
          + 2.0 * i23 * d2 * d3 AS d2_maha
      FROM dd
      ORDER BY d2_maha DESC, doc_id LIMIT 10""")),

    // 2-D PCA in closed form over (char length, stopword hits): the
    // covariance eigenpair λ± = ((a+c) ± √((a−c)² + 4b²))/2 gives
    // the principal variance split and the explained-variance ratio
    // λ₊/(a+c) — the "is this feature pair effectively
    // one-dimensional?" readout that decides whether downstream
    // joins can bucket on a single projected key. Moments exact
    // BIGINT; the eigen tree is fixed IEEE; a zero-trace covariance
    // guards the ratio to NaN.
    QueryDef("q333_pca2", (s, d) => {
      val txt = col("text")
      val x1 = length(txt).cast("long")
      val x3 = size(regexp_extract_all(lower(txt),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0))).cast("long")
      t(s, d, "documents")
        .select(x1.as("x1"), x3.as("x3"))
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum(col("x1") * col("x1")).as("q1"),
          sum("x3").as("s3"), sum(col("x3") * col("x3")).as("q3"),
          sum(col("x1") * col("x3")).as("p13"))
        .withColumn("dn", dbl(col("n")) * dbl(col("n") - 1L))
        .withColumn("a",
          coMoment(col("n"), col("q1"), col("s1"), col("s1")) / col("dn"))
        .withColumn("c",
          coMoment(col("n"), col("q3"), col("s3"), col("s3")) / col("dn"))
        .withColumn("b",
          coMoment(col("n"), col("p13"), col("s1"), col("s3")) / col("dn"))
        .withColumn("disc",
          sqrt((col("a") - col("c")) * (col("a") - col("c"))
            + lit(4.0) * col("b") * col("b")))
        .select(col("n"), col("a").as("var_len"),
          col("c").as("var_stop"), col("b").as("cov_ls"),
          ((col("a") + col("c") + col("disc")) / lit(2.0))
            .as("lambda1"),
          ((col("a") + col("c") - col("disc")) / lit(2.0))
            .as("lambda2"),
          when(col("a") + col("c") =!= 0.0,
            (col("a") + col("c") + col("disc")) / lit(2.0)
              / (col("a") + col("c")))
            .otherwise(lit(Double.NaN)).as("evr1"))
    }, Some("""
      WITH items AS (SELECT
          CAST(length(text) AS BIGINT) AS x1,
          CAST(len(regexp_extract_all(lower(text),
            '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT) AS x3
        FROM documents),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x1 * x1) AS BIGINT) AS q1,
        CAST(sum(x3) AS BIGINT) AS s3, CAST(sum(x3 * x3) AS BIGINT) AS q3,
        CAST(sum(x1 * x3) AS BIGINT) AS p13
        FROM items),
      cv AS (SELECT *,
        CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) AS dn FROM m),
      e AS (SELECT n,
        (CAST(n AS DOUBLE) * CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / dn AS a,
        (CAST(n AS DOUBLE) * CAST(q3 AS DOUBLE)
          - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)) / dn AS c,
        (CAST(n AS DOUBLE) * CAST(p13 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE)) / dn AS b
        FROM cv),
      f AS (SELECT *,
        sqrt((a - c) * (a - c) + 4.0 * b * b) AS disc FROM e)
      SELECT n, a AS var_len, c AS var_stop, b AS cov_ls,
        (a + c + disc) / 2.0 AS lambda1,
        (a + c - disc) / 2.0 AS lambda2,
        CASE WHEN a + c <> 0.0
          THEN (a + c + disc) / 2.0 / (a + c)
          ELSE CAST('nan' AS DOUBLE) END AS evr1
      FROM f""")),

    // Dixon's Q ratios for the daily event-count series — the
    // small-sample outlier screen (the classic bench-chemistry test)
    // complementing q292's Grubbs: Q_upper = gap to the runner-up
    // over the range, and the lower analog — pure order-statistic
    // ratios, no variance estimate at all, so one wild day can't
    // mask itself by inflating s. Extremes and runners-up come from
    // conditional BIGINT aggregates over the dimension-sized daily
    // cells (runner-up = extreme of the values strictly inside the
    // hull, so exact ties collapse the gap to 0 — the standard
    // reading); each Q is ONE double division, range 0 guards NaN.
    QueryDef("q334_dixon_q", (s, d) => {
      val daily = dailyEvents(s, d)
      val ext = daily.agg(max(col("c")).as("mx"), min(col("c")).as("mn"),
        count(lit(1)).as("n"))
      daily.crossJoin(broadcast(ext))
        .agg(max(col("n")).as("n"), max(col("mx")).as("mx"),
          max(col("mn")).as("mn"),
          coalesce(max(when(col("c") < col("mx"), col("c"))),
            max(col("mx"))).as("mx2"),
          coalesce(min(when(col("c") > col("mn"), col("c"))),
            min(col("mn"))).as("mn2"))
        .select(col("n").as("n_days"), col("mx"), col("mn"),
          when(col("mx") > col("mn"),
            dbl(col("mx") - col("mx2")) / dbl(col("mx") - col("mn")))
            .otherwise(lit(Double.NaN)).as("q_upper"),
          when(col("mx") > col("mn"),
            dbl(col("mn2") - col("mn")) / dbl(col("mx") - col("mn")))
            .otherwise(lit(Double.NaN)).as("q_lower"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      ext AS (SELECT CAST(max(c) AS BIGINT) AS mx,
          CAST(min(c) AS BIGINT) AS mn,
          CAST(count(*) AS BIGINT) AS n FROM daily),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
          CAST(max(mx) AS BIGINT) AS mx, CAST(max(mn) AS BIGINT) AS mn,
          CAST(coalesce(max(CASE WHEN c < mx THEN c END), max(mx))
            AS BIGINT) AS mx2,
          CAST(coalesce(min(CASE WHEN c > mn THEN c END), min(mn))
            AS BIGINT) AS mn2
        FROM daily, ext)
      SELECT n AS n_days, mx, mn,
        CASE WHEN mx > mn
          THEN CAST(mx - mx2 AS DOUBLE) / CAST(mx - mn AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS q_upper,
        CASE WHEN mx > mn
          THEN CAST(mn2 - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS q_lower
      FROM a""")),

    // Poisson likelihood-ratio goodness-of-fit G² for the daily
    // counts against a constant rate — the deviance companion to
    // q328's moment-based dispersion index (G² is the test a GLM
    // would run; they disagree exactly when the departure is in the
    // tails). The identity Σc·ln(c·n/S) = Σc·ln c + S·ln n − S·ln S
    // keeps every portable_ln argument an INTEGER (zero-count days
    // contribute 0 by the 0·ln 0 = 0 convention, handled by the
    // guard); the cell fold runs day-sorted (q138) and
    // G² = 2·(that sum). S = 0 guards NaN.
    QueryDef("q335_poisson_gof", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val daily = dailyEvents(s, d)
      daily
        .select(struct(col("day"), col("c")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("cs"),
          size(col("cs")).cast("long").as("n"),
          sumInOrder(col("cs"), lit(0L))(_.getField("c")).as("s_tot"))
        .select(col("n").as("n_days"), col("s_tot"),
          when(col("s_tot") > 0 && col("n") > 0,
            lit(2.0) * (sumInOrder(col("cs"))(c => when(c.getField("c") > 0,
                dbl(c.getField("c")) * pln(c.getField("c")))
                .otherwise(lit(0.0)))
              + dbl(col("s_tot")) * pln(col("n"))
              - dbl(col("s_tot")) * pln(col("s_tot"))))
            .otherwise(lit(Double.NaN)).as("g2_poisson"),
          (col("n") - 1L).as("dof"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      l AS (SELECT list_sort(list(struct_pack(day := day, c := c)))
          AS cs FROM daily),
      a AS (SELECT cs, CAST(len(cs) AS BIGINT) AS n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.c)), (x, y) -> x + y) AS s_tot
        FROM l)
      SELECT n AS n_days, s_tot,
        CASE WHEN s_tot > 0 AND n > 0
          THEN 2.0 * (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(cs, c -> CASE WHEN c.c > 0
                THEN CAST(c.c AS DOUBLE) * ln(CAST(c.c AS DOUBLE))
                ELSE 0.0 END)), (x, y) -> x + y)
            + CAST(s_tot AS DOUBLE) * ln(CAST(n AS DOUBLE))
            - CAST(s_tot AS DOUBLE) * ln(CAST(s_tot AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS g2_poisson,
        n - 1 AS dof
      FROM a""")),

    // First-order Markov entropy rate of the per-user event-type
    // sequence — "how predictable is the NEXT event given the
    // current one?" in nats/event, the sequential refinement of the
    // marginal entropy suite (q320) and the scalar summary of the
    // q118 transition matrix. H = (Σᵢ nᵢ·ln nᵢ − Σᵢⱼ nᵢⱼ·ln nᵢⱼ)/T
    // over bigram counts keeps every portable_ln argument an
    // INTEGER; transitions come from a per-user lag (PARTITIONED
    // window, ts+event_id tie-broken), and both ≤k²-cell folds run
    // sorted (q138). T = 0 guards NaN.
    QueryDef("q336_entropy_rate", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val big = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("b"))
        .withColumn("a", lag(col("b"), 1).over(w))
        .where(col("a").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("nij"))
      val sij = big
        .select(struct(col("a"), col("b"), col("nij")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(
          sumInOrder(col("cs"), lit(0L))(_.getField("nij")).as("t_tot"),
          sumInOrder(col("cs"))(c =>
            dbl(c.getField("nij")) * pln(c.getField("nij")))
            .as("sij"))
      val si = big.groupBy("a").agg(sum("nij").as("ni"))
        .select(struct(col("a"), col("ni")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("ms"))
        .select(sumInOrder(col("ms"))(c =>
          dbl(c.getField("ni")) * pln(c.getField("ni")))
          .as("si"))
      sij.crossJoin(broadcast(si))
        .select(col("t_tot").as("n_transitions"),
          when(col("t_tot") > 0,
            (col("si") - col("sij")) / dbl(col("t_tot")))
            .otherwise(lit(Double.NaN)).as("entropy_rate"))
    }, Some("""
      WITH seq AS (SELECT event_type AS b,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS a
        FROM events),
      big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nij
        FROM seq WHERE a IS NOT NULL GROUP BY 1, 2),
      lj AS (SELECT list_sort(list(struct_pack(a := a, b := b,
          nij := nij))) AS cs FROM big),
      sij AS (SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.nij)), (x, y) -> x + y) AS t_tot,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.nij AS DOUBLE)
            * ln(CAST(c.nij AS DOUBLE)))), (x, y) -> x + y) AS sij
        FROM lj),
      mg AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ni
        FROM big GROUP BY 1),
      lm AS (SELECT list_sort(list(struct_pack(a := a, ni := ni)))
          AS ms FROM mg),
      si AS (SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(ms, c -> CAST(c.ni AS DOUBLE)
            * ln(CAST(c.ni AS DOUBLE)))), (x, y) -> x + y) AS si
        FROM lm)
      SELECT t_tot AS n_transitions,
        CASE WHEN t_tot > 0
          THEN (si - sij) / CAST(t_tot AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS entropy_rate
      FROM sij, si""")),

    // Coefficient of variation and quartile coefficient of
    // dispersion for the per-customer order-count distribution —
    // the moment-based and order-statistic-based relative-spread
    // pair (CV breaks on heavy tails exactly where QCD stays
    // stable, so their DISAGREEMENT is the tail alarm). CV comes
    // from exact BIGINT moments (s via the n-scaled M2n identity);
    // Q1/Q3 are type-1 order statistics at ranks (n+1) DIV 4 and
    // (3(n+1)) DIV 4 (clamped to [1,n]) from ONE PrefixSum CDF
    // pass; QCD = (Q3−Q1)/(Q3+Q1). Degenerate spread guards NaN.
    QueryDef("q337_cv_qcd", (s, d) => {
      val per = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
      val cells = per.groupBy(col("x").as("v"))
        .agg(count(lit(1)).as("c"))
      val tot = cells.agg(
          coalesce(sum(col("c")), lit(0L)).as("n"),
          coalesce(sum(col("v") * col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(col("v") * col("v") * col("c")), lit(0L))
            .as("q_tot"))
        .withColumn("m2n",
          col("n") * col("q_tot") - col("s_tot") * col("s_tot"))
        .withColumn("rk1",
          greatest(lit(1L), expr("(n + 1) DIV 4")))
        .withColumn("rk3",
          least(col("n"), expr("(3 * (n + 1)) DIV 4")))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("c"))
        .crossJoin(broadcast(tot))
      val q1 = cum.where(col("rk1") > col("c_cum") - col("c")
          && col("rk1") <= col("c_cum"))
        .select(col("v").as("q1"))
      val q3 = cum.where(col("rk3") > col("c_cum") - col("c")
          && col("rk3") <= col("c_cum"))
        .select(col("v").as("q3"))
      tot.crossJoin(broadcast(q1)).crossJoin(broadcast(q3))
        .select(col("n"), col("q1"), col("q3"),
          when(col("s_tot") > 0 && col("n") > 1,
            sqrt(dbl(col("m2n")) / dbl(col("n") * (col("n") - 1L)))
              / (dbl(col("s_tot")) / dbl(col("n"))))
            .otherwise(lit(Double.NaN)).as("cv"),
          when(col("q1") + col("q3") > 0,
            dbl(col("q3") - col("q1")) / dbl(col("q3") + col("q1")))
            .otherwise(lit(Double.NaN)).as("qcd"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      cells AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(v * c), 0) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(v * v * c), 0) AS BIGINT) AS q_tot
        FROM cells),
      t2 AS (SELECT *, n * q_tot - s_tot * s_tot AS m2n,
          greatest(1, (n + 1) // 4) AS rk1,
          least(n, (3 * (n + 1)) // 4) AS rk3
        FROM tot),
      cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS c_cum FROM cells),
      qq1 AS (SELECT v AS q1 FROM cum, t2
        WHERE rk1 > c_cum - c AND rk1 <= c_cum),
      qq3 AS (SELECT v AS q3 FROM cum, t2
        WHERE rk3 > c_cum - c AND rk3 <= c_cum)
      SELECT n, q1, q3,
        CASE WHEN s_tot > 0 AND n > 1
          THEN sqrt(CAST(m2n AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
            / (CAST(s_tot AS DOUBLE) / CAST(n AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS cv,
        CASE WHEN q1 + q3 > 0
          THEN CAST(q3 - q1 AS DOUBLE) / CAST(q3 + q1 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS qcd
      FROM t2, qq1, qq3""")),

    // Lorenz asymmetry coefficient S = F(μ) + L(μ) of the
    // per-customer order-count distribution — WHERE the inequality
    // lives: S < 1 means it's driven by many small accounts, S > 1
    // by a few giants (two distributions can share q311's Gini and
    // differ here, and the answer decides skew strategy: salting
    // hot keys vs pruning a long tail). The mean never
    // materializes: x < μ compares as the exact integer n·x < S,
    // so F(μ) and L(μ) are two BIGINT cell sums over the value-cell
    // table with two final divisions. Empty input guards NaN.
    QueryDef("q338_lorenz_asymmetry", (s, d) => {
      val cells = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("x").as("v")).agg(count(lit(1)).as("c"))
      val tot = cells.agg(
        coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(sum(col("v") * col("c")), lit(0L)).as("s_tot"))
      cells.crossJoin(broadcast(tot))
        .agg(max(col("n")).as("n"), max(col("s_tot")).as("s_tot"),
          coalesce(sum(when(col("v") * col("n") < col("s_tot"),
            col("c")).otherwise(0L)), lit(0L)).as("n_below"),
          coalesce(sum(when(col("v") * col("n") < col("s_tot"),
            col("v") * col("c")).otherwise(0L)), lit(0L)).as("s_below"))
        .select(col("n").as("n_customers"), col("n_below"),
          when(col("n") > 0 && col("s_tot") > 0,
            dbl(col("n_below")) / dbl(col("n"))
              + dbl(col("s_below")) / dbl(col("s_tot")))
            .otherwise(lit(Double.NaN)).as("lorenz_asymmetry"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      cells AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(v * c), 0) AS BIGINT) AS s_tot
        FROM cells),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
          CAST(max(s_tot) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(CASE WHEN v * n < s_tot THEN c
            ELSE 0 END), 0) AS BIGINT) AS n_below,
          CAST(coalesce(sum(CASE WHEN v * n < s_tot THEN v * c
            ELSE 0 END), 0) AS BIGINT) AS s_below
        FROM cells, tot)
      SELECT n AS n_customers, n_below,
        CASE WHEN n > 0 AND s_tot > 0
          THEN CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE)
            + CAST(s_below AS DOUBLE) / CAST(s_tot AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS lorenz_asymmetry
      FROM a""")),

    // Atkinson inequality (ε = 1) in log form — the welfare-
    // economics index whose sensitivity dial ε = 1 makes the
    // equally-distributed-equivalent the GEOMETRIC mean:
    // A = 1 − geomean/mean. To stay portable the query reports
    // ln(1−A) = (Σ m·ln x)/N − ln S + ln N (exp() would reintroduce
    // the libm divergence portable_ln exists to avoid — the q162
    // rule), which is ≤ 0 with equality iff perfectly equal; every
    // ln argument is an INTEGER and the cell fold runs value-sorted
    // (q138). Zero counts can't occur (groupBy implies ≥ 1); empty
    // input guards NaN.
    QueryDef("q339_atkinson_log", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("x").as("v")).agg(count(lit(1)).as("m"))
        .select(struct(col("v"), col("m")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(
          sumInOrder(col("cs"), lit(0L))(_.getField("m")).as("n"),
          sumInOrder(col("cs"), lit(0L))(c => c.getField("m") * c.getField("v"))
            .as("s_tot"),
          sumInOrder(col("cs"))(c =>
            dbl(c.getField("m")) * pln(c.getField("v")))
            .as("slnx"))
        .select(col("n").as("n_customers"), col("s_tot"),
          when(col("n") > 0 && col("s_tot") > 0,
            col("slnx") / dbl(col("n")) - pln(col("s_tot"))
              + pln(col("n")))
            .otherwise(lit(Double.NaN)).as("atkinson_log_ede"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      cells AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS m
        FROM per GROUP BY 1),
      l AS (SELECT list_sort(list(struct_pack(v := v, m := m))) AS cs
        FROM cells),
      a AS (SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.m)), (x, y) -> x + y) AS n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.m * c.v)), (x, y) -> x + y)
          AS s_tot,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.m AS DOUBLE)
            * ln(CAST(c.v AS DOUBLE)))), (x, y) -> x + y) AS slnx
        FROM l)
      SELECT n AS n_customers, s_tot,
        CASE WHEN n > 0 AND s_tot > 0
          THEN slnx / CAST(n AS DOUBLE) - ln(CAST(s_tot AS DOUBLE))
            + ln(CAST(n AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS atkinson_log_ede
      FROM a""")),

    // Brunner–Munzel test between the returned (A) and refused (R)
    // quantity populations — the modern replacement for
    // Mann-Whitney (q214) when variances differ: it tests the
    // relative effect p = P(X<Y)+½P(X=Y) WITHOUT the equal-spread
    // assumption, using within- vs combined-rank variances. One
    // value-cell pass carries all three rank systems (global,
    // within-A, within-R — a single multi-column PrefixSum), each
    // doubled to stay BIGINT through ties; the per-group deviation
    // sums Σa(m2−mA2)² are exact integers and v₁/v₂/Ŵ assemble as
    // one fixed IEEE tree (lawstat's form
    // W = n₁n₂(R̄₂−R̄₁)/(N√(n₁v₁+n₂v₂))). Degenerate variance
    // guards W to NaN; p̂ always reports.
    QueryDef("q340_brunner_munzel", (s, d) => {
      val q = returnFlagQuantities(s, d)
      val cells = q.groupBy("v")
        .agg(count(lit(1)).as("t"),
          coalesce(sum(when(col("g") === "A", 1L).otherwise(0L)),
            lit(0L)).as("a"))
        .withColumn("r", col("t") - col("a"))
      val cum = PrefixSum.withRunningTotals(cells, "v", Seq("t", "a", "r"))
        .withColumn("m2", doubledMidrank("t"))
        .withColumn("ma2", doubledMidrank("a"))
        .withColumn("mr2", doubledMidrank("r"))
      cum.agg(
          coalesce(sum(col("a")), lit(0L)).as("n1"),
          coalesce(sum(col("r")), lit(0L)).as("n2"),
          coalesce(sum(col("a") * col("m2")), lit(0L)).as("sra2"),
          coalesce(sum(col("r") * col("m2")), lit(0L)).as("srb2"),
          coalesce(sum(col("a") * (col("m2") - col("ma2"))
            * (col("m2") - col("ma2"))), lit(0L)).as("da2"),
          coalesce(sum(col("r") * (col("m2") - col("mr2"))
            * (col("m2") - col("mr2"))), lit(0L)).as("db2"))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("rb1", dbl(col("sra2")) / (lit(2.0) * dbl(col("n1"))))
        .withColumn("rb2", dbl(col("srb2")) / (lit(2.0) * dbl(col("n2"))))
        // vᵢ = [Σa·((m2−mA2)/2)² − nᵢ·(R̄ᵢ−(nᵢ+1)/2)²]/(nᵢ−1)
        .withColumn("v1",
          when(col("n1") > 1,
            (dbl(col("da2")) / lit(4.0)
              - dbl(col("n1"))
                * (col("rb1") - dbl(col("n1") + 1L) / lit(2.0))
                * (col("rb1") - dbl(col("n1") + 1L) / lit(2.0)))
              / dbl(col("n1") - 1L)))
        .withColumn("v2",
          when(col("n2") > 1,
            (dbl(col("db2")) / lit(4.0)
              - dbl(col("n2"))
                * (col("rb2") - dbl(col("n2") + 1L) / lit(2.0))
                * (col("rb2") - dbl(col("n2") + 1L) / lit(2.0)))
              / dbl(col("n2") - 1L)))
        .select(col("n1"), col("n2"),
          ((col("rb2") - dbl(col("n2") + 1L) / lit(2.0))
            / dbl(col("n1"))).as("p_hat"),
          when(col("v1").isNotNull && col("v2").isNotNull
              && dbl(col("n1")) * col("v1")
                + dbl(col("n2")) * col("v2") > 0.0,
            dbl(col("n1")) * dbl(col("n2"))
              * (col("rb2") - col("rb1"))
              / (dbl(col("nn"))
                * sqrt(dbl(col("n1")) * col("v1")
                  + dbl(col("n2")) * col("v2"))))
            .otherwise(lit(Double.NaN)).as("w_bm"))
    }, Some("""
      WITH q AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      cells AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
          CAST(coalesce(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS a
        FROM q GROUP BY 1),
      c2 AS (SELECT *, t - a AS r FROM cells),
      cum AS (SELECT v, t, a, r,
          CAST(sum(t) OVER w AS BIGINT) AS t_cum,
          CAST(sum(a) OVER w AS BIGINT) AS a_cum,
          CAST(sum(r) OVER w AS BIGINT) AS r_cum
        FROM c2 WINDOW w AS (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      mk AS (SELECT *,
          2 * (t_cum - t) + t + 1 AS m2,
          2 * (a_cum - a) + a + 1 AS ma2,
          2 * (r_cum - r) + r + 1 AS mr2
        FROM cum),
      agg AS (SELECT
          CAST(coalesce(sum(a), 0) AS BIGINT) AS n1,
          CAST(coalesce(sum(r), 0) AS BIGINT) AS n2,
          CAST(coalesce(sum(a * m2), 0) AS BIGINT) AS sra2,
          CAST(coalesce(sum(r * m2), 0) AS BIGINT) AS srb2,
          CAST(coalesce(sum(a * (m2 - ma2) * (m2 - ma2)), 0)
            AS BIGINT) AS da2,
          CAST(coalesce(sum(r * (m2 - mr2) * (m2 - mr2)), 0)
            AS BIGINT) AS db2
        FROM mk),
      e AS (SELECT *, n1 + n2 AS nn,
        CAST(sra2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS rb1,
        CAST(srb2 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS rb2
        FROM agg),
      vv AS (SELECT *,
        CASE WHEN n1 > 1
          THEN (CAST(da2 AS DOUBLE) / 4.0
            - CAST(n1 AS DOUBLE)
              * (rb1 - CAST(n1 + 1 AS DOUBLE) / 2.0)
              * (rb1 - CAST(n1 + 1 AS DOUBLE) / 2.0))
            / CAST(n1 - 1 AS DOUBLE) END AS v1,
        CASE WHEN n2 > 1
          THEN (CAST(db2 AS DOUBLE) / 4.0
            - CAST(n2 AS DOUBLE)
              * (rb2 - CAST(n2 + 1 AS DOUBLE) / 2.0)
              * (rb2 - CAST(n2 + 1 AS DOUBLE) / 2.0))
            / CAST(n2 - 1 AS DOUBLE) END AS v2
        FROM e)
      SELECT n1, n2,
        (rb2 - CAST(n2 + 1 AS DOUBLE) / 2.0)
          / CAST(n1 AS DOUBLE) AS p_hat,
        CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL
            AND CAST(n1 AS DOUBLE) * v1 + CAST(n2 AS DOUBLE) * v2 > 0.0
          THEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (rb2 - rb1)
            / (CAST(nn AS DOUBLE)
              * sqrt(CAST(n1 AS DOUBLE) * v1
                + CAST(n2 AS DOUBLE) * v2))
          ELSE CAST('nan' AS DOUBLE) END AS w_bm
      FROM vv""")),

    // Partial Kendall τ — the rank association between order
    // priority and order status CONTROLLING for the price quintile:
    // τ_xy·z = (τxy − τxz·τyz)/√((1−τxz²)(1−τyz²)), the ordinal
    // analogue of q266's Pearson partial correlation. All three
    // pairwise τ-b's reuse the q213 machinery on GLOBAL tiny-domain
    // pairs (priority 1–5 × status 1–3 × PrefixSum-CDF price
    // quintile): concordant-minus-discordant from ≤|dom|² cell
    // self-joins, tie terms from margins, every count BIGINT until
    // the three √ divisions. A saturated control (τxz² or τyz² = 1)
    // guards NaN.
    QueryDef("q341_partial_tau", (s, d) => {
      val priced = {
        val cellsP = t(s, d, "orders")
          .groupBy(col("o_totalprice").as("pv"))
          .agg(count(lit(1)).as("pc"))
        val nn = cellsP.agg(coalesce(sum(col("pc")), lit(0L)).as("nn"))
        val zq = PrefixSum.withRunningTotals(cellsP, "pv", Seq("pc"))
          .crossJoin(broadcast(nn))
          .select(col("pv").as("o_totalprice"),
            expr("(5 * (nn - pc_cum)) DIV nn").as("z"))
        t(s, d, "orders")
          .join(zq, Seq("o_totalprice"))
          .select(
            substring(col("o_orderpriority"), 1, 1).cast("int").as("x"),
            when(col("o_orderstatus") === "F", 1)
              .when(col("o_orderstatus") === "O", 2).otherwise(3)
              .as("y"),
            col("z").cast("int").as("z"))
          // the (x, y, z) triple feeds the three pairwise tau-b legs
          .transform(Cut.large)
      }
      def taub(u: String, w: String): org.apache.spark.sql.DataFrame = {
        val cells = priced.groupBy(col(u).as("u"), col(w).as("w"))
          .agg(count(lit(1)).as("c"))
        val tu = cells.groupBy("u").agg(sum("c").as("tc"))
          .agg(coalesce(sum(expr("tc * (tc - 1) DIV 2")), lit(0L))
            .as("n1t"))
        val tw = cells.groupBy("w").agg(sum("c").as("tc"))
          .agg(coalesce(sum(expr("tc * (tc - 1) DIV 2")), lit(0L))
            .as("n2t"))
        val n0 = cells.agg(coalesce(sum(col("c")), lit(0L)).as("n"))
          .select(expr("n * (n - 1) DIV 2").as("n0"))
        val cd = cells.select(col("u").as("u1"), col("w").as("w1"),
            col("c").as("c1"))
          .crossJoin(broadcast(cells.select(col("u").as("u2"),
            col("w").as("w2"), col("c").as("c2"))))
          .where(col("u1") < col("u2"))
          .agg(coalesce(sum(
            when(col("w1") < col("w2"), col("c1") * col("c2"))
              .when(col("w1") > col("w2"), -col("c1") * col("c2"))
              .otherwise(0L)), lit(0L)).as("cmd"))
        cd.crossJoin(broadcast(tu)).crossJoin(broadcast(tw))
          .crossJoin(broadcast(n0))
          .select(
            // the (n0−n1t)(n0−n2t) guard product overflows BIGINT at
            // row scale (n0 ~ n²/2) — compare in DOUBLE (q228 rule)
            when(dbl(col("n0") - col("n1t"))
                * dbl(col("n0") - col("n2t")) > 0.0,
              dbl(col("cmd"))
                / sqrt(dbl(col("n0") - col("n1t"))
                  * dbl(col("n0") - col("n2t"))))
              .otherwise(lit(Double.NaN)).as(s"tau_$u$w"))
      }
      taub("x", "y").crossJoin(broadcast(taub("x", "z")))
        .crossJoin(broadcast(taub("y", "z")))
        .select(col("tau_xy"), col("tau_xz"), col("tau_yz"),
          when((lit(1.0) - col("tau_xz") * col("tau_xz"))
              * (lit(1.0) - col("tau_yz") * col("tau_yz")) > 0.0,
            (col("tau_xy") - col("tau_xz") * col("tau_yz"))
              / sqrt((lit(1.0) - col("tau_xz") * col("tau_xz"))
                * (lit(1.0) - col("tau_yz") * col("tau_yz"))))
            .otherwise(lit(Double.NaN)).as("partial_tau"))
    }, Some("""
      WITH cellsp AS (SELECT o_totalprice AS pv,
          CAST(count(*) AS BIGINT) AS pc
        FROM orders GROUP BY 1),
      nn AS (SELECT CAST(coalesce(sum(pc), 0) AS BIGINT) AS nn
        FROM cellsp),
      zc AS (SELECT pv, pc, CAST(sum(pc) OVER (ORDER BY pv
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS pc_cum FROM cellsp),
      zq AS (SELECT pv AS o_totalprice,
          CAST((5 * (nn - pc_cum)) // nn AS INT) AS z
        FROM zc, nn),
      xyz AS (SELECT
          CAST(substring(o_orderpriority, 1, 1) AS INT) AS x,
          CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2
            ELSE 3 END AS y,
          z
        FROM orders JOIN zq USING (o_totalprice)),
      cxy AS (SELECT x AS u, y AS w, CAST(count(*) AS BIGINT) AS c
        FROM xyz GROUP BY 1, 2),
      cxz AS (SELECT x AS u, z AS w, CAST(count(*) AS BIGINT) AS c
        FROM xyz GROUP BY 1, 2),
      cyz AS (SELECT y AS u, z AS w, CAST(count(*) AS BIGINT) AS c
        FROM xyz GROUP BY 1, 2),
      txy AS (SELECT
        (SELECT CAST(coalesce(sum(
            CASE WHEN a.w < b.w THEN a.c * b.c
              WHEN a.w > b.w THEN -a.c * b.c ELSE 0 END), 0) AS BIGINT)
          FROM cxy a, cxy b WHERE a.u < b.u) AS cmd,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT u, CAST(sum(c) AS BIGINT) AS tc
            FROM cxy GROUP BY 1)) AS n1t,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT w, CAST(sum(c) AS BIGINT) AS tc
            FROM cxy GROUP BY 1)) AS n2t,
        (SELECT n * (n - 1) // 2 FROM
          (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cxy))
          AS n0),
      txz AS (SELECT
        (SELECT CAST(coalesce(sum(
            CASE WHEN a.w < b.w THEN a.c * b.c
              WHEN a.w > b.w THEN -a.c * b.c ELSE 0 END), 0) AS BIGINT)
          FROM cxz a, cxz b WHERE a.u < b.u) AS cmd,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT u, CAST(sum(c) AS BIGINT) AS tc
            FROM cxz GROUP BY 1)) AS n1t,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT w, CAST(sum(c) AS BIGINT) AS tc
            FROM cxz GROUP BY 1)) AS n2t,
        (SELECT n * (n - 1) // 2 FROM
          (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cxz))
          AS n0),
      tyz AS (SELECT
        (SELECT CAST(coalesce(sum(
            CASE WHEN a.w < b.w THEN a.c * b.c
              WHEN a.w > b.w THEN -a.c * b.c ELSE 0 END), 0) AS BIGINT)
          FROM cyz a, cyz b WHERE a.u < b.u) AS cmd,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT u, CAST(sum(c) AS BIGINT) AS tc
            FROM cyz GROUP BY 1)) AS n1t,
        (SELECT CAST(coalesce(sum(tc * (tc - 1) // 2), 0) AS BIGINT)
          FROM (SELECT w, CAST(sum(c) AS BIGINT) AS tc
            FROM cyz GROUP BY 1)) AS n2t,
        (SELECT n * (n - 1) // 2 FROM
          (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n FROM cyz))
          AS n0),
      tv AS (SELECT
        CASE WHEN CAST(txy.n0 - txy.n1t AS DOUBLE)
            * CAST(txy.n0 - txy.n2t AS DOUBLE) > 0
          THEN CAST(txy.cmd AS DOUBLE)
            / sqrt(CAST(txy.n0 - txy.n1t AS DOUBLE)
              * CAST(txy.n0 - txy.n2t AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_xy,
        CASE WHEN CAST(txz.n0 - txz.n1t AS DOUBLE)
            * CAST(txz.n0 - txz.n2t AS DOUBLE) > 0
          THEN CAST(txz.cmd AS DOUBLE)
            / sqrt(CAST(txz.n0 - txz.n1t AS DOUBLE)
              * CAST(txz.n0 - txz.n2t AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_xz,
        CASE WHEN CAST(tyz.n0 - tyz.n1t AS DOUBLE)
            * CAST(tyz.n0 - tyz.n2t AS DOUBLE) > 0
          THEN CAST(tyz.cmd AS DOUBLE)
            / sqrt(CAST(tyz.n0 - tyz.n1t AS DOUBLE)
              * CAST(tyz.n0 - tyz.n2t AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS tau_yz
        FROM txy, txz, tyz)
      SELECT tau_xy, tau_xz, tau_yz,
        CASE WHEN (1.0 - tau_xz * tau_xz)
            * (1.0 - tau_yz * tau_yz) > 0.0
          THEN (tau_xy - tau_xz * tau_yz)
            / sqrt((1.0 - tau_xz * tau_xz)
              * (1.0 - tau_yz * tau_yz))
          ELSE CAST('nan' AS DOUBLE) END AS partial_tau
      FROM tv""")),

    // Mean-centered Levene test for equal quantity variances across
    // the three return flags — the classical variant whose power
    // beats q227's median-centered Brown–Forsythe under
    // near-normality (run BOTH: their disagreement localizes the
    // asymmetry). The absolute deviations never leave exact
    // arithmetic: per value-cell |nᵍx − Sᵍ| is an integer, so the
    // group z-moments are rationals with known denominators and the
    // one-way ANOVA W = ((N−k)/(k−1))·SSB_z/SSW_z assembles as one
    // fixed tree from per-group (Σz, Σz²) pairs folded in flag
    // order. Degenerate SSW = 0 guards NaN.
    QueryDef("q342_levene_mean", (s, d) => {
      val cells = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("c"))
      val grp = cells.groupBy("g")
        .agg(coalesce(sum(col("c")), lit(0L)).as("ng"),
          coalesce(sum(col("v") * col("c")), lit(0L)).as("sg"))
      val z = cells.join(broadcast(grp), Seq("g"))
        .select(col("g"), col("ng"),
          col("c"),
          abs(col("ng") * col("v") - col("sg")).as("zn"))
        .groupBy("g", "ng")
        .agg(
          coalesce(sum(col("c") * col("zn")), lit(0L)).as("sz"),
          coalesce(sum(col("c") * col("zn") * col("zn")), lit(0L))
            .as("qz"))
        .select(col("g"), col("ng"),
          (dbl(col("sz")) / dbl(col("ng"))).as("szd"),
          (dbl(col("qz")) / (dbl(col("ng")) * dbl(col("ng"))))
            .as("qzd"))
      z.select(struct(col("g"), col("ng"), col("szd"), col("qzd"))
          .as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("cs"),
          size(col("cs")).cast("long").as("k"),
          sumInOrder(col("cs"), lit(0L))(_.getField("ng")).as("n"),
          sumInOrder(col("cs"))(_.getField("szd")).as("sza"),
          sumInOrder(col("cs"))(_.getField("qzd")).as("qza"))
        .withColumn("zbar",
          sumInOrder(col("cs"))(_.getField("szd")) / dbl(col("n")))
        .withColumn("ssb",
          sumInOrder(col("cs"))(c => dbl(c.getField("ng"))
              * (c.getField("szd") / dbl(c.getField("ng"))
                - col("zbar"))
              * (c.getField("szd") / dbl(c.getField("ng"))
                - col("zbar"))))
        .withColumn("ssw",
          sumInOrder(col("cs"))(c => (c.getField("qzd")
              - c.getField("szd") * c.getField("szd")
                / dbl(c.getField("ng")))))
        .select(col("k"), col("n"),
          when(col("ssw") > 0.0 && col("k") > 1
              && col("n") > col("k"),
            (dbl(col("n") - col("k")) / dbl(col("k") - 1L))
              * (col("ssb") / col("ssw")))
            .otherwise(lit(Double.NaN)).as("w_levene"))
    }, Some("""
      WITH cells AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS v,
          CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      grp AS (SELECT g, CAST(coalesce(sum(c), 0) AS BIGINT) AS ng,
          CAST(coalesce(sum(v * c), 0) AS BIGINT) AS sg
        FROM cells GROUP BY 1),
      z AS (SELECT cells.g, ng,
          CAST(coalesce(sum(c * abs(ng * v - sg)), 0) AS BIGINT) AS sz,
          CAST(coalesce(sum(c * abs(ng * v - sg) * abs(ng * v - sg)),
            0) AS BIGINT) AS qz
        FROM cells JOIN grp ON cells.g = grp.g
        GROUP BY 1, 2),
      zd AS (SELECT g, ng,
          CAST(sz AS DOUBLE) / CAST(ng AS DOUBLE) AS szd,
          CAST(qz AS DOUBLE)
            / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)) AS qzd
        FROM z),
      l AS (SELECT list_sort(list(struct_pack(g := g, ng := ng,
          szd := szd, qzd := qzd))) AS cs FROM zd),
      a AS (SELECT cs, CAST(len(cs) AS BIGINT) AS k,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.ng)), (x, y) -> x + y) AS n,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.szd)), (x, y) -> x + y) AS sza
        FROM l),
      b AS (SELECT *, sza / CAST(n AS DOUBLE) AS zbar FROM a),
      f AS (SELECT *,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.ng AS DOUBLE)
            * (c.szd / CAST(c.ng AS DOUBLE) - zbar)
            * (c.szd / CAST(c.ng AS DOUBLE) - zbar))),
          (x, y) -> x + y) AS ssb,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.qzd
            - c.szd * c.szd / CAST(c.ng AS DOUBLE))),
          (x, y) -> x + y) AS ssw
        FROM b)
      SELECT k, n,
        CASE WHEN ssw > 0.0 AND k > 1 AND n > k
          THEN (CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
            * (ssb / ssw)
          ELSE CAST('nan' AS DOUBLE) END AS w_levene
      FROM f""")),

    // Seasonal Mann-Kendall on the daily series — q280's trend test
    // with all comparisons restricted to SAME-WEEKDAY pairs, so a
    // strong weekly cycle (q248's seasonality indices measure it)
    // can neither mask nor fake a monotone drift: S = Σ_g S_g and
    // Var = Σ_g (n_g(n_g−1)(2n_g+5) − Σt(t−1)(2t+5))/18 sum over
    // the seven weekday strata, every count BIGINT from the
    // dimension-sized within-stratum pair join; the continuity-
    // corrected z is one fixed tree. Weekday parity: Spark's
    // dayofweek (1=Sun) minus 1 equals DuckDB's dow (0=Sun).
    // Degenerate variance guards NaN.
    QueryDef("q343_seasonal_mk", (s, d) => {
      val daily = dailyEvents(s, d)
        .withColumn("wd", (dayofweek(col("day")) - 1).cast("int"))
      val b = daily.select(col("wd"), col("day").as("day_b"),
        col("c").as("cb"))
      val sAgg = daily.join(b, Seq("wd"))
        .where(col("day") < col("day_b"))
        .agg(coalesce(sum(
          when(col("cb") > col("c"), 1L)
            .when(col("cb") < col("c"), -1L).otherwise(0L)), lit(0L))
          .as("s_smk"))
      val varAgg = daily.groupBy("wd")
        .agg(count(lit(1)).as("ng"))
        .agg(coalesce(sum(col("ng") * (col("ng") - 1L)
          * (lit(2L) * col("ng") + 5L)), lit(0L)).as("nterm"),
          coalesce(sum(col("ng")), lit(0L)).as("n"))
      val ties = daily.groupBy("wd", "c").agg(count(lit(1)).as("tsz"))
        .agg(coalesce(sum(col("tsz") * (col("tsz") - 1L)
          * (lit(2L) * col("tsz") + 5L)), lit(0L)).as("tie_term"))
      sAgg.crossJoin(broadcast(varAgg)).crossJoin(broadcast(ties))
        .withColumn("var18", col("nterm") - col("tie_term"))
        .select(col("n").as("n_days"), col("s_smk"), col("var18"),
          when(col("var18") > 0,
            when(col("s_smk") > 0, (dbl(col("s_smk")) - 1.0)
              / sqrt(dbl(col("var18")) / 18.0))
              .when(col("s_smk") < 0, (dbl(col("s_smk")) + 1.0)
                / sqrt(dbl(col("var18")) / 18.0))
              .otherwise(lit(0.0)))
            .otherwise(lit(Double.NaN)).as("z_smk"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      wdd AS (SELECT day, c,
          CAST(date_part('dow', day) AS INT) AS wd FROM daily),
      sa AS (SELECT CAST(coalesce(sum(CASE WHEN b.c > a.c THEN 1
            WHEN b.c < a.c THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_smk
        FROM wdd a JOIN wdd b ON a.wd = b.wd AND a.day < b.day),
      va AS (SELECT CAST(coalesce(sum(ng * (ng - 1) * (2 * ng + 5)),
            0) AS BIGINT) AS nterm,
          CAST(coalesce(sum(ng), 0) AS BIGINT) AS n
        FROM (SELECT wd, CAST(count(*) AS BIGINT) AS ng
          FROM wdd GROUP BY 1)),
      ties AS (SELECT CAST(coalesce(sum(tsz * (tsz - 1)
            * (2 * tsz + 5)), 0) AS BIGINT) AS tie_term
        FROM (SELECT wd, c, CAST(count(*) AS BIGINT) AS tsz
          FROM wdd GROUP BY 1, 2)),
      v AS (SELECT n, s_smk, nterm - tie_term AS var18
        FROM sa, va, ties)
      SELECT n AS n_days, s_smk, var18,
        CASE WHEN var18 > 0 THEN
          CASE WHEN s_smk > 0
            THEN (CAST(s_smk AS DOUBLE) - 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
          WHEN s_smk < 0
            THEN (CAST(s_smk AS DOUBLE) + 1.0)
              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
          ELSE 0.0 END
        ELSE CAST('nan' AS DOUBLE) END AS z_smk
      FROM v""")),

    // Spearman's footrule between the 1997 and 1998 item-popularity
    // rankings — the L1 rank-displacement distance: where q207's RBO
    // weights the head and q213's τ counts inversions, the footrule
    // answers "how far do items MOVE on average?", the churn metric
    // a cache/index planner wants. Doubled midranks from two
    // PrefixSum CDF passes keep the displacement sum
    // F₂ = Σ|m2₁−m2₂| = 2F exact BIGINT through ties; the
    // normalization divides by the permutation-reversal maximum
    // ⌊n²/2⌋ once. Empty catalogs guard NaN.
    QueryDef("q344_footrule", (s, d) => {
      val items = t(s, d, "lineitem")
        .select((col("l_partkey") % 199).as("item"),
          year(col("l_shipdate")).as("y"))
        .groupBy("item")
        .agg(coalesce(sum(when(col("y") < 1998, 1L).otherwise(0L)),
            lit(0L)).as("c1"),
          coalesce(sum(when(col("y") >= 1998, 1L).otherwise(0L)),
            lit(0L)).as("c2"))
        // one row per item (l_partkey % 199); feeds both rank CDFs and
        // the final join
        .transform(Cut.small(199))
      def mid2Of(vc: String, out: String) = {
        val cells = items.groupBy(col(vc).as("v"))
          .agg(count(lit(1)).as("t"))
        PrefixSum.withRunningTotals(cells, "v", Seq("t"))
          .select(col("v").as(vc),
            doubledMidrank("t").as(out))
      }
      val ranked = items
        .join(broadcast(mid2Of("c1", "m2a")), Seq("c1"))
        .join(broadcast(mid2Of("c2", "m2b")), Seq("c2"))
      ranked.agg(count(lit(1)).as("n"),
          coalesce(sum(abs(col("m2a") - col("m2b"))), lit(0L))
            .as("f2"))
        .select(col("n").as("n_items"), col("f2"),
          (dbl(col("f2")) / lit(2.0)).as("footrule"),
          when(col("n") > 1,
            dbl(col("f2")) / dbl(lit(2L) * expr("(n * n) DIV 2")))
            .otherwise(lit(Double.NaN)).as("footrule_norm"))
    }, Some("""
      WITH items AS (SELECT l_partkey % 199 AS item,
          CAST(coalesce(sum(CASE WHEN year(l_shipdate) < 1998 THEN 1
            ELSE 0 END), 0) AS BIGINT) AS c1,
          CAST(coalesce(sum(CASE WHEN year(l_shipdate) >= 1998 THEN 1
            ELSE 0 END), 0) AS BIGINT) AS c2
        FROM lineitem GROUP BY 1),
      ca AS (SELECT v, t, CAST(sum(t) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum
        FROM (SELECT c1 AS v, CAST(count(*) AS BIGINT) AS t
          FROM items GROUP BY 1)),
      ma AS (SELECT v AS c1, 2 * (t_cum - t) + t + 1 AS m2a FROM ca),
      cb AS (SELECT v, t, CAST(sum(t) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS t_cum
        FROM (SELECT c2 AS v, CAST(count(*) AS BIGINT) AS t
          FROM items GROUP BY 1)),
      mb AS (SELECT v AS c2, 2 * (t_cum - t) + t + 1 AS m2b FROM cb),
      r AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(abs(m2a - m2b)), 0) AS BIGINT) AS f2
        FROM items JOIN ma USING (c1) JOIN mb USING (c2))
      SELECT n AS n_items, f2,
        CAST(f2 AS DOUBLE) / 2.0 AS footrule,
        CASE WHEN n > 1
          THEN CAST(f2 AS DOUBLE) / CAST(2 * ((n * n) // 2) AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS footrule_norm
      FROM r""")),

    // Newman modularity of a deterministic 4-community partition
    // (node mod 4) on the undirected synthetic graph — the
    // partition-quality score every community detector optimizes
    // (q140's label propagation FINDS communities; this EVALUATES a
    // partition), per community and in total:
    // Q = Σ_c (4m·e_c − d_c²)/(4m²) keeps each community's
    // contribution an exact BIGINT numerator over one double
    // denominator. Edge and degree sums are keyed aggregates; the
    // ≤4-row community table carries per-community e_c, d_c,
    // q_contrib, and the folded total. m = 0 guards NaN.
    QueryDef("q345_modularity", (s, d) => {
      val nodes = docNodes(s, d)
      val dir = nodes
        .select(col("x").as("src"),
          ((col("x") * col("x") + 1) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 7 + 5) % 389).as("dst")))
        .where(col("src") =!= col("dst"))
      val und = dir.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      val m = und.agg(count(lit(1)).as("m"))
      val ec = und.where(col("a") % 4 === col("b") % 4)
        .groupBy((col("a") % 4).as("com"))
        .agg(count(lit(1)).as("e_c"))
      val dc = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy((col("node") % 4).as("com"))
        .agg(count(lit(1)).as("d_c"))
      val per = dc.join(ec, Seq("com"), "left")
        .select(col("com"), coalesce(col("e_c"), lit(0L)).as("e_c"),
          col("d_c"))
        .crossJoin(broadcast(m))
        .withColumn("num",
          lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c"))
        .withColumn("q_contrib",
          when(col("m") > 0, dbl(col("num"))
            / (lit(4.0) * dbl(col("m")) * dbl(col("m"))))
            .otherwise(lit(Double.NaN)))
      val tot = per
        .select(struct(col("com"), col("num")).as("cell"), col("m"))
        .groupBy("m")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("m").as("m2"),
          when(col("m") > 0,
            dbl(sumInOrder(col("cs"), lit(0L))(_.getField("num")))
              / (lit(4.0) * dbl(col("m")) * dbl(col("m"))))
            .otherwise(lit(Double.NaN)).as("q_mod"))
      per.select(col("com"), col("e_c"), col("d_c"), col("q_contrib"))
        .crossJoin(broadcast(tot.select(col("q_mod"))))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      dir AS (SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
        UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0),
      und AS (SELECT DISTINCT least(src, dst) AS a,
          greatest(src, dst) AS b
        FROM dir WHERE src <> dst),
      m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
      ec AS (SELECT a % 4 AS com, CAST(count(*) AS BIGINT) AS e_c
        FROM und WHERE a % 4 = b % 4 GROUP BY 1),
      dc AS (SELECT node % 4 AS com, CAST(count(*) AS BIGINT) AS d_c
        FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1),
      per AS (SELECT com, coalesce(e_c, 0) AS e_c, d_c,
          4 * m * coalesce(e_c, 0) - d_c * d_c AS num, m
        FROM dc LEFT JOIN ec USING (com), m),
      tot AS (SELECT CASE WHEN max(m) > 0
          THEN CAST(sum(num) AS DOUBLE)
            / (4.0 * CAST(max(m) AS DOUBLE) * CAST(max(m) AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS q_mod
        FROM per)
      SELECT com, e_c, d_c,
        CASE WHEN m > 0
          THEN CAST(num AS DOUBLE)
            / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS q_contrib,
        q_mod
      FROM per, tot""")),

    // Burrows' Delta between every source pair over the corpus's 20
    // most frequent terms — the stylometry-standard "which crawl
    // sources write alike?" distance (frequency PROFILES, where
    // q303's Bray–Curtis compares composition and q144's overlap
    // compares sets). The marker list is deterministic (count desc,
    // term asc, TakeOrderedAndProject); per-source relative
    // frequencies are single rational divisions; per-term
    // cross-source mean/sd and the z-scores live on the ≤20×20
    // marker×source cells (population sd — Burrows' original), and
    // Δ(s₁,s₂) = mean|z₁−z₂| folds term-sorted per pair. A
    // zero-variance marker term contributes 0 to every pair (its z
    // is identically 0 by the guard, the degenerate-marker
    // convention).
    QueryDef("q346_burrows_delta", (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("source"),
          explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        // the token stream (fact-sized) feeds top/stot/cells
        .transform(Cut.large)
      val top = toks.groupBy("term").agg(count(lit(1)).as("tc"))
        .orderBy(col("tc").desc, col("term")).limit(20)
        .select(col("term"))
        .transform(Cut.small(20)) // broadcast into cells and grid
      val stot = toks.groupBy("source").agg(count(lit(1)).as("nt"))
      val cells = toks.join(broadcast(top), Seq("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      // anchor the full source×term grid: a source missing a marker
      // has relative frequency exactly 0, not a dropped row
      val grid = stot.crossJoin(broadcast(top))
        .join(cells, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          (dbl(coalesce(col("c"), lit(0L))) / dbl(col("nt")))
            .as("f"))
        // sources × top terms; feeds the marker stats and the z-scores
        .transform(Cut.small(20 * 20))
      val stats = grid
        .select(col("term"), struct(col("source"), col("f")).as("sf"))
        .groupBy("term")
        .agg(sort_array(collect_list(col("sf"))).as("fs"))
        .select(col("term"),
          size(col("fs")).cast("long").as("ns"),
          sumInOrder(col("fs"))(_.getField("f")).as("sf1"),
          sumInOrder(col("fs"))(c => c.getField("f") * c.getField("f"))
            .as("sf2"))
        .withColumn("mu", col("sf1") / dbl(col("ns")))
        .withColumn("sd",
          sqrt(greatest(lit(0.0),
            col("sf2") / dbl(col("ns")) - col("mu") * col("mu"))))
      val z = grid.join(broadcast(stats.select(col("term"), col("mu"),
          col("sd"))), Seq("term"))
        .select(col("source"), col("term"),
          when(col("sd") > 0.0, (col("f") - col("mu")) / col("sd"))
            .otherwise(lit(0.0)).as("z"))
      z.select(col("source").as("s1"), col("term"), col("z").as("z1"))
        .join(z.select(col("source").as("s2"), col("term"),
          col("z").as("z2")), Seq("term"))
        .where(col("s1") < col("s2"))
        .select(col("s1"), col("s2"),
          struct(col("term"), abs(col("z1") - col("z2")).as("az"))
            .as("cell"))
        .groupBy("s1", "s2")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("s1"), col("s2"),
          (sumInOrder(col("cs"))(_.getField("az"))
            / dbl(size(col("cs")))).as("burrows_delta"))
    }, Some("""
      WITH toks AS (SELECT source,
          unnest(string_split(text, ' ')) AS term
        FROM documents),
      tk AS (SELECT source, term FROM toks WHERE len(term) > 0),
      top AS (SELECT term FROM (SELECT term,
            CAST(count(*) AS BIGINT) AS tc
          FROM tk GROUP BY 1)
        ORDER BY tc DESC, term LIMIT 20),
      stot AS (SELECT source, CAST(count(*) AS BIGINT) AS nt
        FROM tk GROUP BY 1),
      cells AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
        FROM tk JOIN top USING (term) GROUP BY 1, 2),
      grid AS (SELECT stot.source, top.term,
          CAST(coalesce(c, 0) AS DOUBLE) / CAST(nt AS DOUBLE) AS f
        FROM stot CROSS JOIN top
        LEFT JOIN cells ON cells.source = stot.source
          AND cells.term = top.term),
      st AS (SELECT term, cs, CAST(len(cs) AS BIGINT) AS ns,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> c.f)), (x, y) -> x + y) AS sf1,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> c.f * c.f)), (x, y) -> x + y)
            AS sf2
        FROM (SELECT term, list_sort(list(struct_pack(
            source := source, f := f))) AS cs
          FROM grid GROUP BY 1)),
      ms AS (SELECT term, sf1 / CAST(ns AS DOUBLE) AS mu,
          sqrt(greatest(0.0, sf2 / CAST(ns AS DOUBLE)
            - (sf1 / CAST(ns AS DOUBLE))
              * (sf1 / CAST(ns AS DOUBLE)))) AS sd
        FROM st),
      z AS (SELECT source, grid.term,
          CASE WHEN sd > 0.0 THEN (f - mu) / sd ELSE 0.0 END AS z
        FROM grid JOIN ms ON grid.term = ms.term),
      pr AS (SELECT a.s1, a.s2, list_sort(list(struct_pack(
            term := a.term, az := a.az))) AS cs
        FROM (SELECT z1.source AS s1, z2.source AS s2, z1.term,
            abs(z1.z - z2.z) AS az
          FROM z z1 JOIN z z2 ON z1.term = z2.term
            AND z1.source < z2.source) a
        GROUP BY 1, 2)
      SELECT s1, s2,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> c.az)), (x, y) -> x + y)
          / CAST(len(cs) AS DOUBLE) AS burrows_delta
      FROM pr""")),

    // Per-term χ² feature selection for English-vs-rest — "which
    // terms most separate the target language?", the vocabulary
    // screening every classifier pipeline runs before training
    // (q234's WoE/IV screens FEATURES; this screens the open term
    // vocabulary and keeps only the top 20). Per term the
    // document-presence 2×2 against the binary label is exact
    // BIGINT (distinct doc-term pairs, margins broadcast), and
    // χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) assembles in DOUBLE
    // (both the squared numerator and the four-margin product
    // overflow BIGINT at web scale — q228). Deterministic
    // TakeOrderedAndProject: χ² desc, term asc. Degenerate margins
    // guard to 0 so constants never rank.
    QueryDef("q347_chi2_terms", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y"), col("text"))
      val tot = docs.agg(count(lit(1)).as("n"),
        coalesce(sum(col("y")), lit(0L)).as("npos"))
      val dt = docs
        .select(col("doc_id"), col("y"),
          explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .select(col("doc_id"), col("y"), col("term")).distinct()
      dt.groupBy("term")
        .agg(count(lit(1)).as("df"),
          coalesce(sum(col("y")), lit(0L)).as("a"))
        .crossJoin(broadcast(tot))
        .withColumn("b", col("df") - col("a"))
        .withColumn("c", col("npos") - col("a"))
        .withColumn("dd", col("n") - col("npos") - col("b"))
        .withColumn("den",
          dbl(col("a") + col("b")) * dbl(col("c") + col("dd"))
            * dbl(col("a") + col("c")) * dbl(col("b") + col("dd")))
        .select(col("term"), col("a"), col("b"), col("c"), col("dd"),
          when(col("den") > 0.0,
            dbl(col("n"))
              * (dbl(col("a")) * dbl(col("dd"))
                - dbl(col("b")) * dbl(col("c")))
              * (dbl(col("a")) * dbl(col("dd"))
                - dbl(col("b")) * dbl(col("c")))
              / col("den"))
            .otherwise(lit(0.0)).as("chi2_term"))
        .orderBy(col("chi2_term").desc, col("term"))
        .limit(20)
    }, Some("""
      WITH docs AS (SELECT doc_id,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
          text
        FROM documents),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(y), 0) AS BIGINT) AS npos FROM docs),
      dt AS (SELECT DISTINCT doc_id, y, term FROM (
          SELECT doc_id, y, unnest(string_split(text, ' ')) AS term
          FROM docs)
        WHERE len(term) > 0),
      cells AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
          CAST(coalesce(sum(y), 0) AS BIGINT) AS a
        FROM dt GROUP BY 1),
      e AS (SELECT term, a, df - a AS b, npos - a AS c,
          n - npos - (df - a) AS dd, n
        FROM cells, tot),
      f AS (SELECT *,
        CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)
          * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE) AS den
        FROM e)
      SELECT term, a, b, c, dd,
        CASE WHEN den > 0.0
          THEN CAST(n AS DOUBLE)
            * (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            * (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            / den
          ELSE 0.0 END AS chi2_term
      FROM f
      ORDER BY chi2_term DESC, term LIMIT 20""")),

    // Dunning log-likelihood keyness — the top-20 terms most
    // characteristic of source src0 versus the rest of the corpus,
    // by token-frequency G². The corpus-linguistics standard that
    // behaves where raw χ² explodes on rare terms, and here it is
    // EXACT-friendly: the 2×2 G² expands to
    // 2(Σ_cells O·ln O + N·ln N − Σ_margins M·ln M), every single
    // logarithm argument an INTEGER count — the same identity family
    // as q335, so portable_ln carries the whole statistic. Zero
    // cells contribute 0 (the 0·ln 0 convention); the signed
    // keyness (positive = over-represented in src0) orders the
    // deterministic TakeOrderedAndProject (G² desc, term asc).
    QueryDef("q348_llr_keyness", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      def xlx(c: Column) =
        when(c > 0, dbl(c) * pln(c)).otherwise(lit(0.0))
      val toks = t(s, d, "documents")
        .select((col("source") === "src0").cast("long").as("g"),
          explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
      val tot = toks.agg(count(lit(1)).as("n"),
        coalesce(sum(col("g")), lit(0L)).as("n1"))
      toks.groupBy("term")
        .agg(count(lit(1)).as("tf"),
          coalesce(sum(col("g")), lit(0L)).as("a"))
        .crossJoin(broadcast(tot))
        .withColumn("b", col("tf") - col("a"))
        .withColumn("c", col("n1") - col("a"))
        .withColumn("dd", col("n") - col("n1") - col("b"))
        .withColumn("g2",
          lit(2.0) * (xlx(col("a")) + xlx(col("b")) + xlx(col("c"))
            + xlx(col("dd")) + xlx(col("n"))
            - xlx(col("a") + col("b")) - xlx(col("c") + col("dd"))
            - xlx(col("a") + col("c")) - xlx(col("b") + col("dd"))))
        .select(col("term"), col("a"), col("b"),
          when(dbl(col("a")) * dbl(col("n"))
              >= dbl(col("a") + col("b")) * dbl(col("n1")),
            col("g2")).otherwise(-col("g2")).as("keyness_g2"))
        .orderBy(abs(col("keyness_g2")).desc, col("term"))
        .limit(20)
    }, Some("""
      WITH toks AS (SELECT
          CAST(CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS BIGINT)
            AS g,
          unnest(string_split(text, ' ')) AS term
        FROM documents),
      tk AS (SELECT g, term FROM toks WHERE len(term) > 0),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(g), 0) AS BIGINT) AS n1 FROM tk),
      cells AS (SELECT term, CAST(count(*) AS BIGINT) AS tf,
          CAST(coalesce(sum(g), 0) AS BIGINT) AS a
        FROM tk GROUP BY 1),
      e AS (SELECT term, a, tf - a AS b, n1 - a AS c,
          n - n1 - (tf - a) AS dd, n, n1
        FROM cells, tot),
      f AS (SELECT term, a, b,
        2.0 * ((CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
            * ln(CAST(a AS DOUBLE)) ELSE 0.0 END)
          + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
            * ln(CAST(b AS DOUBLE)) ELSE 0.0 END)
          + (CASE WHEN c > 0 THEN CAST(c AS DOUBLE)
            * ln(CAST(c AS DOUBLE)) ELSE 0.0 END)
          + (CASE WHEN dd > 0 THEN CAST(dd AS DOUBLE)
            * ln(CAST(dd AS DOUBLE)) ELSE 0.0 END)
          + (CASE WHEN n > 0 THEN CAST(n AS DOUBLE)
            * ln(CAST(n AS DOUBLE)) ELSE 0.0 END)
          - (CASE WHEN a + b > 0 THEN CAST(a + b AS DOUBLE)
            * ln(CAST(a + b AS DOUBLE)) ELSE 0.0 END)
          - (CASE WHEN c + dd > 0 THEN CAST(c + dd AS DOUBLE)
            * ln(CAST(c + dd AS DOUBLE)) ELSE 0.0 END)
          - (CASE WHEN a + c > 0 THEN CAST(a + c AS DOUBLE)
            * ln(CAST(a + c AS DOUBLE)) ELSE 0.0 END)
          - (CASE WHEN b + dd > 0 THEN CAST(b + dd AS DOUBLE)
            * ln(CAST(b + dd AS DOUBLE)) ELSE 0.0 END)) AS g2,
        CAST(a AS DOUBLE) * CAST(n AS DOUBLE) AS lhs,
        CAST(a + b AS DOUBLE) * CAST(n1 AS DOUBLE) AS rhs
        FROM e)
      SELECT term, a, b,
        CASE WHEN lhs >= rhs THEN g2 ELSE -g2 END AS keyness_g2
      FROM f
      ORDER BY abs(CASE WHEN lhs >= rhs THEN g2 ELSE -g2 END) DESC,
        term LIMIT 20""")),

    // ABC (Pareto) classification of parts by line-item volume — the
    // inventory-policy workhorse: A = the head items covering 80% of
    // cumulative volume, B = the next 15%, C = the tail — plus each
    // class's item and volume share. The cumulative ranking runs on
    // the distributed PrefixSum CDF over (count, partkey)-unique
    // keys (descending volume via the ascending scan of negated
    // counts), the 80/95 thresholds compare as exact integers
    // 20·cum ≥ 16·total etc. (no percentage doubles until the final
    // shares), and the ≤3-row class table divides twice per row.
    QueryDef("q349_abc_analysis", (s, d) => {
      val vols = t(s, d, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("v"))
      // unique order key for the CDF: (-v, partkey) ascending = volume
      // descending, deterministic tie order
      val keyed = vols.select(col("l_partkey"), col("v"),
        struct((-col("v")).as("nv"), col("l_partkey").as("pk"))
          .as("ok"))
      val cum = PrefixSum
        .withRunningTotals(keyed.select(col("ok"), col("v")), "ok",
          Seq("v"))
      val tot = vols.agg(coalesce(sum(col("v")), lit(0L)).as("tv"),
        count(lit(1)).as("ti"))
      cum.crossJoin(broadcast(tot))
        .select(
          when(lit(20L) * col("v_cum") <= lit(16L) * col("tv"), "A")
            .when(lit(20L) * col("v_cum") <= lit(19L) * col("tv"), "B")
            .otherwise("C").as("abc"),
          col("v"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_items"),
          coalesce(sum(col("v")), lit(0L)).as("vol"))
        .crossJoin(broadcast(tot))
        .select(col("abc"), col("n_items"), col("vol"),
          (dbl(col("n_items")) / dbl(col("ti"))).as("item_share"),
          (dbl(col("vol")) / dbl(col("tv"))).as("vol_share"))
    }, Some("""
      WITH vols AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS v
        FROM lineitem GROUP BY 1),
      cum AS (SELECT l_partkey, v,
          CAST(sum(v) OVER (ORDER BY v DESC, l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS v_cum
        FROM vols),
      tot AS (SELECT CAST(coalesce(sum(v), 0) AS BIGINT) AS tv,
          CAST(count(*) AS BIGINT) AS ti FROM vols),
      cls AS (SELECT CASE
            WHEN 20 * v_cum <= 16 * tv THEN 'A'
            WHEN 20 * v_cum <= 19 * tv THEN 'B'
            ELSE 'C' END AS abc, v
        FROM cum, tot),
      g AS (SELECT abc, CAST(count(*) AS BIGINT) AS n_items,
          CAST(coalesce(sum(v), 0) AS BIGINT) AS vol
        FROM cls GROUP BY 1)
      SELECT abc, n_items, vol,
        CAST(n_items AS DOUBLE) / CAST(ti AS DOUBLE) AS item_share,
        CAST(vol AS DOUBLE) / CAST(tv AS DOUBLE) AS vol_share
      FROM g, tot""")),

    // XmR (individuals / moving-range) control chart for the daily
    // event counts — the SPC readout an on-call engineer puts on a
    // dashboard: center line, the 2.66·MR̄ natural process limits,
    // and how many days breach them (q215's CUSUM finds sustained
    // small shifts; XmR flags single excursions). The moving range
    // uses a lag over the dimension-sized day frame; both means are
    // single rational divisions of BIGINT sums, the limit
    // comparisons run in doubles on the fixed tree, and the breach
    // counts are exact. Fewer than 2 days guards the limits to NaN.
    QueryDef("q350_xmr_control", (s, d) => {
      val daily = dailyEvents(s, d)
      val w = Window.orderBy("day")
      val mr = daily
        .withColumn("prev", lag(col("c"), 1).over(w))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(when(col("prev").isNotNull,
            abs(col("c") - col("prev"))).otherwise(0L)), lit(0L))
            .as("mr_sum"),
          coalesce(sum(when(col("prev").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("mr_n"))
        .withColumn("xbar", dbl(col("s_tot")) / dbl(col("n")))
        .withColumn("mrbar",
          when(col("mr_n") > 0, dbl(col("mr_sum")) / dbl(col("mr_n"))))
        .withColumn("ucl", col("xbar") + lit(2.66) * col("mrbar"))
        .withColumn("lcl", col("xbar") - lit(2.66) * col("mrbar"))
      daily.crossJoin(broadcast(mr))
        .agg(max(col("n")).as("n_days"), max(col("xbar")).as("xbar"),
          max(col("mrbar")).as("mrbar"), max(col("ucl")).as("ucl"),
          max(col("lcl")).as("lcl"),
          coalesce(sum(when(dbl(col("c")) > col("ucl"), 1L)
            .otherwise(0L)), lit(0L)).as("n_above"),
          coalesce(sum(when(dbl(col("c")) < col("lcl"), 1L)
            .otherwise(0L)), lit(0L)).as("n_below"))
        .select(col("n_days"), col("xbar"),
          coalesce(col("mrbar"), lit(Double.NaN)).as("mrbar"),
          coalesce(col("ucl"), lit(Double.NaN)).as("ucl"),
          coalesce(col("lcl"), lit(Double.NaN)).as("lcl"),
          col("n_above"), col("n_below"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      lagged AS (SELECT day, c,
          lag(c) OVER (ORDER BY day) AS prev FROM daily),
      mr AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
            THEN abs(c - prev) ELSE 0 END), 0) AS BIGINT) AS mr_sum,
          CAST(coalesce(sum(CASE WHEN prev IS NOT NULL THEN 1
            ELSE 0 END), 0) AS BIGINT) AS mr_n
        FROM lagged),
      lim AS (SELECT *,
          CAST(s_tot AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
          CASE WHEN mr_n > 0 THEN CAST(mr_sum AS DOUBLE)
            / CAST(mr_n AS DOUBLE) END AS mrbar
        FROM mr),
      lim2 AS (SELECT *, xbar + 2.66 * mrbar AS ucl,
          xbar - 2.66 * mrbar AS lcl FROM lim),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n_days,
          max(xbar) AS xbar, max(mrbar) AS mrbar,
          max(ucl) AS ucl, max(lcl) AS lcl,
          CAST(coalesce(sum(CASE WHEN CAST(c AS DOUBLE) > ucl THEN 1
            ELSE 0 END), 0) AS BIGINT) AS n_above,
          CAST(coalesce(sum(CASE WHEN CAST(c AS DOUBLE) < lcl THEN 1
            ELSE 0 END), 0) AS BIGINT) AS n_below
        FROM daily, lim2)
      SELECT n_days, xbar,
        coalesce(mrbar, CAST('nan' AS DOUBLE)) AS mrbar,
        coalesce(ucl, CAST('nan' AS DOUBLE)) AS ucl,
        coalesce(lcl, CAST('nan' AS DOUBLE)) AS lcl,
        n_above, n_below
      FROM a""")),

    // Partial autocorrelation of the daily series at lags 1–3 via
    // the closed-form Durbin–Levinson recursion — "is the
    // day-over-day dependence DIRECT, or just lag-1 echoing?", the
    // AR-order diagnostic q209's raw ACF can't answer: φ₁₁ = r₁,
    // φ₂₂ = (r₂−r₁²)/(1−r₁²), and φ₃₃ from the order-2 step. The
    // lag autocovariances use the n-scaled exact form
    // Σ(n·cₜ−S)(n·cₜ₊ₖ−S) over BIGINT with the LAG-0 denominator,
    // so each rₖ is one division and the recursion a fixed tree.
    // Degenerate denominators guard NaN.
    QueryDef("q351_pacf", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c")), lit(0L)).as("s_tot"))
      val w = Window.orderBy("day")
      val base = daily.crossJoin(broadcast(tot))
        .withColumn("d0", col("n") * col("c") - col("s_tot"))
        .withColumn("d1", lead(col("n") * col("c") - col("s_tot"), 1)
          .over(w))
        .withColumn("d2", lead(col("n") * col("c") - col("s_tot"), 2)
          .over(w))
        .withColumn("d3", lead(col("n") * col("c") - col("s_tot"), 3)
          .over(w))
      val acv = base.agg(
        coalesce(sum(col("d0") * col("d0")), lit(0L)).as("g0"),
        coalesce(sum(when(col("d1").isNotNull, col("d0") * col("d1"))
          .otherwise(0L)), lit(0L)).as("g1"),
        coalesce(sum(when(col("d2").isNotNull, col("d0") * col("d2"))
          .otherwise(0L)), lit(0L)).as("g2"),
        coalesce(sum(when(col("d3").isNotNull, col("d0") * col("d3"))
          .otherwise(0L)), lit(0L)).as("g3"))
      acv
        .withColumn("r1",
          when(col("g0") > 0, dbl(col("g1")) / dbl(col("g0"))))
        .withColumn("r2",
          when(col("g0") > 0, dbl(col("g2")) / dbl(col("g0"))))
        .withColumn("r3",
          when(col("g0") > 0, dbl(col("g3")) / dbl(col("g0"))))
        .withColumn("phi22",
          when(lit(1.0) - col("r1") * col("r1") =!= 0.0,
            (col("r2") - col("r1") * col("r1"))
              / (lit(1.0) - col("r1") * col("r1"))))
        .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
        .withColumn("den3",
          lit(1.0) - col("phi21") * col("r1")
            - col("phi22") * col("r2"))
        .select(
          coalesce(col("r1"), lit(Double.NaN)).as("pacf1"),
          coalesce(col("phi22"), lit(Double.NaN)).as("pacf2"),
          coalesce(
            when(col("den3") =!= 0.0,
              (col("r3") - col("phi21") * col("r2")
                - col("phi22") * col("r1")) / col("den3")),
            lit(Double.NaN)).as("pacf3"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot FROM daily),
      base AS (SELECT day, n * c - s_tot AS d0,
          lead(n * c - s_tot, 1) OVER (ORDER BY day) AS d1,
          lead(n * c - s_tot, 2) OVER (ORDER BY day) AS d2,
          lead(n * c - s_tot, 3) OVER (ORDER BY day) AS d3
        FROM daily, tot),
      acv AS (SELECT
        CAST(coalesce(sum(d0 * d0), 0) AS BIGINT) AS g0,
        CAST(coalesce(sum(CASE WHEN d1 IS NOT NULL THEN d0 * d1
          ELSE 0 END), 0) AS BIGINT) AS g1,
        CAST(coalesce(sum(CASE WHEN d2 IS NOT NULL THEN d0 * d2
          ELSE 0 END), 0) AS BIGINT) AS g2,
        CAST(coalesce(sum(CASE WHEN d3 IS NOT NULL THEN d0 * d3
          ELSE 0 END), 0) AS BIGINT) AS g3
        FROM base),
      r AS (SELECT
        CASE WHEN g0 > 0 THEN CAST(g1 AS DOUBLE) / CAST(g0 AS DOUBLE)
          END AS r1,
        CASE WHEN g0 > 0 THEN CAST(g2 AS DOUBLE) / CAST(g0 AS DOUBLE)
          END AS r2,
        CASE WHEN g0 > 0 THEN CAST(g3 AS DOUBLE) / CAST(g0 AS DOUBLE)
          END AS r3
        FROM acv),
      p2 AS (SELECT *,
        CASE WHEN 1.0 - r1 * r1 <> 0.0
          THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
        FROM r),
      p3 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM p2),
      p4 AS (SELECT *, 1.0 - phi21 * r1 - phi22 * r2 AS den3
        FROM p3)
      SELECT coalesce(r1, CAST('nan' AS DOUBLE)) AS pacf1,
        coalesce(phi22, CAST('nan' AS DOUBLE)) AS pacf2,
        coalesce(CASE WHEN den3 <> 0.0
          THEN (r3 - phi21 * r2 - phi22 * r1) / den3 END,
          CAST('nan' AS DOUBLE)) AS pacf3
      FROM p4""")),

    // RFM segmentation — every customer scored into recency ×
    // frequency × monetary quintiles and the population counted per
    // segment, the classical activation/churn map (q107's cohort
    // retention slices by TIME; RFM slices by BEHAVIOR). All three
    // dimensions stay exact: R = days since last order (integer vs
    // the global max date), F = order count, M = the biggest single
    // order (max, not a float sum — no cross-row double
    // accumulation); each quintile is the distributed PrefixSum CDF
    // integer bin of q287 (ties share a bin); the bin formula gives
    // SMALL values HIGH bins, so R quintile 4 = most recent (small
    // gap) and F/M quintile 4 = least active — consistent, and each
    // axis's direction documented here. Output is the ≤5³-segment
    // count table with each segment's share.
    QueryDef("q352_rfm_segments", (s, d) => {
      val maxd = t(s, d, "orders")
        .agg(max(col("o_orderdate").cast("date")).as("dmax"))
      val per = t(s, d, "orders").crossJoin(broadcast(maxd))
        .groupBy(col("o_custkey"))
        .agg(min(datediff(col("dmax"),
            col("o_orderdate").cast("date"))).cast("long").as("r"),
          count(lit(1)).as("f"), max(col("o_totalprice")).as("m"))
        // per feeds the three quintile cell tables, tot and the final
        // join
        .transform(Cut.large)
      def quintile(vc: String, out: String) = {
        val cells = per.groupBy(col(vc).as("sc"))
          .agg(count(lit(1)).as("n"))
        val nn = cells.agg(coalesce(sum(col("n")), lit(0L)).as("nn"))
        PrefixSum.withRunningTotals(cells, "sc", Seq("n"))
          .crossJoin(broadcast(nn))
          .select(col("sc").as(vc),
            expr("(5 * (nn - n_cum)) DIV nn").as(out))
      }
      val tot = per.agg(count(lit(1)).as("nc"))
      per
        .join(broadcast(quintile("r", "rq")), Seq("r"))
        .join(broadcast(quintile("f", "fq")), Seq("f"))
        .join(broadcast(quintile("m", "mq")), Seq("m"))
        .groupBy("rq", "fq", "mq")
        .agg(count(lit(1)).as("n_customers"))
        .crossJoin(broadcast(tot))
        .select(col("rq"), col("fq"), col("mq"), col("n_customers"),
          (dbl(col("n_customers")) / dbl(col("nc"))).as("share"))
    }, Some("""
      WITH maxd AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax
        FROM orders),
      per AS (SELECT o_custkey,
          CAST(min(date_diff('day', CAST(o_orderdate AS DATE), dmax))
            AS BIGINT) AS r,
          CAST(count(*) AS BIGINT) AS f,
          max(o_totalprice) AS m
        FROM orders, maxd GROUP BY 1),
      rc AS (SELECT sc, n, CAST(sum(n) OVER (ORDER BY sc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS n_cum
        FROM (SELECT r AS sc, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      rn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM rc),
      rq AS (SELECT sc AS r, (5 * (nn - n_cum)) // nn AS rq
        FROM rc, rn),
      fc AS (SELECT sc, n, CAST(sum(n) OVER (ORDER BY sc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS n_cum
        FROM (SELECT f AS sc, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      fn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM fc),
      fq AS (SELECT sc AS f, (5 * (nn - n_cum)) // nn AS fq
        FROM fc, fn),
      mc AS (SELECT sc, n, CAST(sum(n) OVER (ORDER BY sc
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS n_cum
        FROM (SELECT m AS sc, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      mn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM mc),
      mq AS (SELECT sc AS m, (5 * (nn - n_cum)) // nn AS mq
        FROM mc, mn),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM per),
      seg AS (SELECT rq.rq, fq.fq, mq.mq,
          CAST(count(*) AS BIGINT) AS n_customers
        FROM per JOIN rq ON per.r = rq.r
        JOIN fq ON per.f = fq.f
        JOIN mq ON per.m = mq.m
        GROUP BY 1, 2, 3)
      SELECT rq, fq, mq, n_customers,
        CAST(n_customers AS DOUBLE) / CAST(nc AS DOUBLE) AS share
      FROM seg, tot""")),

    // 80%-survival time from the q192 Kaplan–Meier curve — "when
    // has a fifth of the cohort churned?", the quantile review
    // number (this corpus's censoring-heavy curve bottoms out near
    // 0.77, so the MEDIAN never exists — the 0.8 quantile is the
    // deepest round quantile the data reaches at every SF), read as
    // the earliest life-table time whose KM survival drops to
    // ≤ 0.8. Same cell machinery as q192 end-to-end; the crossing
    // is a filtered deterministic ordered LIMIT 1 — never a
    // driver-side scan.
    QueryDef("q353_km_quantile", (s, d) => {
      kmRiskSets(s, d)
        .select(col("t"),
          aggregate(col("fs"), lit(1.0), (acc, f) =>
            acc * coalesce(lit(1.0) - f.getField("bd").cast("double") /
              f.getField("bar").cast("double"), lit(1.0))).as("surv"))
        .where(col("surv") <= 0.8)
        .orderBy("t").limit(1)
        .select(col("t").as("t_q80"), col("surv").as("surv_at_q80"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      died AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      cells AS (SELECT t, CAST(sum(died) AS BIGINT) AS d,
          CAST(sum(1 - died) AS BIGINT) AS c
        FROM span JOIN died USING (user_id) GROUP BY 1),
      enr AS (SELECT t, d, c,
          CAST(sum(d + c) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS at_risk
        FROM cells),
      fs AS (SELECT a.t, a.at_risk, a.d, a.c,
          list_sort(list(struct_pack(bt := b.t, bd := b.d,
            bar := b.at_risk))) AS fs
        FROM enr a LEFT JOIN enr b ON b.t <= a.t AND b.d > 0
        GROUP BY 1, 2, 3, 4),
      sv AS (SELECT t,
        list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
          list_transform(fs, f -> coalesce(
            1.0 - CAST(f.bd AS DOUBLE) / CAST(f.bar AS DOUBLE), 1.0))),
          (a, b) -> a * b) AS surv
        FROM fs)
      SELECT t AS t_q80, surv AS surv_at_q80
      FROM sv WHERE surv <= 0.8
      ORDER BY t LIMIT 1""")),

    // Piecewise-exponential hazard over the q192 lifetimes — the
    // actuarial rate table: deaths per person-day within the bands
    // [1,10), [10,20), [20,∞), each band's exposure summed exactly
    // (a user of lifetime t contributes min(t,hi)−lo+1 days to a
    // band once t ≥ lo — closed-form integer arithmetic on the
    // duration cells, no per-day explode), so every λ̂ is one
    // BIGINT/BIGINT division. This is what q306's Nelson–Aalen
    // looks like after smoothing to constant-rate intervals — and
    // the form a capacity model actually consumes. Zero-exposure
    // bands guard NaN.
    QueryDef("q354_piecewise_hazard", (s, d) => {
      val per = lifetimes(s, d)
      val cells = per.groupBy("t")
        .agg(coalesce(sum(col("died")), lit(0L)).as("d"),
          count(lit(1)).as("n"))
      val bands = t(s, d, "region")
        .select(col("r_regionkey").cast("long").as("bi"))
        .where(col("bi") < 3)
        .select(col("bi"), (col("bi") * 10L + 1L).as("lo"),
          when(col("bi") < 2, (col("bi") + 1L) * 10L)
            .otherwise(lit(Long.MaxValue)).as("hi"))
      cells.crossJoin(broadcast(bands))
        .where(col("t") >= col("lo"))
        .groupBy("bi", "lo")
        .agg(
          coalesce(sum(col("n")
            * (least(col("t"), col("hi")) - col("lo") + 1L)),
            lit(0L)).as("person_days"),
          coalesce(sum(when(col("t") <= col("hi"), col("d"))
            .otherwise(0L)), lit(0L)).as("deaths"))
        .select(col("bi").as("band"), col("lo"), col("person_days"),
          col("deaths"),
          when(col("person_days") > 0,
            dbl(col("deaths")) / dbl(col("person_days")))
            .otherwise(lit(Double.NaN)).as("hazard_rate"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      died AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t
        FROM events GROUP BY 1),
      cells AS (SELECT t, CAST(coalesce(sum(died), 0) AS BIGINT) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM span JOIN died USING (user_id) GROUP BY 1),
      bands AS (SELECT CAST(r_regionkey AS BIGINT) AS bi,
          CAST(r_regionkey AS BIGINT) * 10 + 1 AS lo,
          CASE WHEN r_regionkey < 2
            THEN (CAST(r_regionkey AS BIGINT) + 1) * 10
            ELSE 9223372036854775807 END AS hi
        FROM region WHERE r_regionkey < 3),
      g AS (SELECT bi, lo,
          CAST(coalesce(sum(n * (least(t, hi) - lo + 1)), 0)
            AS BIGINT) AS person_days,
          CAST(coalesce(sum(CASE WHEN t <= hi THEN d ELSE 0 END), 0)
            AS BIGINT) AS deaths
        FROM cells, bands WHERE t >= lo GROUP BY 1, 2)
      SELECT bi AS band, lo, person_days, deaths,
        CASE WHEN person_days > 0
          THEN CAST(deaths AS DOUBLE) / CAST(person_days AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS hazard_rate
      FROM g""")),

    // Per-source KL divergence from the corpus language mix —
    // "how far does each crawl source's language profile drift from
    // the fleet average, in nats?" — the directed counterpart to
    // q204's symmetric JSD, and the quantity a source-reweighting
    // policy thresholds. The decomposition
    // KL = Σ (n_sl/N_s)(ln n_sl + ln N − ln N_s − ln m_l) keeps
    // EVERY portable_ln argument an INTEGER count; the per-source
    // fold runs lang-sorted over ≤|langs| cells (q138). KL ≥ 0 by
    // construction; empty sources guard NaN.
    QueryDef("q355_kl_per_source", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cells = t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val ml = cells.groupBy("lang").agg(sum("n").as("m"))
      val nTot = cells.agg(coalesce(sum(col("n")), lit(0L)).as("nt"))
      cells.join(broadcast(ml), Seq("lang"))
        .crossJoin(broadcast(nTot))
        .select(col("source"),
          struct(col("lang"), col("n"), col("m"), col("nt"))
            .as("cell"))
        .groupBy("source")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("source"),
          sumInOrder(col("cs"), lit(0L))(_.getField("n")).as("n_docs"),
          col("cs"))
        .select(col("source"), col("n_docs"),
          when(col("n_docs") > 0,
            sumInOrder(col("cs"))(c => dbl(c.getField("n"))
                * (pln(c.getField("n")) + pln(c.getField("nt"))
                  - pln(col("n_docs")) - pln(c.getField("m"))))
              / dbl(col("n_docs")))
            .otherwise(lit(Double.NaN)).as("kl_nats"))
    }, Some("""
      WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2),
      ml AS (SELECT lang, CAST(sum(n) AS BIGINT) AS m
        FROM cells GROUP BY 1),
      nt AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS nt
        FROM cells),
      l AS (SELECT source, list_sort(list(struct_pack(lang := lang,
          n := n, m := m, nt := nt))) AS cs
        FROM cells JOIN ml USING (lang), nt GROUP BY 1),
      a AS (SELECT source, cs,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(cs, c -> c.n)), (x, y) -> x + y) AS n_docs
        FROM l)
      SELECT source, n_docs,
        CASE WHEN n_docs > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> CAST(c.n AS DOUBLE)
              * (ln(CAST(c.n AS DOUBLE)) + ln(CAST(c.nt AS DOUBLE))
                - ln(CAST(n_docs AS DOUBLE))
                - ln(CAST(c.m AS DOUBLE))))), (x, y) -> x + y)
            / CAST(n_docs AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS kl_nats
      FROM a""")),

    // Average precision of "character length ranks English docs" —
    // the ranking-quality summary that integrates precision over
    // recall where q189's AUC integrates TPR over FPR (AP weights
    // the HEAD, which is what retrieval cares about). Ties are
    // handled by the deterministic BLOCK convention, stated
    // explicitly: each distinct score is one block scanned in score-
    // descending order, and every positive in a block contributes
    // the precision at the BLOCK END — reproducible in any engine,
    // no arbitrary within-tie order. Block boundaries come from the
    // PrefixSum CDF over (negated score, count, positives) cells;
    // each block's contribution is one rational; the fold runs
    // block-sorted. No positives guards NaN.
    QueryDef("q356_average_precision", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("n_chars").as("sc"),
          (col("lang") === "en").cast("long").as("y"))
      val cells = docs.groupBy((-col("sc")).as("ns"))
        .agg(count(lit(1)).as("cnt"),
          coalesce(sum(col("y")), lit(0L)).as("pos"))
      val cum = PrefixSum.withRunningTotals(cells, "ns", Seq("cnt", "pos"))
      val tot = cells.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
        coalesce(sum(col("pos")), lit(0L)).as("p"))
      cum
        .select(struct(col("ns"), col("pos"), col("cnt_cum"),
          col("pos_cum")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .crossJoin(broadcast(tot))
        .select(col("n").as("n_docs"), col("p").as("total_pos"),
          when(col("p") > 0,
            sumInOrder(col("cs"))(c => dbl(c.getField("pos"))
                * (dbl(c.getField("pos_cum"))
                  / dbl(c.getField("cnt_cum"))))
              / dbl(col("p")))
            .otherwise(lit(Double.NaN)).as("avg_precision"))
    }, Some("""
      WITH docs AS (SELECT n_chars AS sc,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM documents),
      cells AS (SELECT -sc AS ns, CAST(count(*) AS BIGINT) AS cnt,
          CAST(coalesce(sum(y), 0) AS BIGINT) AS pos
        FROM docs GROUP BY 1),
      cum AS (SELECT ns, pos,
          CAST(sum(cnt) OVER w AS BIGINT) AS cnt_cum,
          CAST(sum(pos) OVER w AS BIGINT) AS pos_cum
        FROM cells WINDOW w AS (ORDER BY ns
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(pos), 0) AS BIGINT) AS p FROM cells),
      l AS (SELECT list_sort(list(struct_pack(ns := ns, pos := pos,
          cnt_cum := cnt_cum, pos_cum := pos_cum))) AS cs FROM cum)
      SELECT n AS n_docs, p AS total_pos,
        CASE WHEN p > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> CAST(c.pos AS DOUBLE)
              * (CAST(c.pos_cum AS DOUBLE)
                / CAST(c.cnt_cum AS DOUBLE)))), (x, y) -> x + y)
            / CAST(p AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS avg_precision
      FROM l, tot""")),

    // Expected / maximum calibration error of the stopword-fraction
    // "English-ness score" against the true label, with the
    // BIN-MIDPOINT confidence convention (stated explicitly:
    // conf_b = (b+½)/10, which keeps the whole statistic exact —
    // the mean-score variant would need a cross-row double sum,
    // the one operation this library never does). Bins are the
    // integer (10·hits) DIV tokens clamped to 9; per-bin accuracy
    // is an exact BIGINT ratio; ECE = Σ (n_b/N)|acc_b − mid_b|
    // folds bin-sorted and MCE is the max gap over the same ≤10
    // cells. Empty input guards NaN.
    QueryDef("q357_ece", (s, d) => {
      val txt = col("text")
      val hits = size(regexp_extract_all(lower(txt),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0))).cast("long")
      val toks = (length(txt) - length(regexp_replace(txt, " ", ""))
        + 1).cast("long")
      val binned = t(s, d, "documents")
        .select(hits.as("h"), toks.as("tk"),
          (col("lang") === "en").cast("long").as("y"))
        .select(expr("least(9L, (10 * h) DIV tk)").as("bin"),
          col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("nb"),
          coalesce(sum(col("y")), lit(0L)).as("pb"))
      val tot = binned.agg(coalesce(sum(col("nb")), lit(0L)).as("n"))
      binned
        .select(struct(col("bin"), col("nb"), col("pb")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .crossJoin(broadcast(tot))
        .select(col("n").as("n_docs"),
          when(col("n") > 0,
            sumInOrder(col("cs"))(c => dbl(c.getField("nb")) / dbl(col("n"))
                * abs(dbl(c.getField("pb")) / dbl(c.getField("nb"))
                  - (dbl(c.getField("bin")) + lit(0.5)) / lit(10.0))))
            .otherwise(lit(Double.NaN)).as("ece"),
          when(col("n") > 0,
            aggregate(col("cs"), lit(0.0), (a, c) =>
              greatest(a,
                abs(dbl(c.getField("pb")) / dbl(c.getField("nb"))
                  - (dbl(c.getField("bin")) + lit(0.5))
                    / lit(10.0)))))
            .otherwise(lit(Double.NaN)).as("mce"))
    }, Some("""
      WITH binned AS (SELECT
          least(9, 10 * CAST(len(regexp_extract_all(lower(text),
              '\b(the|a|and|of|to|in|is|that)\b')) AS BIGINT)
            // (CAST(length(text)
              - length(replace(text, ' ', '')) + 1 AS BIGINT)))
            AS bin,
          CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM documents),
      cells AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb,
          CAST(coalesce(sum(y), 0) AS BIGINT) AS pb
        FROM binned GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n
        FROM cells),
      l AS (SELECT list_sort(list(struct_pack(bin := bin, nb := nb,
          pb := pb))) AS cs FROM cells)
      SELECT n AS n_docs,
        CASE WHEN n > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> CAST(c.nb AS DOUBLE)
              / CAST(n AS DOUBLE)
              * abs(CAST(c.pb AS DOUBLE) / CAST(c.nb AS DOUBLE)
                - (CAST(c.bin AS DOUBLE) + 0.5) / 10.0))),
            (x, y) -> x + y)
          ELSE CAST('nan' AS DOUBLE) END AS ece,
        CASE WHEN n > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> abs(CAST(c.pb AS DOUBLE)
              / CAST(c.nb AS DOUBLE)
              - (CAST(c.bin AS DOUBLE) + 0.5) / 10.0))),
            (x, y) -> greatest(x, y))
          ELSE CAST('nan' AS DOUBLE) END AS mce
      FROM l, tot""")),

    // KPSS level-stationarity statistic for the daily series — the
    // null-reversed partner to the trend tests (q280 asks "is there
    // a trend?"; KPSS asks "is the LEVEL stable?" — running both
    // splits drift from random walk). The whole statistic collapses
    // to ONE exact BIGINT ratio: with dₜ = n·cₜ−S and partial sums
    // Mₜ = Σᵢ≤ₜdᵢ (the q319 integer excursion series),
    // η = ΣSₜ²/(n²σ̂²) = ΣMₜ²/(n·Σdₜ²) — every power of n cancels,
    // so the only floating-point op is the final division (lag-0
    // long-run variance, the textbook short-run form, stated
    // explicitly). Constant series guards NaN.
    QueryDef("q358_kpss", (s, d) => {
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c")), lit(0L)).as("s_tot"))
      val w = Window.orderBy("day")
      daily.crossJoin(broadcast(tot))
        .withColumn("dterm", col("n") * col("c") - col("s_tot"))
        .withColumn("m", sum(col("dterm")).over(w))
        .agg(max(col("n")).as("n"),
          coalesce(sum(col("m") * col("m")), lit(0L)).as("sm2"),
          coalesce(sum(col("dterm") * col("dterm")), lit(0L))
            .as("sd2"))
        .select(col("n").as("n_days"), col("sm2"), col("sd2"),
          when(col("sd2") > 0,
            dbl(col("sm2")) / dbl(col("n") * col("sd2")))
            .otherwise(lit(Double.NaN)).as("kpss_eta"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot FROM daily),
      seq AS (SELECT day, n, n * c - s_tot AS dterm,
          CAST(sum(n * c - s_tot) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS m
        FROM daily, tot),
      a AS (SELECT CAST(max(n) AS BIGINT) AS n,
          CAST(coalesce(sum(m * m), 0) AS BIGINT) AS sm2,
          CAST(coalesce(sum(dterm * dterm), 0) AS BIGINT) AS sd2
        FROM seq)
      SELECT n AS n_days, sm2, sd2,
        CASE WHEN sd2 > 0
          THEN CAST(sm2 AS DOUBLE) / CAST(n * sd2 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS kpss_eta
      FROM a""")),

    // Turning-points test for pure randomness of the daily series —
    // count the local peaks and troughs (strict on both sides; a
    // tied neighbor breaks the pattern, the standard strict
    // convention) and compare with the i.i.d. expectation
    // 2(n−2)/3, variance (16n−29)/90 — the quick "is there ANY
    // serial structure?" screen that q299's rank RVN refines.
    // Neighbor access is one lag+lead over the ≤day-count frame;
    // counts and the moment numerators stay BIGINT; the z is one
    // fixed tree. n < 3 guards NaN.
    QueryDef("q359_turning_points", (s, d) => {
      val daily = dailyEvents(s, d)
      val w = Window.orderBy("day")
      daily
        .withColumn("pv", lag(col("c"), 1).over(w))
        .withColumn("nx", lead(col("c"), 1).over(w))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("pv").isNotNull && col("nx").isNotNull
            && ((col("c") > col("pv") && col("c") > col("nx"))
              || (col("c") < col("pv") && col("c") < col("nx"))),
            1L).otherwise(0L)), lit(0L)).as("tp"))
        .select(col("n").as("n_days"), col("tp"),
          when(col("n") > 2,
            (dbl(col("tp"))
              - lit(2.0) * dbl(col("n") - 2L) / lit(3.0))
              / sqrt(dbl(lit(16L) * col("n") - 29L) / lit(90.0)))
            .otherwise(lit(Double.NaN)).as("z_turning"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      lagged AS (SELECT c,
          lag(c) OVER (ORDER BY day) AS pv,
          lead(c) OVER (ORDER BY day) AS nx
        FROM daily),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(CASE WHEN pv IS NOT NULL
            AND nx IS NOT NULL
            AND ((c > pv AND c > nx) OR (c < pv AND c < nx))
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
        FROM lagged)
      SELECT n AS n_days, tp,
        CASE WHEN n > 2
          THEN (CAST(tp AS DOUBLE)
              - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)
            / sqrt(CAST(16 * n - 29 AS DOUBLE) / 90.0)
          ELSE CAST('nan' AS DOUBLE) END AS z_turning
      FROM a""")),

    // Lotka's-law fit over user activity — regress ln(fₖ) on ln(k)
    // across the frequency-of-frequencies spectrum (fₖ = how many
    // users produced exactly k events) and report the power-law
    // exponent with its R²: the bibliometric companion to q177's
    // degree tail (MLE at a cutoff) that uses the WHOLE spectrum
    // and yields a goodness-of-fit. Every portable_ln argument is
    // an INTEGER (k and fₖ); the five OLS moments fold k-sorted
    // over the dimension-sized spectrum cells (q138); slope,
    // intercept and R² are fixed trees. Fewer than 2 spectrum
    // points or zero x-variance guards NaN.
    QueryDef("q360_lotka", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val spec = t(s, d, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("fk"))
      spec
        .select(struct(col("k"), col("fk")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(size(col("cs")).cast("long").as("m"),
          sumInOrder(col("cs"))(c => pln(c.getField("k"))).as("sx"),
          sumInOrder(col("cs"))(c => pln(c.getField("fk"))).as("sy"),
          sumInOrder(col("cs"))(c =>
            pln(c.getField("k")) * pln(c.getField("k")))
            .as("sxx"),
          sumInOrder(col("cs"))(c =>
            pln(c.getField("k")) * pln(c.getField("fk")))
            .as("sxy"),
          sumInOrder(col("cs"))(c => pln(c.getField("fk"))
              * pln(c.getField("fk"))).as("syy"))
        .withColumn("vx",
          dbl(col("m")) * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy",
          dbl(col("m")) * col("syy") - col("sy") * col("sy"))
        .withColumn("cxy",
          dbl(col("m")) * col("sxy") - col("sx") * col("sy"))
        .select(col("m").as("n_points"),
          when(col("m") > 1 && col("vx") > 0.0,
            col("cxy") / col("vx"))
            .otherwise(lit(Double.NaN)).as("lotka_slope"),
          when(col("m") > 1 && col("vx") > 0.0,
            (col("sy") - (col("cxy") / col("vx")) * col("sx"))
              / dbl(col("m")))
            .otherwise(lit(Double.NaN)).as("intercept_ln"),
          when(col("m") > 1 && col("vx") > 0.0 && col("vy") > 0.0,
            col("cxy") * col("cxy") / (col("vx") * col("vy")))
            .otherwise(lit(Double.NaN)).as("r2"))
    }, Some("""
      WITH spec AS (SELECT k, CAST(count(*) AS BIGINT) AS fk
        FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS k
          FROM events GROUP BY 1)
        GROUP BY 1),
      l AS (SELECT list_sort(list(struct_pack(k := k, fk := fk)))
          AS cs FROM spec),
      a AS (SELECT CAST(len(cs) AS BIGINT) AS m,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> ln(CAST(c.k AS DOUBLE)))),
          (x, y) -> x + y) AS sx,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> ln(CAST(c.fk AS DOUBLE)))),
          (x, y) -> x + y) AS sy,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> ln(CAST(c.k AS DOUBLE))
            * ln(CAST(c.k AS DOUBLE)))), (x, y) -> x + y) AS sxx,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> ln(CAST(c.k AS DOUBLE))
            * ln(CAST(c.fk AS DOUBLE)))), (x, y) -> x + y) AS sxy,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> ln(CAST(c.fk AS DOUBLE))
            * ln(CAST(c.fk AS DOUBLE)))), (x, y) -> x + y) AS syy
        FROM l),
      v AS (SELECT *,
        CAST(m AS DOUBLE) * sxx - sx * sx AS vx,
        CAST(m AS DOUBLE) * syy - sy * sy AS vy,
        CAST(m AS DOUBLE) * sxy - sx * sy AS cxy
        FROM a)
      SELECT m AS n_points,
        CASE WHEN m > 1 AND vx > 0.0 THEN cxy / vx
          ELSE CAST('nan' AS DOUBLE) END AS lotka_slope,
        CASE WHEN m > 1 AND vx > 0.0
          THEN (sy - (cxy / vx) * sx) / CAST(m AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS intercept_ln,
        CASE WHEN m > 1 AND vx > 0.0 AND vy > 0.0
          THEN cxy * cxy / (vx * vy)
          ELSE CAST('nan' AS DOUBLE) END AS r2
      FROM v""")),

    // MOSUM scan for a short-window mean break in the daily series —
    // the moving-sum statistic with bandwidth w = 7: where CUSUM
    // (q215) detects sustained drifts and Pettitt (q298) one global
    // split, MOSUM localizes ABRUPT week-scale breaks by sliding a
    // window of demeaned sums. Gₜ = Mₜ₊₇ − Mₜ over the integer
    // excursion series (q319/q358's Mₜ) stays BIGINT; the scan max
    // and its earliest day are a deterministic ordered LIMIT 1, and
    // the standardized stat |G|max/(n·√(w·σ̂²)) with
    // σ̂² = Σd²/n³ reduces to |G|max·√n/(√w·√Σd²) — one fixed tree.
    // Degenerate variance guards NaN.
    QueryDef("q361_mosum", (s, d) => {
      val wBand = 7
      val daily = dailyEvents(s, d)
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("c")), lit(0L)).as("s_tot"))
      val w = Window.orderBy("day")
      val seq0 = daily.crossJoin(broadcast(tot))
        .withColumn("dterm", col("n") * col("c") - col("s_tot"))
        .withColumn("g",
          sum(col("dterm")).over(w.rowsBetween(1, wBand)))
      val sd2 = seq0.agg(coalesce(sum(col("dterm") * col("dterm")),
        lit(0L)).as("sd2"))
      val mx = seq0.where(col("g").isNotNull)
        .agg(coalesce(max(abs(col("g"))), lit(0L)).as("gmax"))
      seq0.crossJoin(broadcast(mx)).crossJoin(broadcast(sd2))
        .where(abs(col("g")) === col("gmax"))
        .select(col("day").as("day_break"), col("n").as("n_days"),
          col("gmax"),
          when(col("sd2") > 0,
            dbl(col("gmax")) * sqrt(dbl(col("n")))
              / (sqrt(lit(wBand.toDouble)) * sqrt(dbl(col("sd2")))))
            .otherwise(lit(Double.NaN)).as("mosum_stat"))
        .orderBy("day_break").limit(1)
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot FROM daily),
      seq AS (SELECT day, n, n * c - s_tot AS dterm,
          CAST(sum(n * c - s_tot) OVER (ORDER BY day
            ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS BIGINT) AS g
        FROM daily, tot),
      sd2 AS (SELECT CAST(coalesce(sum(dterm * dterm), 0) AS BIGINT)
          AS sd2 FROM seq),
      mx AS (SELECT CAST(coalesce(max(abs(g)), 0) AS BIGINT) AS gmax
        FROM seq WHERE g IS NOT NULL)
      SELECT day AS day_break, n AS n_days, gmax,
        CASE WHEN sd2 > 0
          THEN CAST(gmax AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
            / (sqrt(7.0) * sqrt(CAST(sd2 AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS mosum_stat
      FROM seq, mx, sd2 WHERE abs(g) = gmax
      ORDER BY day_break LIMIT 1""")),

    // Shift-share decomposition of 1997→1998 order growth by nation
    // — the regional-economics standard: each market's observed
    // change splits into the NATIONAL-growth component (what it
    // would have gained growing at the fleet rate) and the LOCAL
    // shift (out/under-performance), which sum exactly to the
    // observed delta — the additive identity is the audit. Counts
    // are exact BIGINT; the expected component and shares divide
    // once each per nation row; nations with no 1997 base report
    // NaN expectations (their whole delta is shift by convention).
    QueryDef("q362_shift_share", (s, d) => {
      val per = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nk")
        .agg(
          coalesce(sum(when(year(col("o_orderdate")) === 1997, 1L)
            .otherwise(0L)), lit(0L)).as("c97"),
          coalesce(sum(when(year(col("o_orderdate")) === 1998, 1L)
            .otherwise(0L)), lit(0L)).as("c98"))
      val tot = per.agg(coalesce(sum(col("c97")), lit(0L)).as("t97"),
        coalesce(sum(col("c98")), lit(0L)).as("t98"))
      per.crossJoin(broadcast(tot))
        .select(col("nk"), col("c97"), col("c98"),
          (col("c98") - col("c97")).as("delta"),
          when(col("t97") > 0 && col("c97") > 0,
            dbl(col("c97")) * (dbl(col("t98")) - dbl(col("t97")))
              / dbl(col("t97")))
            .otherwise(lit(Double.NaN)).as("national_component"),
          when(col("t97") > 0 && col("c97") > 0,
            dbl(col("c98") - col("c97"))
              - dbl(col("c97"))
                * (dbl(col("t98")) - dbl(col("t97")))
                / dbl(col("t97")))
            .otherwise(lit(Double.NaN)).as("local_shift"))
    }, Some("""
      WITH per AS (SELECT c.c_nationkey AS nk,
          CAST(coalesce(sum(CASE WHEN year(o_orderdate) = 1997 THEN 1
            ELSE 0 END), 0) AS BIGINT) AS c97,
          CAST(coalesce(sum(CASE WHEN year(o_orderdate) = 1998 THEN 1
            ELSE 0 END), 0) AS BIGINT) AS c98
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(c97), 0) AS BIGINT) AS t97,
          CAST(coalesce(sum(c98), 0) AS BIGINT) AS t98 FROM per)
      SELECT nk, c97, c98, c98 - c97 AS delta,
        CASE WHEN t97 > 0 AND c97 > 0
          THEN CAST(c97 AS DOUBLE)
            * (CAST(t98 AS DOUBLE) - CAST(t97 AS DOUBLE))
            / CAST(t97 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS national_component,
        CASE WHEN t97 > 0 AND c97 > 0
          THEN CAST(c98 - c97 AS DOUBLE)
            - CAST(c97 AS DOUBLE)
              * (CAST(t98 AS DOUBLE) - CAST(t97 AS DOUBLE))
              / CAST(t97 AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS local_shift
      FROM per, tot""")),

    // Duncan dissimilarity index between urgent and non-urgent
    // order placement across nations — "what fraction of urgent
    // orders would have to RELOCATE for the two priority classes to
    // be identically distributed?", the segregation-index classic
    // (q303's Bray–Curtis compares arbitrary abundance profiles;
    // Duncan D is the share-normalized two-group special case with
    // a direct operational reading). D = ½Σ|aᵢ/A − bᵢ/B| folds
    // nation-sorted over the ≤nation cells; the isolation index
    // P* = Σ(aᵢ/A)(aᵢ/(aᵢ+bᵢ)) rides along from the same cells.
    // Empty classes guard NaN.
    QueryDef("q363_duncan_d", (s, d) => {
      val cells = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("nk")
        .agg(
          coalesce(sum(when(
            substring(col("o_orderpriority"), 1, 1) === "1", 1L)
            .otherwise(0L)), lit(0L)).as("a"),
          coalesce(sum(when(
            substring(col("o_orderpriority"), 1, 1) =!= "1", 1L)
            .otherwise(0L)), lit(0L)).as("b"))
      val tot = cells.agg(coalesce(sum(col("a")), lit(0L)).as("ta"),
        coalesce(sum(col("b")), lit(0L)).as("tb"))
      cells.crossJoin(broadcast(tot))
        .select(col("ta"), col("tb"),
          struct(col("nk"), col("a"), col("b")).as("cell"))
        .groupBy("ta", "tb")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("ta").as("n_urgent"), col("tb").as("n_other"),
          when(col("ta") > 0 && col("tb") > 0,
            sumInOrder(col("cs"))(c => abs(dbl(c.getField("a")) / dbl(col("ta"))
                - dbl(c.getField("b")) / dbl(col("tb"))))
              / lit(2.0))
            .otherwise(lit(Double.NaN)).as("duncan_d"),
          when(col("ta") > 0,
            sumInOrder(col("cs"))(c =>
              when(c.getField("a") + c.getField("b") > 0,
                (dbl(c.getField("a")) / dbl(col("ta")))
                  * (dbl(c.getField("a"))
                    / dbl(c.getField("a") + c.getField("b"))))
                .otherwise(lit(0.0))))
            .otherwise(lit(Double.NaN)).as("isolation_pstar"))
    }, Some("""
      WITH cells AS (SELECT c.c_nationkey AS nk,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1)
            = '1' THEN 1 ELSE 0 END), 0) AS BIGINT) AS a,
          CAST(coalesce(sum(CASE WHEN substring(o_orderpriority, 1, 1)
            <> '1' THEN 1 ELSE 0 END), 0) AS BIGINT) AS b
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(a), 0) AS BIGINT) AS ta,
          CAST(coalesce(sum(b), 0) AS BIGINT) AS tb FROM cells),
      l AS (SELECT ta, tb, list_sort(list(struct_pack(nk := nk,
          a := a, b := b))) AS cs
        FROM cells, tot GROUP BY 1, 2)
      SELECT ta AS n_urgent, tb AS n_other,
        CASE WHEN ta > 0 AND tb > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> abs(CAST(c.a AS DOUBLE)
              / CAST(ta AS DOUBLE)
              - CAST(c.b AS DOUBLE) / CAST(tb AS DOUBLE)))),
            (x, y) -> x + y) / 2.0
          ELSE CAST('nan' AS DOUBLE) END AS duncan_d,
        CASE WHEN ta > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> CASE WHEN c.a + c.b > 0
              THEN (CAST(c.a AS DOUBLE) / CAST(ta AS DOUBLE))
                * (CAST(c.a AS DOUBLE) / CAST(c.a + c.b AS DOUBLE))
              ELSE 0.0 END)), (x, y) -> x + y)
          ELSE CAST('nan' AS DOUBLE) END AS isolation_pstar
      FROM l""")),

    // Directly standardized finished-order rates per nation — each
    // market's F-rate recomputed AS IF it had the fleet's
    // market-segment mix: rate_std = Σ_s w_s·r_{g,s} with fleet
    // stratum weights w_s — the epidemiology-standard confounder
    // adjustment (q242's raking CALIBRATES margins; straight
    // standardization REWEIGHTS an outcome), plus the
    // crude-vs-standardized gap that quantifies the composition
    // effect. Stratum cells are exact BIGINT; each term is
    // w_s·r_gs = (W_s·f_gs)/(W·n_gs) — one rational per ≤|segment|
    // cell folded segment-sorted per nation; nations missing a
    // stratum contribute that stratum's 0 (documented convention).
    QueryDef("q364_std_rates", (s, d) => {
      val base = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").as("nk"),
            col("c_mktsegment").as("seg"))),
          col("o_custkey") === col("c_custkey"))
      val cells = base.groupBy("nk", "seg")
        .agg(count(lit(1)).as("n_gs"),
          coalesce(sum(when(col("o_orderstatus") === "F", 1L)
            .otherwise(0L)), lit(0L)).as("f_gs"))
      val wts = cells.groupBy("seg")
        .agg(coalesce(sum(col("n_gs")), lit(0L)).as("w_s"))
      val wTot = wts.agg(coalesce(sum(col("w_s")), lit(0L)).as("w"))
      val crude = cells.groupBy("nk")
        .agg(coalesce(sum(col("n_gs")), lit(0L)).as("n_g"),
          coalesce(sum(col("f_gs")), lit(0L)).as("f_g"))
      cells.join(broadcast(wts), Seq("seg"))
        .crossJoin(broadcast(wTot))
        .select(col("nk"),
          struct(col("seg"), col("n_gs"), col("f_gs"), col("w_s"),
            col("w")).as("cell"))
        .groupBy("nk")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .join(crude, Seq("nk"))
        .select(col("nk"), col("n_g"),
          (dbl(col("f_g")) / dbl(col("n_g"))).as("crude_rate"),
          sumInOrder(col("cs"))(c => when(c.getField("n_gs") > 0,
              dbl(c.getField("w_s")) * dbl(c.getField("f_gs"))
                / (dbl(c.getField("w")) * dbl(c.getField("n_gs"))))
              .otherwise(lit(0.0))).as("std_rate"))
        .withColumn("composition_gap",
          col("crude_rate") - col("std_rate"))
    }, Some("""
      WITH base AS (SELECT c.c_nationkey AS nk, c.c_mktsegment AS seg,
          o.o_orderstatus
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      cells AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS n_gs,
          CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS f_gs
        FROM base GROUP BY 1, 2),
      wts AS (SELECT seg, CAST(coalesce(sum(n_gs), 0) AS BIGINT)
          AS w_s FROM cells GROUP BY 1),
      wt AS (SELECT CAST(coalesce(sum(w_s), 0) AS BIGINT) AS w
        FROM wts),
      crude AS (SELECT nk, CAST(coalesce(sum(n_gs), 0) AS BIGINT)
          AS n_g,
          CAST(coalesce(sum(f_gs), 0) AS BIGINT) AS f_g
        FROM cells GROUP BY 1),
      l AS (SELECT nk, list_sort(list(struct_pack(seg := seg,
          n_gs := n_gs, f_gs := f_gs, w_s := w_s, w := w))) AS cs
        FROM cells JOIN wts USING (seg), wt GROUP BY 1),
      a AS (SELECT l.nk, n_g,
          CAST(f_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS crude_rate,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c -> CASE WHEN c.n_gs > 0
              THEN CAST(c.w_s AS DOUBLE) * CAST(c.f_gs AS DOUBLE)
                / (CAST(c.w AS DOUBLE) * CAST(c.n_gs AS DOUBLE))
              ELSE 0.0 END)), (x, y) -> x + y) AS std_rate
        FROM l JOIN crude ON l.nk = crude.nk)
      SELECT nk, n_g, crude_rate, std_rate,
        crude_rate - std_rate AS composition_gap
      FROM a""")),

    // Harrell's C-index — does higher user ACTIVITY predict longer
    // survival? — the concordance between an activity-decile risk
    // score and the q192 lifetimes, counting the usable pairs only
    // (the death with the SHORTER time anchors each pair; ties in
    // time or score contribute ½ — the standard convention, stated
    // here). Deciles come from the PrefixSum CDF (q287 bins), so
    // the pair census collapses onto (duration × decile) cells
    // whose product is domain-bounded; concordant/discordant/tied
    // sums are exact BIGINT from one cell theta-join, and C is ONE
    // double division. No usable pairs guards NaN.
    QueryDef("q365_harrell_c", (s, d) => {
      val per = t(s, d, "events")
        .groupBy("user_id")
        .agg(
          (datediff(max(col("ts")).cast("date"),
            min(col("ts")).cast("date")) + 1).cast("long").as("t"),
          count(lit(1)).as("activity"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("last_type"))
        .select(col("user_id"), col("t"), col("activity"),
          when(col("last_type") === "error", 1L).otherwise(0L)
            .as("died"))
      val acells = per.groupBy(col("activity").as("av"))
        .agg(count(lit(1)).as("n"))
      val nn = acells.agg(coalesce(sum(col("n")), lit(0L)).as("nn"))
      val dec = PrefixSum.withRunningTotals(acells, "av", Seq("n"))
        .crossJoin(broadcast(nn))
        .select(col("av").as("activity"),
          expr("(10 * (nn - n_cum)) DIV nn").as("q"))
      val cells = per.join(broadcast(dec), Seq("activity"))
        .groupBy("t", "q")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("died")), lit(0L)).as("dd"))
      val a = cells.select(col("t").as("t1"), col("q").as("q1"),
        col("dd").as("d1"))
      val b = cells.select(col("t").as("t2"), col("q").as("q2"),
        col("n").as("n2"))
      a.crossJoin(b)
        .where(col("d1") > 0 && col("t1") < col("t2"))
        .agg(
          coalesce(sum(when(col("q1") < col("q2"),
            col("d1") * col("n2")).otherwise(0L)), lit(0L))
            .as("conc"),
          coalesce(sum(when(col("q1") > col("q2"),
            col("d1") * col("n2")).otherwise(0L)), lit(0L))
            .as("disc"),
          coalesce(sum(when(col("q1") === col("q2"),
            col("d1") * col("n2")).otherwise(0L)), lit(0L))
            .as("tied"))
        .select(col("conc"), col("disc"), col("tied"),
          when(col("conc") + col("disc") + col("tied") > 0,
            (dbl(col("conc")) + dbl(col("tied")) / lit(2.0))
              / dbl(col("conc") + col("disc") + col("tied")))
            .otherwise(lit(Double.NaN)).as("c_index"))
    }, Some("""
      WITH l AS (SELECT user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      died AS (SELECT user_id,
          CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS died
        FROM l WHERE rn = 1),
      span AS (SELECT user_id, CAST(date_diff('day',
            CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) + 1 AS BIGINT)
            AS t,
          CAST(count(*) AS BIGINT) AS activity
        FROM events GROUP BY 1),
      per AS (SELECT s.user_id, s.t, s.activity, dd.died
        FROM span s JOIN died dd USING (user_id)),
      ac AS (SELECT av, n, CAST(sum(n) OVER (ORDER BY av
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS n_cum
        FROM (SELECT activity AS av, CAST(count(*) AS BIGINT) AS n
          FROM per GROUP BY 1)),
      an AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ac),
      dec AS (SELECT av AS activity, (10 * (nn - n_cum)) // nn AS q
        FROM ac, an),
      cells AS (SELECT t, q, CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(died), 0) AS BIGINT) AS dd
        FROM per JOIN dec USING (activity) GROUP BY 1, 2),
      pr AS (SELECT
        CAST(coalesce(sum(CASE WHEN a.q < b.q THEN a.dd * b.n
          ELSE 0 END), 0) AS BIGINT) AS conc,
        CAST(coalesce(sum(CASE WHEN a.q > b.q THEN a.dd * b.n
          ELSE 0 END), 0) AS BIGINT) AS disc,
        CAST(coalesce(sum(CASE WHEN a.q = b.q THEN a.dd * b.n
          ELSE 0 END), 0) AS BIGINT) AS tied
        FROM cells a CROSS JOIN cells b
        WHERE a.dd > 0 AND a.t < b.t)
      SELECT conc, disc, tied,
        CASE WHEN conc + disc + tied > 0
          THEN (CAST(conc AS DOUBLE) + CAST(tied AS DOUBLE) / 2.0)
            / CAST(conc + disc + tied AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS c_index
      FROM pr""")),

    // Vocabulary accumulation by source — scanning sources in
    // deterministic name order, how many NEW types does each add,
    // and what does the union reach? The corpus-planning curve
    // ("which source is worth crawling NEXT?") that q198's Heaps
    // law fits in aggregate: first-source-per-term assigns every
    // type to min(source), per-source novel counts roll up through
    // the distributed PrefixSum CDF keyed on source name, and the
    // novelty share divides once per ≤|sources| row. All counts
    // exact BIGINT.
    QueryDef("q366_vocab_accumulation", (s, d) => {
      val firsts = t(s, d, "documents")
        .select(col("source"),
          explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(min(col("source")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("novel"))
      val allSrc = t(s, d, "documents")
        .select(col("source")).distinct()
        .join(firsts, Seq("source"), "left")
        .select(col("source"), coalesce(col("novel"), lit(0L))
          .as("novel"))
        // one row per source; feeds the total and the CDF
        .transform(Cut.small(20))
      val tot = allSrc.agg(coalesce(sum(col("novel")), lit(0L))
        .as("v_total"))
      PrefixSum.withRunningTotals(allSrc, "source", Seq("novel"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("novel"),
          col("novel_cum").as("vocab_cum"),
          when(col("v_total") > 0,
            dbl(col("novel")) / dbl(col("v_total")))
            .otherwise(lit(Double.NaN)).as("novelty_share"))
    }, Some("""
      WITH toks AS (SELECT source,
          unnest(string_split(text, ' ')) AS term
        FROM documents),
      firsts AS (SELECT min(source) AS source
        FROM toks WHERE len(term) > 0 GROUP BY term),
      novel AS (SELECT source, CAST(count(*) AS BIGINT) AS novel
        FROM firsts GROUP BY 1),
      alls AS (SELECT s.source,
          CAST(coalesce(novel, 0) AS BIGINT) AS novel
        FROM (SELECT DISTINCT source FROM documents) s
        LEFT JOIN novel USING (source)),
      tot AS (SELECT CAST(coalesce(sum(novel), 0) AS BIGINT)
          AS v_total FROM alls),
      cum AS (SELECT source, novel,
          CAST(sum(novel) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS vocab_cum
        FROM alls)
      SELECT source, novel, vocab_cum,
        CASE WHEN v_total > 0
          THEN CAST(novel AS DOUBLE) / CAST(v_total AS DOUBLE)
          ELSE CAST('nan' AS DOUBLE) END AS novelty_share
      FROM cum, tot""")),

    // Granger-style lagged predictability F — does YESTERDAY's
    // error volume predict TODAY's purchase volume beyond what
    // purchases already self-predict? The restricted (AR(1)) vs
    // unrestricted (AR(1)+error-lag) OLS comparison with the
    // partial F = (SSE_r − SSE_u)(n−3)/SSE_u — the causal-screen
    // reading of q209's symmetric ACF. Both regressions solve in
    // closed form (2×2 normal equations) from n-scaled exact BIGINT
    // moments of the 29-row lagged frame (lag via a dimension-sized
    // day window); one fixed IEEE tree. Singular designs guard NaN.
    QueryDef("q367_granger_f", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(
          coalesce(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)), lit(0L)).as("p"),
          coalesce(sum(when(col("event_type") === "error", 1L)
            .otherwise(0L)), lit(0L)).as("e"))
      val w = Window.orderBy("day")
      val lagged = daily
        .withColumn("y", col("p"))
        .withColumn("x1", lag(col("p"), 1).over(w))
        .withColumn("x2", lag(col("e"), 1).over(w))
        .where(col("x1").isNotNull)
      val m = lagged.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("x1") * col("x2")).as("s12"))
      m
        .withColumn("cyy", coMoment(col("n"), col("syy"), col("sy"), col("sy")))
        .withColumn("c11", coMoment(col("n"), col("s11"), col("s1"), col("s1")))
        .withColumn("c22", coMoment(col("n"), col("s22"), col("s2"), col("s2")))
        .withColumn("c1y", coMoment(col("n"), col("s1y"), col("s1"), col("sy")))
        .withColumn("c2y", coMoment(col("n"), col("s2y"), col("s2"), col("sy")))
        .withColumn("c12", coMoment(col("n"), col("s12"), col("s1"), col("s2")))
        .withColumn("sse_r",
          when(col("c11") > 0.0,
            col("cyy") - col("c1y") * col("c1y") / col("c11")))
        .withColumn("det",
          col("c11") * col("c22") - col("c12") * col("c12"))
        .withColumn("sse_u",
          when(col("det") =!= 0.0,
            col("cyy") - (col("c22") * col("c1y") * col("c1y")
              - lit(2.0) * col("c12") * col("c1y") * col("c2y")
              + col("c11") * col("c2y") * col("c2y")) / col("det")))
        .select(col("n").as("n_obs"), col("sse_r"), col("sse_u"),
          when(col("sse_u").isNotNull && col("sse_r").isNotNull
              && col("sse_u") > 0.0 && col("n") > 3,
            (col("sse_r") - col("sse_u")) * dbl(col("n") - 3L)
              / col("sse_u"))
            .otherwise(lit(Double.NaN)).as("f_granger"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS p,
          CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS e
        FROM events GROUP BY 1),
      lagged AS (SELECT p AS y,
          lag(p) OVER (ORDER BY day) AS x1,
          lag(e) OVER (ORDER BY day) AS x2
        FROM daily),
      lf AS (SELECT * FROM lagged WHERE x1 IS NOT NULL),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1) AS BIGINT) AS s1,
        CAST(sum(x2) AS BIGINT) AS s2,
        CAST(sum(y * y) AS BIGINT) AS syy,
        CAST(sum(x1 * x1) AS BIGINT) AS s11,
        CAST(sum(x2 * x2) AS BIGINT) AS s22,
        CAST(sum(x1 * y) AS BIGINT) AS s1y,
        CAST(sum(x2 * y) AS BIGINT) AS s2y,
        CAST(sum(x1 * x2) AS BIGINT) AS s12
        FROM lf),
      c AS (SELECT n,
        CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
        CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11,
        CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22,
        CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS c1y,
        CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS c2y,
        CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12
        FROM m),
      e1 AS (SELECT *,
        CASE WHEN c11 > 0.0 THEN cyy - c1y * c1y / c11 END AS sse_r,
        c11 * c22 - c12 * c12 AS det
        FROM c),
      e2 AS (SELECT *,
        CASE WHEN det <> 0.0
          THEN cyy - (c22 * c1y * c1y - 2.0 * c12 * c1y * c2y
            + c11 * c2y * c2y) / det END AS sse_u
        FROM e1)
      SELECT n AS n_obs, sse_r, sse_u,
        CASE WHEN sse_u IS NOT NULL AND sse_r IS NOT NULL
            AND sse_u > 0.0 AND n > 3
          THEN (sse_r - sse_u) * CAST(n - 3 AS DOUBLE) / sse_u
          ELSE CAST('nan' AS DOUBLE) END AS f_granger
      FROM e2""")),

    // Lead–lag cross-correlation between daily error and purchase
    // volumes at lags −3..+3 — WHICH WAY does trouble propagate,
    // and with what delay? (q209's ACF is each series against
    // itself; the CCF is the pair.) Convention stated explicitly:
    // means are the FULL-window means (n-scaled exact integers),
    // the lag-k cross products run over the n−|k| overlapping days,
    // and normalization uses the full-series variance pair — so
    // every rₖ is assembled from BIGINT sums with one division.
    // The ≤7-row lag frame comes from a broadcast lag list joined
    // through a day-shifted self-join of the dimension-sized daily
    // table. Degenerate variance guards NaN.
    QueryDef("q368_ccf", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(
          coalesce(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)), lit(0L)).as("p"),
          coalesce(sum(when(col("event_type") === "error", 1L)
            .otherwise(0L)), lit(0L)).as("e"))
      val tot = daily.agg(count(lit(1)).as("n"),
        coalesce(sum(col("e")), lit(0L)).as("se"),
        coalesce(sum(col("p")), lit(0L)).as("sp"),
        coalesce(sum(col("e") * col("e")), lit(0L)).as("see"),
        coalesce(sum(col("p") * col("p")), lit(0L)).as("spp"))
      val lags = t(s, d, "region")
        .select((col("r_regionkey") - 2).cast("int").as("k"))
        .unionByName(t(s, d, "region").where(col("r_regionkey") < 2)
          .select((col("r_regionkey") + 3).cast("int").as("k")))
      // pair (e at day t) with (p at day t+k)
      val shifted = daily.select(col("day"), col("e"))
        .crossJoin(broadcast(lags))
        .join(daily.select(col("day").as("day2"), col("p")),
          expr("date_add(day, k) = day2"))
      shifted.crossJoin(broadcast(tot))
        .groupBy("k", "n", "se", "sp", "see", "spp")
        .agg(count(lit(1)).as("m"),
          coalesce(sum((col("n") * col("e") - col("se"))
            * (col("n") * col("p") - col("sp"))), lit(0L)).as("cxy"))
        .select(col("k").as("lag"), col("m").as("n_overlap"),
          when((col("n") * col("see") - col("se") * col("se")) > 0
              && (col("n") * col("spp") - col("sp") * col("sp")) > 0,
            dbl(col("cxy"))
              / (dbl(col("m"))
                * sqrt(dbl(col("n") * col("see")
                    - col("se") * col("se"))
                  * dbl(col("n") * col("spp")
                    - col("sp") * col("sp")))))
            .otherwise(lit(Double.NaN)).as("ccf"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS p,
          CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1
            ELSE 0 END), 0) AS BIGINT) AS e
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(e), 0) AS BIGINT) AS se,
          CAST(coalesce(sum(p), 0) AS BIGINT) AS sp,
          CAST(coalesce(sum(e * e), 0) AS BIGINT) AS see,
          CAST(coalesce(sum(p * p), 0) AS BIGINT) AS spp
        FROM daily),
      lags AS (SELECT CAST(r_regionkey - 2 AS INT) AS k FROM region
        UNION ALL SELECT CAST(r_regionkey + 3 AS INT) FROM region
          WHERE r_regionkey < 2),
      sh AS (SELECT lags.k, a.e, b.p
        FROM daily a CROSS JOIN lags
        JOIN daily b ON a.day + CAST(lags.k AS INT) = b.day),
      g AS (SELECT k, CAST(count(*) AS BIGINT) AS m,
          CAST(coalesce(sum((n * e - se) * (n * p - sp)), 0)
            AS BIGINT) AS cxy,
          CAST(max(n) AS BIGINT) AS n,
          CAST(max(se) AS BIGINT) AS se, CAST(max(sp) AS BIGINT) AS sp,
          CAST(max(see) AS BIGINT) AS see,
          CAST(max(spp) AS BIGINT) AS spp
        FROM sh, tot GROUP BY 1)
      SELECT k AS lag, m AS n_overlap,
        CASE WHEN n * see - se * se > 0 AND n * spp - sp * sp > 0
          THEN CAST(cxy AS DOUBLE)
            / (CAST(m AS DOUBLE)
              * sqrt(CAST(n * see - se * se AS DOUBLE)
                * CAST(n * spp - sp * sp AS DOUBLE)))
          ELSE CAST('nan' AS DOUBLE) END AS ccf
      FROM g""")),

    // Second-digit Benford audit of order prices (in cents) — the
    // fraud-analytics refinement of q179: first digits survive many
    // natural manipulations, second digits rarely do. The expected
    // law P(d₂) = Σ_{d₁=1..9} log₁₀(1 + 1/(10d₁+d₂)) is assembled
    // ENTIRELY from integer-argument logarithms
    // ((ln(k+1) − ln k)/ln 10 — the q162/q348 identity family), so
    // both engines build bit-identical expectations; observed
    // second digits are integer arithmetic on round(100·price), and
    // the χ² folds digit-sorted over the 10 cells. Empty input
    // guards NaN.
    QueryDef("q369_benford2", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val digits = t(s, d, "orders")
        .select((round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .where(col("cents") >= 10L)
        .select(expr(
          "CAST(substring(CAST(cents AS STRING), 2, 1) AS BIGINT)")
          .as("d2"))
        .groupBy("d2").agg(count(lit(1)).as("o"))
      val tot = digits.agg(coalesce(sum(col("o")), lit(0L)).as("n"))
      val anchor = t(s, d, "orders")
        .select((col("o_orderkey") % 10).as("d2")).distinct()
      val expd = anchor.select(col("d2"),
        (1 to 9).map(d1 =>
          (pln(lit(10L * d1) + col("d2") + 1L)
            - pln(lit(10L * d1) + col("d2")))
            / pln(lit(10.0)))
          .reduce(_ + _).as("pexp"))
      anchor.join(digits, Seq("d2"), "left")
        .select(col("d2"), coalesce(col("o"), lit(0L)).as("o"))
        .join(broadcast(expd), Seq("d2"))
        .crossJoin(broadcast(tot))
        .select(col("n"),
          struct(col("d2"), col("o"), col("pexp")).as("cell"))
        .groupBy("n")
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(col("n").as("n_orders"),
          when(col("n") > 0,
            sumInOrder(col("cs")) { c =>
              val eCnt = c.getField("pexp") * dbl(col("n"))
              ((dbl(c.getField("o")) - eCnt)
                * (dbl(c.getField("o")) - eCnt) / eCnt)
            })
            .otherwise(lit(Double.NaN)).as("chi2_benford2"),
          lit(9L).as("dof"))
    }, Some("""
      WITH digits AS (SELECT
          CAST(substring(CAST(cents AS VARCHAR), 2, 1) AS BIGINT)
            AS d2
        FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
            AS cents FROM orders)
        WHERE cents >= 10),
      oc AS (SELECT d2, CAST(count(*) AS BIGINT) AS o
        FROM digits GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS n
        FROM oc),
      anchor AS (SELECT DISTINCT o_orderkey % 10 AS d2 FROM orders),
      expd AS (SELECT d2,
          (ln(CAST(10 * 1 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 1 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 2 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 2 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 3 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 3 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 4 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 4 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 5 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 5 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 6 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 6 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 7 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 7 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 8 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 8 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
        + (ln(CAST(10 * 9 + d2 + 1 AS DOUBLE)) - ln(CAST(10 * 9 + d2 AS DOUBLE))) / ln(CAST(10.0 AS DOUBLE))
          AS pexp
        FROM anchor),
      j AS (SELECT anchor.d2, CAST(coalesce(o, 0) AS BIGINT) AS o,
          pexp, n
        FROM anchor LEFT JOIN oc ON anchor.d2 = oc.d2
        JOIN expd ON anchor.d2 = expd.d2, tot),
      l AS (SELECT n, list_sort(list(struct_pack(d2 := d2, o := o,
          pexp := pexp))) AS cs FROM j GROUP BY 1)
      SELECT n AS n_orders,
        CASE WHEN n > 0
          THEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, c ->
              (CAST(c.o AS DOUBLE) - c.pexp * CAST(n AS DOUBLE))
              * (CAST(c.o AS DOUBLE) - c.pexp * CAST(n AS DOUBLE))
              / (c.pexp * CAST(n AS DOUBLE)))), (x, y) -> x + y)
          ELSE CAST('nan' AS DOUBLE) END AS chi2_benford2,
        CAST(9 AS BIGINT) AS dof
      FROM l""")),

    // Jackknife-1/2 and ACE vocabulary-richness estimators — the
    // three standard companions bracketing q283's Chao1 (Chao1 is a
    // LOWER bound; jackknife corrects order-by-order, ACE uses the
    // whole rare tail ≤ 10): jack1 = S+f₁, jack2 = S+2f₁−f₂, and
    // ACE = S_abund + S_rare/Ĉ + f₁γ̂²/Ĉ with sample coverage
    // Ĉ = 1−f₁/N_rare and the squared CV γ̂² floored at 0. Every
    // input is an exact BIGINT spectrum moment (Σk(k−1)Fₖ over the
    // rare tail included) from one term-count aggregation; the ACE
    // tree is fixed IEEE. A hapax-only rare tail (Ĉ = 0) guards
    // ACE to NaN.
    QueryDef("q370_richness_estimators", (s, d) => {
      val tc = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("r"))
      tc.agg(
          count(lit(1)).as("s_obs"),
          coalesce(sum(when(col("r") === 1, 1L).otherwise(0L)),
            lit(0L)).as("f1"),
          coalesce(sum(when(col("r") === 2, 1L).otherwise(0L)),
            lit(0L)).as("f2"),
          coalesce(sum(when(col("r") <= 10, 1L).otherwise(0L)),
            lit(0L)).as("s_rare"),
          coalesce(sum(when(col("r") <= 10, col("r")).otherwise(0L)),
            lit(0L)).as("n_rare"),
          coalesce(sum(when(col("r") <= 10,
            col("r") * (col("r") - 1L)).otherwise(0L)), lit(0L))
            .as("kk1"))
        .withColumn("s_abund", col("s_obs") - col("s_rare"))
        .withColumn("chat",
          when(col("n_rare") > 0,
            lit(1.0) - dbl(col("f1")) / dbl(col("n_rare"))))
        .withColumn("gamma2",
          when(col("chat") > 0.0 && col("n_rare") > 1,
            greatest(lit(0.0),
              dbl(col("s_rare")) * dbl(col("kk1"))
                / (col("chat") * dbl(col("n_rare"))
                  * dbl(col("n_rare") - 1L)) - lit(1.0))))
        .select(col("s_obs"), col("f1"), col("f2"),
          (col("s_obs") + col("f1")).as("jack1"),
          (col("s_obs") + lit(2L) * col("f1") - col("f2")).as("jack2"),
          when(col("chat") > 0.0 && col("gamma2").isNotNull,
            dbl(col("s_abund")) + dbl(col("s_rare")) / col("chat")
              + dbl(col("f1")) * col("gamma2") / col("chat"))
            .otherwise(lit(Double.NaN)).as("ace"))
    }, Some("""
      WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS r
        FROM (SELECT unnest(string_split(text, ' ')) AS term
          FROM documents)
        WHERE len(term) > 0 GROUP BY 1),
      a AS (SELECT CAST(count(*) AS BIGINT) AS s_obs,
        CAST(coalesce(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS f1,
        CAST(coalesce(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS f2,
        CAST(coalesce(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END), 0)
          AS BIGINT) AS s_rare,
        CAST(coalesce(sum(CASE WHEN r <= 10 THEN r ELSE 0 END), 0)
          AS BIGINT) AS n_rare,
        CAST(coalesce(sum(CASE WHEN r <= 10 THEN r * (r - 1)
          ELSE 0 END), 0) AS BIGINT) AS kk1
        FROM tc),
      b AS (SELECT *, s_obs - s_rare AS s_abund,
        CASE WHEN n_rare > 0
          THEN 1.0 - CAST(f1 AS DOUBLE) / CAST(n_rare AS DOUBLE)
          END AS chat
        FROM a),
      g AS (SELECT *,
        CASE WHEN chat > 0.0 AND n_rare > 1
          THEN greatest(0.0, CAST(s_rare AS DOUBLE)
            * CAST(kk1 AS DOUBLE)
            / (chat * CAST(n_rare AS DOUBLE)
              * CAST(n_rare - 1 AS DOUBLE)) - 1.0)
          END AS gamma2
        FROM b)
      SELECT s_obs, f1, f2,
        s_obs + f1 AS jack1,
        s_obs + 2 * f1 - f2 AS jack2,
        CASE WHEN chat > 0.0 AND gamma2 IS NOT NULL
          THEN CAST(s_abund AS DOUBLE)
            + CAST(s_rare AS DOUBLE) / chat
            + CAST(f1 AS DOUBLE) * gamma2 / chat
          ELSE CAST('nan' AS DOUBLE) END AS ace
      FROM g""")),

    // Seasonality strength of the daily series — the STL-style
    // readout F_s = max(0, 1 − Var(residual)/Var(series)) with the
    // weekday-mean model as the seasonal component: "what fraction
    // of daily variance is pure weekly cycle?" — the scalar the
    // q248 per-day indices imply but don't state. Residual squares
    // stay exact by weekday-scaling: Σ(c − c̄_wd)² =
    // Σ_wd Σ(n_wd·c − S_wd)²/n_wd² — one rational per weekday cell
    // folded wd-sorted; total variance from global BIGINT moments.
    // Constant series guards NaN.
    QueryDef("q371_seasonal_strength", (s, d) => {
      val daily = dailyEvents(s, d)
        .withColumn("wd", (dayofweek(col("day")) - 1).cast("int"))
      val wdm = daily.groupBy("wd")
        .agg(count(lit(1)).as("nwd"),
          coalesce(sum(col("c")), lit(0L)).as("swd"))
      val resid = daily.join(broadcast(wdm), Seq("wd"))
        .groupBy("wd", "nwd")
        .agg(coalesce(sum((col("nwd") * col("c") - col("swd"))
          * (col("nwd") * col("c") - col("swd"))), lit(0L)).as("rq"))
        .select(struct(col("wd"), col("nwd"), col("rq")).as("cell"))
        .agg(sort_array(collect_list(col("cell"))).as("cs"))
        .select(sumInOrder(col("cs"))(c => dbl(c.getField("rq"))
            / (dbl(c.getField("nwd")) * dbl(c.getField("nwd"))))
          .as("ss_resid"))
      val tot = daily.agg(count(lit(1)).as("n"),
          coalesce(sum(col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(col("c") * col("c")), lit(0L)).as("q_tot"))
        .withColumn("ss_tot",
          dbl(col("q_tot")) - dbl(col("s_tot")) * dbl(col("s_tot"))
            / dbl(col("n")))
      resid.crossJoin(broadcast(tot))
        .select(col("n").as("n_days"), col("ss_resid"),
          col("ss_tot"),
          when(col("ss_tot") > 0.0,
            greatest(lit(0.0),
              lit(1.0) - col("ss_resid") / col("ss_tot")))
            .otherwise(lit(Double.NaN)).as("seasonal_strength"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      wdd AS (SELECT day, c, CAST(date_part('dow', day) AS INT) AS wd
        FROM daily),
      wdm AS (SELECT wd, CAST(count(*) AS BIGINT) AS nwd,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS swd
        FROM wdd GROUP BY 1),
      rq AS (SELECT wdd.wd, nwd,
          CAST(coalesce(sum((nwd * c - swd) * (nwd * c - swd)), 0)
            AS BIGINT) AS rq
        FROM wdd JOIN wdm ON wdd.wd = wdm.wd GROUP BY 1, 2),
      l AS (SELECT list_sort(list(struct_pack(wd := wd, nwd := nwd,
          rq := rq))) AS cs FROM rq),
      sr AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(cs, c -> CAST(c.rq AS DOUBLE)
            / (CAST(c.nwd AS DOUBLE) * CAST(c.nwd AS DOUBLE)))),
          (x, y) -> x + y) AS ss_resid
        FROM l),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(c * c), 0) AS BIGINT) AS q_tot
        FROM daily),
      t2 AS (SELECT *, CAST(q_tot AS DOUBLE)
          - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
            / CAST(n AS DOUBLE) AS ss_tot
        FROM tot)
      SELECT n AS n_days, ss_resid, ss_tot,
        CASE WHEN ss_tot > 0.0
          THEN greatest(0.0, 1.0 - ss_resid / ss_tot)
          ELSE CAST('nan' AS DOUBLE) END AS seasonal_strength
      FROM sr, t2""")),

    // Pearson's second (median) skewness of the per-customer
    // order-count distribution — 3(mean − median)/s, the
    // sign-interpretable tail-direction readout that q172's exact
    // moment skewness complements (g₁ weights cubes; the median
    // form is robust to a handful of whales and is what a
    // dashboard shows). Mean and s from exact BIGINT moments, the
    // lower median from the PrefixSum CDF at rank (n+1) DIV 2 —
    // one fixed tree, zero variance guards NaN.
    QueryDef("q372_pearson_skew", (s, d) => {
      val cells = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"))
        .groupBy(col("x").as("v")).agg(count(lit(1)).as("c"))
      val tot = cells.agg(
          coalesce(sum(col("c")), lit(0L)).as("n"),
          coalesce(sum(col("v") * col("c")), lit(0L)).as("s_tot"),
          coalesce(sum(col("v") * col("v") * col("c")), lit(0L))
            .as("q_tot"))
        .withColumn("m2n",
          col("n") * col("q_tot") - col("s_tot") * col("s_tot"))
        .withColumn("rk", expr("(n + 1) DIV 2"))
      val med = PrefixSum.withRunningTotals(cells, "v", Seq("c"))
        .crossJoin(broadcast(tot))
        .where(col("rk") > col("c_cum") - col("c")
          && col("rk") <= col("c_cum"))
        .select(col("v").as("med"))
      tot.crossJoin(broadcast(med))
        .select(col("n").as("n_customers"), col("med").as("median_x"),
          (dbl(col("s_tot")) / dbl(col("n"))).as("mean_x"),
          when(col("m2n") > 0 && col("n") > 1,
            lit(3.0) * (dbl(col("s_tot")) / dbl(col("n"))
              - dbl(col("med")))
              / sqrt(dbl(col("m2n"))
                / dbl(col("n") * (col("n") - 1L))))
            .otherwise(lit(Double.NaN)).as("pearson_skew2"))
    }, Some("""
      WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1),
      cells AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
          CAST(coalesce(sum(v * c), 0) AS BIGINT) AS s_tot,
          CAST(coalesce(sum(v * v * c), 0) AS BIGINT) AS q_tot
        FROM cells),
      t2 AS (SELECT *, n * q_tot - s_tot * s_tot AS m2n,
          (n + 1) // 2 AS rk FROM tot),
      cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS c_cum FROM cells),
      med AS (SELECT v AS med FROM cum, t2
        WHERE rk > c_cum - c AND rk <= c_cum)
      SELECT n AS n_customers, med AS median_x,
        CAST(s_tot AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
        CASE WHEN m2n > 0 AND n > 1
          THEN 3.0 * (CAST(s_tot AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(med AS DOUBLE))
            / sqrt(CAST(m2n AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
          ELSE CAST('nan' AS DOUBLE) END AS pearson_skew2
      FROM t2, med"""))
  )
}
