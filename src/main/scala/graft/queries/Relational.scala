package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryDef.t

import graft.operators.{Pairs, Spread}

/** Relational operator coverage (SURVEY §2.2–§2.6) over the TPC-H-ish
  * testdata tables, each with a DuckDB oracle.
  *
  * Float-determinism policy: sums/aggregations of doubles go through
  * DECIMAL(18,2) (exact, order-independent) and convert to double ONCE at
  * the end; raw double columns pass through untouched; divisions are single
  * IEEE ops mirrored verbatim in the oracle SQL.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // A2/A9 + P6: filtered group aggregate (TPC-H Q1 shape).
    QueryDef("q01_agg_pricing", (s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1995-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS count_order,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1995-09-01'
      GROUP BY l_returnflag, l_linestatus""")),

    // P2/P5/P6: predicate + projection (pushed to the parquet scan).
    QueryDef("q02_filter_project", (s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1995-06-01"))
          && col("l_returnflag") === "R" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        AND l_returnflag = 'R' AND l_quantity > 45""")),

    // J4 + A2 + T1: join chain, aggregate, global top-k (TPC-H Q3 shape).
    QueryDef("q03_top_orders", (s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
        .where(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val l = t(s, d, "lineitem")
        .where(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, Some("""
      SELECT o_orderkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY o_orderkey
      ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // J1: left equi-join enrichment, small side broadcast.
    QueryDef("q04_left_join_enrich", (s, d) => {
      t(s, d, "orders").join(broadcast(t(s, d, "customer")),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"),
          col("c_mktsegment"))
    }, Some("""
      SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")),

    // J4: 5-way star join rolled up to region.
    QueryDef("q05_region_rollup", (s, d) => {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("gross"))
    }, Some("""
      SELECT r_name, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name""")),

    // T2: window top-k per group.
    QueryDef("q06_topk_per_group", (s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("rn"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
          ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        FROM lineitem) WHERE rn <= 2""")),

    // A8/A4: dedup keep-first by explicit total order.
    QueryDef("q07_dedup_keepfirst", (s, d) => {
      // A4 keep-first dedup as a min-struct aggregate (r06): the priority
      // order (shipdate, orderkey, linenumber) is total per group, so the
      // lexicographic struct-min IS the window's rn=1 row — but the
      // aggregate partially combines map-side (one candidate per group
      // per partition crosses the wire) where the row_number window
      // shuffled and SORTED every row. Same rows; the window idiom stays
      // driver-oracled via q06's top-k.
      t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(struct(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))).as("m"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("m.l_orderkey").as("l_orderkey"),
          col("m.l_linenumber").as("l_linenumber"))
    }, Some("""
      SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber FROM (
        SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
          ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        FROM lineitem) WHERE rn = 1""")),

    // A3: min_by composite via struct-min (no sort-then-first).
    QueryDef("q08_minby", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(min(struct(col("l_extendedprice").as("min_price"),
          col("l_suppkey").as("best_suppkey"))).as("m"))
        .select(col("l_partkey"), col("m.best_suppkey").as("best_suppkey"),
          col("m.min_price").as("min_price"))
    }, Some("""
      SELECT l_partkey, best_suppkey, min_price FROM (
        SELECT l_partkey, l_suppkey AS best_suppkey,
          l_extendedprice AS min_price,
          ROW_NUMBER() OVER (PARTITION BY l_partkey
            ORDER BY l_extendedprice, l_suppkey) AS rn
        FROM lineitem) WHERE rn = 1""")),

    // U1: union + distinct.
    QueryDef("q09_union_distinct", (s, d) => {
      t(s, d, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .unionByName(t(s, d, "supplier")
          .select(col("s_nationkey").cast("int").as("nationkey")))
        .distinct()
    }, Some("""
      SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
      UNION SELECT CAST(s_nationkey AS INT) FROM supplier""")),

    // U2: intersection.
    QueryDef("q10_intersect", (s, d) => {
      t(s, d, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .intersect(t(s, d, "supplier")
          .select(col("s_nationkey").cast("int").as("nationkey")))
    }, Some("""
      SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
      INTERSECT SELECT CAST(s_nationkey AS INT) FROM supplier""")),

    // U3/J9: anti-join (NOT EXISTS).
    QueryDef("q11_anti_join", (s, d) => {
      t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""")),

    // J9: semi-join (EXISTS).
    QueryDef("q12_semi_join", (s, d) => {
      t(s, d, "part").join(t(s, d, "lineitem"),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"))
    }, Some("""
      SELECT p_partkey, p_name FROM part p
      WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""")),

    // P9/P10/P11: string normalization, split-first, regex strip + cast.
    QueryDef("q13_string_ops", (s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        lower(trim(col("p_name"))).as("name_lc"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        regexp_replace(col("p_brand"), "[^0-9]", "").cast("long").as("brand_num"),
        upper(col("p_brand")).as("brand_uc"))
    }, Some("""
      SELECT p_partkey, lower(trim(p_name)) AS name_lc,
        split_part(p_type, ' ', 1) AS type_head,
        CAST(regexp_replace(p_brand, '[^0-9]', '', 'g') AS BIGINT) AS brand_num,
        upper(p_brand) AS brand_uc
      FROM part""")),

    // P13/P14: conditional derivation + coalesce defaulting.
    QueryDef("q14_conditional", (s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, lit("neg"))
          .when(col("c_acctbal") < 5000, lit("mid"))
          .otherwise(lit("high")).as("bal_band"),
        coalesce(nullif(col("c_mktsegment"), lit("")), lit("unknown"))
          .as("segment"))
    }, Some("""
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN 'neg'
             WHEN c_acctbal < 5000 THEN 'mid'
             ELSE 'high' END AS bal_band,
        COALESCE(NULLIF(c_mktsegment, ''), 'unknown') AS segment
      FROM customer""")),

    // A1-style: per-group running sum with exact decimal accumulation.
    QueryDef("q22_running_sum", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_spend"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_spend
      FROM orders""")),

    // J7/U2: self-join set intersection (DDI analogue on suppliers/parts).
    // Each part's sorted distinct supplier set is collected once (state
    // bounded by suppliers per part) and spread before the pair expansion;
    // the pair rows are the naive self-join's, which the oracle keeps.
    QueryDef("q23_shared_parts", (s, d) => {
      val grouped = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(sort_array(collect_set(col("l_suppkey"))).as("supps"))
        .transform(Spread.orderFree)
      Pairs(grouped, "supps", "supp_a", "supp_b", "n_shared")
        .where(col("n_shared") >= 2)
    }, Some("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
        COUNT(*) AS n_shared
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2""")),

    // A5: max + sorted string-agg of DISTINCT values per group.
    QueryDef("q39_concat_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(max(col("l_quantity")).as("max_qty"),
          concat_ws(",", sort_array(collect_set(col("l_returnflag"))))
            .as("flags"))
    }, Some("""
      SELECT l_partkey, max_qty, string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags
      FROM (SELECT DISTINCT l_partkey, l_returnflag,
              MAX(l_quantity) OVER (PARTITION BY l_partkey) AS max_qty
            FROM lineitem)
      GROUP BY l_partkey, max_qty""")),

    // J2: left join on a composite key against a pre-aggregated frame
    // (reduce-before-join, the reference's SIDER freq-agg shape).
    QueryDef("q40_composite_join", (s, d) => {
      // examined r06: a shared-exchange rewrite (repartition by the
      // composite key, reuse for agg + join) measured neutral — the
      // planner already broadcasts the agg side here, and at scale both
      // shapes cost two narrow exchanges. Left as-is.
      val li = t(s, d, "lineitem")
      val agg = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("total_qty"))
      li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
        .join(agg, Seq("l_partkey", "l_suppkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("n_lines"),
          col("total_qty"))
    }, Some("""
      WITH agg AS (
        SELECT l_partkey, l_suppkey, COUNT(*) AS n_lines,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY 1, 2)
      SELECT l.l_orderkey, l.l_linenumber, a.n_lines, a.total_qty
      FROM lineitem l LEFT JOIN agg a
        ON l.l_partkey = a.l_partkey AND l.l_suppkey = a.l_suppkey""")),

    // J3: double-decode join — one fact joined twice against dimensions,
    // then inner-ified by null filters (the reference's STRING alias decode).
    QueryDef("q41_double_decode", (s, d) => {
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"), "left")
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"), "left")
        .where(col("p_name").isNotNull && col("s_name").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("s_name"))
    }, Some("""
      SELECT l_orderkey, l_linenumber, p_name, s_name
      FROM lineitem
      LEFT JOIN part ON l_partkey = p_partkey
      LEFT JOIN supplier ON l_suppkey = s_suppkey
      WHERE p_name IS NOT NULL AND s_name IS NOT NULL""")),

    // T5/T6: bounded partial-name resolve with deterministic tie-breaks.
    QueryDef("q31_resolve", (s, d) => {
      t(s, d, "part")
        .where(lower(col("p_name")).contains("red"))
        .orderBy(length(col("p_name")), col("p_name"), col("p_partkey"))
        .limit(25)
        .select(col("p_partkey"), col("p_name"))
    }, Some("""
      SELECT p_partkey, p_name FROM part
      WHERE lower(p_name) LIKE '%red%'
      ORDER BY length(p_name), p_name, p_partkey LIMIT 25"""))
  )
}
