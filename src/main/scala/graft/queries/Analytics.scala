package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatCols.{dbl, pln, sumInOrder}
import graft.operators.{Cut, Pairs, PrefixSum, Spread}

import QueryDef.{dailyEvents, docNodes, kmRiskSets, t}

/** OLAP reshaping and sequence/statistics analytics added in round 5 —
  * pivot/unpivot, exact-moment bivariate statistics, and Markov-style
  * session transitions. Every operator keeps its arithmetic exact
  * (integer moments, IEEE-correctly-rounded final ops only) so the DuckDB
  * oracle hash-matches bit-for-bit. `dbl`, `pln` (logarithms through
  * `portable_ln`) and `sumInOrder` (every fixed-order float sum) come
  * from [[graft.functions.StatCols]]; shared fixture frames from the
  * [[QueryDef]] companion.
  */
object Analytics {

  val defs: Seq[QueryDef] = Seq(

    // Pivot (long→wide crosstab) with an EXPLICIT value list: the two-arg
    // pivot(col) overload first runs a separate distinct-values job and
    // collects the domain to the driver — an extra scan plus an unbounded
    // collect at web scale. Pinning the (tiny, enum-like) domain keeps the
    // plan a single hash aggregate; absent cells coalesce to 0 so the
    // output is total. Counts only — integer-exact in both engines.
    QueryDef("q117_pivot", (s, d) => {
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }, Some("""
      SELECT o_orderpriority,
        CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
        CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      FROM orders GROUP BY 1""")),

    // Unpivot (wide→long melt) of the four lineitem measures: a pure
    // narrow projection — no shuffle, input partitioning preserved, each
    // input row expands to exactly 4 output rows scan-side. Values are
    // copied untouched (no arithmetic), so doubles round-trip exactly.
    QueryDef("q118_unpivot", (s, d) => {
      val li = t(s, d, "lineitem")
      li.unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "val")
    }, Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""")),

    // Per-group Pearson correlation + least-squares slope/intercept from
    // EXACT integer moments: l_quantity (integral 1–50) and l_linenumber
    // (1–7) accumulate as BIGINT sums (worst case ≈ 1e15 « 2^63 at sf1),
    // so the only floating-point steps are the final cast / multiply /
    // sqrt / divide — each IEEE-correctly-rounded and written in the same
    // order in both engines, hence bit-identical. The built-in corr()
    // accumulates doubles in partition order (non-deterministic under
    // shuffle) — this form is the deterministic, scale-safe alternative:
    // one scan, one hash aggregate, dimension-sized output.
    QueryDef("q119_group_corr", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          col("l_linenumber").cast("long").as("y"))
      val m = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val covN = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val varX = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val varY = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      m.select(col("l_returnflag"), col("n"),
        (covN / sqrt(varX * varY)).as("corr_xy"),
        (covN / varX).as("slope"),
        ((col("sy").cast("double") - (covN / varX)
          * col("sx").cast("double")) / col("n").cast("double"))
          .as("intercept"))
    }, Some("""
      WITH m AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          sum(CAST(l_quantity AS BIGINT)) AS sx,
          sum(CAST(l_linenumber AS BIGINT)) AS sy,
          sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
            AS sxx,
          sum(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT))
            AS syy,
          sum(CAST(l_quantity AS BIGINT) * CAST(l_linenumber AS BIGINT))
            AS sxy
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_xy,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE) AS intercept
      FROM m""")),

    // Markov transition matrix over user event sequences: (event_type →
    // next event_type) counts, the standard path-analysis rollup. The
    // lead() window partitions on user_id — high-cardinality and bounded
    // per user by construction (a user emits finitely many events), the
    // same no-hot-group contract as q112's rolling window; the transition
    // aggregate itself is dimension-sized (|types|²). (user_id, ts) is
    // unique in the generator, so the ordering is total without a
    // tiebreak; event_id is still included to make the contract explicit.
    QueryDef("q120_transitions", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
    }, Some("""
      WITH seq AS (
        SELECT event_type,
          lead(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS next_type
        FROM events)
      SELECT event_type AS from_type, next_type AS to_type,
        CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2""")),

    // Time-series gap fill: a deterministically thinned daily series
    // (event_id ≡ 0 mod 701, so sf0.01/sf0.1 genuinely have empty days)
    // zero-filled over each type's [min_day, max_day] span. The calendar
    // expansion is DIMENSION-sized (types × days — facts are aggregated
    // to daily counts first), and the fill is a keyed left join against
    // that small calendar (broadcastable), never a per-row window. Date
    // arithmetic is integer-exact in both engines.
    QueryDef("q121_gap_fill", (s, d) => {
      val daily = t(s, d, "events")
        .where(pmod(col("event_id"), lit(701L)) === 0)
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val cal = daily.groupBy("event_type")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      cal.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    }, Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_id % 701 = 0 GROUP BY 1, 2),
      span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
               FROM daily GROUP BY 1),
      cal AS (
        SELECT event_type,
          CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
            CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        FROM span)
      SELECT event_type, day, COALESCE(n, 0) AS n_events
      FROM cal LEFT JOIN daily USING (event_type, day)""")),

    // SCD type-2 interval build (gaps-and-islands): collapse each user's
    // event-type history into runs of consecutive equal values and emit
    // (valid_from, valid_to) intervals — the lakehouse dimension-history
    // shape. Change flags and run ids come from per-user windows
    // (bounded per user by construction, q112's no-hot-group contract);
    // the run collapse is a keyed aggregate, dimension-sized output.
    // (user_id, ts) is unique so the sequence order is total; valid_to of
    // the current run is NULL (open interval), timestamps compare exactly
    // at µs precision in both engines.
    QueryDef("q122_scd2", (s, d) => {
      val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = wSeq.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val runs = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("chg",
          when(lag("event_type", 1).over(wSeq).isNull ||
            lag("event_type", 1).over(wSeq) =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run_id", sum("chg").over(wRun))
        .groupBy("user_id", "run_id")
        .agg(min("event_type").as("event_type"),
          min("ts").as("valid_from"), count(lit(1)).as("n_in_run"))
      val wRuns = Window.partitionBy("user_id").orderBy("valid_from")
      runs.withColumn("valid_to", lead("valid_from", 1).over(wRuns))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("n_in_run"))
    }, Some("""
      WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(event_type) OVER w IS NULL
                 OR lag(event_type) OVER w <> event_type
               THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      flagged AS (
        SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS run_id
        FROM seq),
      runs AS (
        SELECT user_id, run_id, min(event_type) AS event_type,
          min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_in_run
        FROM flagged GROUP BY 1, 2)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
          AS valid_to,
        n_in_run
      FROM runs""")),

    // Weighted sampling without replacement: Duffield–Lund–Thorup
    // priority sampling, k = 50 docs per source weighted by token count
    // (see PrioritySample scaladoc for the determinism + scale
    // argument — md5-derived draw, ONE IEEE division, boundedTopK so a
    // web-hot source never serializes one window partition). The oracle
    // IS the naive single window.
    QueryDef("q123_priority_sample", (s, d) => {
      graft.sample.PrioritySample.sample(
        t(s, d, "documents"), Seq("source"), "doc_id",
        size(split(col("text"), " ")).cast("long"), k = 50)
        .select(col("doc_id"), col("source"), col("w"), col("pri"),
          col("rank"))
    }, Some("""
      WITH tt AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) + 1 AS u1
        FROM documents),
      p AS (SELECT doc_id, source, w,
              CAST(u1 AS DOUBLE) / CAST(w AS DOUBLE) AS pri FROM tt),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
              ORDER BY pri, doc_id) AS INT) AS rank FROM p)
      SELECT doc_id, source, w, pri, rank FROM r WHERE rank <= 50""")),

    // Bigram language-model counts — the n-gram sibling of q90's unigram
    // LM. The Spark side NEVER self-joins the token stream: bigrams are
    // built SCAN-SIDE by zipping each token array with its own tail
    // (zip_with over two slices — pure narrow HOFs), so the only shuffle
    // is the final count aggregate with map-side partials. The oracle IS
    // the naive positional self-join. Threshold n ≥ 3 bounds the output
    // to the reusable-vocabulary tail.
    QueryDef("q124_bigrams", (s, d) => {
      t(s, d, "documents")
        .select(split(col("text"), " ").as("toks"))
        .select(explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
                      slice(toks, 2, size(toks) - 1),
                      (a, b) -> struct(a AS w1, b AS w2))""")).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
      bg AS (
        SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
        FROM tk, unnest(range(1, len(toks))) AS t(i))
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // Bounded multi-source BFS (3-hop shortest distances) over the same
    // deterministic modular edge family as q100's triangle fixture —
    // frontier-expansion joins with anti-join visited pruning, O(hops)
    // keyed shuffles (see Bfs scaladoc). Distances are pure graph
    // properties, so the depth-bounded recursive-CTE oracle's min(dist)
    // agrees with the assign-once frontier semantics exactly.
    QueryDef("q125_bfs_hops", (s, d) => {
      val nodes = t(s, d, "documents")
        .select((col("doc_id") % 509).as("x")).distinct()
      val edges = nodes.select(col("x").as("src"),
          ((col("x") * 2 + 1) % 509).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 7 + 3) % 509).as("dst")))
        .where(col("src") =!= col("dst")).distinct()
      graft.graph.Bfs.hops(edges,
        nodes.where(col("x") < 3).select(col("x").as("node")), maxHops = 3)
    }, Some("""
      WITH RECURSIVE nodes AS (
        SELECT DISTINCT doc_id % 509 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
        SELECT x AS src, (x * 2 + 1) % 509 AS dst FROM nodes
        UNION ALL SELECT x, (x * 7 + 3) % 509 FROM nodes)
        WHERE src <> dst),
      walk(node, dist) AS (
        SELECT x, 0 FROM nodes WHERE x < 3
        UNION ALL
        SELECT e.dst, walk.dist + 1 FROM walk JOIN e ON e.src = walk.node
        WHERE walk.dist < 3)
      SELECT node, CAST(min(dist) AS BIGINT) AS dist
      FROM walk GROUP BY 1""")),

    // One-pass table profiling (data-quality audit): per-column null and
    // exact-distinct counts for every orders column in a SINGLE scan —
    // Spark plans the 6 exact countDistincts as one Expand (each input
    // row fans out 6× map-side, partially aggregated before the shuffle),
    // which at 100 TB beats 6 separate scans whenever the scan dominates
    // (it does: the expanded rows are key-only). The 1-row wide result
    // melts to long form driver-free via stack. The oracle is the naive
    // 6-scan union.
    QueryDef("q126_table_profile", (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
      val stackExpr = s"stack(${cols.size}, " +
        cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ") +
        ") as (col_name, n_notnull, n_distinct)"
      t(s, d, "orders")
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr("n_rows", stackExpr)
        .select(col("col_name"), col("n_rows"),
          (col("n_rows") - col("n_notnull")).as("n_nulls"),
          col("n_distinct"))
    }, Some("""
      SELECT 'o_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(count(*) AS BIGINT),
        CAST(count(*) - count(o_custkey) AS BIGINT),
        CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
        CAST(count(*) - count(o_orderstatus) AS BIGINT),
        CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
        CAST(count(*) - count(o_totalprice) AS BIGINT),
        CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
        CAST(count(*) - count(o_orderdate) AS BIGINT),
        CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
        CAST(count(*) - count(o_orderpriority) AS BIGINT),
        CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders""")),

    // Z-order (Morton) layout clustering key over (p_size, price bucket)
    // — the multi-dimensional sort key behind lakehouse OPTIMIZE ZORDER:
    // pure scan-side shift/and/or bit dilation (see ZOrder scaladoc), no
    // shuffle in the key itself; at write time the key feeds ONE
    // repartitionByRange so min/max file stats prune on EITHER dimension.
    // floor(price/100) is one IEEE division + floor on identical bits —
    // deterministic in both engines.
    QueryDef("q127_zorder", (s, d) => {
      import graft.sources.ZOrder
      val xd = col("p_size").cast("long").bitwiseAND(lit(0xFFFFL))
      val yd = floor(col("p_retailprice") / lit(100.0)).cast("long")
        .bitwiseAND(lit(0xFFFFL))
      t(s, d, "part")
        .select(col("p_partkey"), xd.as("xd"), yd.as("yd"))
        .withColumn("z", ZOrder.morton2(col("xd"), col("yd")))
        .withColumn("z_bucket", shiftright(col("z"), 6))
    }, Some("""
      WITH dims AS (
        SELECT p_partkey, CAST(p_size AS BIGINT) & 65535 AS xd,
          CAST(floor(p_retailprice / 100.0) AS BIGINT) & 65535 AS yd
        FROM part),
      a AS (SELECT *, ((xd | (xd << 8)) & 16711935) AS x1,
                      ((yd | (yd << 8)) & 16711935) AS y1 FROM dims),
      b AS (SELECT *, ((x1 | (x1 << 4)) & 252645135) AS x2,
                      ((y1 | (y1 << 4)) & 252645135) AS y2 FROM a),
      c AS (SELECT *, ((x2 | (x2 << 2)) & 858993459) AS x3,
                      ((y2 | (y2 << 2)) & 858993459) AS y3 FROM b),
      e AS (SELECT *, ((x3 | (x3 << 1)) & 1431655765) AS x4,
                      ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM c)
      SELECT p_partkey, xd, yd, (x4 | (y4 << 1)) AS z,
        (x4 | (y4 << 1)) >> 6 AS z_bucket
      FROM e""")),

    // Frequent 2-itemsets (market-basket pairs, support ≥ 3 orders) with
    // A-priori semi-join pruning before the quadratic pair expansion —
    // see Itemsets scaladoc for why the prune is output-lossless. The
    // oracle is the UNpruned naive pair join, so a prune that drops a
    // qualifying pair hash-mismatches.
    QueryDef("q128_frequent_pairs", (s, d) => {
      graft.stats.Itemsets.frequentPairs(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minSupport = 3L)
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                 FROM lineitem)
      SELECT a.item AS item_a, bb.item AS item_b,
        CAST(count(*) AS BIGINT) AS support
      FROM b a JOIN b bb
        ON a.basket = bb.basket AND a.item < bb.item
      GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // Deterministic HyperLogLog register sketch over the document token
    // vocabulary — approximate COUNT DISTINCT whose state is a
    // CONSTANT-size mergeable aggregate (max(rho) per register,
    // map-side-combinable) instead of a full key shuffle. The sketch
    // itself is pure integer arithmetic on md5 bits (register routing +
    // a generated comparison-ladder clz — see Hll scaladoc), so the
    // oracle reproduces every register bit-for-bit; the float estimate
    // folds on the driver and is spec-checked against exact distinct.
    QueryDef("q129_hll_registers", (s, d) => {
      graft.stats.Hll.registers(t(s, d, "lineitem"), col("l_partkey"))
    }, Some(s"""
      WITH h AS (
        SELECT CAST('0x' ||
          substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        FROM lineitem)
      SELECT h % 256 AS register,
        max(${graft.stats.Hll.rhoLadderSql("(h >> 8)", 52)}) AS rho_max
      FROM h GROUP BY 1""")),

    // Z-order stats pruning, end to end: per-z_bucket min/max column
    // stats (the metadata a lakehouse keeps per file) select candidate
    // buckets for a 2-D box predicate BEFORE the exact filter touches
    // rows — at rest, `cands` is the file-skipping list and only those
    // files are scanned. Pruning on min/max is conservative (a superset),
    // so the output provably equals the plain filter the oracle runs;
    // because q127's key interleaves BOTH dimensions, buckets are tight
    // in xd AND yd and the candidate list stays small (a single-column
    // sort would prune only its leading dimension).
    QueryDef("q130_zorder_prune", (s, d) => {
      import graft.sources.ZOrder
      val xd = col("p_size").cast("long").bitwiseAND(lit(0xFFFFL))
      val yd = floor(col("p_retailprice") / lit(100.0)).cast("long")
        .bitwiseAND(lit(0xFFFFL))
      val parts = t(s, d, "part")
        .select(col("p_partkey"), xd.as("xd"), yd.as("yd"))
        .withColumn("z_bucket",
          shiftright(ZOrder.morton2(col("xd"), col("yd")), 6))
      val stats = parts.groupBy("z_bucket").agg(
        min("xd").as("x_min"), max("xd").as("x_max"),
        min("yd").as("y_min"), max("yd").as("y_max"))
      val cands = stats
        .where(col("x_max") >= 10 && col("x_min") <= 20 &&
          col("y_max") >= 5 && col("y_min") <= 12)
        .select("z_bucket")
      parts.join(cands, Seq("z_bucket"), "left_semi")
        .where(col("xd").between(10, 20) && col("yd").between(5, 12))
        .select("p_partkey", "xd", "yd")
    }, Some("""
      SELECT p_partkey, CAST(p_size AS BIGINT) & 65535 AS xd,
        CAST(floor(p_retailprice / 100.0) AS BIGINT) & 65535 AS yd
      FROM part
      WHERE (CAST(p_size AS BIGINT) & 65535) BETWEEN 10 AND 20
        AND (CAST(floor(p_retailprice / 100.0) AS BIGINT) & 65535)
          BETWEEN 5 AND 12""")),

    // Basket drift between a customer's consecutive orders: per-order
    // product-family sets (partkey mod 97 — the category rollup proxy)
    // compared set-wise via array_intersect — collection-function
    // analytics over sorted set columns. Baskets are bounded by order
    // size and the lag window by orders-per-customer (both small by
    // construction — the q112 bounded-partition contract); set sizes are
    // integers, the Jaccard is ONE IEEE division. Sets are SORTED on both
    // sides so the lag'd arrays are deterministic values, not
    // collect-order artifacts.
    QueryDef("q131_basket_drift", (s, d) => {
      val o = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val baskets = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_custkey").as("custkey"),
          col("o_orderkey").as("orderkey"),
          col("o_orderdate").as("odate"))
        .agg(sort_array(collect_set(pmod(col("l_partkey"), lit(97L))))
          .as("basket"))
      val w = Window.partitionBy("custkey").orderBy("odate", "orderkey")
      val common = size(array_intersect(col("basket"), col("prev")))
      baskets.withColumn("prev", lag("basket", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("custkey"), col("orderkey"),
          common.cast("long").as("n_common"),
          (size(col("basket")) + size(col("prev")) - common).cast("long")
            .as("n_union"))
        .withColumn("jaccard",
          col("n_common").cast("double") / col("n_union").cast("double"))
    }, Some("""
      WITH b AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey AS orderkey,
          o.o_orderdate AS odate,
          list_sort(list(DISTINCT l.l_partkey % 97)) AS basket
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3),
      lagged AS (
        SELECT custkey, orderkey, basket,
          lag(basket) OVER (PARTITION BY custkey ORDER BY odate, orderkey)
            AS prev
        FROM b)
      SELECT custkey, orderkey,
        CAST(len(list_intersect(basket, prev)) AS BIGINT) AS n_common,
        CAST(len(basket) + len(prev) - len(list_intersect(basket, prev))
          AS BIGINT) AS n_union,
        CAST(len(list_intersect(basket, prev)) AS DOUBLE)
          / CAST(len(basket) + len(prev) - len(list_intersect(basket, prev))
                 AS DOUBLE) AS jaccard
      FROM lagged WHERE prev IS NOT NULL""")),

    // CUBE subtotals — all four grouping combinations of (returnflag,
    // linestatus) in ONE pass (Spark plans cube as a single Expand +
    // aggregate, not 4 scans), grouping level carried as the
    // engine-shared grouping_id bitmask (q101's rollup convention).
    // Counts + min/max only — exact under any shuffle order.
    QueryDef("q132_cube", (s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          grouping_id().as("gid"))
    }, Some("""
      SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
        min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // Cross-engine table checksum (migration/replication audit): per
    // group, row count + the BIGINT sum of a portable md5 row hash over a
    // canonical '|'-joined serialization of the key columns. Order-
    // insensitive (integer addition commutes, and 600k × 2^32 ≪ 2^63 —
    // overflow-free at any realistic partition size), ONE scan,
    // map-side-combinable — two engines holding the same rows produce the
    // same checksum, which is exactly what this query demonstrates by
    // having DuckDB recompute it. Only integer/string columns enter the
    // hash (float formatting is engine-specific).
    QueryDef("q133_table_checksum", (s, d) => {
      val rowKey = concat_ws("|",
        col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string"),
        col("l_returnflag"), col("l_linestatus"))
      t(s, d, "lineitem")
        .select(col("l_returnflag"),
          conv(substring(md5(rowKey), 1, 8), 16, 10).cast("long")
            .as("row_hash"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), sum("row_hash").as("checksum"))
    }, Some("""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CAST('0x' || substr(md5(
          CAST(l_orderkey AS VARCHAR) || '|' ||
          CAST(l_linenumber AS VARCHAR) || '|' ||
          l_returnflag || '|' || l_linestatus), 1, 8) AS BIGINT))
          AS BIGINT) AS checksum
      FROM lineitem GROUP BY 1""")),

    // Bloom-pruned semi-join — the runtime-filter pattern made portable
    // and oracle-checkable (module doc: operators/BloomSemiJoin.scala).
    // The urgent-order key set folds into a word-partitioned ~64 KiB
    // bitmap (ONE dimension-sized groupBy, no distinct — bit_or is
    // idempotent, so duplicate keys cost nothing); the lineitem probe
    // passes two broadcast bit-tests and never shuffles; the final exact
    // left join only sees Bloom survivors. The output pins BOTH layers:
    // n_bloom_pass counts the survivors (so the oracle re-derives the
    // exact same bitmap, false positives included) and n_exact/qty_exact
    // pin the restored exact semi-join.
    QueryDef("q134_bloom_semijoin", (s, d) => {
      import graft.operators.BloomSemiJoin
      val keys = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"))
        // keys feeds the bitmap build (once per bit position) and the
        // exact-join broadcast
        .transform(Cut.large)
      val bloom = BloomSemiJoin.build(keys, "k")
      val pruned = BloomSemiJoin.prune(
        t(s, d, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
          col("l_quantity").cast("long").as("qty")),
        col("l_orderkey"), bloom)
      pruned.join(broadcast(keys), col("l_orderkey") === col("k"), "left")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_bloom_pass"),
          count(col("k")).as("n_exact"),
          sum(when(col("k").isNotNull, col("qty"))).as("qty_exact"))
    }, Some("""
      WITH keys AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'),
      hs AS (
        SELECT CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
          AS BIGINT) AS h
        FROM keys),
      pos AS (
        SELECT h % 262144 AS p FROM hs
        UNION ALL SELECT (h >> 30) % 262144 FROM hs),
      bloom AS (
        SELECT p >> 5 AS word,
          bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        FROM pos GROUP BY 1),
      probe AS (
        SELECT l_returnflag, l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
          CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)
            AS BIGINT) AS h
        FROM lineitem),
      pass AS (
        SELECT p.l_returnflag, p.l_orderkey, p.qty FROM probe p
        JOIN bloom b1 ON (p.h % 262144) >> 5 = b1.word
          AND (b1.bits & (1::BIGINT << CAST((p.h % 262144) % 32 AS INT)))
              != 0
        JOIN bloom b2 ON ((p.h >> 30) % 262144) >> 5 = b2.word
          AND (b2.bits
               & (1::BIGINT << CAST(((p.h >> 30) % 262144) % 32 AS INT)))
              != 0)
      SELECT l_returnflag,
        CAST(count(*) AS BIGINT) AS n_bloom_pass,
        CAST(count(k.k) AS BIGINT) AS n_exact,
        CAST(sum(CASE WHEN k.k IS NOT NULL THEN qty END) AS BIGINT)
          AS qty_exact
      FROM pass LEFT JOIN keys k ON pass.l_orderkey = k.k
      GROUP BY 1""")),

    // Market-concentration audit: per-nation Gini coefficient + HHI over
    // supplier quantity share — the mixture-balance metrics a training-
    // data curator runs per source/domain. Everything is integer moments
    // (q ≤ 50·rows-per-supplier, i ≤ suppliers-per-nation — both « 2^63):
    // HHI = Σq²/ (Σq)² and Gini = (2·Σi·qᵢ − (n+1)·Σq) / (n·Σq) with
    // ranks i over q ascending; only the final divisions are floating
    // point, each IEEE-correctly-rounded. Σi·qᵢ is invariant under tie
    // permutations (equal q ⇒ equal contribution), so the value is
    // deterministic; the rank window partitions by nation and suppliers-
    // per-nation is dimension-bounded, never a hot group.
    QueryDef("q135_concentration", (s, d) => {
      val sq = t(s, d, "lineitem")
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nationkey"), col("s_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val w = Window.partitionBy("nationkey").orderBy("q", "s_suppkey")
      val m = sq.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum("q").as("total_qty"),
          sum(col("q") * col("q")).as("ssq"),
          sum(col("i") * col("q")).as("siq"))
      m.select(col("nationkey"), col("n_suppliers"), col("total_qty"),
        (col("ssq").cast("double")
          / (col("total_qty").cast("double")
             * col("total_qty").cast("double"))).as("hhi"),
        ((lit(2L) * col("siq")
          - (col("n_suppliers") + lit(1L)) * col("total_qty"))
          .cast("double")
          / (col("n_suppliers") * col("total_qty")).cast("double"))
          .as("gini"))
    }, Some("""
      WITH sq AS (
        SELECT s.s_nationkey AS nationkey, s.s_suppkey,
          sum(CAST(l_quantity AS BIGINT)) AS q
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
      r AS (
        SELECT nationkey, q,
          CAST(row_number() OVER (PARTITION BY nationkey
            ORDER BY q, s_suppkey) AS BIGINT) AS i
        FROM sq)
      SELECT nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        CAST(sum(q) AS BIGINT) AS total_qty,
        CAST(sum(q * q) AS DOUBLE)
          / (CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE)) AS hhi,
        CAST(2 * sum(i * q) - (count(*) + 1) * sum(q) AS DOUBLE)
          / CAST(count(*) * sum(q) AS DOUBLE) AS gini
      FROM r GROUP BY 1""")),

    // 2-D skyline (Pareto frontier): parts not dominated on (cheaper
    // retail price, larger size) — module doc: operators/Skyline.scala.
    // Two-phase: band-prune (narrow + dimension-sized band table) then an
    // exact join-based sweep over the frontier-sized survivors; provably
    // equal to the quadratic NOT EXISTS the oracle runs, for any input.
    // Raw doubles are only COMPARED, never operated on, so no float
    // determinism risk.
    QueryDef("q136_skyline", (s, d) => {
      graft.operators.Skyline.skyline2d(
        t(s, d, "part")
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
        "p_retailprice", "p_size", bandWidth = 100.0)
    }, Some("""
      SELECT p_partkey, p_retailprice, p_size FROM part r
      WHERE NOT EXISTS (
        SELECT 1 FROM part s
        WHERE s.p_retailprice <= r.p_retailprice
          AND s.p_size >= r.p_size
          AND (s.p_retailprice < r.p_retailprice
               OR s.p_size > r.p_size))""")),

    // Top-p (nucleus) mass cover — per order priority, the smallest
    // prefix of part categories by descending quantity mass whose
    // cumulative share reaches 90%: the data-mixing primitive behind
    // nucleus-style source selection. The comparison is pure integers
    // (cum_prev·10 < tot·9 avoids any float share); windows partition by
    // priority over the 97-category rollup, so every partition is
    // ≤ 97 rows by construction — aggregated-first, never row-scale.
    QueryDef("q137_top_p_mass", (s, d) => {
      val catq = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"),
          pmod(col("l_partkey"), lit(97L)).as("cat"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val w = Window.partitionBy("priority")
        .orderBy(col("q").desc, col("cat"))
      val cumPrev = coalesce(
        sum("q").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L))
      val tot = sum("q").over(Window.partitionBy("priority"))
      catq.withColumn("cum_prev", cumPrev).withColumn("tot", tot)
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("cum_prev") * 10 < col("tot") * 9)
        .select("priority", "cat", "q", "rank")
    }, Some("""
      WITH catq AS (
        SELECT o_orderpriority AS priority, l_partkey % 97 AS cat,
          sum(CAST(l_quantity AS BIGINT)) AS q
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      r AS (
        SELECT priority, cat, q,
          COALESCE(sum(q) OVER (PARTITION BY priority
            ORDER BY q DESC, cat
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_prev,
          sum(q) OVER (PARTITION BY priority) AS tot,
          CAST(row_number() OVER (PARTITION BY priority
            ORDER BY q DESC, cat) AS BIGINT) AS rank
        FROM catq)
      SELECT priority, cat, CAST(q AS BIGINT) AS q, rank FROM r
      WHERE cum_prev * 10 < tot * 9""")),

    // Shannon entropy of each user's event-type distribution — the
    // diversity/quality signal run per document or per source in a
    // training mix. H = ln(N) − (Σ cᵢ·ln cᵢ)/N over integer counts; the
    // Σ is a SEQUENTIAL fold over the SORTED count list (HOF aggregate
    // here, list_reduce in DuckDB), so the double additions happen in
    // one defined order in both engines — never a shuffle-order sum.
    // ln is portable_ln (functions/PortableLn.scala), NOT the built-in:
    // Spark's `log` routes through StrictMath/fdlibm, which disagrees
    // with DuckDB's libm by 1 ulp on some of these very counts;
    // Math.log matches libm bit-for-bit on the integer domain (probed
    // exhaustively over 1..2000; counts here are ≤ 29).
    QueryDef("q138_group_entropy", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val c = t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      c.groupBy("user_id")
        .agg(sort_array(collect_list(col("c"))).as("cs"),
          sum("c").as("n"))
        .select(col("user_id"), col("n").as("n_events"),
          (pln(col("n").cast("double"))
            - sumInOrder(col("cs"))(x =>
                x.cast("double") * pln(x.cast("double")))
              / col("n").cast("double")).as("entropy"))
    }, Some("""
      WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT user_id, list_sort(list(c)) AS cs, sum(c) AS n
        FROM c GROUP BY 1)
      SELECT user_id, CAST(n AS BIGINT) AS n_events,
        ln(CAST(n AS DOUBLE))
          - list_reduce(
              list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(cs,
                  x -> CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)))),
              (a, b) -> a + b)
            / CAST(n AS DOUBLE) AS entropy
      FROM l""")),

    // Exponential moving average of each user's event values in time
    // order — a sequential RECURRENCE (emaₜ = ema·½ + vₜ·½) that no SQL
    // window frame can express. The per-user series collects into a
    // ts-sorted array ((user_id, ts) is unique) and folds left with the
    // HOF aggregate, seeded by the first value — exactly list_reduce's
    // contract in DuckDB, so both engines perform the identical sequence
    // of IEEE ops. Per-user series are bounded (≤ ~70 events at sf0.1);
    // an unbounded stream would use the sessionized stateful path
    // (StreamOps) instead of collect_list.
    QueryDef("q139_ema", (s, d) => {
      val vals = transform(col("seq"), e => e.getField("value"))
      t(s, d, "events")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("value"))))
          .as("seq"))
        .select(col("user_id"),
          size(col("seq")).cast("long").as("n_events"),
          aggregate(
            slice(vals, lit(2), size(col("seq")) - lit(1)),
            element_at(vals, 1),
            (acc, v) => acc * lit(0.5) + v * lit(0.5)).as("ema"))
    }, Some("""
      WITH s AS (
        SELECT user_id, list(value ORDER BY ts, value) AS vals
        FROM events GROUP BY 1)
      SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
        list_reduce(vals,
          (a, b) -> a * CAST(0.5 AS DOUBLE) + b * CAST(0.5 AS DOUBLE))
          AS ema
      FROM s""")),

    // Community detection by synchronous label propagation over a
    // deterministic doc-derived graph (module doc: graph/
    // LabelPropagation.scala — per-round hash-aggregate votes, min-label
    // tie rule, lineage-cut rounds). The oracle UNROLLS the same three
    // synchronous rounds as chained CTEs — each round one join + one
    // grouped count + one rank-1 pick — so any divergence in the vote
    // count, the tie rule, or the isolated-node fallback hash-mismatches.
    QueryDef("q140_label_prop", (s, d) => {
      val nodes = docNodes(s, d)
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * 3 + 2) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 11 + 5) % 389).as("dst")))
        .where(col("src") =!= col("dst")).distinct()
      graft.graph.LabelPropagation.run(edges, iters = 3)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * 3 + 2) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 11 + 5) % 389 FROM nodes0)
        WHERE src <> dst),
      u AS (SELECT src, dst FROM e
            UNION ALL SELECT dst AS src, src AS dst FROM e),
      v AS (SELECT DISTINCT src AS node FROM u),
      l0 AS (SELECT node, node AS label FROM v),
      r1 AS (SELECT node, label FROM (
          SELECT u.src AS node, l.label, count(*) AS cnt,
            row_number() OVER (PARTITION BY u.src
              ORDER BY count(*) DESC, l.label) AS rn
          FROM u JOIN l0 l ON u.dst = l.node GROUP BY u.src, l.label)
        WHERE rn = 1),
      l1 AS (SELECT v.node, COALESCE(r1.label, v.node) AS label
             FROM v LEFT JOIN r1 USING (node)),
      r2 AS (SELECT node, label FROM (
          SELECT u.src AS node, l.label, count(*) AS cnt,
            row_number() OVER (PARTITION BY u.src
              ORDER BY count(*) DESC, l.label) AS rn
          FROM u JOIN l1 l ON u.dst = l.node GROUP BY u.src, l.label)
        WHERE rn = 1),
      l2 AS (SELECT v.node, COALESCE(r2.label, v.node) AS label
             FROM v LEFT JOIN r2 USING (node)),
      r3 AS (SELECT node, label FROM (
          SELECT u.src AS node, l.label, count(*) AS cnt,
            row_number() OVER (PARTITION BY u.src
              ORDER BY count(*) DESC, l.label) AS rn
          FROM u JOIN l2 l ON u.dst = l.node GROUP BY u.src, l.label)
        WHERE rn = 1),
      l3 AS (SELECT v.node, COALESCE(r3.label, v.node) AS label
             FROM v LEFT JOIN r3 USING (node))
      SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
      FROM l3""")),

    // Bitmap-index audience overlap: exact distinct-user intersection
    // for every event-type pair via 64-bit word bitmaps (module doc:
    // operators/BitmapIndex.scala — 64× shuffle compression, no distinct
    // pass, word-aligned join, popcount sums). The oracle is the NAIVE
    // plan the bitmap replaces — SELECT DISTINCT + self-join on user —
    // so the compressed path must reproduce the exact intersection
    // cardinalities, false bits and all.
    QueryDef("q141_bitmap_overlap", (s, d) => {
      import graft.operators.BitmapIndex
      val bm = BitmapIndex.bitmap(
        t(s, d, "events"), col("event_type"), col("user_id"))
      BitmapIndex.overlap(bm)
        .select(col("g_a").as("type_a"), col("g_b").as("type_b"),
          col("n_common"))
    }, Some("""
      WITH a AS (SELECT DISTINCT event_type, user_id FROM events)
      SELECT x.event_type AS type_a, y.event_type AS type_b,
        CAST(count(*) AS BIGINT) AS n_common
      FROM a x JOIN a y ON x.user_id = y.user_id
        AND x.event_type < y.event_type
      GROUP BY 1, 2""")),

    // Count-min sketch cells over part-key frequencies (module doc:
    // stats/CountMin.scala — constant-size sum-mergeable aggregate, one
    // scan, md5-portable hashing). The oracle rebuilds every cell from
    // the same md5 contract ("r|key", 15 hex chars, mod width), so a
    // drift in the hash layout, replication, or bucketing — the parts
    // that make two engines' sketches mergeable — hash-mismatches.
    QueryDef("q142_cms", (s, d) => {
      // spread the single-split fixture before the per-row md5 fan-out
      // (F1, the q223 idiom)
      graft.stats.CountMin.sketch(
        t(s, d, "lineitem").select(col("l_partkey"))
          .transform(Spread.orderFree),
        col("l_partkey"), depth = 2, width = 1024)
    }, Some("""
      WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
      e AS (SELECT r, k FROM k, (SELECT unnest([0, 1]) AS r)),
      h AS (SELECT r, CAST('0x' || substr(
          md5(CAST(r AS VARCHAR) || '|' || k), 1, 15) AS BIGINT) AS h
        FROM e)
      SELECT CAST(r AS BIGINT) AS r, h % 1024 AS b,
        CAST(count(*) AS BIGINT) AS c
      FROM h GROUP BY 1, 2""")),

    // Temperature-scaled mixture weights (the multilingual-sampling rule
    // of mT5/XLM-R: p_i ∝ n_i^α, here α = 0.5) over (source, lang)
    // document counts. sqrt is IEEE-correctly-rounded in every engine,
    // and the normalizer Z = Σ√n_i folds SEQUENTIALLY over the SORTED
    // count list (q138's defined-order-sum pattern), so both engines
    // perform the identical sequence of IEEE ops; the per-row weight is
    // then one sqrt and one division. The counts table is
    // aggregated-first (|sources|×|langs| rows), so the global fold and
    // the broadcast of Z are O(domain), never O(rows).
    QueryDef("q143_mixture_weights", (s, d) => {
      val c = t(s, d, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val z = c.agg(sumInOrder(sort_array(collect_list(col("n_docs"))))(x =>
        sqrt(x.cast("double"))).as("z"))
      c.crossJoin(z)
        .select(col("source"), col("lang"), col("n_docs"),
          (sqrt(col("n_docs").cast("double")) / col("z")).as("weight"))
    }, Some("""
      WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2),
      z AS (
        SELECT list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(n_docs)),
              x -> sqrt(CAST(x AS DOUBLE)))),
          (a, b) -> a + b) AS z
        FROM c)
      SELECT source, lang, n_docs,
        sqrt(CAST(n_docs AS DOUBLE)) / z AS weight
      FROM c, z""")),

    // k-core peeling, 3 synchronous rounds at k = 4, over a deterministic
    // doc-derived graph (module doc: graph/KCore.scala — semi-join alive
    // filters, map-side degree partials, lineage-cut rounds). The oracle
    // unrolls the same rounds as chained CTEs: degree-among-alive, keep
    // ≥ k, repeat — so a drift in the symmetrize/dedup step, the
    // synchronous-removal semantics, or the judged-by degree reported
    // per survivor hash-mismatches.
    QueryDef("q144_kcore", (s, d) => {
      val nodes = t(s, d, "documents")
        .select((col("doc_id") % 431).as("x")).distinct()
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * 5 + 1) % 431).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 13 + 7) % 431).as("dst")))
      graft.graph.KCore.peel(edges, k = 4, rounds = 3)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 431 AS x FROM documents),
      e AS (SELECT x AS src, (x * 5 + 1) % 431 AS dst FROM nodes0
            UNION ALL SELECT x, (x * 13 + 7) % 431 FROM nodes0),
      u AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e WHERE src <> dst
          UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
      d1 AS (SELECT src AS node, count(*) AS deg FROM u GROUP BY 1),
      a1 AS (SELECT node FROM d1 WHERE deg >= 4),
      d2 AS (SELECT src AS node, count(*) AS deg FROM u
             WHERE src IN (SELECT node FROM a1)
               AND dst IN (SELECT node FROM a1) GROUP BY 1),
      a2 AS (SELECT node FROM d2 WHERE deg >= 4),
      d3 AS (SELECT src AS node, count(*) AS deg FROM u
             WHERE src IN (SELECT node FROM a2)
               AND dst IN (SELECT node FROM a2) GROUP BY 1)
      SELECT CAST(node AS BIGINT) AS node, CAST(deg AS BIGINT) AS deg
      FROM d3 WHERE deg >= 4""")),

    // BM25 ranked-retrieval scores (Robertson–Walker k1 = 1.2, b = 0.75)
    // for a fixed 3-term query over the documents table — the retrieval
    // primitive behind quality-scored corpus search. tf/df/len are exact
    // integers; the score is ONE fixed expression tree per row whose
    // every op (+, ×, ÷ and `portable_ln`, which is libm-exact —
    // functions/PortableLn.scala) is IEEE-correctly-rounded, so both
    // engines evaluate the identical float sequence: no sums over rows,
    // no shuffle-order dependence. Scores stay per-(doc, term) — the
    // cross-term Σ and top-k layers are covered by q138's sorted-fold
    // and q06/q20's top-k patterns.
    QueryDef("q145_bm25", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val tk = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val len = tk.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val stats = len.agg(count(lit(1)).as("n_docs"),
        sum("len").as("sum_len"))
      val tf = tk.where(col("tok").isin("spark", "join", "dup"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val avgdl = col("sum_len").cast("double") / col("n_docs").cast("double")
      val idf = pln(((col("n_docs") - col("df")).cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0))
      val den = col("tf").cast("double") + lit(1.2) * (lit(0.25)
        + lit(0.75) * (col("len").cast("double") / avgdl))
      tf.join(broadcast(dft), Seq("tok"))
        .join(len, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("tok").as("term"), col("tf"),
          (idf * (col("tf").cast("double") * lit(2.2) / den)).as("score"))
    }, Some("""
      WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      l AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
            FROM tk GROUP BY 1),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len) AS BIGINT) AS sum_len FROM l),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk
             WHERE tok IN ('spark', 'join', 'dup') GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
      SELECT tf.doc_id, tf.tok AS term, tf.tf,
        ln((CAST(n_docs - df AS DOUBLE) + 0.5)
           / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        * (CAST(tf.tf AS DOUBLE) * 2.2
           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25
              + 0.75 * (CAST(l.len AS DOUBLE)
                 / (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
          AS score
      FROM tf JOIN df USING (tok) JOIN l USING (doc_id), st""")),

    // k-means ASSIGNMENT step (one Lloyd half-iteration) over the
    // embeddings table: nearest of 4 fixed centroids (the embeddings of
    // vec_id 0–3 — deterministic, data-derived) by squared L2. Each
    // distance is an INDEX-ORDERED fold over the vector (zip_with +
    // aggregate ≡ the oracle's list_transform + list_reduce): float
    // elements cast exactly to double, per-index (a−b)² correctly
    // rounded, additions in one defined order — bit-identical across
    // engines, the same defined-order contract as q138/q143. The argmin
    // ties on (dist, cid). Centroids broadcast; the scan is one pass,
    // no shuffle until the 4-way min_by aggregate — the UPDATE half
    // (new centroids = per-cluster means) is a shuffle-order float sum,
    // which is why this query pins the assignment half only.
    QueryDef("q146_kmeans_assign", (s, d) => {
      val em = t(s, d, "embeddings")
      val cents = em.where(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val dist = sumInOrder(zip_with(col("embedding"), col("cvec"),
        (a, b) => (a.cast("double") - b.cast("double"))
          * (a.cast("double") - b.cast("double"))))(identity)
      em.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"), dist.as("dist"))
        .groupBy("vec_id")
        .agg(min_by(struct(col("cid"), col("dist")),
          struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"),
          col("m.dist").as("dist"))
    }, Some("""
      WITH c AS (SELECT vec_id AS cid, embedding AS cvec
                 FROM embeddings WHERE vec_id < 4),
      d AS (SELECT e.vec_id, c.cid,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, len(e.embedding)),
              i -> (CAST(e.embedding[i] AS DOUBLE)
                    - CAST(c.cvec[i] AS DOUBLE))
                 * (CAST(e.embedding[i] AS DOUBLE)
                    - CAST(c.cvec[i] AS DOUBLE)))),
            (a, b) -> a + b) AS dist
        FROM embeddings e, c)
      SELECT vec_id, cid AS cluster, dist FROM (
        SELECT vec_id, cid, dist,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY dist, cid) AS rn
        FROM d) WHERE rn = 1""")),

    // Adamic–Adar link prediction over the supplier–part bipartite graph:
    // supplier pairs scored by their shared parts, each shared part
    // weighted 1/ln(#suppliers of that part) — rare shared neighbors
    // count more (the idf of graphs). Hub parts (deg > 32) are pruned
    // BEFORE the pair self-join (the quadratic hot-key guard — see
    // LinkPrediction scaladoc); the per-pair weight sum folds over the
    // SORTED degree list so the float additions have one defined order.
    QueryDef("q147_adamic_adar", (s, d) => {
      graft.graph.LinkPrediction.adamicAdar(s,
        t(s, d, "lineitem").select(col("l_suppkey").as("left"),
          col("l_partkey").as("right")),
        minCommon = 12, maxDegree = 32)
    }, Some("""
      WITH e AS (SELECT DISTINCT l_suppkey AS lft, l_partkey AS rgt
                 FROM lineitem),
      deg AS (SELECT rgt, CAST(count(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
      ed AS (SELECT e.rgt, e.lft, deg FROM e JOIN deg USING (rgt)
             WHERE deg <= 32),
      pr AS (SELECT a.lft AS s1, b.lft AS s2, a.deg
             FROM ed a JOIN ed b ON a.rgt = b.rgt AND a.lft < b.lft),
      g AS (SELECT s1, s2, CAST(count(*) AS BIGINT) AS common,
              list_sort(list(deg)) AS ds
            FROM pr GROUP BY 1, 2)
      SELECT s1, s2, common,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(ds, x -> 1.0 / ln(CAST(x AS DOUBLE)))),
          (a, b) -> a + b) AS aa_score
      FROM g WHERE common >= 12""")),

    // Asymmetric shingle CONTAINMENT (doc-inside-doc near-dup) — the
    // quoted/wrapped-duplication relation that Jaccard (q26/q34) misses
    // when |B| ≫ |A|. Token 3-shingles, inverted-index pair join with a
    // df ≤ 20 discriminative-shingle cap on BOTH numerator and
    // denominator (see Containment scaladoc); integer intersection and
    // set sizes, single-division ratios.
    QueryDef("q148_containment", (s, d) => {
      // spread the single-split fixture before the shingle HOF work: the
      // w-shingle transform is interpreted (CodegenFallback) per-row cost
      // and the plan consumes the shingle stream several times — on one
      // scan task that work serializes on a single core. A 100 TB corpus
      // scan has thousands of natural splits, so spreading the fixture is
      // the representative shape (the q83/q86 rationale).
      graft.dedup.Containment.containmentPairs(
        t(s, d, "documents")
          .transform(Spread.orderFree),
        "doc_id", split(col("text"), " "),
        w = 3, maxDf = 20, threshold = 0.2)
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
                 || ' ' || toks[CAST(i AS INT) + 2] AS s
             FROM tk, unnest(range(1, len(toks) - 1)) AS t(i)
             WHERE len(toks) >= 3),
      df AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY 1),
      kept AS (SELECT doc_id, sh.s FROM sh JOIN df ON sh.s = df.s
               WHERE c <= 20),
      sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
             FROM kept GROUP BY 1),
      pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(count(*) AS BIGINT) AS inter
             FROM kept a JOIN kept b
               ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT d1, d2, inter,
        CAST(inter AS DOUBLE) / CAST(s1.n AS DOUBLE) AS c_in_1,
        CAST(inter AS DOUBLE) / CAST(s2.n AS DOUBLE) AS c_in_2
      FROM pr JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
      WHERE greatest(CAST(inter AS DOUBLE) / CAST(s1.n AS DOUBLE),
                     CAST(inter AS DOUBLE) / CAST(s2.n AS DOUBLE)) >= 0.2""")),

    // Reciprocal-rank fusion of a lexical and a vector retriever (hybrid
    // search): top-100 docs by query-term frequency fused with top-100 by
    // cosine to a fixed query embedding (vec_id 0). Each top-k is a
    // TakeOrderedAndProject (bounded heaps, no full sort); ranks are
    // assigned inside the ≤ k rows (no unpartitioned window); the fused
    // score is the literal two-term IEEE sum 1/(60+r) — see Fusion
    // scaladoc. Cosine folds index-ordered (the q146 contract).
    QueryDef("q149_rrf_fusion", (s, d) => {
      import graft.similarity.Fusion
      val lex = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok").isin("spark", "join", "dup"))
        .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      val lexRanks = Fusion.topkRanks(lex, col("doc_id"),
        col("tf").cast("double"), 100)
      val em = t(s, d, "embeddings")
      val qv = em.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val dot = sumInOrder(zip_with(col("embedding"), col("qv"),
        (a, b) => a.cast("double") * b.cast("double")))(identity)
      val na = sumInOrder(transform(col("embedding"),
        a => a.cast("double") * a.cast("double")))(identity)
      val nb = sumInOrder(transform(col("qv"),
        a => a.cast("double") * a.cast("double")))(identity)
      val vec = em.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          (dot / (sqrt(na) * sqrt(nb))).as("cos"))
      val vecRanks = Fusion.topkRanks(vec, col("doc_id"), col("cos"), 100)
      Fusion.rrf(lexRanks, vecRanks, 60).withColumnRenamed("id", "doc_id")
    }, Some("""
      WITH lex AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        WHERE tok IN ('spark', 'join', 'dup') GROUP BY 1),
      lr AS (SELECT id, r1 FROM (
          SELECT doc_id AS id, CAST(row_number() OVER (
            ORDER BY CAST(tf AS DOUBLE) DESC, doc_id) AS BIGINT) AS r1
          FROM lex) WHERE r1 <= 100),
      qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cs AS (SELECT vec_id AS id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, len(e.embedding)),
              i -> CAST(e.embedding[i] AS DOUBLE)
                 * CAST(qv[i] AS DOUBLE))), (a, b) -> a + b)
          / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(e.embedding[i] AS DOUBLE))), (a, b) -> a + b))
             * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, len(qv)),
                   i -> CAST(qv[i] AS DOUBLE)
                      * CAST(qv[i] AS DOUBLE))), (a, b) -> a + b)))
            AS cos
        FROM embeddings e, qv),
      vr AS (SELECT id, r2 FROM (
          SELECT id, CAST(row_number() OVER (
            ORDER BY cos DESC, id) AS BIGINT) AS r2
          FROM cs) WHERE r2 <= 100)
      SELECT COALESCE(lr.id, vr.id) AS doc_id, r1, r2,
        COALESCE(1.0 / (60.0 + CAST(r1 AS DOUBLE)), 0.0)
          + COALESCE(1.0 / (60.0 + CAST(r2 AS DOUBLE)), 0.0) AS rrf
      FROM lr FULL OUTER JOIN vr ON lr.id = vr.id""")),

    // Interpolated bigram language-model scoring (Jelinek–Mercer λ=0.75,
    // unigram backoff) — the order-sensitive quality gate unigram stats
    // can't see (see BigramLm scaladoc). Counts integer, probabilities
    // the literal IEEE tree, per-doc sum folded in POSITION order, ln via
    // portable_ln.
    QueryDef("q150_bigram_lm", (s, d) => {
      graft.quality.BigramLm.score(s, t(s, d, "documents"), "doc_id",
        split(col("text"), " "), lambda = 0.75)
    }, Some("""
      WITH dt AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
      tk AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
      uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
              FROM tk GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
      bg AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos,
               toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
             FROM dt, unnest(range(1, len(toks))) AS t(i)
             WHERE len(toks) >= 2),
      c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
             FROM bg GROUP BY 1, 2),
      sc AS (SELECT doc_id, pos,
               ln(0.75 * (CAST(c2.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE))
                + 0.25 * (CAST(u2.c1 AS DOUBLE) / CAST(n AS DOUBLE))) AS lp
             FROM bg JOIN c2 USING (w1, w2)
               JOIN uni u1 ON bg.w1 = u1.tok
               JOIN uni u2 ON bg.w2 = u2.tok, tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(lp ORDER BY pos)), (a, b) -> a + b)
          / CAST(count(*) AS DOUBLE) AS logprob
      FROM sc GROUP BY doc_id""")),

    // HITS hub/authority scores (integer-exact unnormalized power
    // iteration — see Hits scaladoc: after k iterations the scores are
    // exact alternating-path counts, same ranking as normalized HITS,
    // every addition a commutative BIGINT sum) over a synthetic directed
    // doc graph with overlapping hub structure. The oracle unrolls the
    // same two auth-then-hub iterations.
    QueryDef("q152_hits", (s, d) => {
      val nodes = docNodes(s, d)
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * 7 + 5) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 19 + 11) % 389).as("dst")))
      graft.graph.Hits.run(edges, iters = 2)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * 7 + 5) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 19 + 11) % 389 FROM nodes0)),
      n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      a1 AS (SELECT node, CAST(coalesce(s.s, 0) AS BIGINT) AS auth FROM n
             LEFT JOIN (SELECT dst, count(*) AS s FROM e GROUP BY 1) s
               ON node = s.dst),
      h1 AS (SELECT node, CAST(coalesce(s.s, 0) AS BIGINT) AS hub FROM n
             LEFT JOIN (SELECT src, sum(auth) AS s FROM e
                        JOIN a1 ON a1.node = e.dst GROUP BY 1) s
               ON node = s.src),
      a2 AS (SELECT node, CAST(coalesce(s.s, 0) AS BIGINT) AS auth FROM n
             LEFT JOIN (SELECT dst, sum(hub) AS s FROM e
                        JOIN h1 ON h1.node = e.src GROUP BY 1) s
               ON node = s.dst),
      h2 AS (SELECT node, CAST(coalesce(s.s, 0) AS BIGINT) AS hub FROM n
             LEFT JOIN (SELECT src, sum(auth) AS s FROM e
                        JOIN a2 ON a2.node = e.dst GROUP BY 1) s
               ON node = s.src)
      SELECT h2.node, hub, auth FROM h2 JOIN a2 USING (node)""")),

    // Bounded-hop WEIGHTED shortest paths (distributed Bellman–Ford,
    // frontier relaxation — see ShortestPaths scaladoc) from 6 seed nodes
    // over a synthetic weighted doc graph: dist = min total weight over
    // paths of ≤ 3 edges, exact BIGINT min-plus. The oracle unrolls three
    // full relaxation rounds (frontier relaxation provably computes the
    // same fixpoint prefix — relaxing an unimproved node re-yields
    // candidates already present).
    QueryDef("q153_shortest_path", (s, d) => {
      val x = (col("doc_id") % 257).as("x")
      val nodes = t(s, d, "documents").select(x).distinct()
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * 3 + 2) % 257).as("dst"),
          (lit(1) + col("x") % 7).as("w"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 11 + 5) % 257).as("dst"),
          (lit(1) + col("x") % 5).as("w")))
      val seeds = nodes.where(col("x") % 50 === 0)
        .select(col("x").as("node"))
      graft.graph.ShortestPaths.boundedDistances(edges, seeds, maxHops = 3)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 257 AS x FROM documents),
      e0 AS (SELECT x AS src, (x * 3 + 2) % 257 AS dst, 1 + x % 7 AS w
             FROM nodes0
             UNION ALL
             SELECT x, (x * 11 + 5) % 257, 1 + x % 5 FROM nodes0),
      e AS (SELECT src, dst, min(w) AS w FROM e0 GROUP BY 1, 2),
      d0 AS (SELECT x AS node, CAST(0 AS BIGINT) AS dist FROM nodes0
             WHERE x % 50 = 0),
      c1 AS (SELECT dst AS node, min(dist + w) AS dist
             FROM d0 JOIN e ON d0.node = e.src GROUP BY 1),
      d1 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT * FROM d0 UNION ALL SELECT * FROM c1) GROUP BY 1),
      c2 AS (SELECT dst AS node, min(dist + w) AS dist
             FROM d1 JOIN e ON d1.node = e.src GROUP BY 1),
      d2 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT * FROM d1 UNION ALL SELECT * FROM c2) GROUP BY 1),
      c3 AS (SELECT dst AS node, min(dist + w) AS dist
             FROM d2 JOIN e ON d2.node = e.src GROUP BY 1),
      d3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
               SELECT * FROM d2 UNION ALL SELECT * FROM c3) GROUP BY 1)
      SELECT node, dist FROM d3""")),

    // Per-group ordinary-least-squares trend line (price-vs-quantity fit
    // per part — see Regression scaladoc): the five sufficient statistics
    // are exact BIGINT sums (quantity is integral; price becomes cents
    // via floor(p*100) — the SAME double expression both engines evaluate
    // on identical doubles), slope/intercept each ONE fixed IEEE tree over
    // those exact integers. One scan, one partial-aggregated groupBy.
    QueryDef("q154_group_regression", (s, d) => {
      graft.stats.Regression.groupLeastSquares(
        t(s, d, "lineitem"), col("l_partkey"),
        col("l_quantity"), floor(col("l_extendedprice") * 100))
    }, Some("""
      WITH pts AS (SELECT l_partkey AS key,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
             FROM lineitem),
      s AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts GROUP BY 1)
      SELECT key, n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
      FROM s WHERE n >= 2 AND n * sxx - sx * sx != 0""")),

    // Item–item cosine collaborative filtering (see Itemsets.cosinePairs
    // scaladoc): co-occurrence across order baskets normalized by each
    // item's own occurrence count, baskets larger than 5 dropped WHOLE
    // before the quadratic pair expansion (the capped-bucket pattern).
    // Counts exact BIGINT; the cosine is one fixed IEEE tree.
    QueryDef("q155_item_cosine", (s, d) => {
      graft.stats.Itemsets.cosinePairs(
        t(s, d, "lineitem").select(col("l_orderkey"),
          (col("l_partkey") % 199).as("item")),
        "l_orderkey", "item", maxBasket = 5, minCo = 3)
    }, Some("""
      WITH b AS (SELECT DISTINCT l_orderkey AS basket,
               l_partkey % 199 AS item FROM lineitem),
      small AS (SELECT basket FROM b GROUP BY 1 HAVING count(*) <= 5),
      kept AS (SELECT b.* FROM b JOIN small USING (basket)),
      occ AS (SELECT item, CAST(count(*) AS BIGINT) AS occ
              FROM kept GROUP BY 1),
      co AS (SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS co
             FROM kept a JOIN kept b
               ON a.basket = b.basket AND a.item < b.item
             GROUP BY 1, 2)
      SELECT item_a, item_b, co,
        CAST(co AS DOUBLE) / (sqrt(CAST(oa.occ AS DOUBLE))
          * sqrt(CAST(ob.occ AS DOUBLE))) AS cosine
      FROM co JOIN occ oa ON item_a = oa.item
              JOIN occ ob ON item_b = ob.item
      WHERE co >= 3""")),

    // Calendar-spine resample + forward fill (see Resample scaladoc):
    // one row per user per day from their first to last event day, status
    // = the forward-filled code of the day's LAST event. The day's last
    // observation is max over ONE packed BIGINT (epoch_micros·8 + code) —
    // deterministic even on exact timestamp ties, in both engines,
    // without struct-valued argmax. Codes: click 1, error 2, purchase 3,
    // signup 4, view 5 (alphabetical).
    QueryDef("q156_resample_ffill", (s, d) => {
      val code = when(col("event_type") === "click", 1)
        .when(col("event_type") === "error", 2)
        .when(col("event_type") === "purchase", 3)
        .when(col("event_type") === "signup", 4).otherwise(5)
      graft.operators.Resample.dailyForwardFill(
        t(s, d, "events"), col("user_id"), col("ts"), code, codeBits = 3)
    }, Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
               epoch_us(ts) * 8 + CASE event_type
                 WHEN 'click' THEN 1 WHEN 'error' THEN 2
                 WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                 ELSE 5 END AS p
             FROM events),
      dl AS (SELECT user_id, day, max(p) % 8 AS code FROM ev GROUP BY 1, 2),
      bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                 FROM dl GROUP BY 1),
      spine AS (SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                 AS day
             FROM bounds),
      j AS (SELECT s.user_id, s.day, dl.code FROM spine s
            LEFT JOIN dl ON s.user_id = dl.user_id AND s.day = dl.day)
      SELECT user_id AS key, day,
        CAST(last_value(code IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS status
      FROM j""")),

    // Per-user Pearson correlation between hour-of-day and spend (see
    // Regression.groupPearson scaladoc): both variables integerized the
    // same way in both engines (hour is integral; spend becomes
    // floor(value·100) cents), statistics exact, r one IEEE tree.
    QueryDef("q157_pearson", (s, d) => {
      graft.stats.Regression.groupPearson(
        t(s, d, "events"), col("user_id"),
        hour(col("ts").cast("timestamp")), floor(col("value") * 100))
    }, Some("""
      WITH pts AS (SELECT user_id AS key, CAST(hour(ts) AS BIGINT) AS x,
               CAST(floor(value * 100) AS BIGINT) AS y FROM events),
      s AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(y * y) AS BIGINT) AS syy
            FROM pts GROUP BY 1)
      SELECT key, n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
      FROM s WHERE n >= 2 AND n * sxx - sx * sx != 0
        AND n * syy - sy * sy != 0""")),

    // Time-weighted average (see Temporal scaladoc): per-user mean spend
    // level weighted by how long each level HELD, not how often it was
    // sampled — Σ v·dur and Σ dur exact BIGINT (value integerized to
    // cents by the same expression in both engines; window order
    // totalized by (ts, cents)), twap ONE IEEE division.
    QueryDef("q158_twap", (s, d) => {
      graft.operators.Temporal.timeWeightedAvg(
        t(s, d, "events"), col("user_id"), col("ts"),
        floor(col("value") * 100))
    }, Some("""
      WITH r AS (SELECT user_id AS key, epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS v FROM events),
      w AS (SELECT key, v,
              lead(us) OVER (PARTITION BY key ORDER BY us, v) - us AS dur
            FROM r),
      s AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(v * dur) AS BIGINT) AS wsum,
              CAST(sum(dur) AS BIGINT) AS span
            FROM w GROUP BY 1)
      SELECT key, n, CAST(wsum AS DOUBLE) / CAST(span AS DOUBLE) AS twap
      FROM s WHERE span > 0""")),

    // Debounce / retry-storm collapse (see Temporal scaladoc): drop any
    // event within 6 hours of the SAME user+type's previous raw event
    // (order totalized by event_id, so the kept row set — not just the
    // counts — is deterministic). Output: per-group raw vs kept counts.
    QueryDef("q159_debounce", (s, d) => {
      val ev = t(s, d, "events")
      val kept = graft.operators.Temporal.debounce(ev,
          Seq("user_id", "event_type"), col("ts"), col("event_id"),
          gapMicros = 6L * 3600 * 1000000)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_kept"))
      ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_raw"))
        .join(kept, Seq("user_id", "event_type"))
    }, Some("""
      WITH r AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                 FROM events),
      k AS (SELECT user_id, event_type,
              CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 21600000000 THEN 1
                   ELSE 0 END AS kept
            FROM r WINDOW w AS (PARTITION BY user_id, event_type
                                ORDER BY us, event_id))
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_raw,
        CAST(sum(kept) AS BIGINT) AS n_kept
      FROM k GROUP BY 1, 2""")),

    // Largest-remainder apportionment (see Apportion scaladoc): split a
    // 100,000-slot sampling budget across sources exactly proportionally
    // to their character mass — Σ alloc = budget EXACTLY, everything
    // integer (BIGINT div/mod, remainder rank tie-broken by key).
    QueryDef("q160_apportion", (s, d) => {
      graft.sample.Apportion.largestRemainder(
        t(s, d, "documents"), col("source"), col("n_chars"),
        budget = 100000L)
    }, Some("""
      WITH g AS (SELECT source AS key, CAST(sum(n_chars) AS BIGINT)
                   AS weight FROM documents GROUP BY 1),
      t AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM g),
      b AS (SELECT key, weight, (100000 * weight) // t.t AS base,
              (100000 * weight) % t.t AS rem FROM g CROSS JOIN t),
      l AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS r FROM b)
      SELECT key, weight,
        CAST(base + CASE WHEN row_number() OVER
            (ORDER BY rem DESC, key ASC) <= l.r THEN 1 ELSE 0 END
          AS BIGINT) AS alloc
      FROM b CROSS JOIN l""")),

    // Degree assortativity (see Assortativity scaladoc) over a synthetic
    // doc graph with a quadratic (2-to-1, degree-skewing) generator plus
    // an affine (bijective) one: the six moment sums are exact BIGINT,
    // r is one IEEE tree — the single-number hub-wiring health check.
    QueryDef("q161_assortativity", (s, d) => {
      val nodes = docNodes(s, d)
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * col("x") + 1) % 389).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 7 + 5) % 389).as("dst")))
      graft.graph.Assortativity.degreeAssortativity(edges)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 389 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * x + 1) % 389 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 7 + 5) % 389 FROM nodes0)),
      n AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        GROUP BY 1),
      xy AS (SELECT a.deg AS x, b.deg AS y FROM e
             JOIN n a ON e.src = a.node JOIN n b ON e.dst = b.node),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(y * y) AS BIGINT) AS syy FROM xy)
      SELECT n AS n_edges,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
      FROM s WHERE n >= 2 AND n * sxx - sx * sx != 0
        AND n * syy - sy * sy != 0""")),

    // NPMI term association (see Npmi scaladoc): vocabulary gate df ≥ 20,
    // docs touching > 28 vocab terms dropped whole before the pair
    // expansion, counts internally consistent from the kept set; every
    // portable_ln argument is an INTEGER count (< 9170 at all SFs —
    // the domain where Math.log ≡ libm bit-for-bit; ratio arguments
    // measurably diverge, see PortableLn).
    QueryDef("q162_npmi", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      graft.quality.Npmi.pairAssociation(
        t(s, d, "documents").select(col("doc_id").as("doc"),
          explode(split(col("text"), " ")).as("term")),
        maxTermsPerDoc = 28, minDf = 20, minCo = 5)
    }, Some("""
      WITH tk AS (SELECT doc_id AS doc, unnest(string_split(text, ' '))
                    AS term FROM documents),
      p AS (SELECT DISTINCT doc, term FROM tk),
      v AS (SELECT term FROM p GROUP BY 1 HAVING count(*) >= 20),
      iv AS (SELECT p.* FROM p JOIN v USING (term)),
      sz AS (SELECT doc FROM iv GROUP BY 1 HAVING count(*) <= 28),
      kept AS (SELECT iv.* FROM iv JOIN sz USING (doc)),
      nd AS (SELECT CAST(count(DISTINCT doc) AS BIGINT) AS nd FROM kept),
      c AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM kept
            GROUP BY 1),
      co AS (SELECT a.term AS term_a, b.term AS term_b,
               CAST(count(*) AS BIGINT) AS co
             FROM kept a JOIN kept b
               ON a.doc = b.doc AND a.term < b.term GROUP BY 1, 2)
      SELECT term_a, term_b, co,
        (((ln(CAST(co AS DOUBLE)) + ln(CAST(nd AS DOUBLE)))
            - ln(CAST(ca.c AS DOUBLE))) - ln(CAST(cb.c AS DOUBLE)))
          / (ln(CAST(nd AS DOUBLE)) - ln(CAST(co AS DOUBLE))) AS npmi
      FROM co CROSS JOIN nd
      JOIN c ca ON term_a = ca.term JOIN c cb ON term_b = cb.term
      WHERE co >= 5 AND co < nd""")),

    // Rendezvous (highest-random-weight) shard assignment (see Rendezvous
    // scaladoc): every doc key routed to the shard with the largest
    // md5(key || '-' || shard) — consistent routing with no ring state,
    // collision-free argmax, engine-portable hex compare.
    QueryDef("q165_rendezvous", (s, d) => {
      graft.operators.Rendezvous.assign(
        s, t(s, d, "documents"), col("doc_id"), nShards = 16)
    }, Some("""
      WITH keys AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS key
                    FROM documents),
      sh AS (SELECT CAST(unnest(range(16)) AS INT) AS shard),
      a AS (SELECT key, shard,
              md5(key || '-' || CAST(shard AS VARCHAR)) AS w
            FROM keys CROSS JOIN sh)
      SELECT key, max_by(shard, w) AS shard FROM a GROUP BY 1""")),

    // Edge reciprocity over a synthetic directed doc graph (two affine
    // generators mod 331): the fraction of edges whose reverse edge also
    // exists — the classic directed-web-graph health metric (a crawler
    // that follows redirects twice doubles it). Counts exact; the ratio
    // is one IEEE division.
    QueryDef("q166_reciprocity", (s, d) => {
      val x = (col("doc_id") % 331).as("x")
      val nodes = t(s, d, "documents").select(x).distinct()
      val e = nodes
        .select(col("x").as("src"), ((col("x") * 5 + 3) % 331).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * 17 + 2) % 331).as("dst")))
        // two out-edges per node; feeds both counts and the semi-join
        .distinct().transform(Cut.small(2 * 331))
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val recip = e.join(rev, Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
        .select(col("n_edges"), col("n_recip"),
          (col("n_recip").cast("double") / col("n_edges").cast("double"))
            .as("reciprocity"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 331 AS x FROM documents),
      e AS (SELECT DISTINCT src, dst FROM (
          SELECT x AS src, (x * 5 + 3) % 331 AS dst FROM nodes0
          UNION ALL SELECT x, (x * 17 + 2) % 331 FROM nodes0)),
      r AS (SELECT count(*) AS n_recip FROM e
            WHERE EXISTS (SELECT 1 FROM e e2
                          WHERE e2.src = e.dst AND e2.dst = e.src))
      SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        CAST(n_recip AS BIGINT) AS n_recip,
        CAST(n_recip AS DOUBLE)
          / CAST((SELECT count(*) FROM e) AS DOUBLE) AS reciprocity
      FROM r""")),

    // Exact weighted median (see RobustStats scaladoc): per-user median
    // spend level where each observation weighs by its event-type name
    // length — duplicates collapse BEFORE the per-key window, the pick is
    // the integer comparison 2·cumw ≥ W, everything BIGINT.
    QueryDef("q168_weighted_median", (s, d) => {
      graft.stats.RobustStats.weightedMedian(
        t(s, d, "events"), col("user_id"),
        floor(col("value") * 100), length(col("event_type")))
    }, Some("""
      WITH r AS (SELECT user_id AS key,
               CAST(floor(value * 100) AS BIGINT) AS v,
               CAST(length(event_type) AS BIGINT) AS w FROM events),
      bv AS (SELECT key, v, CAST(sum(w) AS BIGINT) AS wv
             FROM r GROUP BY 1, 2),
      c AS (SELECT key, v,
              sum(wv) OVER (PARTITION BY key ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              sum(wv) OVER (PARTITION BY key) AS w_total
            FROM bv)
      SELECT key, CAST(max(w_total) AS BIGINT) AS w_total,
        CAST(min(v) AS BIGINT) AS wmedian
      FROM c WHERE cum * 2 >= w_total GROUP BY 1""")),

    // Exact per-group mode with the smallest-value tie rule (see
    // RobustStats scaladoc): the user's typical event type — counts
    // collapse first, the tied-for-max set resolves by min.
    QueryDef("q169_group_mode", (s, d) => {
      graft.stats.RobustStats.mode(
        t(s, d, "events"), col("user_id"), col("event_type"))
    }, Some("""
      WITH c AS (SELECT user_id AS key, event_type AS v,
               CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
      m AS (SELECT key, max(n) AS n FROM c GROUP BY 1)
      SELECT key, min(v) AS mode_v, CAST(max(m.n) AS BIGINT) AS n
      FROM c JOIN m USING (key, n) GROUP BY 1""")),

    // Crawl politeness interleave: one global fetch order that cycles
    // across domains (slot = (rank_within_domain − 1)·D + domain_rank)
    // so no domain is ever hit twice before every domain is hit once.
    // Domain ranks come from a count-of-smaller THETA SELF-JOIN on the
    // dimension-sized distinct table (no unpartitioned window anywhere);
    // per-domain ranks partition by domain. All integer, deterministic.
    QueryDef("q170_crawl_interleave", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
      val dims = docs.select("source").distinct()
      val dr = dims.join(broadcast(dims.select(col("source").as("s2"))),
          col("s2") < col("source"), "left")
        .groupBy("source")
        .agg((count(col("s2")) + 1).as("drank"))
      val nd = broadcast(dr.agg(max("drank").as("nd")))
      docs
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("doc_id")).cast("long"))
        .join(broadcast(dr), "source").crossJoin(nd)
        .select(col("doc_id"), col("source"),
          ((col("rn") - 1) * col("nd") + col("drank")).as("slot"))
    }, Some("""
      WITH dr AS (SELECT source, CAST(row_number() OVER (ORDER BY source)
                    AS BIGINT) AS drank
                  FROM (SELECT DISTINCT source FROM documents)),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM dr),
      rn AS (SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                 AS BIGINT) AS rn
             FROM documents)
      SELECT doc_id, rn.source, (rn - 1) * nd + drank AS slot
      FROM rn JOIN dr USING (source) CROSS JOIN nd""")),

    // Personalized PageRank (see PageRank.personalized scaladoc): all
    // teleport mass on a 7-node seed set, two integer-exact damped
    // iterations over a mixed bijective/quadratic synthetic graph —
    // unreached nodes honestly score 0. The oracle unrolls both rounds.
    QueryDef("q171_ppr", (s, d) => {
      val x = (col("doc_id") % 367).as("x")
      val nodes = t(s, d, "documents").select(x).distinct()
      val edges = nodes
        .select(col("x").as("src"), ((col("x") * 6 + 1) % 367).as("dst"))
        .unionByName(nodes.select(col("x").as("src"),
          ((col("x") * col("x") + 3) % 367).as("dst")))
      val seeds = nodes.where(col("x") % 60 === 0)
        .select(col("x").as("node"))
      graft.graph.PageRank.personalized(edges, seeds, iters = 2)
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 367 AS x FROM documents),
      e0 AS (SELECT x AS src, (x * 6 + 1) % 367 AS dst FROM nodes0
             UNION ALL SELECT x, (x * x + 3) % 367 FROM nodes0),
      dg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
             FROM e0 GROUP BY 1),
      e AS (SELECT e0.src, e0.dst, dg.outdeg FROM e0 JOIN dg USING (src)),
      n AS (SELECT node, CAST(CASE WHEN node % 60 = 0
                 AND node IN (SELECT x FROM nodes0) THEN 1 ELSE 0 END
               AS BIGINT) AS is_seed
            FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
      p0 AS (SELECT node, is_seed,
               CAST(is_seed * 1000000 AS BIGINT) AS score FROM n),
      i1 AS (SELECT dst, CAST(sum(score // outdeg) AS BIGINT) AS inb
             FROM e JOIN p0 ON p0.node = e.src GROUP BY 1),
      p1 AS (SELECT n.node, n.is_seed,
               CAST(n.is_seed * 150000
                 + coalesce(i1.inb, 0) * 85 // 100 AS BIGINT) AS score
             FROM n LEFT JOIN i1 ON n.node = i1.dst),
      i2 AS (SELECT dst, CAST(sum(score // outdeg) AS BIGINT) AS inb
             FROM e JOIN p1 ON p1.node = e.src GROUP BY 1),
      p2 AS (SELECT n.node, n.is_seed,
               CAST(n.is_seed * 150000
                 + coalesce(i2.inb, 0) * 85 // 100 AS BIGINT) AS score
             FROM n LEFT JOIN i2 ON n.node = i2.dst)
      SELECT node, score AS ppr_score FROM p2""")),

    // Exact-moment skewness + excess kurtosis of each user's hour-of-day
    // activity shape (see Moments scaladoc): five BIGINT power sums, the
    // n-powers cancel exactly, each output ONE IEEE tree (g₁ = B/(A√A),
    // g₂ = C/A² − 3). Hour ∈ 0..23 keeps the fourth powers tiny.
    QueryDef("q172_skewkurt", (s, d) => {
      graft.stats.Moments.groupSkewKurt(
        t(s, d, "events"), col("user_id"), hour(col("ts")))
    }, Some("""
      WITH r AS (SELECT user_id AS key, CAST(hour(ts) AS BIGINT) AS x
                 FROM events),
      s AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS sx,
              CAST(sum(x * x) AS BIGINT) AS sxx,
              CAST(sum(x * x * x) AS BIGINT) AS sxxx,
              CAST(sum(x * x * x * x) AS BIGINT) AS sxxxx
            FROM r GROUP BY 1)
      SELECT key, n,
        CAST(n * n * sxxx - 3 * n * sx * sxx + 2 * sx * sx * sx AS DOUBLE)
          / (CAST(n * sxx - sx * sx AS DOUBLE)
             * sqrt(CAST(n * sxx - sx * sx AS DOUBLE))) AS skew,
        CAST(n * n * n * sxxxx - 4 * n * n * sx * sxxx
             + 6 * n * sx * sx * sxx - 3 * sx * sx * sx * sx AS DOUBLE)
          / (CAST(n * sxx - sx * sx AS DOUBLE)
             * CAST(n * sxx - sx * sx AS DOUBLE)) - 3.0 AS kurt
      FROM s WHERE n >= 4 AND n * sxx - sx * sx != 0""")),

    // Longest same-type streak per user (gaps-and-islands run lengths,
    // the q122 lag+cumsum machinery aimed at the "max consecutive"
    // question): order totalized by (ts, event_id), runs counted exactly.
    QueryDef("q173_longest_streak", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("chg",
          when(lag("event_type", 1).over(w).isNull ||
            col("event_type") =!= lag("event_type", 1).over(w), 1L)
            .otherwise(0L))
        .withColumn("run", sum("chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("run"))
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("max_streak"), count(lit(1)).as("n_runs"))
    }, Some("""
      WITH f AS (SELECT user_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR event_type <> lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      r AS (SELECT user_id, sum(chg) OVER (PARTITION BY user_id
               ORDER BY rowid) AS run FROM
             (SELECT *, row_number() OVER () AS rowid FROM f)),
      l AS (SELECT user_id, run, CAST(count(*) AS BIGINT) AS len
            FROM r GROUP BY 1, 2)
      SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak,
        CAST(count(*) AS BIGINT) AS n_runs
      FROM l GROUP BY 1""")),

    // Half-over-half trending items (add-one-smoothed frequency ratio
    // between ship years before/from 1998): counts exact, the trend is
    // one IEEE division — the burst-detection primitive for corpus drift.
    QueryDef("q174_trending", (s, d) => {
      t(s, d, "lineitem")
        .select((col("l_partkey") % 199).as("item"),
          year(col("l_shipdate")).as("y"))
        .groupBy("item")
        .agg(sum(when(col("y") < 1998, 1L).otherwise(0L)).as("c1"),
          sum(when(col("y") >= 1998, 1L).otherwise(0L)).as("c2"))
        .where(col("c1") + col("c2") >= 20)
        .select(col("item"), col("c1"), col("c2"),
          ((col("c2") + 1).cast("double") / (col("c1") + 1).cast("double"))
            .as("trend"))
    }, Some("""
      WITH c AS (SELECT l_partkey % 199 AS item,
              CAST(sum(CASE WHEN year(l_shipdate) < 1998 THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
              CAST(sum(CASE WHEN year(l_shipdate) >= 1998 THEN 1 ELSE 0
                END) AS BIGINT) AS c2
            FROM lineitem GROUP BY 1)
      SELECT item, c1, c2,
        CAST(c2 + 1 AS DOUBLE) / CAST(c1 + 1 AS DOUBLE) AS trend
      FROM c WHERE c1 + c2 >= 20""")),

    // Chi-square independence test, event type × 6-hour day-quarter: the
    // 20-cell contingency table folds in (t, b)-sorted order (the q138
    // sorted-fold bit-stability pattern — cell count is bounded by the
    // category product BY CONSTRUCTION, so the collect_list is
    // dimension-sized), expected counts from exact integer row/col/total
    // sums, each term one IEEE tree.
    QueryDef("q175_chi2", (s, d) => {
      val o = t(s, d, "events")
        .select(col("event_type").as("t"),
          expr("CAST(hour(ts) div 6 AS INT)").as("b"))
        .groupBy("t", "b").agg(count(lit(1)).as("o"))
      val rt = o.groupBy("t").agg(sum("o").as("rt"))
      val ct = o.groupBy("b").agg(sum("o").as("ct"))
      val nn = broadcast(o.agg(sum("o").as("nn")))
      val term = {
        val e = (col("rt") * col("ct")).cast("double") /
          col("nn").cast("double")
        (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
      }
      val dof = broadcast(
        rt.agg(count(lit(1)).as("nr")).crossJoin(
            ct.agg(count(lit(1)).as("nc")))
          .select(((col("nr") - 1) * (col("nc") - 1)).as("dof")))
      o.join(rt, "t").join(ct, "b").crossJoin(nn)
        .select(struct(col("t"), col("b"), term.as("term")).as("cell"))
        .agg(sort_array(collect_list("cell")).as("cells"))
        .select(sumInOrder(col("cells"))(_.getField("term")).as("chi2"))
        .crossJoin(dof)
    }, Some("""
      WITH o AS (SELECT event_type AS t, CAST(hour(ts) // 6 AS INT) AS b,
               CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
      rt AS (SELECT t, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
      ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
      nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM o),
      cells AS (SELECT list_sort(list(struct_pack(t := t, b := b,
               term := (CAST(o AS DOUBLE)
                  - CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE))
                 * (CAST(o AS DOUBLE)
                  - CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE))
                 / (CAST(rt * ct AS DOUBLE) / CAST(nn AS DOUBLE)))))
               AS cs
             FROM o JOIN rt USING (t) JOIN ct USING (b) CROSS JOIN nn),
      dof AS (SELECT CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof)
      SELECT list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(cs, x -> x.term)),
               (a, b) -> a + b) AS chi2, dof
      FROM cells CROSS JOIN dof""")),

    // Power-law (Pareto) exponent of the in-degree distribution, Hill /
    // discrete-MLE estimate at dmin = 2: α = 1 + m / (Σ ln(deg) − m·ln 2)
    // over degrees ≥ 2 of a planted-hub synthetic graph. Degrees are
    // exact BIGINTs; every portable_ln argument is an INTEGER (< 9170 —
    // the libm-parity domain, see PortableLn); the sum folds in sorted
    // order over the dimension-sized degree list (the q138 pattern).
    QueryDef("q177_powerlaw", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val x = (col("doc_id") % 2003).as("x")
      val dst = t(s, d, "documents").select(x).distinct()
        .select(((col("x") * 3 + 1) % 211).as("dst"))
      val deg = dst.groupBy("dst").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 2)
      deg.agg(sort_array(collect_list(col("deg"))).as("ds"),
          count(lit(1)).as("m"))
        .select(col("m"),
          (lit(1.0) + col("m").cast("double") /
            (sumInOrder(col("ds"))(v => pln(v.cast("double")))
              - col("m").cast("double") * pln(lit(2.0)))).as("alpha"))
    }, Some("""
      WITH nodes0 AS (SELECT DISTINCT doc_id % 2003 AS x FROM documents),
      e AS (SELECT (x * 3 + 1) % 211 AS dst FROM nodes0),
      dg AS (SELECT dst, CAST(count(*) AS BIGINT) AS deg
             FROM e GROUP BY 1 HAVING count(*) >= 2),
      l AS (SELECT list_sort(list(deg)) AS ds,
              CAST(count(*) AS BIGINT) AS m FROM dg)
      SELECT m, 1.0 + CAST(m AS DOUBLE) /
          (list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ds, x -> ln(CAST(x AS DOUBLE)))),
             (a, b) -> a + b)
           - CAST(m AS DOUBLE) * ln(CAST(2.0 AS DOUBLE))) AS alpha
      FROM l""")),

    // Benford first-digit audit over order totals — the classic
    // fabricated-data detector. The digit comes from the BIGINT's string
    // form (integer-to-string is portable; float formatting is not), and
    // the Benford expectation log₁₀(1+1/d) = (ln(d+1) − ln d)/ln 10 uses
    // portable_ln on INTEGERS only (the libm-parity domain).
    QueryDef("q179_benford", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val digit = substring(
        floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit")
      val counts = t(s, d, "orders").where(col("o_totalprice") >= 1)
        .select(digit).groupBy("digit").agg(count(lit(1)).as("n"))
      counts.crossJoin(broadcast(counts.agg(sum("n").as("nn"))))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("nn").cast("double"))
            .as("obs_p"),
          ((pln((col("digit") + 1).cast("double"))
            - pln(col("digit").cast("double")))
            / pln(lit(10.0))).as("exp_p"))
    }, Some("""
      WITH c AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
                   AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n
             FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
      SELECT digit, n,
        CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS obs_p,
        (ln(CAST(digit + 1 AS DOUBLE)) - ln(CAST(digit AS DOUBLE)))
          / ln(CAST(10.0 AS DOUBLE)) AS exp_p
      FROM c CROSS JOIN t""")),

    // Two-sample Kolmogorov–Smirnov statistic, EXACT: purchase vs click
    // spend distributions. Per-value counts aggregate FIRST, then the two
    // CDFs come from the DISTRIBUTED global prefix sum (see PrefixSum —
    // range partition + partition-local windows + O(P) offsets; never an
    // unpartitioned WindowExec over the value domain), the CDF gap
    // compares as the exact integer |cum1·n2 − cum2·n1|, and D is ONE
    // division of the integer max.
    QueryDef("q180_ks_test", (s, d) => {
      val ev = t(s, d, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select(col("event_type").as("t"),
          floor(col("value") * 100).as("v"))
      val c = ev.groupBy("v").agg(
        sum(when(col("t") === "purchase", 1L).otherwise(0L)).as("c1"),
        sum(when(col("t") === "click", 1L).otherwise(0L)).as("c2"))
      val tot = broadcast(c.agg(sum("c1").as("n1"), sum("c2").as("n2")))
      PrefixSum.withRunningTotals(c, "v", Seq("c1", "c2"))
        .withColumnRenamed("c1_cum", "cum1")
        .withColumnRenamed("c2_cum", "cum2")
        .crossJoin(tot)
        .select(col("n1"), col("n2"),
          abs(col("cum1") * col("n2") - col("cum2") * col("n1"))
            .as("gap"))
        .groupBy("n1", "n2").agg(max("gap").as("gap"))
        .select(col("n1"), col("n2"),
          (col("gap").cast("double") /
            (col("n1") * col("n2")).cast("double")).as("d_stat"))
    }, Some("""
      WITH ev AS (SELECT event_type AS t,
               CAST(floor(value * 100) AS BIGINT) AS v FROM events
             WHERE event_type IN ('purchase', 'click')),
      c AS (SELECT v,
              CAST(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS c1,
              CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS c2
            FROM ev GROUP BY 1),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                CAST(sum(c2) AS BIGINT) AS n2 FROM c),
      g AS (SELECT abs(sum(c1) OVER w * n2 - sum(c2) OVER w * n1) AS gap,
              n1, n2
            FROM c CROSS JOIN tot
            WINDOW w AS (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT n1, n2, CAST(max(gap) AS DOUBLE)
          / CAST(n1 * n2 AS DOUBLE) AS d_stat
      FROM g GROUP BY n1, n2""")),

    // Conditional entropy rate H(next | current) of each user's event
    // sequence — the behavioral-predictability score: 0 = a deterministic
    // loop, ln 5 ≈ 1.61 = uniform chaos over 5 types. Transition cells
    // (≤ types² per user) fold in (cur, next)-sorted order; every ln
    // argument is an INTEGER count (portable_ln parity domain);
    // H = Σ n_cn·(ln n_c − ln n_cn) / N is exact-integer fed.
    QueryDef("q181_cond_entropy", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = t(s, d, "events")
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("user_id"), col("event_type").as("cur"),
          col("nxt"))
        .agg(count(lit(1)).as("ncn"))
      val marg = tr.groupBy("user_id", "cur").agg(sum("ncn").as("nc"))
      tr.join(marg, Seq("user_id", "cur"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("cur"), col("nxt"),
            col("ncn"), col("nc")))).as("cells"),
          sum("ncn").as("n_trans"))
        .select(col("user_id"), col("n_trans"),
          (sumInOrder(col("cells"))(x => x.getField("ncn").cast("double") *
              (pln(x.getField("nc").cast("double"))
                - pln(x.getField("ncn").cast("double"))))
            / col("n_trans").cast("double")).as("cond_entropy"))
    }, Some("""
      WITH tr0 AS (SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS nxt
             FROM events),
      tr AS (SELECT user_id, cur, nxt, CAST(count(*) AS BIGINT) AS ncn
             FROM tr0 WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
      mg AS (SELECT user_id, cur, CAST(sum(ncn) AS BIGINT) AS nc
             FROM tr GROUP BY 1, 2),
      l AS (SELECT user_id,
              list_sort(list(struct_pack(cur := cur, nxt := nxt,
                ncn := ncn, nc := nc))) AS cells,
              CAST(sum(ncn) AS BIGINT) AS n_trans
            FROM tr JOIN mg USING (user_id, cur) GROUP BY 1)
      SELECT user_id, n_trans,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cells, x ->
              CAST(x.ncn AS DOUBLE)
                * (ln(CAST(x.nc AS DOUBLE)) - ln(CAST(x.ncn AS DOUBLE))))),
          (a, b) -> a + b) / CAST(n_trans AS DOUBLE) AS cond_entropy
      FROM l""")),

    // Effective vocabulary size per language (inverse Simpson, 1/Σp²):
    // the diversity number that complements entropy (q138) — how many
    // EQUALLY-USED terms this distribution is equivalent to. No folds
    // needed at all: N and Σc² are exact integer sums, ESS = N²/Σc² is
    // ONE division. Keep N < 3·10⁹ per group (N² in BIGINT) — shard and
    // merge (N, Σc²) pairs above that, documented.
    QueryDef("q182_ess", (s, d) => {
      val c = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      c.groupBy("lang")
        .agg(sum("c").as("n_tokens"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("lang"), col("n_tokens"),
          ((col("n_tokens") * col("n_tokens")).cast("double") /
            col("s2").cast("double")).as("ess"))
    }, Some("""
      WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
      c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2),
      s AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
              CAST(sum(c * c) AS BIGINT) AS s2 FROM c GROUP BY 1)
      SELECT lang, n_tokens,
        CAST(n_tokens * n_tokens AS DOUBLE) / CAST(s2 AS DOUBLE) AS ess
      FROM s""")),

    // Gini mean difference (mean |xᵢ−xⱼ| over all pairs), EXACT via the
    // sorted-rank identity Σᵢ<ⱼ(xⱼ−xᵢ) = Σᵢ(2i−n−1)·x₍ᵢ₎ — the quadratic
    // pair sum becomes ONE rank window + ONE integer aggregate (the
    // coefficient sum is order-invariant inside tie groups, so ranks
    // need no tie rule for the VALUE to be deterministic). Δ is one
    // IEEE division of exact integers.
    QueryDef("q183_mean_abs_diff", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("v", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100).as("v"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum((lit(2L) * col("rn") - lit(1L)) * col("v")).as("rsum"),
          sum(col("v")).as("vsum"))
        .where(col("n") >= 2)
        .select(col("user_id"), col("n"),
          ((lit(2L) * (col("rsum") - col("n") * col("vsum")))
            .cast("double") /
            (col("n") * (col("n") - 1)).cast("double")).as("gmd"))
    }, Some("""
      WITH r AS (SELECT user_id, event_id,
               CAST(floor(value * 100) AS BIGINT) AS v FROM events),
      rk AS (SELECT user_id, v,
               CAST(row_number() OVER (PARTITION BY user_id
                 ORDER BY v, event_id) AS BIGINT) AS rn
             FROM r),
      s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
              CAST(sum((2 * rn - 1) * v) AS BIGINT) AS rsum,
              CAST(sum(v) AS BIGINT) AS vsum
            FROM rk GROUP BY 1)
      SELECT user_id, n,
        CAST(2 * (rsum - n * vsum) AS DOUBLE)
          / CAST(n * (n - 1) AS DOUBLE) AS gmd
      FROM s WHERE n >= 2""")),

    // Weighted (multiset) Jaccard between language term-count vectors:
    // Σ min(cₐ, c_b) / Σ max(cₐ, c_b) with Σmax = Nₐ + N_b − Σmin — so
    // only the INTERSECTION join is ever materialized; absent terms
    // contribute min 0 by construction. The frequency-aware sibling of
    // q167's set Jaccard. All counts exact, one IEEE division.
    QueryDef("q184_weighted_jaccard", (s, d) => {
      val c = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      val tot = c.groupBy("lang").agg(sum("c").as("n"))
      c.as("a").join(c.as("b"),
          col("a.term") === col("b.term") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("smin"))
        .join(tot.select(col("lang").as("lang_a"), col("n").as("na")),
          Seq("lang_a"))
        .join(tot.select(col("lang").as("lang_b"), col("n").as("nb")),
          Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("smin"),
          (col("smin").cast("double") /
            (col("na") + col("nb") - col("smin")).cast("double"))
            .as("wjaccard"))
    }, Some("""
      WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
      c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
      i AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
              CAST(sum(least(a.c, b.c)) AS BIGINT) AS smin
            FROM c a JOIN c b
              ON a.term = b.term AND a.lang < b.lang
            GROUP BY 1, 2)
      SELECT lang_a, lang_b, smin,
        CAST(smin AS DOUBLE)
          / CAST(ta.n + tb.n - smin AS DOUBLE) AS wjaccard
      FROM i JOIN tot ta ON lang_a = ta.lang
             JOIN tot tb ON lang_b = tb.lang""")),

    // Interval-union session coverage (see Intervals scaladoc): each
    // event opens a 5-minute activity span; overlapping spans merge into
    // islands and the per-user TOTAL COVERED time is exact integer
    // micros — summing raw durations would double-count bursts.
    QueryDef("q185_interval_union", (s, d) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      graft.operators.Intervals.unionCoverage(
        t(s, d, "events"), col("user_id"),
        us, us + 300000000L, col("event_id"))
    }, Some("""
      WITH r AS (SELECT user_id AS key, epoch_us(ts) AS s,
               epoch_us(ts) + 300000000 AS e, event_id AS tb
             FROM events),
      f AS (SELECT key, s, e,
              CASE WHEN max(e) OVER (PARTITION BY key ORDER BY s, tb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                OR s > max(e) OVER (PARTITION BY key ORDER BY s, tb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS open
            FROM r),
      i AS (SELECT key, s, e, sum(open) OVER (PARTITION BY key
               ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS island
            FROM f),
      g AS (SELECT key, island, min(s) AS st, max(e) AS en
            FROM i GROUP BY 1, 2)
      SELECT key, CAST(count(*) AS BIGINT) AS n_islands,
        CAST(sum(greatest(en - st, 0)) AS BIGINT) AS covered
      FROM g GROUP BY 1""")),

    // A/B experiment readout from a deterministic md5 user split: exact
    // per-variant user/converter counts, conversion rates, relative lift,
    // and Wilson 95% lower bounds — every output ONE fixed IEEE tree over
    // exact integers (z pinned to the literal 1.96 in both engines).
    QueryDef("q186_ab_lift", (s, d) => {
      val variant = graft.functions.TextFunctions
        .hashBucket(col("user_id"), 2).as("v")
      val perUser = t(s, d, "events")
        .select(col("user_id"), col("event_type"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .select(variant, col("converted"))
      val agg = perUser.groupBy().agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 0, col("converted")).otherwise(0L))
          .as("c_a"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("v") === 1, col("converted")).otherwise(0L))
          .as("c_b"))
      def wilsonLb(c: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val nd = n.cast("double")
        val p = c.cast("double") / nd
        val z = lit(1.96)
        val z2 = z * z
        (p + z2 / (lit(2.0) * nd)
          - z * sqrt((p * (lit(1.0) - p) + z2 / (lit(4.0) * nd)) / nd)) /
          (lit(1.0) + z2 / nd)
      }
      agg.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (col("c_a").cast("double") / col("n_a").cast("double"))
          .as("cvr_a"),
        (col("c_b").cast("double") / col("n_b").cast("double"))
          .as("cvr_b"),
        ((col("c_b").cast("double") / col("n_b").cast("double")) /
          (col("c_a").cast("double") / col("n_a").cast("double"))
          - lit(1.0)).as("lift"),
        wilsonLb(col("c_a"), col("n_a")).as("wilson_lb_a"),
        wilsonLb(col("c_b"), col("n_b")).as("wilson_lb_b"))
    }, Some("""
      WITH u AS (SELECT
               CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 2 AS v,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
             FROM events GROUP BY user_id),
      a AS (SELECT
              CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              CAST(sum(CASE WHEN v = 0 THEN converted ELSE 0 END)
                AS BIGINT) AS c_a,
              CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b,
              CAST(sum(CASE WHEN v = 1 THEN converted ELSE 0 END)
                AS BIGINT) AS c_b
            FROM u)
      SELECT n_a, c_a, n_b, c_b,
        CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS cvr_a,
        CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS cvr_b,
        (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
          / (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)) - 1.0 AS lift,
        (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           + 1.96 * 1.96 / (2.0 * CAST(n_a AS DOUBLE))
           - 1.96 * sqrt((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               * (1.0 - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               + 1.96 * 1.96 / (4.0 * CAST(n_a AS DOUBLE)))
             / CAST(n_a AS DOUBLE)))
          / (1.0 + 1.96 * 1.96 / CAST(n_a AS DOUBLE)) AS wilson_lb_a,
        (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
           + 1.96 * 1.96 / (2.0 * CAST(n_b AS DOUBLE))
           - 1.96 * sqrt((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               * (1.0 - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               + 1.96 * 1.96 / (4.0 * CAST(n_b AS DOUBLE)))
             / CAST(n_b AS DOUBLE)))
          / (1.0 + 1.96 * 1.96 / CAST(n_b AS DOUBLE)) AS wilson_lb_b
      FROM a""")),

    // Grouped harmonic mean (the right average for rates): per return
    // flag over lineitem quantities — duplicates collapse to (value,
    // count) cells first, the reciprocal sum folds in value-sorted order
    // (the q138 bit-stability pattern; ≤ |value domain| cells per group),
    // hm = n / Σ c/v.
    QueryDef("q187_harmonic_mean", (s, d) => {
      val c = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
        .where(col("v") > 0)
        .groupBy("g", "v").agg(count(lit(1)).as("c"))
      c.groupBy("g")
        .agg(sort_array(collect_list(struct(col("v"), col("c"))))
          .as("cells"), sum("c").as("n"))
        .select(col("g"), col("n"),
          (col("n").cast("double") /
            sumInOrder(col("cells"))(x => x.getField("c").cast("double")
                / x.getField("v").cast("double"))).as("hmean"))
    }, Some("""
      WITH c AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
             FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
      l AS (SELECT g, list_sort(list(struct_pack(v := v, c := c)))
               AS cells, CAST(sum(c) AS BIGINT) AS n
            FROM c GROUP BY 1)
      SELECT g, n,
        CAST(n AS DOUBLE) / list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cells, x ->
              CAST(x.c AS DOUBLE) / CAST(x.v AS DOUBLE))),
          (a, b) -> a + b) AS hmean
      FROM l""")),

    // Per-document z-score of length within its language (exact integer
    // moments, sample stddev, ONE fixed IEEE tree per row) — the
    // standardization step before any cross-language length filter.
    QueryDef("q188_zscore", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val m = docs.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
        .where(col("n") >= 2 &&
          col("n") * col("sxx") - col("sx") * col("sx") =!= 0)
      docs.join(broadcast(m), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          ((col("n_chars").cast("double")
            - col("sx").cast("double") / col("n").cast("double")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") /
              (col("n") * (col("n") - 1)).cast("double"))).as("z"))
    }, Some("""
      WITH m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
             FROM documents GROUP BY 1
             HAVING count(*) >= 2 AND CAST(count(*) AS BIGINT)
               * CAST(sum(n_chars * n_chars) AS BIGINT)
               - CAST(sum(n_chars) AS BIGINT)
                 * CAST(sum(n_chars) AS BIGINT) != 0)
      SELECT doc_id, d.lang, n_chars,
        (CAST(n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE)) AS z
      FROM documents d JOIN m ON d.lang = m.lang""")),

    // Exact ROC AUC of o_totalprice as a classifier score for the 'F'
    // order status — the ranking-quality readout behind every
    // quality-filter threshold choice. 2U (the doubled Mann-Whitney U
    // statistic, Σ np·(2·negatives_below + negatives_tied) over
    // DISTINCT-SCORE cells) is an INTEGER, so any correct evaluation
    // order yields the same BIGINT and the single final division is one
    // fixed IEEE tree. The cumulative negative count comes from the
    // distributed PrefixSum shape (range partition + per-partition
    // running sums + O(P) offsets) — never a single-partition global
    // window, so the plan survives a 100× scale-up of the score column.
    QueryDef("q189_auc", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_totalprice").as("s"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("np"),
          sum(when(col("o_orderstatus") === "F", 0L).otherwise(1L))
            .as("nn"))
      PrefixSum.withRunningTotals(cells, "s", Seq("nn"))
        .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum(col("np") * (lit(2L) * (col("nn_cum") - col("nn"))
            + col("nn"))).as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2"),
          (col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
    }, Some("""
      WITH cells AS (SELECT o_totalprice AS s,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS np,
          CAST(count(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
            AS nn
        FROM orders GROUP BY 1),
      c AS (SELECT np, nn,
          CAST(coalesce(sum(nn) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS below
        FROM cells),
      a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(nn) AS BIGINT) AS n_neg,
          CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2
        FROM c)
      SELECT n_pos, n_neg, u2,
        CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
      FROM a""")),

    // Spearman rank correlation between quantity and extended price —
    // the robust (monotone-invariant) alternative to q157's Pearson.
    // Average ranks are carried DOUBLED so ties stay integer-exact;
    // centering at (n+1) makes the rank sums vanish EXACTLY (average
    // ranks preserve Σ2r = n(n+1)), so ρ needs only the three centered
    // BIGINT moments (exact while 4n³/3 < 2⁶³, i.e. n ≲ 1.9e9 rows —
    // beyond that the accumulators move to decimal(38,0)). Rank maps are
    // built per DISTINCT VALUE via the distributed PrefixSum shape and
    // joined back — no global window, no per-row rank shuffle beyond the
    // two equi-joins.
    QueryDef("q190_spearman", (s, d) => {
      val rows = t(s, d, "lineitem")
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def rankMap(vcol: String): org.apache.spark.sql.DataFrame = {
        val cells = rows.groupBy(col(vcol).as("v"))
          .agg(count(lit(1)).as("cnt"))
        PrefixSum.withRunningTotals(cells, "v", Seq("cnt"))
          .select(col("v").as(vcol),
            (lit(2L) * col("cnt_cum") - col("cnt") + 1L).as(s"r2$vcol"))
      }
      val n1 = rows.agg(count(lit(1)).as("n"))
      rows
        .join(broadcast(rankMap("x")), "x")
        .join(rankMap("y"), "y")
        .crossJoin(broadcast(n1))
        .select((col("r2x") - (col("n") + 1L)).as("cx"),
          (col("r2y") - (col("n") + 1L)).as("cy"), col("n"))
        .groupBy("n")
        .agg(sum(col("cx") * col("cy")).as("sxy"),
          sum(col("cx") * col("cx")).as("sxx"),
          sum(col("cy") * col("cy")).as("syy"))
        .select(col("n"), col("sxy"), col("sxx"), col("syy"),
          (col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) *
              sqrt(col("syy").cast("double")))).as("rho"))
    }, Some("""
      WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
      r AS (SELECT
          2 * CAST(rank() OVER (ORDER BY l_quantity) AS BIGINT)
            + CAST(count(*) OVER (PARTITION BY l_quantity) AS BIGINT)
            - 1 AS r2x,
          2 * CAST(rank() OVER (ORDER BY l_extendedprice) AS BIGINT)
            + CAST(count(*) OVER (PARTITION BY l_extendedprice)
              AS BIGINT) - 1 AS r2y
        FROM lineitem),
      m AS (SELECT n,
          CAST(sum((r2x - (n + 1)) * (r2y - (n + 1))) AS BIGINT) AS sxy,
          CAST(sum((r2x - (n + 1)) * (r2x - (n + 1))) AS BIGINT) AS sxx,
          CAST(sum((r2y - (n + 1)) * (r2y - (n + 1))) AS BIGINT) AS syy
        FROM r, nn GROUP BY n)
      SELECT n, sxy, sxx, syy,
        CAST(sxy AS DOUBLE)
          / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
          AS rho
      FROM m""")),

    // NDCG@10 per user: events ranked by value (the "retrieval" order)
    // against graded relevance from the event type (purchase 7, signup
    // 3, click 1 — already the 2^rel−1 gains, so no pow()). Both DCG and
    // the ideal DCG fold over a ≤10-element position-sorted list, every
    // ln argument an INTEGER 2..11 (the portable_ln cross-engine-exact
    // domain — see functions/PortableLn.scala), so the doubles are one
    // fixed IEEE tree in both engines. Windows are partitioned by
    // user_id; per-user state is bounded by k, never by history length.
    QueryDef("q191_ndcg", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          when(col("event_type") === "purchase", 7L)
            .when(col("event_type") === "signup", 3L)
            .when(col("event_type") === "click", 1L)
            .otherwise(0L).as("g"))
      def foldTop10(df: org.apache.spark.sql.DataFrame,
          out: String): org.apache.spark.sql.DataFrame = df
        .where(col("p") <= 10)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("p"), col("g"))))
          .as("cells"))
        .select(col("user_id"),
          sumInOrder(col("cells"))(x => x.getField("g").cast("double") /
              pln((x.getField("p") + 1).cast("double"))).as(out))
      val byScore = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      val byGain = Window.partitionBy("user_id")
        .orderBy(col("g").desc, col("event_id"))
      val dcg = foldTop10(
        ev.withColumn("p", row_number().over(byScore)), "dcg")
      val idcg = foldTop10(
        ev.withColumn("p", row_number().over(byGain)), "idcg")
      dcg.join(idcg, "user_id").where(col("idcg") > 0)
        .select(col("user_id"), col("dcg"), col("idcg"),
          (col("dcg") / col("idcg")).as("ndcg"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, value,
          CASE event_type WHEN 'purchase' THEN 7 WHEN 'signup' THEN 3
            WHEN 'click' THEN 1 ELSE 0 END AS g
        FROM events),
      ds AS (SELECT user_id, g, row_number() OVER (PARTITION BY user_id
            ORDER BY value DESC, event_id) AS p
        FROM e),
      di AS (SELECT user_id, g, row_number() OVER (PARTITION BY user_id
            ORDER BY g DESC, event_id) AS p
        FROM e),
      dcg AS (SELECT user_id, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list_transform(
              list_sort(list(struct_pack(p := p, g := g))),
              x -> CAST(x.g AS DOUBLE) / ln(CAST(x.p + 1 AS DOUBLE)))),
            (a, b) -> a + b) AS dcg
        FROM ds WHERE p <= 10 GROUP BY 1),
      idcg AS (SELECT user_id, list_reduce(
            list_prepend(CAST(0.0 AS DOUBLE), list_transform(
              list_sort(list(struct_pack(p := p, g := g))),
              x -> CAST(x.g AS DOUBLE) / ln(CAST(x.p + 1 AS DOUBLE)))),
            (a, b) -> a + b) AS idcg
        FROM di WHERE p <= 10 GROUP BY 1)
      SELECT user_id, dcg, idcg, dcg / idcg AS ndcg
      FROM dcg JOIN idcg USING (user_id)
      WHERE idcg > 0""")),

    // Kaplan-Meier survival estimate over user lifetimes (days between
    // first and last event; a user whose LAST event is an error is a
    // death, anyone else is right-censored at their span end). The
    // life-table is DOMAIN-BOUNDED (one cell per distinct duration), so
    // after the data-proportional per-user reduction everything runs on
    // cells: at-risk counts from the distributed PrefixSum shape
    // (integer, exact), and each row's survival product folds over its
    // own ≤|domain| factor list in duration order — S(t) = Π (1 − dᵢ/nᵢ)
    // as one fixed IEEE tree per row. The factor lists come from a cell
    // self-join (never a correlated lambda — DuckDB miscomputes those,
    // see q178) with a left-join identity factor of exactly 1.0 for
    // rows before the first death (1.0·x == x in IEEE, so it is a true
    // no-op in both engines).
    QueryDef("q192_kaplan_meier", (s, d) => {
      kmRiskSets(s, d)
        .select(col("t"), col("at_risk"), col("d"), col("c"),
          aggregate(col("fs"), lit(1.0), (acc, f) =>
            acc * coalesce(lit(1.0) - f.getField("bd").cast("double") /
              f.getField("bar").cast("double"), lit(1.0))).as("surv"))
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
        list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
          list_transform(fs, f -> coalesce(
            1.0 - CAST(f.bd AS DOUBLE) / CAST(f.bar AS DOUBLE), 1.0))),
          (a, b) -> a * b) AS surv
      FROM fs""")),

    // A-priori frequent triples (suppliers co-occurring on an order,
    // support ≥ 3) — the level-3 step above q128's frequent pairs. The
    // scale shape IS the pruning: candidate triples are generated only
    // by extending FREQUENT pairs and are semi-joined against the
    // frequent-pair set on all three sub-pairs before the counting
    // shuffle ever sees them (downward closure makes the prune lossless,
    // so the output is provably identical to the naive all-triples
    // oracle). Per-order item lists are deduped first; everything else
    // is equi-joins + one hash aggregate — no driver-side candidate set.
    QueryDef("q193_apriori_triples", (s, d) => {
      val minsup = 3L
      // each order's distinct supplier set is collected once (state
      // bounded by basket size) and spread before the pair and triple
      // expansions; the a-priori prune stays as three broadcast semi-joins
      // against the frequent-pair set, lossless as before (a support ≥ 3
      // triple has all pairs support ≥ 3)
      val g = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sv"))
        .groupBy("o").agg(sort_array(collect_set(col("sv"))).as("items"))
        .transform(Spread.orderFree)
      val fp = Pairs(g, "items", "s1", "s2", "n")
        .where(col("n") >= minsup).select("s1", "s2")
      // all i < j < k triples of the sorted basket: s1 at index i, s2 at
      // slice-local index j (absolute i+1+j), s3 strictly after s2
      val tri = g
        .select(col("items"), posexplode(col("items")).as(Seq("_i", "s1")))
        .select(col("items"), col("_i"), col("s1"),
          posexplode(Pairs.tail(col("items"), col("_i")))
            .as(Seq("_j", "s2")))
        .select(col("s1"), col("s2"),
          explode(Pairs.tail(col("items"), col("_i") + col("_j") + lit(1)))
            .as("s3"))
        .join(fp, Seq("s1", "s2"), "left_semi")
        .join(fp.select(col("s1"), col("s2").as("s3")),
          Seq("s1", "s3"), "left_semi")
        .join(fp.select(col("s1").as("s2"), col("s2").as("s3")),
          Seq("s2", "s3"), "left_semi")
      tri.groupBy("s1", "s2", "s3").agg(count(lit(1)).as("support"))
        .where(col("support") >= minsup)
    }, Some("""
      WITH it AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sv
        FROM lineitem),
      tr AS (SELECT a.sv AS s1, b.sv AS s2, c.sv AS s3,
          CAST(count(*) AS BIGINT) AS support
        FROM it a JOIN it b ON a.o = b.o AND a.sv < b.sv
          JOIN it c ON b.o = c.o AND b.sv < c.sv
        GROUP BY 1, 2, 3)
      SELECT s1, s2, s3, support FROM tr WHERE support >= 3""")),

    // Decile gains/lift table for o_totalprice as a ranking of 'F'
    // responders — the campaign-targeting readout next to q189's AUC.
    // Deciles are assigned on DISTINCT-SCORE cells from the distributed
    // PrefixSum CDF (rows above = N − cum, decile = 10·above DIV N —
    // pure integer arithmetic, ties share a decile by construction, no
    // global ntile window). Cumulative gains come from a ≤10-row decile
    // self-join — integer sums, then two fixed division trees for rate
    // and lift.
    QueryDef("q194_gains_deciles", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_totalprice").as("sc"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("resp"))
      val tot = cells.agg(sum("n").as("nn"), sum("resp").as("tresp"))
      val dec = PrefixSum.withRunningTotals(cells, "sc", Seq("n"))
        .crossJoin(broadcast(tot))
        .select(expr("(10 * (nn - n_cum)) DIV nn").as("dec"),
          col("n"), col("resp"), col("nn"), col("tresp"))
        .groupBy("dec", "nn", "tresp")
        .agg(sum("n").as("dn"), sum("resp").as("dresp"))
        // one row per decile; self-joins for the cumulative sums
        .transform(Cut.small(10))
      val b = dec.select(col("dec").as("bdec"), col("dn").as("bn"),
        col("dresp").as("bresp"))
      dec.join(b, col("bdec") <= col("dec"))
        .groupBy("dec", "dn", "dresp", "nn", "tresp")
        .agg(sum("bn").as("cum_n"), sum("bresp").as("cum_resp"))
        .select(col("dec"), col("dn"), col("dresp"),
          col("cum_n"), col("cum_resp"),
          (col("dresp").cast("double") / col("dn").cast("double"))
            .as("rate"),
          ((col("cum_resp").cast("double") / col("cum_n").cast("double"))
            / (col("tresp").cast("double") / col("nn").cast("double")))
            .as("lift"))
    }, Some("""
      WITH cells AS (SELECT o_totalprice AS sc,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS resp
        FROM orders GROUP BY 1),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
          CAST(sum(resp) AS BIGINT) AS tresp FROM cells),
      cum AS (SELECT n, resp, nn, tresp,
          CAST(sum(n) OVER (ORDER BY sc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_cum
        FROM cells, tot),
      dc AS (SELECT (10 * (nn - n_cum)) // nn AS dec, nn, tresp,
          CAST(sum(n) AS BIGINT) AS dn, CAST(sum(resp) AS BIGINT)
            AS dresp
        FROM cum GROUP BY 1, 2, 3)
      SELECT a.dec, a.dn, a.dresp,
        CAST(sum(b.dn) AS BIGINT) AS cum_n,
        CAST(sum(b.dresp) AS BIGINT) AS cum_resp,
        CAST(a.dresp AS DOUBLE) / CAST(a.dn AS DOUBLE) AS rate,
        (CAST(sum(b.dresp) AS BIGINT)::DOUBLE
          / CAST(sum(b.dn) AS BIGINT)::DOUBLE)
          / (CAST(a.tresp AS DOUBLE) / CAST(a.nn AS DOUBLE)) AS lift
      FROM dc a JOIN dc b ON b.dec <= a.dec
      GROUP BY a.dec, a.dn, a.dresp, a.nn, a.tresp""")),

    // Top-10 three-step event paths (sequential pattern mining over each
    // user's time-ordered stream): trigrams via two per-user lead()
    // windows — state bounded by the pattern length, never by history —
    // then one hash count and an ordered limit (TakeOrderedAndProject,
    // fully tie-broken by count DESC then path ASC so the cut is
    // deterministic in both engines).
    QueryDef("q195_event_paths", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("user_id"), col("event_type").as("t1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("event_type"), 2).over(w).as("t3"))
        .where(col("t3").isNotNull)
        .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(10)
    }, Some("""
      WITH p AS (SELECT event_type AS t1,
          lead(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS t2,
          lead(event_type, 2) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS t3
        FROM events)
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE t3 IS NOT NULL
      GROUP BY 1, 2, 3
      ORDER BY n DESC, t1, t2, t3 LIMIT 10""")),

    // Per-user burstiness of inter-event gaps, B = (σ−μ)/(σ+μ) ∈ [−1,1]
    // (Goh & Barabási's signal for bursty vs periodic activity). Gaps
    // come from a per-user lag() window and are truncated to WHOLE
    // SECONDS by integer division (micros² would overflow BIGINT over a
    // month-long span; second-moments of second-gaps stay exact far past
    // any realistic per-user history). μ, σ and B are each ONE fixed
    // IEEE tree over the three exact integer moments.
    QueryDef("q196_burstiness", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, d, "events")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"))
        .withColumn("gus", col("us") - lag(col("us"), 1).over(w))
        .where(col("gus").isNotNull)
        .select(col("user_id"), expr("gus DIV 1000000").as("g"))
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum("g").as("sg"),
          sum(col("g") * col("g")).as("sgg"))
        .where(col("n_gaps") >= 2 && col("sg") > 0)
        .select(col("user_id"), col("n_gaps"), col("sg"), col("sgg"),
          ((sqrt((col("n_gaps") * col("sgg") - col("sg") * col("sg"))
              .cast("double") /
              (col("n_gaps") * (col("n_gaps") - 1)).cast("double"))
            - col("sg").cast("double") / col("n_gaps").cast("double")) /
           (sqrt((col("n_gaps") * col("sgg") - col("sg") * col("sg"))
              .cast("double") /
              (col("n_gaps") * (col("n_gaps") - 1)).cast("double"))
            + col("sg").cast("double") / col("n_gaps").cast("double")))
            .as("burstiness"))
    }, Some("""
      WITH g AS (SELECT user_id,
          (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
        FROM events),
      m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(sum(g) AS BIGINT) AS sg,
          CAST(sum(g * g) AS BIGINT) AS sgg
        FROM g WHERE g IS NOT NULL GROUP BY 1
        HAVING count(*) >= 2 AND sum(g) > 0)
      SELECT user_id, n_gaps, sg, sgg,
        (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
            / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
          - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        / (sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE)
            / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
          + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS burstiness
      FROM m""")),

    // KMV (k-minimum-values) distinct-count sketch, k=64 — the third
    // sketch family beside the HLL register dump (q129) and count-min
    // (q142). The hash is the cross-engine md5→32-bit idiom (the q84/q186
    // split hash), the k minima come from an ordered limit
    // (TakeOrderedAndProject — per-partition top-k then merge, the
    // mergeable-sketch shape), and the estimate (k−1)·2³²/h₍ₖ₎ is one
    // fixed IEEE tree over exact integers. The exact distinct count rides
    // along as the audit column.
    QueryDef("q197_kmv_sketch", (s, d) => {
      val h = conv(substring(md5(col("l_partkey").cast("string")), 1, 8),
        16, 10).cast("long")
      // examined r06: spreading + cutting the distinct hash set measured
      // a regression (0.64 → 0.89 vs an adjacent-window control) — the
      // extra exchange and materialization cost more than the duplicate
      // md5 pass; left as-is
      val keys = t(s, d, "lineitem").select(h.as("h")).distinct()
      val mins = keys.orderBy("h").limit(64)
      val exact = keys.agg(count(lit(1)).as("exact"))
      mins.agg(count(lit(1)).as("k"), max("h").as("hk"))
        .crossJoin(broadcast(exact))
        .select(col("k"), col("hk"), col("exact"),
          (lit(63.0) * lit(4294967296.0) / col("hk").cast("double"))
            .as("est"))
    }, Some("""
      WITH keys AS (SELECT DISTINCT
          CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 8)
            AS BIGINT) AS h
        FROM lineitem),
      mins AS (SELECT h FROM keys ORDER BY h LIMIT 64),
      a AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(max(h) AS BIGINT) AS hk FROM mins),
      e AS (SELECT CAST(count(*) AS BIGINT) AS exact FROM keys)
      SELECT k, hk, exact,
        63.0 * 4294967296.0 / CAST(hk AS DOUBLE) AS est
      FROM a, e""")),

    // Heaps'-law vocabulary growth curve: per document (in doc_id
    // ingestion order) the cumulative token count and cumulative
    // distinct-type count — the readout behind "how much NEW vocabulary
    // does the next TB buy". Each type contributes at its FIRST document
    // (a min aggregate, never a re-scan of history), both cumulatives
    // come from ONE distributed PrefixSum pass, and the curve is
    // domain-bounded by the document count.
    QueryDef("q198_heaps_growth", (s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .as("tok"))
      val perDoc = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .cast("long").as("ntok"))
      val firsts = toks.groupBy("tok").agg(min("doc_id").as("fd"))
        .groupBy(col("fd").as("doc_id"))
        .agg(count(lit(1)).as("ntype"))
      val cells = perDoc.join(firsts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ntok"),
          coalesce(col("ntype"), lit(0L)).as("ntype"))
      PrefixSum.withRunningTotals(cells, "doc_id", Seq("ntok", "ntype"))
        .select(col("doc_id"), col("ntype").as("new_types"),
          col("ntok_cum").as("toks_cum"), col("ntype_cum").as("vocab"))
    }, Some("""
      WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text,
          '[a-z]+')) AS tok FROM documents),
      perdoc AS (SELECT doc_id, CAST(len(regexp_extract_all(text,
          '[a-z]+')) AS BIGINT) AS ntok FROM documents),
      firsts AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS ntype
        FROM (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY 1)
        GROUP BY 1),
      cells AS (SELECT p.doc_id, p.ntok,
          coalesce(f.ntype, 0) AS ntype
        FROM perdoc p LEFT JOIN firsts f ON p.doc_id = f.doc_id)
      SELECT doc_id, CAST(ntype AS BIGINT) AS new_types,
        CAST(sum(ntok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS toks_cum,
        CAST(sum(ntype) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS vocab
      FROM cells""")),

    // Mutual information I(event_type; weekday) with the component
    // entropies — the dependence audit between two categorical columns.
    // I = H(X) + H(Y) − H(X,Y) where every entropy is the q138 shape: a
    // SORTED fold over the dimension-bounded count list (≤5, ≤7, ≤35
    // cells), integer-valued portable_ln arguments, so all four doubles
    // are fixed IEEE trees. Weekday is Sunday=1 in both engines (DuckDB
    // dayofweek is Sunday=0, shifted by one in the oracle).
    QueryDef("q199_mutual_info", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = t(s, d, "events").select(col("event_type").as("x"),
        dayofweek(col("ts").cast("date")).as("y"))
      val cells = ev.groupBy("x", "y").agg(count(lit(1)).as("c"))
      val sxy = cells.agg(
        sort_array(collect_list(col("c"))).as("cs"),
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
          (pln(col("n").cast("double"))
            - col("sx") / col("n").cast("double")).as("h_x"),
          (pln(col("n").cast("double"))
            - col("sy") / col("n").cast("double")).as("h_y"),
          (pln(col("n").cast("double"))
            - col("sxy") / col("n").cast("double")).as("h_xy"))
        .select(col("n"), col("h_x"), col("h_y"), col("h_xy"),
          (col("h_x") + col("h_y") - col("h_xy")).as("mi"))
    }, Some("""
      WITH ev AS (SELECT event_type AS x,
          dayofweek(CAST(ts AS DATE)) + 1 AS y FROM events),
      cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM ev GROUP BY 1, 2),
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
      SELECT n, h_x, h_y, h_xy, h_x + h_y - h_xy AS mi FROM h""")),

    // Referential-integrity audit across the warehouse's six FK edges —
    // the data-quality gate a pipeline runs before trusting a join. Each
    // edge is one LEFT ANTI join (null-safe: a NULL FK counts as an
    // orphan, matching the SQL IS NULL probe) plus a child count; the
    // SMALL parent side builds the hash table. Six independent 1-row
    // aggregates unioned — each edge prunable and broadcastable on its
    // own at 100 TB.
    QueryDef("q200_fk_audit", (s, d) => {
      def edge(name: String, child: org.apache.spark.sql.DataFrame,
          ck: String, parent: org.apache.spark.sql.DataFrame,
          pk: String): org.apache.spark.sql.DataFrame = {
        val orphans = child.join(broadcast(parent.select(col(pk))),
          col(ck) === col(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
      }
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val p = t(s, d, "part"); val na = t(s, d, "nation")
      edge("customer_nation", c, "c_nationkey", na, "n_nationkey")
        .unionAll(edge("lineitem_orders", li, "l_orderkey", o,
          "o_orderkey"))
        .unionAll(edge("lineitem_part", li, "l_partkey", p, "p_partkey"))
        .unionAll(edge("lineitem_supplier", li, "l_suppkey", su,
          "s_suppkey"))
        .unionAll(edge("orders_customer", o, "o_custkey", c,
          "c_custkey"))
        .unionAll(edge("supplier_nation", su, "s_nationkey", na,
          "n_nationkey"))
    }, Some("""
      SELECT 'customer_nation' AS fk,
        (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        (SELECT CAST(count(*) AS BIGINT) FROM customer a
          LEFT JOIN nation b ON a.c_nationkey = b.n_nationkey
          WHERE b.n_nationkey IS NULL) AS n_orphans
      UNION ALL SELECT 'lineitem_orders',
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem a
          LEFT JOIN orders b ON a.l_orderkey = b.o_orderkey
          WHERE b.o_orderkey IS NULL)
      UNION ALL SELECT 'lineitem_part',
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem a
          LEFT JOIN part b ON a.l_partkey = b.p_partkey
          WHERE b.p_partkey IS NULL)
      UNION ALL SELECT 'lineitem_supplier',
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem a
          LEFT JOIN supplier b ON a.l_suppkey = b.s_suppkey
          WHERE b.s_suppkey IS NULL)
      UNION ALL SELECT 'orders_customer',
        (SELECT CAST(count(*) AS BIGINT) FROM orders),
        (SELECT CAST(count(*) AS BIGINT) FROM orders a
          LEFT JOIN customer b ON a.o_custkey = b.c_custkey
          WHERE b.c_custkey IS NULL)
      UNION ALL SELECT 'supplier_nation',
        (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        (SELECT CAST(count(*) AS BIGINT) FROM supplier a
          LEFT JOIN nation b ON a.s_nationkey = b.n_nationkey
          WHERE b.n_nationkey IS NULL)""")),

    // Per-group ROC AUC (q189 stratified by order priority): here the
    // cumulative-negatives window is PARTITIONED by the group — the
    // legitimate windowed form, since each partition is one group's
    // score domain, not the whole table. Same exact-integer 2U per
    // group, one division tree per row.
    QueryDef("q201_group_auc", (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          col("o_totalprice").as("sc"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("np"),
          sum(when(col("o_orderstatus") === "F", 0L).otherwise(1L))
            .as("nn"))
      val w = Window.partitionBy("g").orderBy("sc")
        .rowsBetween(Window.unboundedPreceding, -1)
      cells
        .withColumn("below", coalesce(sum("nn").over(w), lit(0L)))
        .groupBy("g")
        .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum(col("np") * (lit(2L) * col("below") + col("nn")))
            .as("u2"))
        .where(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("g"), col("n_pos"), col("n_neg"), col("u2"),
          (col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
    }, Some("""
      WITH cells AS (SELECT o_orderpriority AS g, o_totalprice AS sc,
          CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
            AS np,
          CAST(count(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
            AS nn
        FROM orders GROUP BY 1, 2),
      c AS (SELECT g, np, nn,
          CAST(coalesce(sum(nn) OVER (PARTITION BY g ORDER BY sc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS below
        FROM cells),
      a AS (SELECT g, CAST(sum(np) AS BIGINT) AS n_pos,
          CAST(sum(nn) AS BIGINT) AS n_neg,
          CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2
        FROM c GROUP BY 1)
      SELECT g, n_pos, n_neg, u2,
        CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS BIGINT)::DOUBLE
          AS auc
      FROM a WHERE n_pos > 0 AND n_neg > 0""")),

    // Deterministic hard-negative mining for training pairs: for each
    // customer, the top-3 parts they NEVER bought but that share a
    // (brand, type, size) block with a part they did — in-block
    // negatives are the hard ones. The block key is chosen to BOUND the
    // candidate fan-out (≤10 parts per block here; the coarser
    // brand×type key measured 70M candidates at sf0.1 vs 2.2M — the
    // block key IS the scale control), the anti-join lands BEFORE the
    // ranking window, and the "random" order is the cross-engine md5
    // idiom so the sample is reproducible. Window partitioned by
    // customer; k-bounded state.
    QueryDef("q202_hard_negatives", (s, d) => {
      val bought = t(s, d, "lineitem")
        // spread the single-split scan: the broadcast-join probes +
        // distinct partial-agg over the fact rows ran on one task
        // (profiled ~0.9 s) — q83/q86 rationale
        .transform(Spread.orderFree)
        .join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("cust"), col("p_partkey").as("pk"),
          col("p_brand").as("brand"), col("p_type").as("ptype"),
          col("p_size").as("psize"))
        .distinct()
        // feeds the blocks build and the anti-join side
        .transform(Cut.large)
      val blocks = bought.select("cust", "brand", "ptype", "psize")
        .distinct()
      val cands = blocks.join(
        t(s, d, "part").select(col("p_partkey").as("pk"),
          col("p_brand").as("brand"), col("p_type").as("ptype"),
          col("p_size").as("psize")),
        Seq("brand", "ptype", "psize"))
      val neg = cands.join(bought.select("cust", "pk"),
        Seq("cust", "pk"), "left_anti")
        .select(col("cust"), col("pk"),
          conv(substring(md5(concat(col("cust").cast("string"),
            lit(":"), col("pk").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("rk"))
      // no distinct (r06): a part has ONE (brand, ptype, psize) and
      // blocks are distinct per cust, so (cust, pk) is already unique in
      // cands — the distinct was a full exchange of the candidate set for
      // zero row changes (the oracle keeps DISTINCT; same rows).
      val w = Window.partitionBy("cust").orderBy(col("rk"), col("pk"))
      neg.withColumn("pos", row_number().over(w))
        .where(col("pos") <= 3)
        .select(col("cust"), col("pk").as("neg_part"), col("rk"),
          col("pos").cast("long").as("pos"))
    }, Some("""
      WITH bought AS (SELECT DISTINCT o.o_custkey AS cust,
          p.p_partkey AS pk, p.p_brand AS brand, p.p_type AS ptype,
          p.p_size AS psize
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN part p ON l.l_partkey = p.p_partkey),
      blocks AS (SELECT DISTINCT cust, brand, ptype, psize
        FROM bought),
      cands AS (SELECT b.cust, p.p_partkey AS pk
        FROM blocks b JOIN part p ON p.p_brand = b.brand
          AND p.p_type = b.ptype AND p.p_size = b.psize),
      neg AS (SELECT DISTINCT c.cust, c.pk,
          CAST('0x' || substring(md5(CAST(c.cust AS VARCHAR) || ':'
            || CAST(c.pk AS VARCHAR)), 1, 8) AS BIGINT) AS rk
        FROM cands c LEFT JOIN bought b
          ON c.cust = b.cust AND c.pk = b.pk
        WHERE b.pk IS NULL),
      r AS (SELECT cust, pk, rk, row_number() OVER (PARTITION BY cust
            ORDER BY rk, pk) AS pos
        FROM neg)
      SELECT cust, pk AS neg_part, rk, CAST(pos AS BIGINT) AS pos
      FROM r WHERE pos <= 3""")),

    // Pearson standardized residuals per contingency cell — which
    // (event_type, weekday) combinations drive q175's chi-square. All
    // inputs integer (observed c, marginal product cx·cy ≤ ~2.8e8 ≪
    // 2⁵³ so the double cast is exact); e, the residual and its sqrt
    // are one fixed IEEE tree per dimension-bounded cell. No logs.
    QueryDef("q203_pearson_residuals", (s, d) => {
      val ev = t(s, d, "events").select(col("event_type").as("x"),
        dayofweek(col("ts").cast("date")).cast("long").as("y"))
      val cells = ev.groupBy("x", "y").agg(count(lit(1)).as("c"))
      val cx = cells.groupBy("x").agg(sum("c").as("cx"))
      val cy = cells.groupBy("y").agg(sum("c").as("cy"))
      val n = cells.agg(sum("c").as("n"))
      cells.join(broadcast(cx), "x").join(broadcast(cy), "y")
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("c"),
          ((col("cx") * col("cy")).cast("double") /
            col("n").cast("double")).as("expected"))
        .select(col("x"), col("y"), col("c"), col("expected"),
          ((col("c").cast("double") - col("expected")) /
            sqrt(col("expected"))).as("residual"))
    }, Some("""
      WITH ev AS (SELECT event_type AS x,
          CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS y
        FROM events),
      cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
        FROM ev GROUP BY 1, 2),
      cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells
        GROUP BY 1),
      cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells
        GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      e AS (SELECT x, y, c,
          CAST(cx * cy AS DOUBLE) / CAST(n AS DOUBLE) AS expected
        FROM cells JOIN cx USING (x) JOIN cy USING (y), n)
      SELECT x, y, c, expected,
        (CAST(c AS DOUBLE) - expected) / sqrt(expected) AS residual
      FROM e""")),

    // Jensen-Shannon divergence between the weekday and weekend
    // event-type mixes — the distribution-drift readout between two
    // corpus slices. Every p/m ratio is rewritten over INTEGERS
    // (p/m = 2·a·N₂ / (a·N₂ + b·N₁)) and split into two portable_ln
    // calls combined outside; zero-count cells contribute exactly 0 by
    // the CASE guard. Both KL halves fold over the SAME sorted
    // dimension-bounded cell list, so the doubles are fixed IEEE trees.
    QueryDef("q204_jsd_drift", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = t(s, d, "events").select(col("event_type").as("x"),
        when(dayofweek(col("ts").cast("date")).isin(1, 7), 0L)
          .otherwise(1L).as("wd"))
      val cells = ev.groupBy("x")
        .agg(sum(when(col("wd") === 1, 1L).otherwise(0L)).as("a"),
          sum(when(col("wd") === 0, 1L).otherwise(0L)).as("b"))
      val agg = cells.agg(
        sort_array(collect_list(struct(col("x"), col("a"), col("b"))))
          .as("cs"),
        sum("a").as("n1"), sum("b").as("n2"))
      def kl(cnt: org.apache.spark.sql.Column =>
            org.apache.spark.sql.Column,
          nSelf: org.apache.spark.sql.Column,
          nOther: org.apache.spark.sql.Column,
          cs: org.apache.spark.sql.Column) =
        sumInOrder(cs)(e => when(cnt(e) > 0,
            (cnt(e).cast("double") / nSelf.cast("double")) *
              (pln((lit(2L) * cnt(e) * nOther).cast("double")) -
                pln((e.getField("a") * col("n2")
                  + e.getField("b") * col("n1")).cast("double"))))
            .otherwise(lit(0.0)))
      agg.select(col("n1"), col("n2"),
          kl(_.getField("a"), col("n1"), col("n2"), col("cs"))
            .as("kl_pm"),
          kl(_.getField("b"), col("n2"), col("n1"), col("cs"))
            .as("kl_qm"))
        .select(col("n1"), col("n2"), col("kl_pm"), col("kl_qm"),
          (lit(0.5) * col("kl_pm") + lit(0.5) * col("kl_qm"))
            .as("jsd"))
    }, Some("""
      WITH ev AS (SELECT event_type AS x,
          CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN 0
            ELSE 1 END AS wd
        FROM events),
      cells AS (SELECT x,
          CAST(count(*) FILTER (WHERE wd = 1) AS BIGINT) AS a,
          CAST(count(*) FILTER (WHERE wd = 0) AS BIGINT) AS b
        FROM ev GROUP BY 1),
      tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
          CAST(sum(b) AS BIGINT) AS n2 FROM cells),
      agg AS (SELECT list_sort(list(struct_pack(x := x, a := a,
            b := b, n1 := n1, n2 := n2))) AS cs,
          any_value(n1) AS n1, any_value(n2) AS n2
        FROM cells, tot),
      k AS (SELECT n1, n2,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> CASE WHEN e.a > 0 THEN
              (CAST(e.a AS DOUBLE) / CAST(e.n1 AS DOUBLE)) *
                (ln(CAST(2 * e.a * e.n2 AS DOUBLE))
                  - ln(CAST(e.a * e.n2 + e.b * e.n1 AS DOUBLE)))
              ELSE 0.0 END)), (p, q) -> p + q) AS kl_pm,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cs, e -> CASE WHEN e.b > 0 THEN
              (CAST(e.b AS DOUBLE) / CAST(e.n2 AS DOUBLE)) *
                (ln(CAST(2 * e.b * e.n1 AS DOUBLE))
                  - ln(CAST(e.a * e.n2 + e.b * e.n1 AS DOUBLE)))
              ELSE 0.0 END)), (p, q) -> p + q) AS kl_qm
        FROM agg)
      SELECT n1, n2, kl_pm, kl_qm,
        0.5 * kl_pm + 0.5 * kl_qm AS jsd
      FROM k""")),

    // Per-slice QQ decile table: the k/10 quantiles (exact type-1 order
    // statistics, rank = ((n-1)·k) div 10 + 1 — NO interpolation, so
    // each emitted value is a row value copied untouched and bit-identity
    // is free) of o_totalprice for the finished vs open order
    // populations, paired by decile — the distribution-shift readout
    // that q204 summarizes to one number. Each slice's CDF comes from
    // the distributed PrefixSum over value-distinct cells — never an
    // unpartitioned window — and the 9 target ranks join back by
    // rank-containment against a 9-row broadcast, so the only row-scale
    // shuffles are the two cell aggregations.
    QueryDef("q205_qq_deciles", (s, d) => {
      def deciles(status: String, out: String) = {
        val cells = t(s, d, "orders")
          .where(col("o_orderstatus") === status)
          .groupBy(col("o_totalprice").as("sc"))
          .agg(count(lit(1)).as("n"))
          // cells feeds the CDF and the decile targets
          .transform(Cut.large)
        val cum = PrefixSum.withRunningTotals(cells, "sc", Seq("n"))
        val targets = cells.agg(sum("n").as("nn"))
          .select(col("nn"), explode(sequence(lit(1), lit(9))).as("k0"))
          .select(col("k0").cast("long").as("k"),
            expr("((nn - 1) * k0) DIV 10 + 1").as("rk"))
        cum.join(broadcast(targets),
            col("rk") > col("n_cum") - col("n") &&
              col("rk") <= col("n_cum"))
          .select(col("k"), col("sc").as(out))
      }
      deciles("F", "q_f").join(deciles("O", "q_o"), Seq("k"))
        .select(col("k"), col("q_f"), col("q_o"),
          (col("q_o") - col("q_f")).as("gap"))
    }, Some("""
      WITH ks AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS k),
      f AS (SELECT o_totalprice AS v,
          row_number() OVER (ORDER BY o_totalprice) AS rn,
          count(*) OVER () AS n
        FROM orders WHERE o_orderstatus = 'F'),
      o AS (SELECT o_totalprice AS v,
          row_number() OVER (ORDER BY o_totalprice) AS rn,
          count(*) OVER () AS n
        FROM orders WHERE o_orderstatus = 'O')
      SELECT ks.k, f.v AS q_f, o.v AS q_o, o.v - f.v AS gap
      FROM ks JOIN f ON f.rn = ((f.n - 1) * ks.k) // 10 + 1
        JOIN o ON o.rn = ((o.n - 1) * ks.k) // 10 + 1""")),

    // Per-group 10% trimmed mean of l_quantity: drop the floor(n/10)
    // smallest and largest values per return flag, average the rest —
    // the outlier-robust location estimate. The quantity domain is tiny
    // (integral 1–50), so the whole statistic collapses to ONE scan plus
    // a ≤150-row value-cell aggregate; each cell's contribution to the
    // trimmed sum is pure integer interval arithmetic (overlap of the
    // cell's rank run [b, b+c) with the kept band [lo, hi)) — tie-order
    // invariant by construction — and the only floating-point step is
    // the final mean division. The per-group window orders ≤50 cells,
    // dimension-bounded, never row-scale.
    QueryDef("q206_trimmed_mean", (s, d) => {
      val cells = t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("g").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tot = cells.groupBy("g").agg(sum("c").as("n"))
      cells
        .withColumn("b", coalesce(sum("c").over(w), lit(0L)))
        .join(broadcast(tot), Seq("g"))
        .select(col("g"), col("n"),
          (col("q") * greatest(
            least(col("n") - expr("n DIV 10"), col("b") + col("c")) -
              greatest(expr("n DIV 10"), col("b")),
            lit(0L))).as("contrib"))
        .groupBy("g", "n").agg(sum("contrib").as("tsum"))
        .select(col("g"), col("n"), col("tsum"),
          (col("n") - lit(2L) * expr("n DIV 10")).as("tn"))
        .select(col("g"), col("n"), col("tsum"), col("tn"),
          (col("tsum").cast("double") / col("tn").cast("double"))
            .as("tmean"))
    }, Some("""
      WITH cells AS (SELECT l_returnflag AS g,
          CAST(l_quantity AS BIGINT) AS q, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
      cum AS (SELECT g, q, c,
          CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS b,
          CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM cells),
      k AS (SELECT g, n,
          CAST(sum(q * greatest(least(n - n // 10, b + c)
            - greatest(n // 10, b), 0)) AS BIGINT) AS tsum
        FROM cum GROUP BY 1, 2)
      SELECT g, n, tsum, n - 2 * (n // 10) AS tn,
        CAST(tsum AS DOUBLE) / CAST(n - 2 * (n // 10) AS DOUBLE) AS tmean
      FROM k""")),

    // Rank-biased overlap (Webber et al., TOIS'10) between the top-20
    // part rankings by total quantity of the R-returns vs A-returns
    // slices, at persistence p = 1/2 — chosen so every weight p^d is an
    // exact power of two: the only inexact steps are one division per
    // depth and the fixed-order fold, identical IEEE trees in both
    // engines. Each ranking is a TakeOrderedAndProject (partial agg +
    // bounded heaps, never a full sort), fully tie-broken (qty DESC,
    // pk ASC); the prefix overlaps are array HOFs over two ≤20-element
    // lists, so past the two count aggregations nothing is row-scale.
    QueryDef("q207_rank_overlap", (s, d) => {
      def ranking(flag: String, out: String) = {
        t(s, d, "lineitem").where(col("l_returnflag") === flag)
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity").cast("long")).as("qty"))
          .orderBy(col("qty").desc, col("pk")).limit(20)
          .agg(sort_array(collect_list(
            struct((-col("qty")).as("nq"), col("pk")))).as("sl"))
          .select(transform(col("sl"), e => e.getField("pk")).as(out))
      }
      ranking("R", "a").crossJoin(ranking("A", "b"))
        .select(transform(sequence(lit(1), lit(20)), dd =>
          size(array_intersect(
            slice(col("a"), lit(1), dd),
            slice(col("b"), lit(1), dd))).cast("long")).as("ov"))
        .select(
          element_at(col("ov"), 10).as("ov10"),
          element_at(col("ov"), 20).as("ov20"),
          sumInOrder(transform(sequence(lit(1), lit(20)), dd =>
            element_at(col("ov"), dd).cast("double") /
              (dd.cast("long") * call_function("shiftleft", lit(1L), dd))
                .cast("double")))(identity).as("rbo"))
    }, Some("""
      WITH ra AS (SELECT l_partkey AS pk,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY 1 ORDER BY qty DESC, pk LIMIT 20),
      rb AS (SELECT l_partkey AS pk,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem WHERE l_returnflag = 'A'
        GROUP BY 1 ORDER BY qty DESC, pk LIMIT 20),
      la AS (SELECT list(pk ORDER BY qty DESC, pk) AS a FROM ra),
      lb AS (SELECT list(pk ORDER BY qty DESC, pk) AS b FROM rb),
      ov AS (SELECT list_transform(range(1, 21), d ->
          CAST(len(list_intersect(a[1:d], b[1:d])) AS BIGINT)) AS ov
        FROM la, lb)
      SELECT ov[10] AS ov10, ov[20] AS ov20,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, 21), d ->
            CAST(ov[d] AS DOUBLE) / CAST(d * (1 << d) AS DOUBLE))),
          (p, q) -> p + q) AS rbo
      FROM ov""")),

    // Join-key skew audit — the pre-flight diagnostic behind every
    // salting / AQE-skew decision in this engine: for the
    // lineitem⋈orders key, the 10 keys with the largest join-output
    // contribution (|left|·|right| per key) plus each key's fraction of
    // the total estimated join size. Two partial-aggregated key counts,
    // one equi-join on the already-shuffled key, a 1-row broadcast
    // total, and a TakeOrderedAndProject — so the audit itself can
    // never become the skewed job it is hunting.
    QueryDef("q208_join_skew_audit", (s, d) => {
      val lc = t(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("n_left"))
      val oc = t(s, d, "orders")
        .groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("n_right"))
      val per = lc.join(oc, Seq("k"))
        .select(col("k"), col("n_left"), col("n_right"),
          (col("n_left") * col("n_right")).as("contrib"))
      val tot = per.agg(sum("contrib").as("total"),
        count(lit(1)).as("n_keys"))
      per.crossJoin(broadcast(tot))
        .orderBy(col("contrib").desc, col("k")).limit(10)
        .select(col("k"), col("n_left"), col("n_right"), col("contrib"),
          col("n_keys"), col("total"),
          (col("contrib").cast("double") / col("total").cast("double"))
            .as("frac"))
    }, Some("""
      WITH lc AS (SELECT l_orderkey AS k,
          CAST(count(*) AS BIGINT) AS n_left
        FROM lineitem GROUP BY 1),
      oc AS (SELECT o_orderkey AS k,
          CAST(count(*) AS BIGINT) AS n_right
        FROM orders GROUP BY 1),
      per AS (SELECT k, n_left, n_right,
          CAST(n_left * n_right AS BIGINT) AS contrib
        FROM lc JOIN oc USING (k)),
      tot AS (SELECT CAST(sum(contrib) AS BIGINT) AS total,
          CAST(count(*) AS BIGINT) AS n_keys FROM per)
      SELECT k, n_left, n_right, contrib, n_keys, total,
        CAST(contrib AS DOUBLE) / CAST(total AS DOUBLE) AS frac
      FROM per, tot ORDER BY contrib DESC, k LIMIT 10""")),

    // Autocorrelation function of the daily event-count series at lags
    // 1–7 — the periodicity probe behind ingest-rate monitoring. The
    // only row-scale step is the daily count aggregation; the series
    // itself is calendar-bounded (one cell per day), so the lag
    // pairing is a broadcast self-join of the tiny cell table against a
    // 7-row lag frame, and each lag's Pearson r comes from exact BIGINT
    // moments (counts are integers) with the q119 fixed IEEE tree.
    QueryDef("q209_acf", (s, d) => {
      val daily = dailyEvents(s, d)
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val pairs = daily.select(col("day"), col("c").as("x"))
        .crossJoin(broadcast(lags))
        .join(daily.select(col("day").as("day_b"), col("c").as("y")),
          col("day_b") === date_add(col("day"), col("lag").cast("int")))
      val m = pairs.groupBy("lag").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val covN = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val varX = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val varY = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      m.select(col("lag"), col("n"),
        (covN / sqrt(varX * varY)).as("acf"))
    }, Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      lags AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
      pairs AS (SELECT l.lag, a.c AS x, b.c AS y
        FROM daily a, lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
      m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
          sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
          sum(y * y) AS syy, sum(x * y) AS sxy
        FROM pairs GROUP BY 1)
      SELECT lag, n,
        CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE)) AS acf
      FROM m""")),

    // KMV set-operation estimates (Beyer et al., SIGMOD'07; the theta-
    // sketch form) between two key populations — the (part, supplier)
    // pairs seen on R-return lines vs A-return lines (≈19k vs ≈19k with
    // ≈1.8k shared at sf0.01 — deliberately non-degenerate): union size
    // from the k-th minimum hash of the merged sketch, intersection from
    // the fraction ρ of the union sketch present in BOTH sets, each
    // beside its exact audit column. One tagged-union shuffle builds
    // both membership flags; the sketch is an ordered limit
    // (TakeOrderedAndProject), so nothing past the distinct aggregation
    // is row-scale and the sketches THEMSELVES are what a 100 TB run
    // would ship between executors.
    QueryDef("q210_kmv_setops", (s, d) => {
      def hs(flag: String) =
        t(s, d, "lineitem").where(col("l_returnflag") === flag)
          .select(conv(substring(md5(concat(
            col("l_partkey").cast("string"), lit(":"),
            col("l_suppkey").cast("string"))),
            1, 8), 16, 10).cast("long").as("h")).distinct()
      val tagged = hs("R")
        .select(col("h"), lit(1L).as("ia"), lit(0L).as("ib"))
        .union(hs("A")
          .select(col("h"), lit(0L).as("ia"), lit(1L).as("ib")))
        // explicit keyed width (r06): AQE byte-coalesced the merge
        // exchange to ONE partition, serializing the reduce; the explicit
        // partition count is honored and the groupBy reuses it. The cut
        // stops the sketch and the exact-audit branches from re-running
        // the reduce (profiled 2 × ~0.4 s single-task).
        .repartition(s.sparkContext.defaultParallelism, col("h"))
        .groupBy("h").agg(max("ia").as("ia"), max("ib").as("ib"))
        .transform(Cut.large)
      val sk = tagged.orderBy("h").limit(64)
      val kk = sk.agg(count(lit(1)).as("k"), max("h").as("hk"),
        sum(col("ia") * col("ib")).as("rho"))
      val exact = tagged.agg(count(lit(1)).as("exact_union"),
        sum(col("ia") * col("ib")).as("exact_int"))
      kk.crossJoin(broadcast(exact))
        .select(col("k"), col("hk"), col("rho"),
          col("exact_union"), col("exact_int"),
          (lit(63.0) * lit(4294967296.0) / col("hk").cast("double"))
            .as("est_union"),
          (col("rho").cast("double") * lit(63.0) * lit(4294967296.0) /
            (col("k") * col("hk")).cast("double")).as("est_int"))
    }, Some("""
      WITH ha AS (SELECT DISTINCT CAST('0x' ||
          substring(md5(CAST(l_partkey AS VARCHAR) || ':'
            || CAST(l_suppkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
        FROM lineitem WHERE l_returnflag = 'R'),
      hb AS (SELECT DISTINCT CAST('0x' ||
          substring(md5(CAST(l_partkey AS VARCHAR) || ':'
            || CAST(l_suppkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
        FROM lineitem WHERE l_returnflag = 'A'),
      tagged AS (SELECT h, CAST(max(ia) AS BIGINT) AS ia,
          CAST(max(ib) AS BIGINT) AS ib
        FROM (SELECT h, 1 AS ia, 0 AS ib FROM ha
              UNION ALL SELECT h, 0 AS ia, 1 AS ib FROM hb)
        GROUP BY 1),
      sk AS (SELECT * FROM tagged ORDER BY h LIMIT 64),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k,
          CAST(max(h) AS BIGINT) AS hk,
          CAST(sum(ia * ib) AS BIGINT) AS rho FROM sk),
      e AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
          CAST(sum(ia * ib) AS BIGINT) AS exact_int FROM tagged)
      SELECT k, hk, rho, exact_union, exact_int,
        63.0 * 4294967296.0 / CAST(hk AS DOUBLE) AS est_union,
        CAST(rho AS DOUBLE) * 63.0 * 4294967296.0
          / CAST(k * hk AS DOUBLE) AS est_int
      FROM kk, e""")),

    // Hapax-legomenon rate per source over TRIGRAM shingles — the
    // vocabulary-tail quality signal (a high hapax share marks noisy /
    // OCR-damaged corpora, the complement of q198's growth curve).
    // Trigrams rather than unigrams because the shingle space is what
    // actually carries a tail (the unigram vocabulary saturates — zero
    // hapaxes already at sf0.1). Corpus shingle frequencies and the
    // per-source type inventory are both partial-aggregated counts; the
    // tf=1 filter semi-joins back on the already-shuffled term key, so
    // the Zipf tail (the dominant share of VOCABULARY, a vanishing
    // share of TOKENS) never amplifies anything.
    QueryDef("q211_hapax_rate", (s, d) => {
      val tk = t(s, d, "documents")
        .select(col("source"), split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 3)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("ts")) - 2), i =>
            concat_ws("_", element_at(col("ts"), i),
              element_at(col("ts"), i + 1),
              element_at(col("ts"), i + 2)))).as("term"))
      // examined r06: cutting/spreading the trigram stream REGRESSED
      // (0.93 → 1.44 s) — materializing the fact-sized explode costs
      // more than the duplicate scan-side pass it saves; left as-is.
      val tf = tk.groupBy("term").agg(count(lit(1)).as("tf"))
      val st = tk.select("source", "term").distinct()
      val types = st.groupBy("source").agg(count(lit(1)).as("n_types"))
      val hap = st.join(tf.where(col("tf") === 1).select("term"),
          Seq("term"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_hapax"))
      types.join(hap, Seq("source"), "left")
        .select(col("source"), col("n_types"),
          coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
          (coalesce(col("n_hapax"), lit(0L)).cast("double") /
            col("n_types").cast("double")).as("hapax_rate"))
    }, Some("""
      WITH dt AS (SELECT source, string_split(text, ' ') AS ts
                  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      tk AS (SELECT source,
          unnest(list_transform(range(1, len(ts) - 1), i ->
            ts[i] || '_' || ts[i + 1] || '_' || ts[i + 2])) AS term
        FROM dt),
      tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tk
             GROUP BY 1),
      st AS (SELECT DISTINCT source, term FROM tk),
      types AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types
                FROM st GROUP BY 1),
      hap AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hapax
              FROM st JOIN (SELECT term FROM tf WHERE tf = 1) USING (term)
              GROUP BY 1)
      SELECT source, n_types,
        CAST(coalesce(n_hapax, 0) AS BIGINT) AS n_hapax,
        CAST(coalesce(n_hapax, 0) AS DOUBLE)
          / CAST(n_types AS DOUBLE) AS hapax_rate
      FROM types LEFT JOIN hap USING (source)""")),

    // Per-user MAP@10 / MRR ranking-evaluation table: each customer's
    // parts ranked by purchase volume (qty DESC, pk — fully tie-broken),
    // relevance = "had an R return". Average precision folds the
    // per-position precision contributions (each ONE exact division,
    // computed from an integer running-hit window) in position order
    // over a k-bounded collected list, so every double is a fixed IEEE
    // tree; the window partitions by customer (high-cardinality,
    // per-user-bounded — the q112 no-hot-group contract). Customers
    // with no relevant item are excluded, as in the standard metric.
    QueryDef("q212_map_mrr", (s, d) => {
      val cp = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"),
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("rel"))
      val rtot = cp.groupBy("cust").agg(sum("rel").as("r_total"))
      val w = Window.partitionBy("cust")
        .orderBy(col("qty").desc, col("pk"))
      val wc = Window.partitionBy("cust").orderBy("pos")
      val top = cp.withColumn("pos", row_number().over(w))
        .where(col("pos") <= 10)
        .withColumn("cr", sum("rel").over(wc))
        .withColumn("contrib", when(col("rel") === 1L,
          col("cr").cast("double") / col("pos").cast("double"))
          .otherwise(lit(0.0)))
      top.groupBy("cust").agg(
          sum("rel").as("hits10"),
          min(when(col("rel") === 1L, col("pos"))).as("fp"),
          sort_array(collect_list(struct(col("pos"), col("contrib"))))
            .as("ps"))
        .join(rtot, Seq("cust")).where(col("r_total") > 0)
        .select(col("cust"), col("r_total"), col("hits10"),
          coalesce(lit(1.0) / col("fp").cast("double"), lit(0.0))
            .as("rr"),
          (sumInOrder(col("ps"))(_.getField("contrib")) /
            least(col("r_total"), lit(10L)).cast("double")).as("ap10"))
    }, Some("""
      WITH cp AS (SELECT o_custkey AS cust, l_partkey AS pk,
          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
          CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
            AS BIGINT) AS rel
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      rt AS (SELECT cust, CAST(sum(rel) AS BIGINT) AS r_total FROM cp
             GROUP BY 1),
      top AS (SELECT cust, pk, rel, pos FROM (
          SELECT cust, pk, rel, row_number() OVER (PARTITION BY cust
              ORDER BY qty DESC, pk) AS pos
          FROM cp) WHERE pos <= 10),
      cum AS (SELECT cust, pos, rel,
          CAST(sum(rel) OVER (PARTITION BY cust ORDER BY pos) AS BIGINT)
            AS cr
        FROM top),
      rowc AS (SELECT cust, pos, rel,
          CASE WHEN rel = 1 THEN CAST(cr AS DOUBLE) / CAST(pos AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS contrib
        FROM cum),
      agg AS (SELECT cust, CAST(sum(rel) AS BIGINT) AS hits10,
          min(CASE WHEN rel = 1 THEN pos END) AS fp,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(contrib ORDER BY pos)), (p, q) -> p + q) AS sp
        FROM rowc GROUP BY 1)
      SELECT a.cust, r.r_total, a.hits10,
        coalesce(1.0 / CAST(fp AS DOUBLE), 0.0) AS rr,
        sp / CAST(least(r.r_total, 10) AS DOUBLE) AS ap10
      FROM agg a JOIN rt r USING (cust) WHERE r.r_total > 0"""))
  )
}
