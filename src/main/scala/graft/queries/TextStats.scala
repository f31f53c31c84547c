package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.canon.KeyAssigner
import graft.extract.TextExtractor
import graft.functions.TextFunctions
import graft.operators.Spread
import graft.stats.Disproportionality

import QueryDef.t

/** Text-analysis, FAERS-style statistics, key assignment, and
  * window/streaming-shaped operators — each backed by a DuckDB oracle.
  */
object TextStats {

  /** Planted-association co-occurrence pairs over `events`: the outcome
    * 'crash' is strongly tied to exposure 'error' (plus a background rate
    * via user_id so margins stay positive) — integer-only logic, identical
    * in both engines. */
  private val pairsSql = """
      SELECT event_type AS exposure,
        CASE WHEN (event_type = 'error' AND user_id % 3 = 0)
                  OR user_id % 37 = 0 THEN 'crash'
             ELSE 'ok_' || CAST(user_id % 4 AS VARCHAR) END AS outcome
      FROM events"""

  /** DuckDB SQL replicating Spark's EXACT `percentile` over a pre-sorted
    * list column `vs` (1-based) with non-null count `n`, mirroring
    * Percentile.getPercentile (spark/sql/catalyst aggregate) op-for-op:
    * pos = p·(n−1); if pos is integral OR the two bracketing values are
    * equal (a tie run at the cut), the value is returned with NO
    * arithmetic; otherwise the weighted two-product form
    * (ceil(pos)−pos)·lo + (pos−floor(pos))·hi — NOT the algebraically
    * equivalent lo + (hi−lo)·frac, which differs by 1 ulp on real data
    * (measured: p95 of the sf0.01 'click' group is 151.7075 under Spark's
    * form, 151.70749999999998 under the lerp form). DuckDB's own
    * quantile_cont diverges too (measured at the sf0.1 p70 cut:
    * 59.239999999999995 vs Spark's exact 59.24 on a tie run — Spark's
    * equal-keys short-circuit skips interpolation entirely). Every
    * percentile-based oracle goes through this helper: same IEEE ops in
    * the same order on the same bits → bit-identical. */
  private def sparkQuantile(p: String, vs: String = "vs", n: String = "n")
      : String = {
    // CAST to DOUBLE is load-bearing: DuckDB types a bare 0.95 literal as
    // DECIMAL (exact arithmetic), while Spark computes p*(n-1) in IEEE
    // doubles — without the cast the two engines disagree on pos itself.
    val pos = s"(CAST($p AS DOUBLE) * ($n - 1))"
    val lo = s"$vs[CAST(floor($pos) AS BIGINT) + 1]"
    val hi = s"$vs[CAST(ceil($pos) AS BIGINT) + 1]"
    s"(CASE WHEN floor($pos) = ceil($pos) OR $lo = $hi THEN $lo " +
      s"ELSE (ceil($pos) - $pos) * $lo + ($pos - floor($pos)) * $hi END)"
  }

  /** The sorted-list + count CTE body feeding [[sparkQuantile]]: one row
    * per `event_type` with `vs` (values sorted ASC, nulls dropped) and `n`. */
  private val sortedValuesCte = """
        SELECT event_type,
          list(value ORDER BY value) FILTER (WHERE value IS NOT NULL) AS vs,
          CAST(count(value) AS BIGINT) AS n
        FROM events GROUP BY 1"""

  /** Crawl-style URL synthesized deterministically from (doc_id, source):
    * mixed-case scheme/host, default and non-default explicit ports,
    * trailing slashes, utm tracking params, fragments — every branch of
    * [[graft.web.Urls.normalize]] exercised. Mirrored verbatim by
    * [[urlNormSql]]. */
  private def synthUrl(id: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(id % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("http://m.")),
      source,
      when(id % 9 === 0, lit(".Example.COM")).otherwise(lit(".COM")),
      when(id % 5 === 0, lit(":443"))
        .when(id % 7 === 0, lit(":80")).otherwise(lit("")),
      lit("/Path/"), id.cast("string"),
      when(id % 3 === 0, lit("/")).otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit("?utm_source=feed&q="), (id % 10).cast("string")))
        .otherwise(lit("")),
      when(id % 6 === 0, lit("#frag")).otherwise(lit("")))

  /** DuckDB decomposition of [[graft.web.Urls.normalize]] applied to
    * column `url` of subquery `inner` (which must also yield the `carry`
    * columns): output = carry + (sch, hst, hfull, rest); the canonical
    * URL is sch || '://' || hfull || rest. s-interpolated, so regex
    * backslashes are doubled here and single in the emitted SQL. */
  private def urlStepsSql(inner: String, carry: String): String = s"""
      SELECT $carry, sch, hst,
        CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
                                   OR (sch = 'https' AND port = '443'))
             THEN hst || ':' || port ELSE hst END AS hfull,
        CASE WHEN regexp_replace(r3, '/+(\\?|$$)', '\\1', 'g') = ''
             THEN '/'
             ELSE regexp_replace(r3, '/+(\\?|$$)', '\\1', 'g') END AS rest
      FROM (
        SELECT $carry, sch, hostport,
          lower(regexp_replace(hostport, ':[0-9]+$$', '', 'g')) AS hst,
          regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
          regexp_replace(regexp_replace(regexp_replace(rest0,
            '&utm_[A-Za-z0-9_]*=[^&]*', '', 'g'),
            '\\?utm_[A-Za-z0-9_]*=[^&]*&', '?', 'g'),
            '\\?utm_[A-Za-z0-9_]*=[^&]*$$', '', 'g') AS r3
        FROM (
          SELECT $carry,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
              AS sch,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
              AS hostport,
            regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest0
          FROM ($inner)))"""

  /** DuckDB mirror of [[synthUrl]]: (doc_id, n_chars, url). Plain
    * triple-quoted string — backslash-free. */
  private val synthUrlSql = """
            SELECT doc_id, n_chars,
              (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                    ELSE 'http://m.' END)
              || source
              || (CASE WHEN doc_id % 9 = 0 THEN '.Example.COM'
                       ELSE '.COM' END)
              || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                       WHEN doc_id % 7 = 0 THEN ':80' ELSE '' END)
              || '/Path/' || CAST(doc_id AS VARCHAR)
              || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
              || (CASE WHEN doc_id % 4 = 0
                       THEN '?utm_source=feed&q='
                            || CAST(doc_id % 10 AS VARCHAR)
                       ELSE '' END)
              || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
                AS url
            FROM documents"""

  private val urlNormSql = urlStepsSql(synthUrlSql, "doc_id, n_chars")

  private def pairsDf(s: org.apache.spark.sql.SparkSession, d: String) =
    t(s, d, "events").select(
      col("event_type").as("exposure"),
      when((col("event_type") === "error" && col("user_id") % 3 === 0)
          || col("user_id") % 37 === 0, lit("crash"))
        .otherwise(concat(lit("ok_"), (col("user_id") % 4).cast("string")))
        .as("outcome"))

  /** The 2×2 disproportionality CTE stack SHARED by every signals oracle
    * (q19/q20/q74/q80): co-occurrence counts, margins, N, the b/c/d cells
    * and the prr/ror/chi² stats with the reference's positivity + a≥3
    * gates. `st` carries the SUPERSET of columns any consumer projects —
    * extra unselected columns cannot change a selected value, and one
    * shared fragment means a gate or formula fix can never silently
    * diverge between the oracles. Each query appends only its final
    * SELECT. */
  private val signalStatsSql = s"""
      WITH pairs AS ($pairsSql),
      ag AS (SELECT exposure, outcome, COUNT(*) AS a FROM pairs GROUP BY 1, 2),
      em AS (SELECT exposure, COUNT(*) AS exposure_n FROM pairs GROUP BY 1),
      om AS (SELECT outcome, COUNT(*) AS outcome_n FROM pairs GROUP BY 1),
      nn AS (SELECT COUNT(*) AS n FROM pairs),
      j AS (SELECT exposure, outcome, a, exposure_n, outcome_n, n,
              CAST(exposure_n - a AS DOUBLE) AS b,
              CAST(outcome_n - a AS DOUBLE) AS c,
              CAST(n - exposure_n - outcome_n + a AS DOUBLE) AS d
            FROM ag JOIN em USING (exposure) JOIN om USING (outcome)
            CROSS JOIN nn),
      st AS (SELECT exposure, outcome, a, exposure_n, outcome_n,
              (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + b)) / (c / (c + d)) AS prr,
              (CAST(a AS DOUBLE) * d) / (b * c) AS ror,
              (CAST(a AS DOUBLE) - (CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c) / CAST(n AS DOUBLE))
                * (CAST(a AS DOUBLE) - (CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c) / CAST(n AS DOUBLE))
                / ((CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c) / CAST(n AS DOUBLE)) AS chi2
            FROM j WHERE b > 0 AND c > 0 AND d > 0 AND a >= 3)"""

  val defs: Seq[QueryDef] = Seq(

    // P16: the byte-identity text cleaner (whitespace collapse + trim +
    // truncate), the north-rule invariant, as a distributed projection —
    // served by the native codegen clean_text expression (one fused pass;
    // CleanTextExprSpec proves byte-equality with the regexp pipeline).
    QueryDef("q15_text_clean", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cleaned = call_function("clean_text", col("text"), lit(120))
      t(s, d, "documents").select(
        col("doc_id"),
        cleaned.as("clean_text"),
        length(cleaned).as("clean_len"))
    }, Some("""
      WITH c AS (
        SELECT doc_id,
          trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS s
        FROM documents)
      SELECT doc_id,
        CASE WHEN length(s) > 120 THEN substr(s, 1, 120) || '...' ELSE s END
          AS clean_text,
        length(CASE WHEN length(s) > 120 THEN substr(s, 1, 120) || '...'
          ELSE s END) AS clean_len
      FROM c""")),

    // Token counting via pure string arithmetic (engine-agnostic).
    QueryDef("q16_token_stats", (s, d) => {
      val text = col("text")
      t(s, d, "documents").select(
        col("doc_id"),
        (length(text) - length(regexp_replace(text, " ", "")) + 1)
          .as("n_tokens"),
        TextFunctions.subwordCount(text).as("n_subwords"),
        size(regexp_extract_all(text, lit("[a-z]+"), lit(0))).as("n_words"))
    }, Some("""
      SELECT doc_id,
        length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))
          AS n_subwords,
        len(regexp_extract_all(text, '[a-z]+')) AS n_words
      FROM documents""")),

    // Quality scoring + heuristic language ID (stopword densities).
    QueryDef("q17_lang_quality", (s, d) => {
      val text = col("text")
      val en = size(regexp_extract_all(lower(text),
        lit("\\b(the|a|and|of|to|in|is|that)\\b"), lit(0)))
      val nTok = length(text) - length(regexp_replace(text, " ", "")) + 1
      t(s, d, "documents").select(
        col("doc_id"), en.as("stop_hits"),
        (en.cast("double") / nTok.cast("double")).as("stop_ratio"),
        TextFunctions.langId(text).as("lang_id"))
    }, Some("""
      SELECT doc_id,
        len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b'))
          AS stop_hits,
        CAST(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that)\b')) AS DOUBLE)
          / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
          AS stop_ratio,
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
          ELSE 'de' END AS lang_id
      FROM documents""")),

    // Gopher-style repetition signals: repeated-token fraction plus the
    // top-bigram/-trigram occupancy, all pure HOF column math (codegen,
    // zero shuffle — scan-side quality filtering at corpus scale). The
    // space-split token variant keeps the DuckDB mirror exact; the
    // library default (wsTokens) splits on the pinned ws class.
    QueryDef("q83_repetition", (s, d) => {
      val toks = TextFunctions.spaceTokens(col("text"))
      // HOFs are CodegenFallback (interpreted): real per-row cost. The
      // sf fixture is ONE parquet split, which would serialize that work
      // on one core — a 100 TB corpus scan has thousands of natural
      // splits, so spreading the fixture is the representative shape.
      t(s, d, "documents")
        .transform(Spread.orderFree)
        .select(
        col("doc_id"),
        TextFunctions.dupTokenFrac(toks).as("dup_token_frac"),
        TextFunctions.topNgramFrac(toks, 2).as("top_bigram_frac"),
        TextFunctions.topNgramFrac(toks, 3).as("top_trigram_frac"))
    }, Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ')[1:2048] AS t FROM documents),
      g2 AS (SELECT doc_id, t,
               list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1]) AS g
             FROM toks),
      g3 AS (SELECT doc_id, t, g,
               list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS h
             FROM g2)
      SELECT doc_id,
        CASE WHEN len(t) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                        / CAST(len(t) AS DOUBLE) END AS dup_token_frac,
        CASE WHEN len(t) < 2 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(g),
                    x -> len(list_filter(g, y -> y = x)))) AS DOUBLE)
                  / CAST(len(g) AS DOUBLE) END AS top_bigram_frac,
        CASE WHEN len(t) < 3 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(h),
                    x -> len(list_filter(h, y -> y = x)))) AS DOUBLE)
                  / CAST(len(h) AS DOUBLE) END AS top_trigram_frac
      FROM g3""")),

    // Deterministic held-out split: portable md5-derived bucket, so the
    // train/valid/test membership is reproducible by ANY engine and
    // stable under re-partitioning, re-ordering and corpus growth.
    QueryDef("q84_hash_split", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        TextFunctions.hashBucket(col("doc_id"), 100).as("bucket"),
        TextFunctions.hashSplit(col("doc_id")).as("split"))
    }, Some("""
      WITH b AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 100 AS bucket
        FROM documents)
      SELECT doc_id, bucket,
        CASE WHEN bucket < 98 THEN 'train'
             WHEN bucket < 99 THEN 'valid'
             ELSE 'test' END AS split
      FROM b""")),

    // PII scrubbing: emails/phones/IPv4 redacted to typed placeholders,
    // occurrence counts alongside. The synthetic corpus text is digit-free
    // word salad, so PII-shaped strings are woven in deterministically
    // from doc_id (the SAME expression in both engines) — the redaction
    // regexes are exercised on realistic patterns and the oracle verifies
    // Java-regex and RE2 semantics agree byte-for-byte. A third of the
    // docs stay clean to pin the no-op path.
    QueryDef("q85_pii_redact", (s, d) => {
      val doc = col("doc_id")
      val txt = when(doc % 3 =!= 0, concat(
          col("text"), lit(" contact user"), doc.cast("string"),
          lit("@example.com or call +1-555-"),
          lpad((doc % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (doc % 256).cast("string"), lit("."),
          ((doc * 7) % 256).cast("string"), lit("."),
          ((doc * 13) % 256).cast("string")))
        .otherwise(col("text"))
      t(s, d, "documents").select(doc,
        TextFunctions.redactPii(txt).as("redacted"),
        regexp_count(txt, lit(TextFunctions.EmailRe)).as("n_emails"),
        regexp_count(txt, lit(TextFunctions.PhoneRe)).as("n_phones"),
        regexp_count(txt, lit(TextFunctions.Ipv4Re)).as("n_ips"))
    }, Some(s"""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 <> 0 THEN
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
          ELSE text END AS txt
        FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(txt,
          '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
          '${TextFunctions.PhoneRe}', '<PHONE>', 'g'),
          '${TextFunctions.Ipv4Re}', '<IP>', 'g') AS redacted,
        CAST(len(regexp_extract_all(txt, '${TextFunctions.EmailRe}')) AS INT)
          AS n_emails,
        CAST(len(regexp_extract_all(txt, '${TextFunctions.PhoneRe}')) AS INT)
          AS n_phones,
        CAST(len(regexp_extract_all(txt, '${TextFunctions.Ipv4Re}')) AS INT)
          AS n_ips
      FROM p""")),

    // Test-set decontamination: every 50th doc plays the benchmark set;
    // the rest of the corpus is flagged when it shares ≥3 distinct word
    // 4-grams with it. Corpus side never shuffles for the join (benchmark
    // gram set is dimension-sized → AQE broadcast); the per-doc count
    // partial-aggregates.
    QueryDef("q86_decontam", (s, d) => {
      // spread the single-split fixture: the n-gram build is interpreted
      // HOF work (CodegenFallback) — same rationale as q83
      val docs = t(s, d, "documents")
        .transform(Spread.orderFree)
      graft.dedup.Decontaminate.flag(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4, minOverlap = 3)
    }, Some("""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ')[1:2048] AS t FROM documents),
      g AS (SELECT doc_id,
              list_distinct(list_transform(range(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
                AS gr
            FROM toks),
      cg AS (SELECT doc_id, unnest(gr) AS gram FROM g WHERE doc_id % 50 <> 0),
      bg AS (SELECT DISTINCT unnest(gr) AS gram FROM g WHERE doc_id % 50 = 0)
      SELECT cg.doc_id, COUNT(*) AS overlap_ngrams
      FROM cg JOIN bg USING (gram)
      GROUP BY cg.doc_id
      HAVING COUNT(*) >= 3""")),

    // Sequence packing (concat-then-chunk): per-doc absolute start offset
    // in the doc_id-ordered token stream plus the 512-token chunk span.
    // The global prefix sum runs distributed (range partition →
    // partition-local cumsum → O(P) cross-partition offsets) — never a
    // single-partition global Window.
    QueryDef("q87_pack_offsets", (s, d) => {
      graft.pack.Packing.chunkSpans(t(s, d, "documents"), "doc_id",
        size(split(col("text"), " ")), 512L)
    }, Some("""
      WITH t AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, n_tokens,
              CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_offset
            FROM t)
      SELECT doc_id, n_tokens, start_offset,
        CAST(start_offset // 512 AS BIGINT) AS chunk_first,
        CAST((start_offset + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT)
          AS chunk_last
      FROM c""")),

    // Cross-doc line-level boilerplate removal (the C4/RefinedWeb pass):
    // lines in ≥10 distinct docs are stripped, survivor order preserved.
    // The corpus text is multi-lined deterministically from doc_id (same
    // expression both engines): a global nav line on even docs, a 5-variant
    // footer (~n/5 docs each — frequent), a per-doc unique line and the
    // unique text body (never frequent).
    QueryDef("q88_line_dedup", (s, d) => {
      val doc = col("doc_id")
      val txt = concat(
        when(doc % 2 === 0, lit("home | about | contact\n")).otherwise(lit("")),
        col("text"), lit("\ncopyright footer "), (doc % 5).cast("string"),
        lit("\nrare line "), doc.cast("string"))
      graft.dedup.Boilerplate.removeFrequentLines(
        t(s, d, "documents").select(doc, txt.as("text")),
        "doc_id", "text", minDocFreq = 10)
    }, Some("""
      WITH p AS (
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'home | about | contact' || chr(10)
               ELSE '' END
          || text || chr(10) || 'copyright footer '
          || CAST(doc_id % 5 AS VARCHAR)
          || chr(10) || 'rare line ' || CAST(doc_id AS VARCHAR) AS txt
        FROM documents),
      s AS (SELECT doc_id, string_split(txt, chr(10)) AS ls FROM p),
      l AS (SELECT doc_id, unnest(ls) AS line,
                   unnest(range(1, len(ls) + 1)) AS pos FROM s),
      f AS (SELECT line FROM (
              SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY 1)
            WHERE df >= 10)
      SELECT l.doc_id,
        coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
                   FILTER (WHERE f.line IS NULL), '') AS clean_text,
        count(*) FILTER (WHERE f.line IS NULL) AS n_kept,
        count(*) FILTER (WHERE f.line IS NOT NULL) AS n_removed
      FROM l LEFT JOIN f ON l.line = f.line
      GROUP BY 1""")),

    // Data-mixture sampling: per-source md5-deterministic down-sampling to
    // weight-proportional token budgets (weights derived portably from the
    // source name so the query is self-contained at every SF). Sources
    // with high weight saturate at rate 1; the rest sample.
    QueryDef("q89_mixture_sample", (s, d) => {
      val docs = t(s, d, "documents")
      val weights = docs.select(col("source")).distinct()
        .withColumn("weight",
          (TextFunctions.hashBucket(col("source"), 10) + 1).cast("double"))
      graft.sample.Mixture.sampleToWeights(docs, "doc_id", "source",
        size(split(col("text"), " ")), weights, budgetFrac = 0.6)
    }, Some("""
      WITH t AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      w AS (SELECT source,
              CAST((CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 10)
                   + 1 AS DOUBLE) AS weight
            FROM (SELECT DISTINCT source FROM documents)),
      ps AS (SELECT source, sum(n_tokens) AS tok FROM t GROUP BY 1),
      tot AS (SELECT sum(n_tokens) AS T FROM t),
      ws AS (SELECT sum(weight) AS wsum FROM w),
      r AS (SELECT ps.source,
              CAST(floor(least(1.0,
                weight / wsum * 0.6 * CAST(T AS DOUBLE)
                  / CAST(tok AS DOUBLE)) * 1000000) AS BIGINT) AS thr
            FROM ps JOIN w USING (source), tot, ws)
      SELECT t.doc_id, t.source, t.n_tokens
      FROM t JOIN r USING (source)
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % 1000000 < thr""")),

    // Corpus-trained unigram-LM quality scoring: per-doc mean token
    // probability + rarity stats, exact-arithmetic only (no ln/exp — see
    // UnigramLm's exactness contract; DuckDB ln ≠ JVM log bit-for-bit).
    QueryDef("q90_unigram_lm", (s, d) => {
      graft.quality.UnigramLm.scoreSelf(
        t(s, d, "documents"), "doc_id", split(col("text"), " "))
    }, Some("""
      WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T FROM c),
      d AS (SELECT tk.doc_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(cnt) AS BIGINT) AS sum_freq,
              CAST(min(cnt) AS BIGINT) AS min_freq,
              CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hapax
            FROM tk JOIN c USING (tok) GROUP BY 1)
      SELECT doc_id, n_tokens, sum_freq, min_freq, n_hapax,
        CAST(sum_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE)
          / CAST(T AS DOUBLE) AS mean_prob
      FROM d, tot""")),

    // Stratified per-group sampling: exactly k docs per source by
    // deterministic md5 order (hot-group-safe via boundedTopK).
    QueryDef("q91_stratified_sample", (s, d) => {
      graft.sample.Mixture.sampleKPerGroup(
        t(s, d, "documents").select(col("source"), col("doc_id")),
        "source", "doc_id", k = 50)
    }, Some("""
      SELECT source, doc_id, rank FROM (
        SELECT source, doc_id,
          row_number() OVER (PARTITION BY source ORDER BY
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 1000000,
            doc_id) AS rank
        FROM documents) WHERE rank <= 50""")),

    // URL canonicalization: crawl-style URLs (mixed-case scheme/host,
    // default + explicit ports, trailing slashes, utm params, fragments)
    // synthesized deterministically from doc_id, normalized by the
    // codegen-only Urls chain (Java-regex/RE2 common subset — see Urls).
    QueryDef("q92_url_normalize", (s, d) => {
      import graft.web.Urls
      val u = synthUrl(col("doc_id"), col("source"))
      t(s, d, "documents").select(
        col("doc_id"), Urls.scheme(u).as("scheme"), Urls.host(u).as("host"),
        Urls.registeredDomain(u).as("domain"),
        Urls.normalize(u).as("url_norm"))
    }, Some(s"""
      WITH n AS ($urlNormSql)
      SELECT doc_id, sch AS scheme, hst AS host,
        CASE WHEN regexp_matches(hst, '\\.')
             THEN regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1)
             ELSE hst END AS domain,
        sch || '://' || hfull || rest AS url_norm
      FROM n""")),

    // Registered-domain rollup: the domain-level curation aggregate every
    // crawl pipeline runs (docs + distinct canonical URLs + bytes per
    // domain) — one scan, one dimension-sized groupBy.
    QueryDef("q93_domain_stats", (s, d) => {
      import graft.web.Urls
      val u = synthUrl(col("doc_id"), col("source"))
      t(s, d, "documents")
        .select(Urls.registeredDomain(u).as("domain"),
          Urls.normalize(u).as("url_norm"), col("n_chars"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_urls"),
          sum("n_chars").as("total_chars"))
    }, Some(s"""
      WITH n AS ($urlNormSql)
      SELECT
        CASE WHEN regexp_matches(hst, '\\.')
             THEN regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1)
             ELSE hst END AS domain,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(count(DISTINCT sch || '://' || hfull || rest) AS BIGINT)
          AS n_urls,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM n GROUP BY 1""")),

    // Link-graph centrality: integer-arithmetic PageRank (3 damped
    // iterations) over a deterministic synthetic link graph with planted
    // hubs (dst mod 211 → ~N/211 in-degree hot nodes exercise the
    // map-side partial-agg skew path). Exact BIGINT math — see PageRank's
    // portability contract; the oracle unrolls the same three iterations.
    QueryDef("q94_pagerank", (s, d) => {
      val id = col("doc_id")
      val docs = t(s, d, "documents").select(id)
      val edges = docs
        .select(id.as("src"), ((id * 17 + 3) % 211).as("dst"))
        .union(docs.select(id.as("src"), ((id * 31 + 7) % 997).as("dst")))
      graft.graph.PageRank.run(edges, iters = 3)
    }, Some("""
      WITH e AS (
        SELECT doc_id AS src, (doc_id * 17 + 3) % 211 AS dst FROM documents
        UNION ALL
        SELECT doc_id AS src, (doc_id * 31 + 7) % 997 AS dst
        FROM documents),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
      p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
      c1 AS (SELECT dst, sum(score // outdeg) AS inb
             FROM ed JOIN p0 ON p0.node = ed.src GROUP BY 1),
      p1 AS (SELECT node,
               CAST(150000 + (coalesce(inb, 0) * 85) // 100 AS BIGINT)
                 AS score
             FROM nodes LEFT JOIN c1 ON node = dst),
      c2 AS (SELECT dst, sum(score // outdeg) AS inb
             FROM ed JOIN p1 ON p1.node = ed.src GROUP BY 1),
      p2 AS (SELECT node,
               CAST(150000 + (coalesce(inb, 0) * 85) // 100 AS BIGINT)
                 AS score
             FROM nodes LEFT JOIN c2 ON node = dst),
      c3 AS (SELECT dst, sum(score // outdeg) AS inb
             FROM ed JOIN p2 ON p2.node = ed.src GROUP BY 1),
      p3 AS (SELECT node,
               CAST(150000 + (coalesce(inb, 0) * 85) // 100 AS BIGINT)
                 AS score
             FROM nodes LEFT JOIN c3 ON node = dst)
      SELECT node, score AS pr_score FROM p3""")),

    // Hyperlink extraction: anchor tags from crawl HTML (synthesized
    // deterministically per doc: one messy link with tracking params and
    // a default port, one href-less <a> and one markup-bodied anchor that
    // the documented regex recall-tail SKIPS in both engines, one plain
    // link), each extracted href canonicalized + domain-tagged via Urls.
    QueryDef("q95_link_extract", (s, d) => {
      val id = col("doc_id")
      val html = concat(
        lit("""<html><body><p>see also</p><a class="x" href="HTTP://Host-"""),
        (id * 13 % 97).cast("string"),
        lit(""".COM:80/x/"""), id.cast("string"),
        lit("""?utm_a=1&s=2">anchor """), (id % 5).cast("string"),
        lit("""</a><a name="n">skip</a><div><a href="https://ref-"""),
        (id % 7).cast("string"),
        lit(""".org/y/">the <b>ref</b></a></div><a href="https://plain-"""),
        (id % 3).cast("string"),
        lit(""".org/z">plain link</a></body></html>"""))
      graft.web.Links.linkRecords(
        t(s, d, "documents").select(id, html.as("html")),
        col("html"), col("doc_id"))
    }, Some(s"""
      WITH n AS (${urlStepsSql(
        """SELECT doc_id, href, href AS url, anchor FROM (
             SELECT doc_id,
               unnest(regexp_extract_all(html,
                 '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
               unnest(regexp_extract_all(html,
                 '<a [^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS anchor
             FROM (
               SELECT doc_id,
                 '<html><body><p>see also</p><a class="x" href="HTTP://Host-'
                 || CAST(doc_id * 13 % 97 AS VARCHAR)
                 || '.COM:80/x/' || CAST(doc_id AS VARCHAR)
                 || '?utm_a=1&s=2">anchor ' || CAST(doc_id % 5 AS VARCHAR)
                 || '</a><a name="n">skip</a><div><a href="https://ref-'
                 || CAST(doc_id % 7 AS VARCHAR)
                 || '.org/y/">the <b>ref</b></a></div><a href="https://plain-'
                 || CAST(doc_id % 3 AS VARCHAR)
                 || '.org/z">plain link</a></body></html>' AS html
               FROM documents))""",
        "doc_id, href, anchor")})
      SELECT doc_id, href, anchor,
        sch || '://' || hfull || rest AS target_url,
        CASE WHEN regexp_matches(hst, '\\.')
             THEN regexp_extract(hst, '([^.]+\\.[^.]+)$$', 1)
             ELSE hst END AS target_domain
      FROM n""")),

    // Keyword extraction: top-5 terms per doc by the rational tf-idf
    // surrogate tf*N/df (exact-arithmetic contract — see Keywords).
    QueryDef("q96_keywords", (s, d) => {
      graft.quality.Keywords.topTerms(
        t(s, d, "documents"), "doc_id", split(col("text"), " "), k = 5)
    }, Some("""
      WITH tk AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM tk GROUP BY 1, 2),
      df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY 1),
      nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS N
             FROM documents),
      sc AS (SELECT doc_id, term, tf, df,
               CAST(tf * N AS DOUBLE) / CAST(df AS DOUBLE) AS score
             FROM tf JOIN df USING (term), nn)
      SELECT doc_id, term, tf, df, score, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term) AS rank FROM sc)
      WHERE rank <= 5""")),

    // Per-group percentile analytics (latency-style p50/p95/p99). The
    // oracle replicates Spark's exact interpolation via sparkQuantile
    // (DuckDB's quantile_cont can differ by 1 ulp — see the helper doc).
    // SCALE NOTE: exact percentile buffers each group's values
    // (ObjectHashAggregate); the 100 TB path is approx_percentile's
    // mergeable GK sketch (bounded memory, map-side partials), spec-pinned
    // within tolerance of exact in StatsSpec.
    QueryDef("q97_percentiles", (s, d) => {
      t(s, d, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        min("value").as("min_v"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        percentile(col("value"), lit(0.99)).as("p99"),
        max("value").as("max_v"))
    }, Some(s"""
      WITH s AS ($sortedValuesCte),
      agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
          min(value) AS min_v, max(value) AS max_v
        FROM events GROUP BY 1)
      SELECT agg.event_type, agg.n_rows AS n, agg.min_v,
        ${sparkQuantile("0.5")} AS p50,
        ${sparkQuantile("0.95")} AS p95,
        ${sparkQuantile("0.99")} AS p99,
        agg.max_v
      FROM agg JOIN s USING (event_type)""")),

    // As-of join (click-attribution shape): every purchase matched to the
    // user's most recent prior click — Spark-side via the sort-merge
    // union+window operator (see AsOf: no range-join explosion), oracled
    // against DuckDB's NATIVE ASOF LEFT JOIN, i.e. two independent
    // implementations of the temporal-join semantics.
    QueryDef("q98_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val w = Window.partitionBy("user_id", "ts").orderBy("event_id")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.joinAsOf(purchases, clicks, "user_id", "ts",
        Seq("value"), prefix = "click_")
    }, Some("""
      WITH r AS (
        SELECT user_id, ts, value FROM (
          SELECT user_id, ts, value,
            row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id)
              AS rn
          FROM events WHERE event_type = 'click') WHERE rn = 1),
      l AS (SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase')
      SELECT l.event_id, l.user_id, l.ts, l.value,
             r.ts AS click_ts, r.value AS click_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""")),

    // Ordered-step funnel (view → click → purchase): per-user earliest
    // in-order completion times + deepest stage reached, via the chained
    // conditional-min operator (key-sized intermediates — see Funnel).
    QueryDef("q99_funnel", (s, d) => {
      graft.operators.Funnel.funnel(t(s, d, "events"), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
    }, Some("""
      WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
                 WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS click_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
            GROUP BY 1)
      SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
        (CASE WHEN v.view_ts IS NOT NULL THEN 1 ELSE 0 END)
        + (CASE WHEN c.click_ts IS NOT NULL THEN 1 ELSE 0 END)
        + (CASE WHEN p.purchase_ts IS NOT NULL THEN 1 ELSE 0 END) AS stage
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),

    // Triangle counting over a dense deterministic graph (251 nodes, 3
    // modular edge families). The Spark side uses the degree-ordered
    // wedge decomposition (skew-bounded — see Triangles); the oracle
    // counts id-ordered closed triples — two different single-count
    // decompositions that must agree exactly.
    QueryDef("q100_triangles", (s, d) => {
      val x = col("doc_id") % 251
      val docs = t(s, d, "documents").select(x.as("x"))
      val edges = docs.select(col("x").as("src"),
          ((col("x") * 2 + 1) % 251).as("dst"))
        .union(docs.select(col("x").as("src"),
          ((col("x") * 3 + 7) % 251).as("dst")))
        .union(docs.select(col("x").as("src"),
          ((col("x") * 5 + 11) % 251).as("dst")))
      graft.graph.Triangles.count(edges)
    }, Some("""
      WITH x AS (SELECT doc_id % 251 AS x FROM documents),
      e0 AS (
        SELECT x AS s, (x * 2 + 1) % 251 AS d FROM x
        UNION ALL SELECT x, (x * 3 + 7) % 251 FROM x
        UNION ALL SELECT x, (x * 5 + 11) % 251 FROM x),
      und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
              FROM e0 WHERE s <> d)
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""")),

    // OLAP rollup: region → nation → grand-total customer subtotals in
    // one pass (Spark `rollup` ≡ GROUP BY ROLLUP), grouping level carried
    // as the engine-shared grouping_id bitmask. Aggregates are count +
    // min/max only — a double SUM's addition order is shuffle-dependent
    // and would break cross-engine hash equality (the [[UnigramLm]]
    // exactness contract applies to oracles too).
    QueryDef("q101_rollup", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          min("c_acctbal").as("min_bal"),
          max("c_acctbal").as("max_bal"),
          grouping_id().as("gid"))
    }, Some("""
      SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
        min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)""")),

    // Inverted-index build (serving artifact): term → document frequency,
    // total postings, and a CAPPED sorted posting list ("doc:pos", first
    // 100). The cap is applied BEFORE any collect_list — the codebase
    // policy (PLANS.md "no unbounded per-group state"): a hot term's
    // postings are ranked through the hot-group-safe boundedTopK (two-
    // level window, never one reducer) and only the ≤100 survivors are
    // collected; the exact df / posting counts come from a separate
    // bounded-state aggregation over the full stream. collect_list is
    // order-nondeterministic → sort_array before joining, mirrored by
    // the oracle's list(... ORDER BY ...).
    QueryDef("q102_inverted_index", (s, d) => {
      val tk = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .withColumn("posting",
          concat(col("doc_id").cast("string"), lit(":"),
            col("pos").cast("string")))
      val stats = tk.groupBy("term").agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_postings"))
      val top = graft.query.Tools.boundedTopK(tk.select("term", "posting"),
          Seq("term"), Seq(col("posting").asc), 100, col("posting"))
        .groupBy("term").agg(concat_ws(",",
          sort_array(collect_list(col("posting")))).as("postings"))
      stats.join(top, "term")
        .select("term", "df", "n_postings", "postings")
    }, Some("""
      WITH tk AS (
        SELECT doc_id,
          unnest(string_split(text, ' ')) AS term,
          unnest(range(0, len(string_split(text, ' ')))) AS pos
        FROM documents)
      SELECT term,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        CAST(count(*) AS BIGINT) AS n_postings,
        array_to_string(
          (list(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
                ORDER BY CAST(doc_id AS VARCHAR) || ':'
                         || CAST(pos AS VARCHAR)))[1:100], ',') AS postings
      FROM tk GROUP BY 1""")),

    // Per-node triangle participation + local clustering coefficient
    // over the q100 graph — exact integers, one final IEEE division.
    QueryDef("q103_clustering", (s, d) => {
      val x = col("doc_id") % 251
      val docs = t(s, d, "documents").select(x.as("x"))
      val edges = docs.select(col("x").as("src"),
          ((col("x") * 2 + 1) % 251).as("dst"))
        .union(docs.select(col("x").as("src"),
          ((col("x") * 3 + 7) % 251).as("dst")))
        .union(docs.select(col("x").as("src"),
          ((col("x") * 5 + 11) % 251).as("dst")))
      graft.graph.Triangles.perNode(edges)
    }, Some("""
      WITH x AS (SELECT doc_id % 251 AS x FROM documents),
      e0 AS (
        SELECT x AS s, (x * 2 + 1) % 251 AS d FROM x
        UNION ALL SELECT x, (x * 3 + 7) % 251 FROM x
        UNION ALL SELECT x, (x * 5 + 11) % 251 FROM x),
      und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
              FROM e0 WHERE s <> d),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS node FROM und UNION ALL SELECT b FROM und)
              GROUP BY 1),
      tri AS (SELECT e1.a AS x1, e1.b AS y1, e2.b AS z1
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      corners AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
                    SELECT x1 AS node FROM tri
                    UNION ALL SELECT y1 FROM tri
                    UNION ALL SELECT z1 FROM tri) GROUP BY 1)
      SELECT deg.node, deg.degree,
        CAST(coalesce(corners.n_tri, 0) AS BIGINT) AS n_tri,
        CASE WHEN deg.degree >= 2
             THEN CAST(coalesce(corners.n_tri, 0) * 2 AS DOUBLE)
                  / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
             ELSE 0.0 END AS lcc
      FROM deg LEFT JOIN corners ON deg.node = corners.node""")),

    // Per-document sliding windows with overlap (size 24, stride 16):
    // long-doc chunking for embedding/training-sample loaders — pure
    // integer arithmetic, one explode, scan-side.
    QueryDef("q104_sliding_windows", (s, d) => {
      graft.pack.Packing.slidingSpans(t(s, d, "documents"), "doc_id",
        size(split(col("text"), " ")), size = 24, stride = 16)
    }, Some("""
      WITH w AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          ((greatest(CAST(len(string_split(text, ' ')) AS BIGINT) - 24, 0)
            + 15) // 16) + 1 AS nw
        FROM documents),
      e AS (SELECT doc_id, n_tokens,
              unnest(range(0, nw)) AS win_id FROM w)
      SELECT doc_id, n_tokens, CAST(win_id AS BIGINT) AS win_id,
        CAST(win_id * 16 AS BIGINT) AS win_start,
        CAST(least(win_id * 16 + 24, n_tokens) AS BIGINT) AS win_end
      FROM e""")),

    // IQR outlier filter (Tukey fences per group): the standard numeric
    // data-cleaning gate. The quartile frame is dimension-sized
    // (AQE-broadcast); one corpus scan. Fence arithmetic is pinned
    // left-to-right and mirrored verbatim — IEEE ops on quartiles the
    // oracle replicates bit-for-bit via sparkQuantile (q97 contract).
    QueryDef("q105_outliers", (s, d) => {
      val ev = t(s, d, "events")
      val q = ev.groupBy("event_type").agg(
        percentile(col("value"), lit(0.25)).as("q1"),
        percentile(col("value"), lit(0.75)).as("q3"))
      ev.join(q, "event_type")
        .where(col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
          col("value") > col("q3") + (col("q3") - col("q1")) * 1.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("q1"), col("q3"))
    }, Some(s"""
      WITH s AS ($sortedValuesCte),
      q AS (
        SELECT event_type,
          ${sparkQuantile("0.25")} AS q1,
          ${sparkQuantile("0.75")} AS q3
        FROM s)
      SELECT event_id, event_type, value, q1, q3
      FROM events JOIN q USING (event_type)
      WHERE value < q1 - (q3 - q1) * 1.5
         OR value > q3 + (q3 - q1) * 1.5""")),

    // Per-group min-max feature scaling: value_norm = (v − min)/(max − min)
    // (0.0 for degenerate single-value groups) — subtraction + one
    // division, IEEE-exact, dimension-sized stats frame.
    QueryDef("q106_minmax_norm", (s, d) => {
      val ev = t(s, d, "events")
      val stats = ev.groupBy("event_type").agg(
        min("value").as("v_min"), max("value").as("v_max"))
      ev.join(stats, "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("v_max") > col("v_min"),
            (col("value") - col("v_min")) / (col("v_max") - col("v_min")))
            .otherwise(lit(0.0)).as("value_norm"))
    }, Some("""
      WITH st AS (
        SELECT event_type, min(value) AS v_min, max(value) AS v_max
        FROM events GROUP BY 1)
      SELECT event_id, event_type, value,
        CASE WHEN v_max > v_min
             THEN (value - v_min) / (v_max - v_min)
             ELSE 0.0 END AS value_norm
      FROM events JOIN st USING (event_type)""")),

    // Cohort retention: users bucketed by first-seen day, distinct-user
    // counts at each day offset — the standard engagement/retention rollup,
    // pure integer date arithmetic. The per-user cohort frame comes from a
    // user-keyed aggregate and rejoins on the same key (co-partitioned
    // after the groupBy — no second shuffle of the fact side at scale);
    // countDistinct is exact (two-phase expand).
    QueryDef("q107_cohort_retention", (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(cohorts, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }, Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
      SELECT cohort_day,
        CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM ev JOIN c USING (user_id)
      GROUP BY 1, 2""")),

    // Exact heavy hitters without shuffling the Zipf tail: per-partition
    // Misra-Gries candidates (narrow, ≤ k rows per partition) + broadcast
    // semi-filtered exact recount — output provably identical to the naive
    // GROUP BY .. HAVING the oracle runs (see HeavyHitters scaladoc for
    // the pigeonhole superset argument). Integer counts only; the
    // ceil(frac·N) threshold joins as a 1-row aggregate, no driver job.
    QueryDef("q108_heavy_hitters", (s, d) => {
      import s.implicits._
      graft.stats.HeavyHitters.frequentTokens(
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token")).as[String],
        minFrac = 0.001)
    }, Some("""
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
      SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM toks, n
      GROUP BY token, n_total
      HAVING count(*) >= ceil(0.001 * n_total)""")),

    // Equi-depth quantile binning (decile features) the scale-correct way:
    // per-group cut-points from the bit-identical exact percentile (q97
    // contract), broadcast-joined back, bin = 1 + Σ [value > c_i] — pure
    // scan-side comparisons. A within-group ntile would need the whole
    // group in one WindowExec partition (broken for web-hot groups); the
    // cut-point form never ranks, so it survives any group size. Ties land
    // deterministically in the lowest eligible bin in both engines (same
    // comparisons on the same bits).
    QueryDef("q109_quantile_bins", (s, d) => {
      val ev = t(s, d, "events")
      val cutCols = (1 to 9).map(i =>
        percentile(col("value"), lit(i / 10.0)).as(s"c$i"))
      val cuts = ev.groupBy("event_type").agg(cutCols.head, cutCols.tail: _*)
      ev.join(cuts, "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          (lit(1L) + (1 to 9).map(i => when(col("value") > col(s"c$i"), 1L)
            .otherwise(0L)).reduce(_ + _)).as("decile"))
    }, Some(s"""
      WITH s AS ($sortedValuesCte),
      q AS (
        SELECT event_type,
          ${sparkQuantile("0.1")} AS c1, ${sparkQuantile("0.2")} AS c2,
          ${sparkQuantile("0.3")} AS c3, ${sparkQuantile("0.4")} AS c4,
          ${sparkQuantile("0.5")} AS c5, ${sparkQuantile("0.6")} AS c6,
          ${sparkQuantile("0.7")} AS c7, ${sparkQuantile("0.8")} AS c8,
          ${sparkQuantile("0.9")} AS c9
        FROM s)
      SELECT event_id, event_type, value,
        CAST(1 + (CASE WHEN value > c1 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c2 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c3 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c4 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c5 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c6 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c7 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c8 THEN 1 ELSE 0 END)
          + (CASE WHEN value > c9 THEN 1 ELSE 0 END) AS BIGINT) AS decile
      FROM events JOIN q USING (event_type)""")),

    // Winsorization: clip to the per-group [p05, p95] band — the standard
    // tail-taming transform before training-statistics aggregation.
    // least/greatest over the bit-identical exact percentiles (q97
    // contract); dimension-sized stats frame, scan-side clip.
    QueryDef("q110_winsorize", (s, d) => {
      val ev = t(s, d, "events")
      val bands = ev.groupBy("event_type").agg(
        percentile(col("value"), lit(0.05)).as("p05"),
        percentile(col("value"), lit(0.95)).as("p95"))
      ev.join(bands, "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("p05")), col("p95"))
            .as("value_w"))
    }, Some(s"""
      WITH s AS ($sortedValuesCte),
      b AS (
        SELECT event_type,
          ${sparkQuantile("0.05")} AS p05,
          ${sparkQuantile("0.95")} AS p95
        FROM s)
      SELECT event_id, event_type, value,
        least(greatest(value, p05), p95) AS value_w
      FROM events JOIN b USING (event_type)""")),

    // MAD robust outliers: |v − median| > 3·MAD, the
    // breakdown-point-robust sibling of the q105 IQR fence. Two
    // dimension-sized aggregation passes (median per group, then median
    // absolute deviation per group — the deviation pass re-scans facts
    // once, unavoidable for a nested-median statistic); both medians are
    // the bit-identical exact percentile, abs/×/− are IEEE-exact and
    // mirrored left-to-right.
    QueryDef("q111_mad_outliers", (s, d) => {
      val ev = t(s, d, "events")
      val med = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val mad = ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      ev.join(mad, "event_type")
        .where(abs(col("value") - col("med")) > col("mad") * 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"))
    }, Some(s"""
      WITH s AS ($sortedValuesCte),
      m AS (SELECT event_type, ${sparkQuantile("0.5")} AS med FROM s),
      dv AS (
        SELECT event_type, med,
          list(abs(value - med) ORDER BY abs(value - med))
            FILTER (WHERE value IS NOT NULL) AS vs,
          CAST(count(value) AS BIGINT) AS n
        FROM events JOIN m USING (event_type) GROUP BY 1, 2),
      md AS (
        SELECT event_type, med, ${sparkQuantile("0.5")} AS mad FROM dv)
      SELECT event_id, event_type, value, med, mad
      FROM events JOIN md USING (event_type)
      WHERE abs(value - med) > mad * 3.0""")),

    // Rolling 7-day activity per user: pre-aggregate to (user, day) FIRST
    // — the shuffle is dimension-sized (active user-days), not
    // event-sized — then a RANGE window over at most one row per day.
    // Partition key = user_id (high-cardinality, naturally bounded per
    // user), so no web-hot-group hazard; integer counts only.
    QueryDef("q112_rolling_window", (s, d) => {
      val daily = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n_day"))
      val w = Window.partitionBy("user_id").orderBy("day_i")
        .rangeBetween(-6, 0)
      daily
        .withColumn("day_i", datediff(col("day"), to_date(lit("1970-01-01")))
          .cast("long"))
        .withColumn("n_7d", sum("n_day").over(w))
        .select(col("user_id"), col("day"), col("n_day"), col("n_7d"))
    }, Some("""
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS n_day
        FROM events GROUP BY 1, 2)
      SELECT user_id, day, n_day,
        CAST(sum(n_day) OVER (PARTITION BY user_id ORDER BY day
          RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
          AS BIGINT) AS n_7d
      FROM daily""")),

    // Greedy per-source token-budget selection (quota fill): docs taken in
    // md5-priority order until each source's budget is reached — the
    // exact-budget sibling of q89's rate sampling. The Spark side NEVER
    // runs the naive per-source running-sum window (web-hot-source
    // serialization): an order-aligned 256-bucket priority histogram
    // locates the boundary bucket per source and only that bucket's docs
    // (expected 1/256 of the source) enter an exact window — provably the
    // same output (see Quota scaladoc). The oracle IS the naive window.
    QueryDef("q113_token_quota", (s, d) => {
      graft.sample.Quota.selectByTokenBudget(t(s, d, "documents"),
        "doc_id", "source", size(split(col("text"), " ")),
        budgetFrac = 0.5)
    }, Some("""
      WITH t AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            AS pri
        FROM documents),
      b AS (SELECT source,
              CAST(ceil(0.5 * CAST(sum(n_tokens) AS DOUBLE)) AS BIGINT)
                AS budget
            FROM t GROUP BY 1),
      c AS (SELECT *, COALESCE(sum(n_tokens) OVER (PARTITION BY source
              ORDER BY pri, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
            FROM t)
      SELECT c.doc_id, c.source, c.n_tokens
      FROM c JOIN b USING (source)
      WHERE c.pre < b.budget""")),

    // Interval-overlap range join: events (short activity intervals) ×
    // twice-daily per-type windows, keyed by event_type. The Spark side
    // NEVER evaluates the range predicate as a nested loop: IntervalJoin
    // bins the time axis (1h buckets) and equi-joins on (type, bucket)
    // with first-shared-bucket dedup. All arithmetic in integer epoch
    // micros (exact in both engines; session TZ is UTC so unix_micros ==
    // DuckDB epoch_us on the NTZ-loaded parquet timestamps). The oracle
    // IS the naive inequality join.
    QueryDef("q115_interval_join", (s, d) => {
      val ev = t(s, d, "events")
      val left = ev.select(col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ls"))
        .withColumn("le", col("ls") +
          (lit(60L) + pmod(col("event_id"), lit(540L))) * lit(1000000L))
      val wins = ev.select(col("event_type"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("w", explode(array(lit(0L), lit(1L))))
        .withColumn("rs",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long")
            * lit(86400000000L) + col("w") * lit(43200000000L)
            + lit(28800000000L))
        .withColumn("re", col("rs") + lit(7200000000L))
      graft.operators.IntervalJoin.overlapJoin(left, wins,
          Seq("event_type"), "ls", "le", "rs", "re",
          binWidth = 3600000000L)
        .select(col("event_id"), col("event_type"), col("day"), col("w"),
          (least(col("le"), col("re"))
            - greatest(col("ls"), col("rs"))).as("overlap_us"))
    }, Some("""
      WITH l AS (
        SELECT event_id, event_type, epoch_us(ts) AS ls,
          epoch_us(ts) + (60 + event_id % 540) * 1000000 AS le
        FROM events),
      dd AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
             FROM events),
      r AS (SELECT event_type, day, CAST(t.w AS BIGINT) AS w,
              CAST(day - DATE '1970-01-01' AS BIGINT) * 86400000000
                + CAST(t.w AS BIGINT) * 43200000000 + 28800000000 AS rs
            FROM dd, (VALUES (0), (1)) t(w)),
      r2 AS (SELECT *, rs + 7200000000 AS re FROM r)
      SELECT l.event_id, l.event_type, r2.day, r2.w,
        least(l.le, r2.re) - greatest(l.ls, r2.rs) AS overlap_us
      FROM l JOIN r2 ON l.event_type = r2.event_type
        AND l.ls <= r2.re AND r2.rs <= l.le""")),

    // Edit-distance-1 entity-name matching (canonicalization fuzzy join):
    // supplier labels plus deterministic single-character-deleted variants
    // (ids offset by 1e6) self-joined within Levenshtein 1 via FastSS
    // deletion-neighborhood blocking — candidates come from an equi-join
    // on hashed delete-1 variants, never a cross join; the oracle IS the
    // (length-banded) cross join.
    QueryDef("q116_fuzzy_names", (s, d) => {
      val basis = t(s, d, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val pos = pmod(col("id"), lit(7L)) + lit(2L)
      val extra = basis.where(pmod(col("id"), lit(3L)) === 0)
        .select((col("id") + lit(1000000L)).as("id"),
          concat(col("name").substr(lit(1L), pos - 1),
            col("name").substr(pos + 1, length(col("name")).cast("long")))
            .as("name"))
      graft.operators.FuzzyJoin.selfJoinWithin1(
        basis.unionByName(extra), "id", "name")
    }, Some("""
      WITH basis AS (SELECT s_suppkey AS id, s_name AS name FROM supplier),
      extra AS (
        SELECT id + 1000000 AS id,
          substr(name, 1, CAST(id % 7 + 1 AS INT)) ||
          substr(name, CAST(id % 7 + 3 AS INT), len(name)) AS name
        FROM basis WHERE id % 3 = 0),
      n AS (SELECT * FROM basis UNION ALL SELECT * FROM extra)
      SELECT a.id AS a_id, a.name AS a_name, b.id AS b_id, b.name AS b_name,
        CAST(levenshtein(a.name, b.name) AS INT) AS dist
      FROM n a JOIN n b
        ON a.id < b.id AND abs(len(a.name) - len(b.name)) <= 1
      WHERE levenshtein(a.name, b.name) <= 1""")),

    // Exact dedup: canonical id per identical text.
    QueryDef("q18_exact_dedup", (s, d) => {
      graft.dedup.Dedup.exact(t(s, d, "documents"), "doc_id", "text")
    }, Some("""
      SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_dups
      FROM documents GROUP BY text""")),

    // A6/A7: co-occurrence disproportionality with planted signal.
    QueryDef("q19_signals", (s, d) => {
      Disproportionality.signals(pairsDf(s, d), "exposure", "outcome")
        .select(col("exposure"), col("outcome"), col("a"),
          col("exposure_n"), col("outcome_n"),
          col("prr"), col("ror"), col("chi2"))
    }, Some(s"""
      $signalStatsSql
      SELECT exposure, outcome, a, exposure_n, outcome_n, prr, ror, chi2
      FROM st WHERE prr > 1.0 AND chi2 > 3.84""")),

    // A6 salted two-phase aggregation at data scale: same signals, but the
    // co-occurrence count runs as (exposure, outcome, salt) partials summed
    // in a second stage — one web-hot pair spreads over 8 reducers instead
    // of serializing on one. Counts are salt-invariant integers, so the
    // oracle is IDENTICAL to q19's: a hash mismatch means the salted path
    // broke determinism.
    QueryDef("q74_signals_salted", (s, d) => {
      Disproportionality.signals(pairsDf(s, d), "exposure", "outcome",
          saltBuckets = 8)
        .select(col("exposure"), col("outcome"), col("a"),
          col("exposure_n"), col("outcome_n"),
          col("prr"), col("ror"), col("chi2"))
    }, Some(s"""
      $signalStatsSql
      SELECT exposure, outcome, a, exposure_n, outcome_n, prr, ror, chi2
      FROM st WHERE prr > 1.0 AND chi2 > 3.84""")),

    // T2 over signals: top-k outcomes per exposure by chi².
    QueryDef("q20_signal_topk", (s, d) => {
      val sig = Disproportionality.signals(pairsDf(s, d), "exposure", "outcome")
      Disproportionality.topKPerExposure(sig, 3)
        .select(col("exposure"), col("outcome"), col("rank"))
    }, Some(s"""
      $signalStatsSql
      SELECT exposure, outcome, rank FROM (
        SELECT exposure, outcome,
          ROW_NUMBER() OVER (PARTITION BY exposure
            ORDER BY chi2 DESC, outcome) AS rank
        FROM st WHERE prr > 1.0 AND chi2 > 3.84)
      WHERE rank <= 3""")),

    // Named tool parity: per-exposure FAERS signal lookup (reference
    // get_drug_faers_signals — tools/adverse_events.py:179-216). Same
    // stats CTE as q19; the tool adds the per-exposure filter, the
    // count/PRR gates and the PRR-descending top-k (total order within
    // the exposure via the outcome tie-break, so the LIMIT is
    // deterministic).
    QueryDef("q80_faers_tool", (s, d) => {
      Disproportionality.faersSignals(pairsDf(s, d), "exposure", "outcome",
          exposure = "error", topK = 3, minCount = 5,
          minPrr = Some(1.05))
        .select(col("exposure"), col("outcome"), col("a"),
          col("prr"), col("ror"), col("chi2"))
    }, Some(s"""
      $signalStatsSql
      SELECT exposure, outcome, a, prr, ror, chi2
      FROM st
      WHERE prr > 1.0 AND chi2 > 3.84
        AND exposure = 'error' AND a >= 5 AND prr >= 1.05::DOUBLE
      ORDER BY prr DESC, outcome LIMIT 3""")),

    // A10: deterministic dense key assignment (distributed, offset-based).
    QueryDef("q21_dense_keys", (s, d) => {
      KeyAssigner.assign(t(s, d, "documents").select(col("source")), "source")
    }, Some("""
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS key
      FROM (SELECT DISTINCT source FROM documents)""")),

    // Streaming-shaped: tumbling-window counts (batch form of A6-stream).
    QueryDef("q27_window_counts", (s, d) => {
      t(s, d, "events").groupBy(
          window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
    }, Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY 1, 2""")),

    // S10-analogue: JSON field extraction from a string column.
    QueryDef("q32_json_extract", (s, d) => {
      t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }, Some("""
      SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events""")),

    // Sessionization: gap > 30 min starts a new session per user.
    QueryDef("q33_sessionize", (s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gap = (unix_timestamp(col("ts"))
        - unix_timestamp(lag(col("ts"), 1).over(byUser)))
      t(s, d, "events")
        .withColumn("new_session",
          when(gap.isNull || gap > 1800, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("session_idx"))
    }, Some("""
      SELECT user_id, event_id,
        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_idx
      FROM (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
            OR date_diff('second',
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
               > 1800
          THEN 1 ELSE 0 END AS new_session
        FROM events)""")),

    // P18 affinity parse + P19 score mappings: Spark must PARSE
    // relation-prefixed / comma-grouped affinity strings built from part
    // columns; the oracle constructs the numeric value directly by
    // arithmetic, so only a correct parse matches. The pX strength
    // (9 − log10(nM) − 4)/6 clamp is compared in exact integer micro-units
    // (floor(px·1e6)) — verified bit-stable between Java's and DuckDB's
    // log10 over the full reachable input set before relying on it.
    QueryDef("q66_affinity_scores", (s, d) => {
      val pfx = element_at(array(lit(""), lit(">"), lit("<"), lit("~")),
        (col("p_partkey") % 4 + 1).cast("int"))
      val digit = (col("p_partkey") % 10).cast("string")
      val affStr = concat(pfx, col("p_size").cast("string"), lit("."), digit)
      val commaStr = concat(lit("1,"), col("p_size").cast("string"),
        lit("."), digit)
      val nM = TextFunctions.affinityNm(affStr)
      t(s, d, "part").select(
        col("p_partkey"),
        nM.as("affinity_nm"),
        TextFunctions.affinityNm(commaStr).as("comma_nm"),
        floor(TextFunctions.pxStrength(nM) * lit(1e6)).cast("long")
          .as("px_micro"),
        TextFunctions.classificationScore(col("p_brand"),
          Map("brand#11" -> 1.0, "brand#22" -> 0.8))
          .as("class_score"))
    }, Some("""
      SELECT p_partkey,
        (p_size || '.' || (p_partkey % 10))::DOUBLE AS affinity_nm,
        ('1' || p_size || '.' || (p_partkey % 10))::DOUBLE AS comma_nm,
        CAST(floor(greatest(least(
          (9.0::DOUBLE - log10((p_size || '.' || (p_partkey % 10))::DOUBLE)
            - 4.0::DOUBLE) / 6.0::DOUBLE,
          1.0::DOUBLE), 0.0::DOUBLE) * 1e6) AS BIGINT) AS px_micro,
        CASE WHEN lower(trim(p_brand)) = 'brand#11' THEN 1.0::DOUBLE
             WHEN lower(trim(p_brand)) = 'brand#22' THEN 0.8::DOUBLE
             ELSE 0.5::DOUBLE END AS class_score
      FROM part""")),

    // Skip-gram (center, context) pair counts within a forward window of
    // 2 (see Ngrams scaladoc): the word2vec training-pair statistic,
    // generated inside the projection via zip_with over offset slices —
    // NO positional self-join; the only shuffle is the count aggregate.
    // The oracle IS the naive positional self-join.
    QueryDef("q163_skipgram", (s, d) => {
      graft.text.Ngrams.skipGramPairs(
        t(s, d, "documents"), split(col("text"), " "),
        maxSkip = 2, minCount = 10)
    }, Some("""
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents),
      pos AS (SELECT toks, CAST(i AS INT) AS i
              FROM tk, unnest(range(1, len(toks) + 1)) AS t(i)),
      p AS (
        SELECT toks[i] AS w_center, toks[i + k] AS w_context
        FROM pos CROSS JOIN (SELECT CAST(unnest([1, 2]) AS INT) AS k)
        WHERE i + k <= len(toks))
      SELECT w_center, w_context, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2 HAVING count(*) >= 10""")),

    // BPE merge-candidate scoring (see Ngrams scaladoc): adjacent
    // character-pair counts over every token occurrence — the argmax of
    // this table IS the next BPE merge. Pairs generated by an array HOF
    // per word; single count shuffle.
    QueryDef("q164_bpe_pairs", (s, d) => {
      graft.text.Ngrams.bpePairCounts(
        t(s, d, "documents"), split(col("text"), " "), minCount = 10)
    }, Some("""
      WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents),
      w2 AS (SELECT w FROM w0 WHERE length(w) >= 2),
      p AS (SELECT substring(w, CAST(i AS INT), 2) AS pair
            FROM w2, unnest(range(1, length(w))) AS t(i))
      SELECT pair, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1 HAVING count(*) >= 10""")),

    // Cross-language vocabulary overlap: per-language distinct-term sets
    // compared pairwise by exact Jaccard — the corpus-divergence check
    // behind multilingual mixture design (a contaminated language split
    // shows up as an overlap spike). Counts exact BIGINT from ONE
    // distinct pass; jaccard is one IEEE division.
    QueryDef("q167_vocab_overlap", (s, d) => {
      val p = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .distinct()
      val sizes = p.groupBy("lang").agg(count(lit(1)).as("sz"))
      p.as("a").join(p.as("b"),
          col("a.term") === col("b.term") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("lang").as("lang_a"), col("sz").as("sz_a")),
          Seq("lang_a"))
        .join(sizes.select(col("lang").as("lang_b"), col("sz").as("sz_b")),
          Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("inter"),
          (col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
            .as("jaccard"))
    }, Some("""
      WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
      p AS (SELECT DISTINCT lang, term FROM tk),
      s AS (SELECT lang, CAST(count(*) AS BIGINT) AS sz FROM p GROUP BY 1),
      i AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
              CAST(count(*) AS BIGINT) AS inter
            FROM p a JOIN p b ON a.term = b.term AND a.lang < b.lang
            GROUP BY 1, 2)
      SELECT lang_a, lang_b, inter,
        CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
          AS jaccard
      FROM i JOIN s sa ON lang_a = sa.lang JOIN s sb ON lang_b = sb.lang""")),

    // Vocabulary coverage / OOV rate per language under a top-10 global
    // vocabulary (the tokenizer-design question: how much token MASS does
    // a K-entry vocab cover per split?). The vocab rank runs over the
    // DIMENSION-sized term-count table and broadcasts back; all counts
    // exact, the rate one IEEE division.
    QueryDef("q176_vocab_coverage", (s, d) => {
      val tk = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      val tot = tk.groupBy("lang").agg(count(lit(1)).as("n_tokens"))
      // global top-k via orderBy+limit = TakeOrderedAndProject (the
      // per-partition-heap physical top-k), never a global rank window
      val topk = tk.groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(10).select("term")
      val cov = tk.join(broadcast(topk), Seq("term"), "left_semi")
        .groupBy("lang").agg(count(lit(1)).as("n_cov"))
      tot.join(cov, Seq("lang"), "left")
        .select(col("lang"), col("n_tokens"),
          coalesce(col("n_cov"), lit(0L)).as("n_cov"),
          ((col("n_tokens") - coalesce(col("n_cov"), lit(0L)))
            .cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
    }, Some("""
      WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
      tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
              FROM tk GROUP BY 1),
      tc AS (SELECT term, count(*) AS c FROM tk GROUP BY 1),
      topk AS (SELECT term FROM (
          SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk
          FROM tc) WHERE rk <= 10),
      cov AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cov
              FROM tk JOIN topk USING (term) GROUP BY 1)
      SELECT lang, n_tokens,
        CAST(coalesce(n_cov, 0) AS BIGINT) AS n_cov,
        CAST(n_tokens - coalesce(n_cov, 0) AS DOUBLE)
          / CAST(n_tokens AS DOUBLE) AS oov_rate
      FROM tot LEFT JOIN cov USING (lang)""")),

    // Sorted-neighborhood dedup candidates (see SortedNeighborhood
    // scaladoc): prefix-aligned near-dup pairs from adjacent records in
    // block-partitioned sort order, LCP by a freeze-at-first-mismatch
    // array fold — the O(n log n) blocking family beside LSH.
    QueryDef("q178_snm_candidates", (s, d) => {
      graft.dedup.SortedNeighborhood.candidates(
        t(s, d, "documents"), col("doc_id"), col("text"),
        prefixLen = 4, minLcp = 4)
    }, Some("""
      WITH r AS (SELECT doc_id AS id, text AS k,
               substring(text, 1, 4) AS block FROM documents),
      p AS (SELECT id, k, lead(id) OVER w AS id_b, lead(k) OVER w AS k_b
            FROM r WINDOW w AS (PARTITION BY block ORDER BY k, id)),
      pl AS (SELECT id AS id_a, id_b, k, k_b,
               least(length(k), length(k_b)) AS l
             FROM p WHERE id_b IS NOT NULL),
      pos AS (SELECT id_a, id_b, CAST(i AS INT) AS i,
                substring(k, CAST(i AS INT), 1) AS ca,
                substring(k_b, CAST(i AS INT), 1) AS cb
              FROM pl, unnest(range(1, l + 1)) AS t(i)),
      agg AS (SELECT id_a, id_b,
                min(CASE WHEN ca <> cb THEN i END) AS firstdiff
              FROM pos GROUP BY 1, 2)
      SELECT pl.id_a, pl.id_b,
        CAST(coalesce(agg.firstdiff - 1, pl.l) AS BIGINT) AS lcp
      FROM pl LEFT JOIN agg USING (id_a, id_b)
      WHERE coalesce(agg.firstdiff - 1, pl.l) >= 4"""))
  )
}
