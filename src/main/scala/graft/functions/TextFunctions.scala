package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import StatCols.sumInOrder

/** Text-analysis column functions for training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting. All are
  * pure Column pipelines over built-ins (codegen'd; no UDFs) so they stay
  * inside WholeStageCodegen on the 100 TB scan path.
  */
object TextFunctions {

  // the pinned whitespace class (TextExtractor.WsClass): built-in trim()
  // strips ONLY ' ', so a tab/newline-separated doc would miscount under
  // the naive trim+split-on-spaces version these replaced
  private val Ws = graft.extract.TextExtractor.WsClass
  private def trimWs(c: Column): Column =
    graft.extract.TextExtractor.stripCol(c)

  /** Whitespace token count (runs of the pinned ws class separate tokens).
    * Empty/blank text → 0. */
  def tokenCount(text: Column): Column = {
    val t = trimWs(text)
    when(length(t) === 0, lit(0)).otherwise(size(split(t, Ws + "+")))
  }

  /** BPE-ish subword count: words + digits runs + punctuation marks counted
    * separately (a cheap, deterministic proxy for tokenizer cost). The
    * punctuation class excludes the WHOLE pinned ws class, not just ' ' —
    * tabs/newlines must not count as punctuation subwords when the other
    * docStats columns treat them as token separators. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + Ws.substring(1)), lit(0)))

  /** Mean token length over the same ws-class tokens (0.0 for empty). */
  def meanTokenLen(text: Column): Column = {
    val t = trimWs(text)
    val toks = split(t, Ws + "+")
    when(length(t) === 0, lit(0.0)).otherwise(
      sumInOrder(toks)(tk => length(tk).cast("double"))
        / size(toks).cast("double"))
  }

  private val EnStop = Seq("the", "a", "and", "of", "to", "in", "is", "that")
  private val EsStop = Seq("el", "la", "de", "que", "y", "en", "los", "del")
  private val DeStop = Seq("der", "die", "und", "das", "nicht", "ist", "von", "mit")

  private def stopHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text),
      lit(words.mkString("\\b(", "|", ")\\b")), lit(0)))

  /** Quality score in [0,1]: blend of length band, alpha ratio and stopword
    * density (the reference's length/field gates generalized —
    * reference:src/kg_ae/datasets/faers/parse.py:92-99 len>1 gates). */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val lenScore = least(n / lit(500.0), lit(1.0))
    val alpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0)))
      .cast("double") / greatest(n, lit(1.0))
    val stopDensity = least(
      stopHits(text, EnStop).cast("double") * lit(25.0) / greatest(n, lit(1.0)),
      lit(1.0))
    least(greatest(
      lenScore * lit(0.3) + alpha * lit(0.4) + stopDensity * lit(0.3),
      lit(0.0)), lit(1.0))
  }

  /** Heuristic language ID over stopword hit counts (n-gram-free, cheap).
    * Returns "en"/"es"/"de"/"und". Deterministic ties: en > es > de. */
  def langId(text: Column): Column = {
    val en = stopHits(text, EnStop)
    val es = stopHits(text, EsStop)
    val de = stopHits(text, DeStop)
    when(en === 0 && es === 0 && de === 0, lit("und"))
      .when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Rolling polynomial fingerprint over the token sequence, computed in
    * the prime field mod 1e9+7 (ANSI-safe: no Long overflow — acc·B + h
    * stays < 2^60). Order-sensitive (unlike a bag hash); one aggregate
    * pass, fully codegen'd. */
  def fingerprint(text: Column, base: Long = 1000003L): Column = {
    val p = 1000000007L
    // SAME ws-class tokens as tokenCount/meanTokenLen: docStats columns
    // must describe one token sequence (space-vs-tab separators would
    // otherwise fingerprint differently while the stats said identical)
    val toks = split(trimWs(text), Ws + "+")
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * lit(base) + pmod(xxhash64(t), lit(p)), lit(p)))
  }

  /** Portable rolling fingerprint: same polynomial-mod-prime structure as
    * [[fingerprint]] but the per-token value is the first 8 hex chars of
    * md5(token) — recomputable by external SQL engines (the driver's DuckDB
    * oracle), so the fingerprint op is oracle-checkable end-to-end. Splits
    * on single spaces (empty tokens included) to keep the mirror trivial. */
  def fingerprintPortable(text: Column): Column = {
    val p = 1000000007L
    val vals = transform(split(text, " "),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    aggregate(vals, lit(0L),
      (acc, v) => pmod(acc * lit(31L) + v, lit(p)))
  }

  /** Bounded token array for the repetition stats: the pinned ws-class
    * split, capped at `maxTokens` elements. The cap bounds the per-row
    * cost of the quadratic n-gram counting below against adversarial
    * megabyte docs — Gopher-style repetition signals saturate long before
    * 2048 tokens, so the cap changes no filtering decision. Empty/blank
    * text → empty array (split would yield [""]). */
  def wsTokens(text: Column, maxTokens: Int = 2048): Column = {
    val t = trimWs(text)
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(slice(split(t, Ws + "+"), 1, maxTokens))
  }

  /** Single-space-split token variant of [[wsTokens]] (empty tokens
    * included) — trivially mirrored by external SQL engines, the same
    * portability contract as [[fingerprintPortable]]. */
  def spaceTokens(text: Column, maxTokens: Int = 2048): Column =
    slice(split(text, " "), 1, maxTokens)

  /** Repeated-token fraction: 1 − distinct/total over the token array
    * (0.0 for empty). The word-level analogue of Gopher's duplicate-line
    * fraction for corpora whose docs are single-paragraph streams. */
  def dupTokenFrac(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      lit(1.0) -
        size(array_distinct(toks)).cast("double") /
        size(toks).cast("double"))

  /** Fraction of the doc's token n-grams occupied by its single most
    * frequent n-gram (the Gopher top-n-gram repetition signal). 0.0 when
    * the doc has fewer than n tokens.
    *
    * Implemented as sort + longest-equal-run fold: O(g log g) per row with
    * the gram array built ONCE (inside array_sort). The obvious
    * distinct×filter nesting is a trap at two levels — it is
    * O(distinct × g) comparisons, and because higher-order functions are
    * CodegenFallback, the interpreted inner lambda RE-EVALUATES the whole
    * gram-construction subtree (split + concat_ws per token) for every
    * distinct gram, turning a 100-token row into ~10⁶ string builds; a
    * single bench pass over sf0.1 sat minutes deep in StringSplit before
    * this rewrite. The `when` guard must short-circuit BEFORE ngrams'
    * sequence() below: sequence(1, size−n+1) with size < n would descend.
    */
  def topNgramFrac(toks: Column, n: Int): Column = {
    val sorted = array_sort(ngrams(toks, n))
    // fold state: (prev gram, current run, best run). run=0 marks the
    // initial state so a first gram equal to the "" sentinel still counts
    // as a fresh run of 1.
    val best = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev") && acc("run") > 0, acc("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    // gram count is size(toks) − n + 1 by construction — no need to
    // rebuild the array to measure it
    when(size(toks) < n, lit(0.0))
      .otherwise(best.cast("double") /
        (size(toks) - lit(n - 1)).cast("double"))
  }

  /** Word n-gram array over a token array: gram i = toks[i..i+n−1] joined
    * by single spaces; empty array when the doc has fewer than n tokens
    * (the `when` guard short-circuits before sequence() could descend).
    * Shared by the repetition stats above and [[graft.dedup.Decontaminate]]. */
  def ngrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    if (n == 1) toks
    else when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ",
          (0 until n).map(k => element_at(toks, i + lit(k))): _*)))
  }

  // ---- PII scrubbing -------------------------------------------------
  // Patterns deliberately restricted to syntax shared by Java regex and
  // RE2-class engines (no lookaround, no backreferences) so the DuckDB
  // oracle replays them verbatim. Redaction must run emails FIRST: the
  // local-part/domain swallow digit runs and dotted hosts that the phone
  // and IPv4 patterns would otherwise half-match.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Redact emails, phone numbers and IPv4 addresses to typed placeholder
    * tokens. Replace-all, pure codegen'd regexp_replace chain — scan-side
    * work on the corpus path, no shuffle. Placeholders are single tokens
    * so downstream token stats stay well-defined on scrubbed text. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Portable deterministic hash bucket in [0, nBuckets): the first 8 hex
    * chars of md5(key) as an integer, mod nBuckets. Recomputable by any
    * SQL engine (the [[fingerprintPortable]] contract), so held-out
    * splits derived from it are reproducible OUTSIDE Spark — the property
    * a training-data split must have. Keyed on a stable id (url/doc key),
    * never on position: membership survives re-partitioning, re-ordering
    * and incremental corpus growth. */
  def hashBucket(key: Column, nBuckets: Int): Column = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(nBuckets.toLong))
  }

  /** Deterministic train/valid/test assignment by [[hashBucket]] over 100
    * buckets: [0,trainPct) → train, [trainPct,trainPct+validPct) → valid,
    * rest → test. */
  def hashSplit(key: Column, trainPct: Int = 98, validPct: Int = 1): Column = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"invalid split percentages: train=$trainPct valid=$validPct")
    val b = hashBucket(key, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + validPct, lit("valid"))
      .otherwise(lit("test"))
  }

  /** Affinity string → nM parse (P18, reference:src/kg_ae/datasets/
    * bindingdb/normalize.py:33-44): strip `>`, `<`, `=`, `~` and commas,
    * tolerant float cast, positive-only (null otherwise). */
  def affinityNm(c: Column): Column = {
    val v = regexp_replace(trim(c), "[><=~,]", "").try_cast("double")
    when(v > 0.0, v)
  }

  /** pX strength score (P19, reference:bindingdb/normalize.py:47-54):
    * clamp((9 − log10(nM) − 4) / 6, 0, 1) — affinity to [0,1] strength. */
  def pxStrength(nM: Column): Column =
    greatest(least((lit(9.0) - log10(nM) - lit(4.0)) / lit(6.0), lit(1.0)),
      lit(0.0))

  /** Classification → score mapping with default (P19,
    * reference:clingen/normalize.py:17-26): a when-chain over a literal
    * dictionary, defaulting to 0.5. */
  def classificationScore(c: Column, mapping: Map[String, Double],
      default: Double = 0.5): Column =
    mapping.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(lower(trim(c)) === k.toLowerCase(java.util.Locale.ROOT), v)
        .otherwise(acc)
    }

  /** All document stats at once (single projection). */
  def docStats(text: Column): Seq[(String, Column)] = Seq(
    "n_tokens" -> tokenCount(text),
    "n_subwords" -> subwordCount(text),
    "mean_token_len" -> meanTokenLen(text),
    "quality" -> qualityScore(text),
    "lang_id" -> langId(text),
    "fingerprint" -> fingerprint(text))
}
