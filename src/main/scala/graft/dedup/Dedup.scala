package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.canon.ConnectedComponents
import graft.operators.{Cut, Spread}

/** Large-scale document deduplication suite — exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. All pure DataFrame/built-in-function pipelines
  * (xxhash64 is codegen'd), designed so every stage is a bounded shuffle:
  * shingle explosion is linear in corpus tokens, LSH banding turns the
  * quadratic pair search into per-bucket joins, and bucket sizes are capped
  * to keep any skewed boilerplate cluster from exploding a single reducer.
  */
object Dedup {

  /** Exact dedup: canonical row per identical `textCol` = min idCol, with
    * the group size. Hash-first (see [[textGroups]]): the shuffle key is
    * xxhash64(text), 8 bytes instead of the document body. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactWithHashes(docs, idCol, textCol, keyHash, checkHash)

  /** The shuffle key of the hash-first grouping and the independent second
    * hash that checks it for collisions. */
  private val keyHash: Column => Column = t => xxhash64(t)
  private val checkHash: Column => Column = t => xxhash64(t, lit(7))

  /** [[exact]] with injectable hash functions (tests force collisions to
    * pin the full-text fallback path). */
  private[graft] def exactWithHashes(docs: DataFrame, idCol: String,
      textCol: String, h1: Column => Column, h2: Column => Column): DataFrame =
    textGroups(docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"),
        h1(col(textCol)).as("_h"), h2(col(textCol)).as("_h2")),
      keepText = false)._1
      .select(col("rep").as("canonical_id"), col("n").as("n_dups"))

  /** The one hash-first exact-duplicate grouping, under [[exact]] and the
    * near-dup pipelines. `hashed` holds (doc_id, _text) and the two text
    * hashes (_h, _h2). Returns one cut row (_h, rep, n) per distinct text
    * — rep = min doc_id, n = member count — plus, with `keepText`, the
    * text itself: min_by carries it as an aggregation VALUE, so partial
    * aggregation keeps one text per (hash, input partition) and the
    * shuffle key stays 8 bytes. Also returns the keys that map a doc to
    * its row: `_h`, or (`_h`, `_text`) when a group collided.
    *
    * A group whose members disagree on the second hash holds ≥2 distinct
    * texts. The job that cuts the groups counts those; only when there are
    * any does the plan re-group their rows on the full text (broadcast
    * semi-join of the collided hash set, then an agg over a near-empty
    * input), so the common plan has no collision branch. Two texts
    * colliding on BOTH 64-bit hashes (~2⁻¹²⁸) are accepted as equal — the
    * standard content-hash dedup contract. */
  private def textGroups(hashed: DataFrame,
      keepText: Boolean): (DataFrame, Seq[String]) = {
    val text = if (keepText) Seq("_text") else Nil
    val (agg, collided) = Cut.materialize(hashed.groupBy("_h").agg(
      min(col("_h2")).as("_a"), max(col("_h2")).as("_b") +:
        min(col("doc_id")).as("rep") +: count(lit(1)).as("n") +:
        text.map(t => min_by(col(t), col("doc_id")).as(t)): _*))(
      _ => _.count(r => r.get(1) != r.get(2)))
    val cols = (Seq("_h", "rep", "n") ++ text).map(col)
    val clean = agg.where(col("_a") === col("_b")).select(cols: _*)
    if (collided.sum == 0) (clean, Seq("_h"))
    else {
      val resolved = hashed
        .join(broadcast(agg.where(col("_a") =!= col("_b")).select(col("_h"))),
          Seq("_h"), "left_semi")
        .groupBy(col("_h"), col("_text"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
        .select(cols: _*)
      (clean.unionByName(resolved), Seq("_h", "_text"))
    }
  }

  /** A corpus collapsed to its distinct texts: `members` (doc_id, rep, n)
    * maps every doc to its text group's min id and size, `reps`
    * (doc_id, _text) holds each group's min id and text. */
  private[graft] final case class Collapse(members: DataFrame, reps: DataFrame)

  /** Exact-duplicate collapse of the near-dup pipelines, over the one
    * grouping ([[textGroups]]); `h1`/`h2` are the same test seam as
    * [[exactWithHashes]]'s. The corpus is read once: the hashed rows are
    * cut, and both the grouping and `members` read the cut. */
  private[graft] def collapse(docs: DataFrame, idCol: String, textCol: String,
      h1: Column => Column = keyHash,
      h2: Column => Column = checkHash): Collapse = {
    // LOUD contract check: the near-dup pipelines resolve canonical ids
    // through ConnectedComponents, whose roots are Long — a string/UUID id
    // would either throw mid-job (ANSI cast) or silently null out every id
    // (non-ANSI). Fail at plan build with the remedy instead.
    // resolve through the analyzer (docs.select honors the session's
    // case-insensitive column resolver; docs.schema(idCol) would throw a
    // bare 'does not exist' on a case-mismatched name before the
    // intended message). Scale-0 decimals up to 18 digits cast to Long
    // exactly (typical JDBC NUMBER ids), so they pass too.
    val idType = docs.select(col(idCol)).schema.head.dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 && d.precision <= 18
      case _ => false
    }
    require(integral,
      s"near-dup dedup needs an integral id column, got $idType for " +
        s"'$idCol' — pre-assign dense long ids (KeyAssigner.assign) or " +
        "xxhash64 the id first (exact() has no such constraint)")
    val rows = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_text"), h1(col(textCol)).as("_h"),
      h2(col(textCol)).as("_h2")).transform(Cut.large)
    val (groups, keys) = textGroups(rows, keepText = true)
    // 8-byte join keys: the text is pruned unless a group collided
    val members = rows.select(("doc_id" +: keys).map(col): _*)
      .join(groups.select((keys ++ Seq("rep", "n")).map(col): _*), keys)
      .select(col("doc_id"), col("rep"), col("n"))
    // spread the groups: their AQE-coalesced output is 1-2 partitions on a
    // small corpus, and the per-rep shingle work downstream would run
    // near-serially. An explicit cluster-width repartition is exempt from
    // AQE coalescing; at scale the aggregate output is wide anyway and one
    // extra exchange of the distinct-text table is noise.
    val reps = groups.select(col("rep").as("doc_id"), col("_text"))
      .transform(Spread.orderFree)
    Collapse(members, reps)
  }

  /** Word k-gram shingles of a text column as an array column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < k, array(text)) // short docs: whole text is the shingle
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
  }

  /** The (doc_id, shingle, sz) table of `docs`: one row per distinct word
    * k-shingle of a doc, sz being the doc's count of them, cut. One
    * exchange on doc_id serves both the distinct and the count. The
    * MinHash signatures, the PPJoin ranking and the exact Jaccard verify
    * all read this one table; its consumers prune different columns, so
    * their exchanges are not identical subtrees and ReuseExchange cannot
    * dedupe them — without the cut the interpreted shingle explode would
    * re-run per consumer. */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), k)).as("shingle"))
      .repartition(col("doc_id")).distinct()
      .withColumn("sz",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .transform(Cut.large)

  /** MinHash signatures: n independent 64-bit min-hashes per doc.
    * Hash family: xxhash64(shingle, seed_i).
    *
    * Computed as explode + n min-AGGREGATES, not as n array-HOF passes per
    * row: higher-order functions are CodegenFallback, while explode and
    * the n declarative min buffers whole-stage-codegen. The per-doc
    * partial aggregate collapses map-side (each doc's shingles live in one
    * partition), so the exchange carries one n-long signature row per doc.
    *
    * Ids must be unique: the signature is grouped by id, so rows sharing
    * an id merge into ONE signature over the union of their shingles
    * (the element-wise min of their separate signatures), not one
    * signature per row. Pre-assign unique ids (e.g. KeyAssigner.assign)
    * when the input may repeat them. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64): DataFrame =
    signatures(docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("shingle")), numHashes)

  /** Per-doc min-hashes of a (doc_id, shingle) frame. A min is the same
    * over a doc's shingle multiset and over its distinct shingles, so the
    * cut [[shingleTable]] gives the signatures of [[minhashSignatures]]. */
  private def signatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val sigCols = (0 until numHashes).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.drop(1): _*)
  }

  /** (doc_id, band, sig) LSH bucket assignment from a signature frame:
    * `bands` bands of numHashes/bands rows; docs sharing any band bucket
    * become candidates ([[pairsFromBuckets]]). */
  def lshBuckets(signatures: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — trailing " +
        "hash columns would otherwise be computed but silently ignored, " +
        "changing the effective S-curve from the requested one")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"h$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("sig"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Σ max(0, bucketSize − cap) over (band, sig) buckets — the candidate
    * slots a `bucketCap` drops (recall exposure). 0, with no job, for
    * capless runs. */
  def bucketOverflowCount(buckets: DataFrame, bucketCap: Int): Long =
    cappedPairs(buckets, bucketCap)._2

  /** Distinct candidate pairs (i < j) within each bucket. `bucketCap > 0`
    * truncates hot buckets to the cap lowest doc ids (deterministic) —
    * callers must surface the drop ([[bucketOverflowCount]]);
    * `bucketCap <= 0` generates pairs capless (no truncation). */
  def pairsFromBuckets(buckets: DataFrame, bucketCap: Int): DataFrame =
    cappedPairs(buckets, bucketCap)._1

  /** [[pairsFromBuckets]], reporting on stderr the slots its cap dropped:
    * capped candidate generation must never truncate silently. */
  private def reportedPairs(buckets: DataFrame, bucketCap: Int,
      what: String): DataFrame = {
    val (pairs, dropped) = cappedPairs(buckets, bucketCap)
    if (dropped > 0) System.err.println(
      s"[dedup] $what dropped $dropped bucket slots over cap=$bucketCap " +
        "(recall exposure — raise bucketCap or pre-collapse more)")
    pairs
  }

  /** The pairs of [[pairsFromBuckets]] and the slots of
    * [[bucketOverflowCount]]. A capped run cuts the kept bucket rows — both
    * sides of the pair self-join read them — and the job that cuts them
    * also counts the drop, bucket rows − kept rows, at no extra job. */
  private def cappedPairs(buckets: DataFrame,
      bucketCap: Int): (DataFrame, Long) = {
    // Two-LEVEL rank for the cap (the GraphBuilder evidence-cap shape): a
    // collect_list-then-slice would buffer a hot bucket's ENTIRE member
    // list in one aggregation buffer before truncating — exactly the
    // boilerplate-cluster OOM this cap exists to bound. Level 1 ranks
    // inside (bucket, id-hash salt) and keeps each salt's first cap ids — a
    // guaranteed superset of the bucket's global first cap (min-k is
    // salt-decomposable); level 2 ranks the ≤ 64×cap survivors. Kept set
    // is identical to the unsalted slice; per-group state is bounded.
    val (capped, dropped) =
      if (bucketCap <= 0) (buckets, 0L)
      else {
        val w1 = Window.partitionBy(col("band"), col("sig"), col("_salt"))
          .orderBy(col("doc_id"))
        val w2 = Window.partitionBy(col("band"), col("sig"))
          .orderBy(col("doc_id"))
        def whole(w: WindowSpec) =
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        // the salt is a column, so both level-1 windows share one exchange
        val (kept, drops) = Cut.materialize(buckets
          .withColumn("_salt", pmod(xxhash64(col("doc_id")), lit(64L)))
          .withColumn("_rn1", row_number().over(w1))
          .withColumn("_n1", count(lit(1)).over(whole(w1)))
          .where(col("_rn1") <= bucketCap)
          .withColumn("_rn2", row_number().over(w2))
          // Σ _drop = bucket rows − kept rows: every kept row counts −1,
          // and a bucket's first row adds the bucket's size, the sum of its
          // salt groups' sizes
          .withColumn("_drop", coalesce(when(col("_rn2") === 1,
            sum(when(col("_rn1") === 1, col("_n1"))).over(whole(w2))),
            lit(0L)) - 1)
          .where(col("_rn2") <= bucketCap)
          .select("band", "sig", "doc_id", "_drop"))(
          _ => _.map(_.getLong(3)).sum)
        (kept, drops.sum)
      }
    // pairs within bucket (i < j), distinct across bands; the self-join is
    // bounded at cap² rows per bucket when capped
    val a = capped.select(col("band"), col("sig"), col("doc_id").as("id_a"))
    val b = capped.select(col("band"), col("sig"), col("doc_id").as("id_b"))
    (a.join(b, Seq("band", "sig")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct(), dropped)
  }

  /** MinHash near-dup end-to-end: exact-duplicate pre-collapse → signatures
    * → LSH candidates → exact Jaccard verify → connected components →
    * (doc_id, canonical_id).
    *
    * The pre-collapse is the key scale (and correctness-at-scale) move:
    * byte-identical texts — the bulk of web duplicates (boilerplate) —
    * share identical signatures, so they all land in the SAME buckets and
    * a 10k-copy boilerplate cluster alone blows the per-bucket pair
    * expansion (and would overflow the bucket cap, losing members).
    * Collapsing each distinct text to its min-id representative first
    * makes LSH see each text once; members rejoin at the end with their
    * representative's component. Output is identical to running LSH over
    * the raw corpus (exact dups have Jaccard 1 ≥ any threshold).
    *
    * Hot-bucket truncation among the remaining distinct-text reps is
    * counted and logged (never silent): see the `[dedup] lsh dropped`
    * stderr line. */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, bucketCap: Int = 50): DataFrame =
    minhashDedupOf(collapse(docs, idCol, textCol), k, numHashes, bands,
      threshold, bucketCap)

  /** [[minhashDedup]] over a collapsed corpus. */
  private[graft] def minhashDedupOf(c: Collapse, k: Int, numHashes: Int,
      bands: Int, threshold: Double, bucketCap: Int): DataFrame = {
    // LSH over representatives only; the signatures and the verify read
    // one shingle table
    val sh = shingleTable(c.reps, "doc_id", "_text", k)
    val cands = reportedPairs(
      lshBuckets(signatures(sh, numHashes), numHashes, bands), bucketCap, "lsh")
    val verified = jaccardOnShingles(sh, cands)
      .where(col("jaccard") >= threshold)
    val comps = ConnectedComponents.run(
      verified.select(col("id_a").as("src"), col("id_b").as("dst")))
    // rejoin members: a doc is a duplicate iff its text group has ≥2
    // members or its rep is in a near-dup component. component roots are
    // min rep ids == min member ids (reps are per-group minima).
    c.members
      .join(comps.select(col("id").as("rep"), col("component")), Seq("rep"),
        "left")
      .where(col("n") >= 2 || col("component").isNotNull)
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("canonical_id"))
  }

  /** Exact pairwise Jaccard for given candidate pairs, over the cut
    * [[shingleTable]] of `docs`. */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    jaccardOnShingles(shingleTable(docs, idCol, textCol, k), pairs)

  /** [[jaccardOnPairs]] over a [[shingleTable]]. */
  private def jaccardOnShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("id_a"), col("shingle"),
      col("sz").as("sz_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingle"),
      col("sz").as("sz_b"))
    pairs.join(a, "id_a").join(b, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard similarity join above a threshold, with PREFIX
    * FILTERING (the classic exact similarity-join optimization, cf. PPJoin,
    * Xiao et al., WWW'08): order every doc's shingles by ascending global
    * frequency; for Jaccard ≥ t a matching pair MUST share one of each
    * doc's first |d| − ⌈t·|d|⌉ + 1 shingles, so the candidate join runs on
    * that small, rare-shingle prefix instead of every shingle — killing the
    * frequent-shingle bucket blowup — and the full intersection is computed
    * exactly only for candidates. Output identical to the naive all-pairs
    * join (oracle-checked in q34 + DedupSpec).
    *
    * Exact-duplicate pre-collapse (same move as [[minhashDedup]]):
    * identical texts have identical shingle sets, so a boilerplate cluster
    * of m copies would put m copies of every shingle into the similarity
    * join (m² blowup per cluster). PPJoin runs over one representative per
    * distinct text, then expands: within-group pairs are Jaccard 1.0 by
    * definition; cross-group pairs inherit their representative pair's
    * exact Jaccard. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsOf(collapse(docs, idCol, textCol), k, threshold)

  /** [[ngramJaccardPairs]] over a collapsed corpus. */
  private[graft] def ngramJaccardPairsOf(c: Collapse, k: Int,
      threshold: Double): DataFrame = {
    val repPairs = ppjoin(shingleTable(c.reps, "doc_id", "_text", k),
      threshold)
    val m = c.members.select(col("doc_id"), col("rep"))
    val within = m.select(col("rep"), col("doc_id").as("id_a"))
      .join(m.select(col("rep"), col("doc_id").as("id_b")), "rep")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(m.select(col("rep").as("id_a"), col("doc_id").as("ma")), "id_a")
      .join(m.select(col("rep").as("id_b"), col("doc_id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    within.unionByName(cross)
  }

  /** PPJoin core over the cut shingle table `sh` of docs already known to
    * have DISTINCT texts.
    *
    * Candidate pruning beyond the prefix filter (both from Xiao et al.,
    * WWW'08; neither changes the output — the exact intersection still
    * verifies every surviving pair, DedupSpec pins equivalence):
    *  - LENGTH filter: Jaccard ≥ t ⟹ min(|a|,|b|) ≥ t·max(|a|,|b|)
    *    (overlap ≤ min size, overlap ≥ t·union ≥ t·max size).
    *  - POSITIONAL filter: shingle lists share ONE global frequency order,
    *    so for the first common prefix shingle at positions (i, j),
    *    overlap ≤ 1 + min(|a|−i, |b|−j) (any earlier shared shingle would
    *    itself be an earlier common prefix element). The per-pair MAX of
    *    that bound over all prefix matches is therefore a valid upper
    *    bound; pairs whose bound can't reach the required overlap
    *    ⌈t/(1+t)·(|a|+|b|)⌉ are dropped BEFORE the expensive exact
    *    intersection. A 1e-9 slack keeps IEEE rounding of t·x from ever
    *    pruning an exactly-at-threshold pair. */
  private def ppjoin(sh: DataFrame, threshold: Double): DataFrame = {
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("shingle").asc)))
      // same 1e-9 IEEE slack as the length/overlap gates below: a
      // threshold whose double representation sits just above its
      // rational value can push t·sz over the exact integer, ceil then
      // shortens the prefix by one and an exactly-at-threshold pair
      // loses its only candidate-generating shingle
      .where(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9))
          .cast("long") + 1)
      .select(col("doc_id"), col("shingle"), col("rn"), col("sz"))
    val candidates = ranked.select(col("doc_id").as("id_a"), col("shingle"),
        col("rn").as("rn_a"), col("sz").as("sz_a"))
      .join(ranked.select(col("doc_id").as("id_b"), col("shingle"),
        col("rn").as("rn_b"), col("sz").as("sz_b")), "shingle")
      .where(col("id_a") < col("id_b"))
      .where(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double")
          - lit(1e-9))
      .groupBy("id_a", "id_b")
      .agg(
        max(lit(1L) + least(col("sz_a") - col("rn_a"),
          col("sz_b") - col("rn_b"))).as("_ub"),
        max(col("sz_a")).as("_sa"), max(col("sz_b")).as("_sb"))
      .where(col("_ub").cast("double") >=
        lit(threshold / (1.0 + threshold))
          * (col("_sa") + col("_sb")).cast("double") - lit(1e-9))
      .select("id_a", "id_b")
    // verify on the SAME shingle table the prefix ranking was built from
    jaccardOnShingles(sh, candidates)
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash per doc: bit i of the signature = sign of
    * Σ_tokens (bit i of xxhash64(token) ? +1 : −1). Computed as a NARROW
    * per-row array-HOF pipeline (no explode, no 64-aggregate shuffle): one
    * aggregate() pass accumulates the 64 bit-counts, a second folds them
    * into the signature. SQL shiftleft/shiftright accept column shift
    * amounts (the Scala functions API doesn't), hence expr(). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigSql =
      s"""aggregate(
            zip_with(
              aggregate(
                filter(split($textCol, ' '), t -> length(t) > 0),
                array_repeat(0L, 64),
                (acc, t) -> zip_with(acc, sequence(0, 63),
                  (a, i) -> a + IF((shiftright(xxhash64(t), i) & 1L) = 1L, 1L, -1L))),
              sequence(0, 63),
              (c, i) -> IF(c > 0L, shiftleft(1L, i), 0L)),
            0L, (s, x) -> s | x)"""
    docs.selectExpr(s"$idCol AS doc_id", s"($sigSql) AS simhash")
  }

  /** Portable 32-bit SimHash: identical shape to [[simhash]] but the
    * per-token value is the first 8 hex chars of md5(token) — a hash an
    * external SQL engine can recompute exactly (the driver's DuckDB oracle
    * does), making the whole signature oracle-checkable. Same narrow
    * array-HOF pipeline: token values materialized once, one aggregate pass
    * for the 32 bit-counts, one fold into the signature. */
  def simhashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sigSql =
      s"""aggregate(
            zip_with(
              aggregate(
                transform(
                  filter(split($textCol, ' '), t -> length(t) > 0),
                  t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)),
                array_repeat(0L, 32),
                (acc, v) -> zip_with(acc, sequence(0, 31),
                  (a, i) -> a + IF((shiftright(v, i) & 1L) = 1L, 1L, -1L))),
              sequence(0, 31),
              (c, i) -> IF(c > 0L, shiftleft(1L, i), 0L)),
            0L, (s, x) -> s | x)"""
    docs.selectExpr(s"$idCol AS doc_id", s"($sigSql) AS simhash")
  }

  /** SimHash near-dup candidates: docs whose signatures match on any of the
    * `bands` bands of `bitsPerBand` bits. `bucketCap > 0` truncates hot
    * buckets to the first cap doc ids (id-sorted, deterministic) — the
    * dropped-slot count is logged here, never silent. `bucketCap <= 0`
    * switches to a capless bucket self-join: no truncation, no cut — the
    * exhaustive (and still bucket-bounded) 100 TB shape. */
  def simhashCandidates(sigs: DataFrame, bands: Int = 4,
      bitsPerBand: Int = 16, bucketCap: Int = 50): DataFrame = {
    require(bands > 0 && bitsPerBand > 0 && bands * bitsPerBand <= 64,
      s"bands ($bands) × bitsPerBand ($bitsPerBand) must fit in the " +
        "64-bit simhash — the JVM masks shift counts to 6 bits, so an " +
        "out-of-range band would silently duplicate band 0's bits")
    // -1L >>> (64-bits), NOT (1L << bits)-1: at bitsPerBand=64 the latter
    // is (1L << 64)-1 = 0 via the same 6-bit shift masking — every band
    // mask would be zero and all docs would share one bucket
    val mask = -1L >>> (64 - bitsPerBand)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bitsPerBand)
          .bitwiseAND(lit(mask)).as("bits"))
    }
    val buckets = sigs.select(col("doc_id"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bits").as("sig"))
    reportedPairs(buckets, bucketCap, "simhash")
  }
}
