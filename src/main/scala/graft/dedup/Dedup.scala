package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** Exact dedup: canonical row per identical `textCol` = min idCol.
    * Hash-first grouping: the shuffle key is xxhash64(text) — 8 bytes
    * instead of the document body — with a collision re-check. Groups whose
    * members disagree on a second, independent hash contain ≥2 distinct
    * texts; ONLY those rare rows are re-grouped on the full text (broadcast
    * semi-join of the collided hash set, then an agg over a near-empty
    * input). Two texts colliding on BOTH 64-bit hashes (~2⁻¹²⁸) are
    * accepted as equal — the standard content-hash dedup contract. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    exactWithHashes(docs, idCol, textCol,
      t => xxhash64(t), t => xxhash64(t, lit(7)))

  /** [[exact]] with injectable hash functions (tests force collisions to
    * pin the full-text fallback path). */
  private[graft] def exactWithHashes(docs: DataFrame, idCol: String,
      textCol: String, h1: Column => Column, h2: Column => Column): DataFrame = {
    val hashed = docs.select(col(idCol).as("_id"), col(textCol).as("_text"))
      .withColumn("_h", h1(col("_text")))
      .withColumn("_h2", h2(col("_text")))
    val agg = hashed.groupBy("_h").agg(
      min(col("_id")).as("canonical_id"),
      count(lit(1)).as("n_dups"),
      min(col("_h2")).as("_a"), max(col("_h2")).as("_b"))
    val clean = agg.where(col("_a") === col("_b"))
      .select(col("canonical_id"), col("n_dups"))
    val collidedHashes = agg.where(col("_a") =!= col("_b")).select(col("_h"))
    // second pass over the source gated by the (near-empty) collided set —
    // broadcast semi-join filters map-side, so the rescan shuffles ~nothing
    val resolved = hashed
      .join(broadcast(collidedHashes), Seq("_h"), "left_semi")
      .groupBy(col("_text"))
      .agg(min(col("_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
      .select(col("canonical_id"), col("n_dups"))
    clean.unionByName(resolved)
  }

  /** Word k-gram shingles of a text column as an array column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < k, array(text)) // short docs: whole text is the shingle
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))))
  }

  /** MinHash signatures: n independent 64-bit min-hashes per doc.
    * Hash family: xxhash64(shingle, seed_i).
    *
    * Computed as explode + n min-AGGREGATES (r06): the former narrow
    * array-HOF form (`array_min(transform(_sh, s => xxhash64(s, i)))`
    * × n) ran n interpreted passes per row — higher-order functions are
    * CodegenFallback — where explode and the n declarative min buffers
    * whole-stage-codegen. The per-doc partial aggregate collapses
    * map-side (each doc's shingles live in one partition), so the added
    * exchange carries exactly one n-long signature row per doc — the
    * same bytes the signature frame materializes anyway. Signature
    * values are identical: min over the same hash multiset (shingle
    * arrays are always non-empty — short docs shingle to [text]).
    *
    * Ids must be unique: the signature is grouped by id, so rows sharing
    * an id merge into ONE signature over the union of their shingles
    * (the element-wise min of their separate signatures), not one
    * signature per row. Pre-assign unique ids (e.g. KeyAssigner.assign)
    * when the input may repeat them. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64): DataFrame = {
    val sigCols = (0 until numHashes).map(i =>
      min(xxhash64(col("_s"), lit(i))).as(s"h$i"))
    docs.select(col(idCol).as("doc_id"),
        explode(shingles(col(textCol), k)).as("_s"))
      .groupBy("doc_id")
      .agg(sigCols.head, sigCols.drop(1): _*)
  }

  /** LSH candidate pairs from signatures: `bands` bands of
    * numHashes/bands rows; docs sharing any band bucket become candidates.
    * Bucket fan-out capped at `bucketCap` docs (hot boilerplate buckets are
    * truncated deterministically by doc id — a documented recall/skew
    * trade; log the drop in callers if needed). */
  def lshCandidates(signatures: DataFrame, numHashes: Int = 64,
      bands: Int = 16, bucketCap: Int = 50): DataFrame =
    pairsFromBuckets(lshBuckets(signatures, numHashes, bands), bucketCap)

  /** (doc_id, band, sig) bucket assignment from a signature frame. */
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
    * slots a `bucketCap` drops (recall exposure). 0 for capless runs. One
    * partial-aggregated pass over the bucket rows; launched only when a
    * cap is actually in force. */
  def bucketOverflowCount(buckets: DataFrame, bucketCap: Int): Long =
    if (bucketCap <= 0) 0L
    else buckets.groupBy("band", "sig").count()
      .where(col("count") > bucketCap)
      .agg(coalesce(sum(col("count") - bucketCap), lit(0L)))
      .head().getLong(0)

  /** Surface a cap's dropped-slot count on stderr — capped candidate
    * generation must never truncate silently. No-op (and no job) when
    * `bucketCap <= 0`. */
  private def logBucketOverflow(buckets: DataFrame, bucketCap: Int,
      what: String): Unit = {
    val dropped = bucketOverflowCount(buckets, bucketCap)
    if (dropped > 0) System.err.println(
      s"[dedup] $what dropped $dropped bucket slots over cap=$bucketCap " +
        "(recall exposure — raise bucketCap or pre-collapse more)")
  }

  /** Distinct candidate pairs (i < j) within each bucket. `bucketCap > 0`
    * truncates hot buckets to the cap lowest doc ids (deterministic) —
    * callers must surface the drop via [[bucketOverflowCount]];
    * `bucketCap <= 0` generates pairs capless (no truncation). */
  def pairsFromBuckets(buckets: DataFrame, bucketCap: Int): DataFrame = {
    // Two-LEVEL rank for the cap (the GraphBuilder evidence-cap shape): a
    // collect_list-then-slice would buffer a hot bucket's ENTIRE member
    // list in one aggregation buffer before truncating — exactly the
    // boilerplate-cluster OOM this cap exists to bound. Level 1 ranks
    // inside (bucket, id-hash salt) and keeps each salt's first cap ids — a
    // guaranteed superset of the bucket's global first cap (min-k is
    // salt-decomposable); level 2 ranks the ≤ 64×cap survivors. Kept set
    // is identical to the unsalted slice; per-group state is bounded.
    val capped =
      if (bucketCap <= 0) buckets
      else {
        val w1 = Window
          .partitionBy(col("band"), col("sig"),
            pmod(xxhash64(col("doc_id")), lit(64L)))
          .orderBy(col("doc_id"))
        val w2 = Window.partitionBy(col("band"), col("sig"))
          .orderBy(col("doc_id"))
        buckets
          .withColumn("_rn1", row_number().over(w1))
          .where(col("_rn1") <= bucketCap)
          .withColumn("_rn2", row_number().over(w2))
          .where(col("_rn2") <= bucketCap)
          .select("band", "sig", "doc_id")
      }
    // pairs within bucket (i < j), distinct across bands; the self-join is
    // bounded at cap² rows per bucket when capped
    val a = capped.select(col("band"), col("sig"), col("doc_id").as("id_a"))
    val b = capped.select(col("band"), col("sig"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "sig")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash near-dup end-to-end: exact-duplicate pre-collapse → signatures
    * → LSH candidates → exact Jaccard verify → connected components →
    * (doc_id, canonical_id).
    *
    * The pre-collapse is the key scale (and correctness-at-scale) move:
    * byte-identical texts — the bulk of web duplicates (boilerplate) —
    * share identical signatures, so they all land in the SAME buckets and
    * a 10k-copy boilerplate cluster alone blows the per-bucket pair
    * expansion (and previously overflowed the bucket cap, silently losing
    * members). Collapsing each distinct text to its min-id representative
    * first makes LSH see each text once; members rejoin at the end with
    * their representative's component. Output is identical to running LSH
    * over the raw corpus (exact dups have Jaccard 1 ≥ any threshold).
    *
    * Hot-bucket truncation among the remaining distinct-text reps is
    * counted and logged (never silent): see the `[dedup] lsh dropped`
    * stderr line. */
  /** Hash-first exact-duplicate collapse shared by the near-dup pipelines:
    * returns (members(doc_id, rep, n), repDocs(doc_id, _text)) — both
    * lineage-cut. The shuffle key is xxhash64(text), never the document
    * body; min_by carries the representative text as an aggregation VALUE
    * (partial aggregation keeps one text per (hash, input partition), so
    * network bytes stay ~one copy per distinct text with 8-byte keys).
    * Groups whose members disagree on a second hash (real 64-bit
    * collisions, ~never) are re-resolved on full text via a
    * broadcast-gated branch — same contract as [[exact]]. */
  private[graft] def exactCollapse(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    // LOUD contract check: the near-dup pipelines resolve canonical ids
    // through ConnectedComponents, whose roots are Long — a string/UUID id
    // would either throw mid-job (ANSI cast) or silently null out every id
    // (non-ANSI). Fail at plan build with the remedy instead.
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
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
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_text"))
    val hashed = base
      .withColumn("_h", xxhash64(col("_text")))
      .withColumn("_h2", xxhash64(col("_text"), lit(7)))
    // eager cut on the per-distinct-text aggregate (r06): FOUR consumers
    // below (cleanGroups, collided, the members join, repDocs) otherwise
    // each replan this aggregate with their own column pruning — the
    // pruned exchanges are no longer identical subtrees, ReuseExchange
    // cannot dedupe them, and the corpus-text shuffle ran twice at sf0.1
    // (profiled ~1 s each). The cut materializes the one text shuffle
    // once; at cluster scale this is the pipeline's persisted stage table
    // (the Pipeline.runStage commit), same contract as the members /
    // repDocs cuts below.
    val agg = hashed.groupBy("_h").agg(
      min(col("doc_id")).as("rep"), count(lit(1)).as("n"),
      min_by(col("_text"), col("doc_id")).as("_text"),
      min(col("_h2")).as("_a"), max(col("_h2")).as("_b"))
      .transform(Cut.large)
    val collided = agg.where(col("_a") =!= col("_b")).select(col("_h"))
    val cleanGroups = agg.where(col("_a") === col("_b"))
      .select(col("_h"), col("rep"), col("n"), col("_text"))
    val collGroups = hashed
      .join(broadcast(collided), Seq("_h"), "left_semi")
      .groupBy(col("_h"), col("_text"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
    // member → rep mapping: 8-byte join keys; text pruned from the clean
    // branch (only collided rows — ~none — join on text)
    val members = hashed
      .join(broadcast(collided), Seq("_h"), "left_anti")
      .join(cleanGroups.select(col("_h"), col("rep"), col("n")), "_h")
      .select(col("doc_id"), col("rep"), col("n"))
      .unionByName(hashed
        .join(broadcast(collided), Seq("_h"), "left_semi")
        .join(collGroups, Seq("_h", "_text"))
        .select(col("doc_id"), col("rep"), col("n")))
      // every consumer of members runs after other materializations
      .transform(Cut.deferred)
    // repartition before the cut (r06): the aggregate's AQE-coalesced
    // output is 1-2 partitions at fixture scale, and the checkpoint
    // inherits them — the downstream per-rep HOF work (64 minhash
    // passes, PPJoin shingles) then ran near-serially (profiled 1.5 s on
    // 2 tasks at sf0.1). An explicit cluster-width repartition is exempt
    // from AQE coalescing; at scale the aggregate output is wide anyway
    // and one extra exchange of the distinct-text table is noise.
    val repDocs = cleanGroups.select(col("rep").as("doc_id"), col("_text"))
      .unionByName(collGroups.select(col("rep").as("doc_id"), col("_text")))
      .transform(Spread.orderFree)
      // the signature/shingle jobs that consume repDocs run one after
      // another
      .transform(Cut.deferred)
    (members, repDocs)
  }

  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, bucketCap: Int = 50): DataFrame = {
    // 1. exact pre-collapse (hash-first, see exactCollapse)
    val (members, repDocs) = exactCollapse(docs, idCol, textCol)
    // 2. LSH over representatives only. Lineage cuts between stages: fusing
    // the 64-column signature projection into the band/bucket/verify plan
    // lets CollapseProject inline the shingle computation into every
    // consumer (O(64×) recompute per row). At cluster scale these cuts are
    // persisted checkpoint tables (the pipeline's stage commits).
    val sigs = minhashSignatures(repDocs, "doc_id", "_text", k, numHashes)
      // the overflow-count action below materializes it; the candidate
      // job then reads the blocks
      .transform(Cut.deferred)
    val buckets = lshBuckets(sigs, numHashes, bands)
    logBucketOverflow(buckets, bucketCap, "lsh")
    val cands = pairsFromBuckets(buckets, bucketCap)
      .transform(Cut.deferred) // single downstream consumer
    val verified = jaccardOnPairs(repDocs, cands, "doc_id", "_text", k)
      .where(col("jaccard") >= threshold)
    val comps = ConnectedComponents.run(
      verified.select(col("id_a").as("src"), col("id_b").as("dst")))
    // 3. rejoin members: a doc is a duplicate iff its text group has ≥2
    // members or its rep is in a near-dup component. component roots are
    // min rep ids == min member ids (reps are per-group minima).
    members
      .join(comps.select(col("id").as("rep"), col("component")), Seq("rep"),
        "left")
      .where(col("n") >= 2 || col("component").isNotNull)
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("canonical_id"))
  }

  /** Exact pairwise Jaccard for given candidate pairs.
    *
    * The shingle stream is lineage-cut eagerly (r06): its three consumers
    * (sizes, both join sides) prune different columns, so their exchanges
    * are not identical subtrees and ReuseExchange cannot dedupe them —
    * without the cut the interpreted shingle explode re-ran per consumer
    * (profiled 3 × ~2.3 s single-task at sf0.1). At cluster scale this
    * cut is the persisted shingle stage table (the Dedup stage-cut
    * pattern). */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("shingle")).distinct()
      .transform(Cut.large)
    jaccardOnShingles(sh, pairs)
  }

  /** [[jaccardOnPairs]] over an ALREADY materialized (doc_id, shingle)
    * stream — callers that have the shingle table in hand (PPJoin built it
    * for the prefix ranking) verify on it directly instead of re-running
    * the explode+distinct a second time (profiled: two identical ~0.7 s
    * shingle stages at sf0.1). */
  private def jaccardOnShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("doc_id").as("id_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingle"))
    val inter = pairs.join(a, "id_a").join(b, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
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
    * join (oracle-checked in q34 + DedupSpec). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Exact-duplicate pre-collapse (same move as minhashDedup): identical
    // texts have identical shingle sets, so a boilerplate cluster of m
    // copies would put m copies of every shingle into the similarity join
    // (m² blowup per cluster). Run PPJoin over one representative per
    // distinct text, then expand: within-group pairs are Jaccard 1.0 by
    // definition; cross-group pairs inherit their representative pair's
    // exact Jaccard. Output identical to the naive all-pairs run.
    val (members, repDocs) = exactCollapse(docs, idCol, textCol)
    val repPairs = ngramJaccardPairsDistinct(repDocs, "doc_id", "_text", k,
      threshold).transform(Cut.deferred) // one consumer
    val m = members.select(col("doc_id"), col("rep"))
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

  /** PPJoin core over docs already known to have DISTINCT texts.
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
  private def ngramJaccardPairsDistinct(docs: DataFrame, idCol: String,
      textCol: String, k: Int, threshold: Double): DataFrame = {
    // eager shingle cut — same three-consumer pruning rationale as
    // jaccardOnPairs (sizes / freq / ranked each re-ran the explode)
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), k)).as("shingle")).distinct()
      .transform(Cut.large)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("shingle").asc)))
      .join(sizes, "doc_id")
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
    // verify on the SAME cut shingle stream the prefix ranking was built
    // from — jaccardOnPairs would recompute an identical explode+distinct
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
    * dropped-slot count is logged here via [[bucketOverflowCount]] (one
    * extra aggregation pass, capped runs only), never silent. `bucketCap
    * <= 0` switches to a capless bucket self-join: no truncation, no
    * overflow pass — the exhaustive (and still bucket-bounded) 100 TB
    * shape. */
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
    logBucketOverflow(buckets, bucketCap, "simhash")
    pairsFromBuckets(buckets, bucketCap)
  }
}
