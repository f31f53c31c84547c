package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic query tools over the materialized graph — the engine
  * equivalent of the reference's tool layer (reference:src/kg_ae/tools/),
  * each a parameterized DataFrame query compiled by Catalyst.
  *
  * At 100 TB the graph tables are partitioned by (src_type, bucket(src_key))
  * so these point lookups prune to a handful of files; in tests they run
  * over cached DataFrames.
  */
object Tools {

  /** The pipeline's length-preserving simple lowercase as a Column — see
    * [[graft.link.AhoCorasick.lowerPreserving]]. Used ONLY on
    * vocabulary-sized tool scans (see the note in [[resolve]]). */
  private val simpleLowerUdf = udf((s: String) =>
    if (s == null) null else graft.link.AhoCorasick.lowerPreserving(s))

  /** Entity resolution (reference:src/kg_ae/tools/resolve.py:23-52 +
    * store.py:179-192): exact lowercase match wins; else substring scan
    * bounded at `limit` hits, shortest-label-then-alphabetical tie-break.
    * Exact-before-partial precedence is encoded as match_rank.
    *
    * Exact-match TIES follow the reference's `_prefer_richer` rule
    * (resolve.py:23-52): candidates carrying the canonical-id prop
    * (`canonicalProp`, reference: drugcentral_id) sort first, then richer
    * props (more keys), then key. Partial matches keep the pure
    * shortest-label rule — the reference applies richness only to exact
    * ties. */
  def resolve(vertices: DataFrame, nodeType: String, name: String,
      limit: Int = 25, canonicalProp: String = "drugcentral_id"): DataFrame = {
    // ONE fold on BOTH sides — the gazetteer/mention pipeline's
    // length-preserving simple lowercase. The query side must not use
    // full-mapping toLowerCase (can change length: "İstanbul" → 9 chars)
    // and the label side must not use Spark's lower() (same full
    // mappings), or raw display labels like "İstanbul" silently miss
    // their own simple-folded query. The UDF is the documented exception
    // to the no-UDF rule: the built-in lower() is semantically the WRONG
    // function, and this scan is a vocabulary-sized vertex table on an
    // interactive tool path, not a fact-table hot path.
    val q = graft.link.AhoCorasick.lowerPreserving(name).trim
    val base = vertices.where(col("node_type") === nodeType)
      .withColumn("_lbl", simpleLowerUdf(col("label")))
    val exact = base.where(col("_lbl") === q).withColumn("match_rank", lit(0))
    val partial = base.where(col("_lbl").contains(q) && col("_lbl") =!= q)
      .withColumn("match_rank", lit(1))
      // key tie-break makes the pre-limit order TOTAL: duplicate labels at
      // the cut boundary would otherwise keep a partition-order-dependent
      // candidate set (flaky vs the driver oracle and across runs)
      .orderBy(length(col("label")), col("label"), col("key"))
      .limit(limit)
    val richness =
      if (vertices.columns.contains("props"))
        when(col("match_rank") === 0, propsRichness(canonicalProp))
          .otherwise(lit(0))
      else lit(0)
    exact.unionByName(partial)
      .orderBy(col("match_rank"), richness.desc, length(col("label")),
        col("label"), col("key"))
      .drop("_lbl")
  }

  /** [[resolve]]'s exact-tie richness of a vertex's `props` column:
    * canonical-id bonus plus number of props. */
  private[query] def propsRichness(canonicalProp: String): Column =
    when(element_at(col("props"), canonicalProp).isNotNull, lit(1 << 20))
      .otherwise(lit(0)) + size(col("props"))

  /** 1-hop traversal with dedup-keep-best + top-k
    * (reference:src/kg_ae/tools/adverse_events.py:26-52): out-edges of
    * (srcType, srcKey) to dstType, keep max frequency per destination,
    * order desc, limit. */
  def neighbors(edges: DataFrame, vertices: DataFrame, srcType: String,
      srcKey: Long, dstType: String, k: Int = 100): DataFrame = {
    val hits = edges.where(
      col("src_type") === srcType && col("src_key") === srcKey &&
      col("dst_type") === dstType)
    val best = hits.groupBy("dst_type", "dst_key")
      .agg(max("frequency").as("frequency"),
        max("strength_score").as("strength_score"),
        count(lit(1)).as("n_claims"))
    best.join(vertices.select(col("node_type").as("dst_type"),
        col("key").as("dst_key"), col("label")), Seq("dst_type", "dst_key"))
      .orderBy(col("frequency").desc, col("label"))
      .limit(k)
  }

  /** 2-hop paths src →(pred1) mid →(pred2) dst with multiplicative score
    * decay per hop (reference:src/kg_ae/tools/paths.py:56-159: ×0.9 per
    * extra hop; scoring policy docs/scoring-policy.md:223-260). */
  def paths2(edges: DataFrame, srcType: String, srcKey: Long,
      midType: String, dstType: String, decay: Double = 0.9,
      maxPaths: Int = 100): DataFrame = {
    val hop1 = edges.where(
        col("src_type") === srcType && col("src_key") === srcKey &&
        col("dst_type") === midType)
      .select(col("dst_key").as("mid_key"),
        col("claim_type").as("pred1"),
        col("strength_score").as("s1"))
    val hop2 = edges.where(
        col("src_type") === midType && col("dst_type") === dstType)
      .select(col("src_key").as("mid_key"), col("dst_key"),
        col("claim_type").as("pred2"),
        col("strength_score").as("s2"))
    hop1.join(hop2, "mid_key")
      .withColumn("score", col("s1") * col("s2") * lit(decay))
      .orderBy(col("score").desc, col("mid_key"), col("dst_key"))
      .limit(maxPaths)
  }

  /** Shared-neighbor intersection (DDI analogue, reference:src/kg_ae/tools/
    * adverse_events.py:117-146): destinations reachable from BOTH keys. */
  def sharedNeighbors(edges: DataFrame, srcType: String, keyA: Long,
      keyB: Long, dstType: String): DataFrame = {
    def outs(k: Long) = edges.where(
        col("src_type") === srcType && col("src_key") === k &&
        col("dst_type") === dstType)
      .select(col("dst_key")).distinct()
    outs(keyA).join(outs(keyB), Seq("dst_key"), "inner") // ≡ intersect
  }

  /** Bounded subgraph extraction: all edges within `hops` of a seed
    * (frontier expansion via joins; each hop a shuffle bounded by frontier
    * size). */
  def subgraph(edges: DataFrame, srcType: String, srcKey: Long,
      hops: Int = 2): DataFrame = {
    require(hops >= 1, s"subgraph needs hops >= 1, got $hops" +
      " (a 0-hop subgraph has no edges; acc would otherwise be null)")
    var frontier: DataFrame = null
    var acc: DataFrame = null
    (1 to hops).foreach { hop =>
      // eager cut per hop (r06): `out` is consumed twice — by the acc
      // union AND by the next hop's frontier — and without the cut the
      // next hop's join replans this hop's whole subtree (for a derived
      // edges input like the tpch graph that re-ran every edge-building
      // aggregation; profiled 3 evaluations at hops=2). The cut is the
      // seed's ≤hop neighborhood — bounded, the same stage-cut contract
      // as the Dedup pipeline cuts.
      //
      // Hop 1 is a LITERAL filter, not a join against a 1-row frame
      // (r06): the seed is statically known, and the literal predicate
      // constant-folds through a union-of-branches edges plan — pruned
      // branches disappear and src_key pushes into the scans, where the
      // 1-row join kept every branch alive. Identical row set.
      val out = (if (hop == 1)
          edges.where(col("src_type") === srcType
            && col("src_key") === srcKey)
        else
          edges.join(frontier
              .withColumnRenamed("node_type", "src_type")
              .withColumnRenamed("key", "src_key"),
            Seq("src_type", "src_key")))
        .localCheckpoint(true)
      // dropDuplicates on the claim identity (map-typed payload columns
      // cannot participate in set ops)
      acc = if (acc == null) out
        else acc.unionByName(out).dropDuplicates(
          "src_type", "src_key", "dst_type", "dst_key", "claim_key")
      frontier = out.select(col("dst_type").as("node_type"),
        col("dst_key").as("key")).distinct()
    }
    acc
  }

  /** Per-group best-edge summary (reference:src/kg_ae/tools/
    * mechanism.py:50-70): per destination gene count edges + strongest
    * claim, ordered by support then label. */
  def evidenceSummary(edges: DataFrame, claimType: String): DataFrame = {
    edges.where(col("claim_type") === claimType)
      .groupBy("dst_type", "dst_key")
      .agg(count(lit(1)).as("n_edges"),
        max("strength_score").as("best_strength"),
        max("frequency").as("max_frequency"))
      .orderBy(col("n_edges").desc, col("dst_key"))
  }

  /** Batched evidence retrieval: one row per (claim, evidence item) for
    * every edge in the input — the set-at-a-time form of
    * [[evidenceForClaim]] (filter the edges first; the predicate pushes
    * into the scan, the explode stays narrow). */
  def claimEvidenceBatch(edges: DataFrame): DataFrame =
    edges
      .select(col("claim_key"), col("claim_type"), col("dataset"),
        explode(col("evidence")).as("ev"))
      .select(col("claim_key"), col("claim_type"), col("dataset"),
        col("ev.evidence_type"), col("ev.source_record_id"),
        col("ev.source_url"), col("ev.payload"))

  /** Evidence retrieval by claim (reference evidence tool:
    * src/kg_ae/tools/ evidence fetch by claim_key; store._claims index). */
  def evidenceForClaim(edges: DataFrame, claimKey: Long): DataFrame =
    claimEvidenceBatch(edges.where(col("claim_key") === claimKey))

  /** The reference ScoringPolicy's per-source trust weights
    * (reference:src/kg_ae/tools/paths.py:185-199), materialized verbatim.
    * Applied through [[sourceWeightFor]] → [[policyScore]]; q76 pins the
    * ≠1 weights against the driver oracle. */
  val SourceWeights: Map[String, Double] = Map(
    "drugcentral" -> 1.0, "opentargets" -> 0.95, "chembl" -> 0.9,
    "reactome" -> 0.9, "gtop" -> 0.85, "sider" -> 0.8, "clingen" -> 0.85,
    "ctd" -> 0.7, "string" -> 0.6, "faers" -> 0.5, "openfda" -> 0.5,
    "hpo" -> 0.7)

  /** Weight column for a dataset/source column: the [[SourceWeights]]
    * lookup as a codegen'd CASE chain (broadcastable-constant semantics —
    * the map is policy, not data). Unknown sources default to `default`
    * (conservative: the weight of the least-trusted known sources). */
  def sourceWeightFor(dataset: Column, default: Double = 0.5): Column =
    SourceWeights.toSeq.sortBy(_._1).foldRight(lit(default): Column) {
      case ((name, w), acc) => when(dataset === name, lit(w)).otherwise(acc)
    }

  /** Path re-scoring policy (reference:src/kg_ae/tools/paths.py:182-259 +
    * docs/scoring-policy.md:223-260): base score × source weight ×
    * 0.95^hops length penalty × 1.2 multi-source bonus (≥2 distinct
    * datasets supporting the path). Pure column arithmetic. */
  def policyScore(baseScore: Column, hops: Column, nDistinctSources: Column,
      sourceWeight: Column): Column =
    baseScore * sourceWeight * pow(lit(0.95), hops) *
      when(nDistinctSources >= 2, lit(1.2)).otherwise(lit(1.0))

  /** Bounded top-k per group: two-level rank so a hot group never lands on
    * one reducer. Level 1 ranks within (group, hash-bucket of the tiebreak
    * column) and keeps ≤k per bucket — a superset of the global top-k
    * (top-k is bucket-decomposable) — level 2 ranks the ≤64k survivors.
    * Output identical to a single window (spec-pinned).
    *
    * PRECONDITION: `orderCols` must be a TOTAL order within each group
    * (append a unique tiebreak column if the natural key admits ties).
    * With ties, row_number breaks them arbitrarily at level 1, so the
    * two-level form can keep a DIFFERENT physical row than the
    * single-window reference would — nondeterministic payload columns
    * across runs/plans. Callers here either order by a unique key
    * ([[topKNeighborsAll]]: dst_key after per-destination dedup) or
    * dedup-keep-best first (T4). */
  def boundedTopK(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], k: Int, bucketCol: Column): DataFrame = {
    val g = groupCols.map(col)
    val w1 = Window.partitionBy(g :+ pmod(xxhash64(bucketCol), lit(64L)): _*)
      .orderBy(orderCols: _*)
    val w2 = Window.partitionBy(g: _*).orderBy(orderCols: _*)
    df.withColumn("_rk1", row_number().over(w1)).where(col("_rk1") <= k)
      .withColumn("rank", row_number().over(w2)).where(col("rank") <= k)
      .drop("_rk1")
  }

  /** Window top-k per source — batched variant of per-key limits
    * (SURVEY T2/T3): for EVERY source at once, top-k destinations. A
    * web-scale hot source (millions of out-edges) would straggle a single
    * per-source window partition, so this rides [[boundedTopK]]. Expects
    * one row per (source, dst_key) — dedup-keep-best per destination
    * first (as [[neighbors]] does), or the (frequency, dst_key) order is
    * not total and tie selection is arbitrary (see [[boundedTopK]]). */
  def topKNeighborsAll(edges: DataFrame, k: Int): DataFrame =
    boundedTopK(edges, Seq("src_type", "src_key"),
      Seq(col("frequency").desc, col("dst_key").asc), k, col("dst_key"))
}
