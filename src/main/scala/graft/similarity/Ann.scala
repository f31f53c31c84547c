package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StatCols.sumInOrder

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k — a broadcast of the (small
  * by contract — see [[bruteForceTopK]]) query set against the full
  * corpus, cosine computed with higher-order functions
  * (`aggregate`/`zip_with`, fully codegen'd, no UDF), ranked per query
  * with a window; the corpus scan is embarrassingly parallel with zero
  * shuffle until the final per-query top-k (bounded: queries × k rows).
  * The batched-query scale paths (LSH/IVF) join on EQUI keys and carry NO
  * compile-time hints — AQE broadcasts those at runtime when a side fits.
  *
  * Scale path: random-hyperplane LSH — a deterministic hash-derived
  * hyperplane family maps each vector to a compact bit signature; neighbor
  * search only scans the candidate bucket(s), then exact-reranks.
  */
object Ann {

  /** Σ a_i * b_i in double precision, deterministic left-to-right order. */
  def dot(a: Column, b: Column): Column =
    sumInOrder(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")))(identity)

  def norm(a: Column): Column =
    sqrt(sumInOrder(a)(v => v.cast("double") * v.cast("double")))

  /** Zero-norm vectors (padding rows, failed encoder output) get cosine
    * 0.0, NOT IEEE NaN: under Spark's ordering NaN sorts ABOVE every real
    * double and `NaN >= t` is true, so a raw 0/0 division would make a
    * zero vector the rank-1 "neighbor" of every query and a "near-dup" of
    * every bucket-mate. 0.0 ranks it below any positive similarity and
    * fails every positive threshold. (DuckDB's list_cosine_similarity in
    * the oracle diverges only on zero vectors, which the synth corpus
    * never emits.) */
  def cosine(a: Column, b: Column): Column = {
    val np = norm(a) * norm(b)
    when(np === 0.0, lit(0.0)).otherwise(dot(a, b) / np)
  }

  /** Exact top-k cosine neighbors for each row of `queries` over `corpus`.
    * Output: (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    * Ties broken by neighbor id (deterministic).
    *
    * BROADCAST CONTRACT: the query side is broadcast-hinted, so `queries`
    * must be a SMALL batch (brute force over every corpus row is only
    * sane for small query sets anyway — LSH/IVF are the batched scale
    * paths). The hint is deliberate and differs from the LSH/IVF policy:
    * this join is NON-equi (`neighbor_id =!= query_id`), and without the
    * hint Catalyst's static size estimates can pick CartesianProduct —
    * which AQE cannot re-plan at runtime (no shuffle stages to
    * re-optimize), silently re-reading corpus×queries partition pairs.
    * The equi-joins in lshTopK/ivfTopK have no such trap, so they stay
    * hint-free. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * xxhash64 → uniform in [-1, 1). No RNG state, reproducible across runs
    * and cluster sizes. */
  private def planeComponent(p: Int, d: Column): Column =
    (xxhash64(lit(p), d).cast("double") / lit(Long.MaxValue.toDouble))

  /** nBits-bit random-hyperplane signature of a vector column. Signatures
    * pack into one long, so nBits > 64 would silently alias bit p onto
    * bit p-64 (`1L << 64 == 1L`) — rejected loudly instead. */
  def rhpSignature(vec: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 64,
      s"nBits ($nBits) must be in [1, 64]: signatures pack into one long " +
        "and 1L << p aliases bit p-64 beyond it")
    val bits = (0 until nBits).map { p =>
      val proj = sumInOrder(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") * planeComponent(p, i)))(identity)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** nBits-bit coordinate-sign signature: bit p = (vec[p] > 0). A
    * hyperplane family of coordinate axes — weaker separation than random
    * hyperplanes but exactly reproducible by external SQL engines (the
    * driver's DuckDB oracle recomputes it), so the LSH bucketing itself is
    * oracle-checkable, not just spec-checked. */
  def coordSignSignature(vec: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 64,
      s"nBits ($nBits) must be in [1, 64]: signatures pack into one long " +
        "and 1L << p aliases bit p-64 beyond it")
    val bits = (0 until nBits).map { p =>
      when(element_at(vec, p + 1) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** LSH ANN: bucket corpus + queries by signature band, exact-rerank only
    * within shared buckets. `bands` bands of nBits/bands signature bits;
    * recall grows with bands (multi-probe analogue). `sigFn` picks the
    * hyperplane family (default: hash-derived random hyperplanes). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int = 16, bands: Int = 4,
      sigFn: (Column, Int) => Column = rhpSignature): DataFrame = {
    val cb = bandBuckets(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
      "neighbor_id", "cv", nBits, bands, sigFn)
    val qb = bandBuckets(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "query_id", "qv", nBits, bands, sigFn)
    // no static broadcast hint (same policy as ivfTopK — equi-join, so
    // AQE converts to broadcast at runtime when a side fits): the
    // bucketed query side is queries × bands rows, unbounded for batched
    // query sets. Contrast bruteForceTopK, whose NON-equi join needs its
    // documented small-query broadcast hint.
    val cands = cb.join(qb, Seq("band", "bits"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic unit-ish centroid component for (centroid c, dim d) —
    * hash-derived, no trained k-means state to ship or version. */
  private def centroidComponent(c: Int, d: Column): Column =
    (xxhash64(lit(0xC3A5), lit(c), d).cast("double")
      / lit(Long.MaxValue.toDouble))

  /** Oracle-computable centroid family: centroid c = the c-th coordinate
    * axis, so dot(vec, centroid_c) = vec[c] — weaker quantization than the
    * hash-derived family but exactly reproducible by an external SQL
    * engine, making the IVF bucketing itself driver-oracle-checkable
    * (q51; the hash family stays the scale default, recall-measured in
    * AnnSpec). */
  def coordDots(vec: Column, nlist: Int): Column =
    slice(transform(vec, x => x.cast("double")), 1, nlist)

  /** Per-row dot products against all `nlist` hash-derived centroids, as an
    * array column (narrow, codegen'd HOFs — one pass per row). */
  def centroidDots(vec: Column, nlist: Int): Column =
    array((0 until nlist).map { c =>
      sumInOrder(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") * centroidComponent(c, i)))(identity)
    }: _*)

  /** IVF (inverted-file) ANN — the second scale path next to LSH: corpus
    * vectors coarse-quantize to their argmax-dot centroid (one list per
    * centroid); a query probes its `nprobe` best centroids and
    * exact-reranks only those lists, scanning ~nprobe/nlist of the corpus.
    * Centroids are hash-derived (deterministic across runs/cluster sizes,
    * nothing to train or broadcast); swap `centroidComponent` for learned
    * centroids without changing the plan. Output schema matches
    * [[bruteForceTopK]]. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      dotsFn: (Column, Int) => Column = centroidDots): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("_dots", dotsFn(col("cv"), nlist))
      .withColumn("cluster",
        expr("array_position(_dots, array_max(_dots))").cast("int") - 1)
      .drop("_dots")
    // probe ranking tie-breaks on centroid index (deterministic, and what
    // the q51 oracle's ORDER BY dot DESC, idx mirrors)
    val qProbes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("_dots", dotsFn(col("qv"), nlist))
      .withColumn("_ranked", expr(
        s"slice(array_sort(arrays_zip(_dots, sequence(0, ${nlist - 1})), " +
          "(a, b) -> CASE WHEN a._dots > b._dots THEN -1 " +
          "WHEN a._dots < b._dots THEN 1 " +
          "WHEN a.`1` < b.`1` THEN -1 ELSE 1 END), " +
          s"1, $nprobe)"))
      .select(col("query_id"), col("qv"),
        explode(expr("transform(_ranked, r -> CAST(r.`1` AS INT))"))
          .as("cluster"))
    // no static broadcast hint: the probe frame is queries × nprobe rows —
    // unbounded for batched query sets. AQE picks broadcast when it fits
    // (same policy as KeyAssigner/GraphBuilder).
    val cands = cb.join(qProbes, Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Materialize the `nBits` signature ONCE and explode it into `bands`
    * (band, bits) bucket rows — the one owner of the LSH bucketing
    * contract, shared by [[lshTopK]] and [[cosineNearDupPairs]]. Band
    * columns referencing the raw signature expression would recompute all
    * nBits projections per band, hence the dedicated projection first. */
  private[similarity] def bandBuckets(df: DataFrame, id: String, vec: String,
      nBits: Int, bands: Int, sigFn: (Column, Int) => Column): DataFrame = {
    require(bands > 0 && bands <= nBits && nBits % bands == 0,
      s"bands ($bands) must divide nBits ($nBits): a zero-width band " +
        "puts EVERY row in one bucket (silent full cross-join), and a " +
        "non-dividing count silently drops the top signature bits")
    require(nBits <= 64, s"nBits ($nBits) must be <= 64 (one-long signature)")
    val r = nBits / bands
    // JVM shifts mask the count mod 64, so (1L << 64) - 1 == 0 — a zero
    // mask would put every row in one bucket (the cross-join the require
    // above exists to prevent). -1L >>> (64 - r) is exact for r == 64.
    val bandMask = if (r >= 64) -1L else (1L << r) - 1
    val sigd = df.select(col(id), col(vec), sigFn(col(vec), nBits).as("_sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("_sig"), b * r).bitwiseAND(lit(bandMask))
          .as("bits"))
    }
    sigd.select(col(id), col(vec), explode(array(bandCols: _*)).as("bk"))
      .select(col(id), col(vec), col("bk.band").as("band"),
        col("bk.bits").as("bits"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold via LSH
    * buckets (the embedding leg of the dedup suite). */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 16, bands: Int = 4,
      sigFn: (Column, Int) => Column = rhpSignature): DataFrame = {
    val bucketed = bandBuckets(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
      "id", "v", nBits, bands, sigFn)
    val a = bucketed.select(col("band"), col("bits"), col("id").as("id_a"),
      col("v").as("va"))
    val b = bucketed.select(col("band"), col("bits"), col("id").as("id_b"),
      col("v").as("vb"))
    a.join(b, Seq("band", "bits")).where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
