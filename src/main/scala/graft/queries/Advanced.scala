package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.dedup.Dedup
import graft.extract.PageSynth
import graft.functions.TextFunctions
import graft.link.{Gazetteer, GazEntry, MentionDetector, TripleExtractor}
import graft.multimodal.Multimodal
import graft.similarity.Ann

import QueryDef.t

/** KG-construction, dedup, similarity-search and multimodal operators.
  * SQL-expressible ones carry DuckDB oracles; hash-family-dependent ones
  * (minhash LSH internals, simhash, RHP-LSH ANN, xxhash fingerprints) are
  * rows-only here and oracle-tested in ScalaTest against pure-Scala
  * reimplementations.
  */
object Advanced {

  /** Gazetteer terms for the documents-table mention demo: single-token
    * terms only, so leftmost-longest overlap resolution provably coincides
    * with naive per-term counting (making a SQL oracle exact). Multi-token
    * overlap semantics are covered by the KG pipeline specs. */
  private val DocTerms = Seq("key", "table", "spark", "merge", "window")
  private lazy val docGaz = Gazetteer(DocTerms.map(GazEntry(_, "Term")))

  /** Root for the pipeline-backed oracle queries (q38/q52/q59/q60/q72).
    * Per-process (JVM pid suffix) so concurrent driver/bench runs on the
    * same host can never race on the manifest check + atomic renames and
    * read each other's partially-committed tables; the oracle SQL strings
    * interpolate the same value, and Verify dumps them with the path baked
    * in, so the driver's DuckDB reads exactly the tables this process
    * materialized. Stale roots from earlier processes are janitored
    * age-based (SourceSynth.cleanStaleRoots — exit hooks would delete the
    * tables before the driver's DuckDB reads them). */
  private val KgRoot = {
    graft.sources.SourceSynth.cleanStaleRoots()
    s"/tmp/graft_kg_oracle_${ProcessHandle.current().pid()}"
  }

  /** Separate root for the snapshot-CDC query so its v1→v2 flip-flop never
    * perturbs q52's checkpointed pipeline. The pid stays the LAST `_`
    * token — the janitor's owner-liveness check parses it from there. */
  private val CdcRoot =
    s"/tmp/graft_kg_oracle_cdc_${ProcessHandle.current().pid()}"

  /** documents ∪ shifted copy — guaranteed exact-duplicate clusters for the
    * near-dup pipelines (ids i and i+max+1 share identical text). The
    * shift is derived from the data, NOT a constant: a fixed offset
    * collides with real ids once the table outgrows it, silently merging
    * two different texts under one id (and diverging from the oracle,
    * which keys shingle sets per doc_id). max(doc_id)+1 is collision-free
    * at any sf; the 1-row aggregate rides a broadcast cross-join (no
    * driver action), and the oracle mirrors it as a scalar subquery. */
  private def dupDocs(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id")).as("_mx"))
    // spread the single-split fixture: the dedup pipelines downstream
    // (q26 minhash signatures, q34 PPJoin shingles) consume this corpus
    // through interpreted HOF shingle work SEVERAL times, and each
    // consumer otherwise runs on the one scan task — profiled at 3×
    // ~2-3 s single-task stages at sf0.1. A 100 TB corpus has thousands
    // of natural splits (the q83/q86 rationale); every consumer below
    // groups by content hash / shingle, so row order is irrelevant.
    docs.unionByName(
      docs.crossJoin(broadcast(mx))
        .select((col("doc_id") + col("_mx") + 1L).as("doc_id"), col("text")))
      .repartition(s.sparkContext.defaultParallelism)
  }

  val defs: Seq[QueryDef] = Seq(

    // Gazetteer mention detection (Aho-Corasick, broadcast) over documents.
    QueryDef("q28_mentions", (s, d) => {
      import s.implicits._
      val bGaz = s.sparkContext.broadcast(docGaz)
      val rows = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      rows.flatMap { case (id, text) =>
        MentionDetector.mentionsOf(bGaz.value, id.toString, text)
          .groupBy(_.norm).map { case (term, ms) => (id, term, ms.size.toLong) }
      }.toDF("doc_id", "term", "n_mentions")
    }, Some("""
      SELECT doc_id, term, n_mentions FROM (
        SELECT doc_id, 'key' AS term,
          CAST(len(regexp_extract_all(text, '\bkey\b')) AS BIGINT) AS n_mentions FROM documents
        UNION ALL SELECT doc_id, 'table',
          CAST(len(regexp_extract_all(text, '\btable\b')) AS BIGINT) FROM documents
        UNION ALL SELECT doc_id, 'spark',
          CAST(len(regexp_extract_all(text, '\bspark\b')) AS BIGINT) FROM documents
        UNION ALL SELECT doc_id, 'merge',
          CAST(len(regexp_extract_all(text, '\bmerge\b')) AS BIGINT) FROM documents
        UNION ALL SELECT doc_id, 'window',
          CAST(len(regexp_extract_all(text, '\bwindow\b')) AS BIGINT) FROM documents
      ) WHERE n_mentions >= 1""")),

    // Term co-occurrence edges: docs containing both terms (A6 KG shape).
    QueryDef("q29_term_cooccur", (s, d) => {
      import s.implicits._
      val bGaz = s.sparkContext.broadcast(docGaz)
      val rows = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val presence = rows.flatMap { case (id, text) =>
        MentionDetector.mentionsOf(bGaz.value, id.toString, text)
          .map(_.norm).distinct.map(term => (id, term))
      }.toDF("doc_id", "term")
      presence.as("a").join(presence.as("b"), Seq("doc_id"))
        .where(col("a.term") < col("b.term"))
        .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
        .agg(count(lit(1)).as("n_docs"))
    }, Some("""
      WITH presence AS (
        SELECT doc_id, 'key' AS term FROM documents WHERE len(regexp_extract_all(text, '\bkey\b')) >= 1
        UNION ALL SELECT doc_id, 'table' FROM documents WHERE len(regexp_extract_all(text, '\btable\b')) >= 1
        UNION ALL SELECT doc_id, 'spark' FROM documents WHERE len(regexp_extract_all(text, '\bspark\b')) >= 1
        UNION ALL SELECT doc_id, 'merge' FROM documents WHERE len(regexp_extract_all(text, '\bmerge\b')) >= 1
        UNION ALL SELECT doc_id, 'window' FROM documents WHERE len(regexp_extract_all(text, '\bwindow\b')) >= 1)
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_docs
      FROM presence a JOIN presence b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2""")),

    // Connected components (large-star/small-star) vs recursive-CTE oracle.
    QueryDef("q30_connected_components", (s, d) => {
      // PLAN SHAPE (r06): same bounded-HOF pair expansion as q23 — the
      // old ps⋈ps self-join broadcast-duplicated the distinct subtree
      // and ran the expansion on AQE-byte-coalesced partitions; the pair
      // multiset (and so the n ≥ 3 edge set fed to CC) is identical.
      val grouped = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(sort_array(collect_set(col("l_suppkey"))).as("supps"))
        .repartition(s.sparkContext.defaultParallelism)
      // two chained codegen Generates instead of the nested-HOF combo
      // build (r06): HOFs are CodegenFallback; identical pair multiset
      val edges = grouped
        .select(col("supps"),
          posexplode(col("supps")).as(Seq("_i", "supp_a")))
        .select(col("supp_a"), explode(slice(col("supps"),
          col("_i") + lit(2), size(col("supps")))).as("supp_b"))
        .groupBy(col("supp_a"), col("supp_b"))
        .agg(count(lit(1)).as("n")).where(col("n") >= 3)
        .select(col("supp_a").as("src"), col("supp_b").as("dst"))
      ConnectedComponents.run(edges)
    }, Some("""
      WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      e0 AS (
        SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        FROM ps a JOIN ps b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nodes AS (SELECT DISTINCT src AS id FROM sym),
      reach (id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.dst AS id, r.comp
        FROM reach r JOIN sym e ON e.src = r.id)
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id""")),

    // MinHash+LSH near-dup dedup, verified end-to-end against a TRUE-Jaccard
    // + recursive-CTE connected-components oracle on the duplicated corpus.
    // (LSH recall at these similarity levels is 1 − (1−s⁴)¹⁶ ≈ 1; the exact
    // verify stage makes precision exact, so the outputs coincide.)
    QueryDef("q26_minhash_dedup", (s, d) => {
      Dedup.minhashDedup(dupDocs(s, d), "doc_id", "text",
        k = 5, numHashes = 64, bands = 16, threshold = 0.8)
    }, Some("""
      WITH RECURSIVE docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1 + (SELECT max(doc_id) FROM documents),
                         text FROM documents),
      toks AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM docs),
      sh AS (SELECT DISTINCT doc_id, s FROM (
               SELECT doc_id,
                 ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS s
               FROM toks, UNNEST(generate_series(1, len(ts) - 4)) AS u(i)
               UNION ALL  -- short-doc rule: whole text is the only shingle
               SELECT doc_id, text AS s FROM toks WHERE len(ts) < 5)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT ia AS src, ib AS dst FROM inter
                JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
                WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.8),
      sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
      reach (id, comp) AS (
        SELECT DISTINCT src, src FROM sym
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN sym e ON e.src = r.id)
      SELECT id AS doc_id, MIN(comp) AS canonical_id FROM reach GROUP BY id""")),

    // Exact n-gram Jaccard similarity join on the duplicated corpus, vs the
    // same computation spelled out in SQL.
    QueryDef("q34_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccardPairs(dupDocs(s, d), "doc_id", "text",
        k = 3, threshold = 0.9)
    }, Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1 + (SELECT max(doc_id) FROM documents),
                         text FROM documents),
      toks AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM docs),
      sh AS (SELECT DISTINCT doc_id, s FROM (
               SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
               FROM toks, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
               UNION ALL  -- short-doc rule: whole text is the only shingle
               SELECT doc_id, text AS s FROM toks WHERE len(ts) < 3)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b,
        CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
      FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.9""")),

    // Brute-force cosine top-k over embeddings (exact ANN baseline).
    QueryDef("q24_cosine_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
      Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }, Some("""
      SELECT query_id, neighbor_id, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                     c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8)
      WHERE rank <= 5""")),

    // LSH-bucketed ANN with a coordinate-sign hyperplane family so the
    // bucketing itself is oracle-checkable (the xxhash-RHP family stays the
    // scale default; its recall is measured vs brute force in AnnSpec).
    QueryDef("q25_ann_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
      Ann.lshTopK(emb, queries, "vec_id", "embedding", k = 5, nBits = 32,
        bands = 4, sigFn = Ann.coordSignSignature)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }, Some("""
      WITH buckets AS (
        SELECT e.vec_id, b.band,
          CAST(SUM(CASE WHEN e.embedding[b.band * 8 + j.j + 1] > 0
            THEN (1::BIGINT << j.j) ELSE 0 END) AS BIGINT) AS bits
        FROM embeddings e,
             (SELECT unnest(range(4)) AS band) b,
             (SELECT unnest(range(8)) AS j) j
        GROUP BY e.vec_id, b.band),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c ON q.band = c.band AND q.bits = c.bits
        WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
      ranked AS (
        SELECT cand.query_id, cand.neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY cand.query_id
            ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                     cand.neighbor_id) AS rank
        FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
                  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
      SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""")),

    // Portable SimHash (md5-derived token values) + 2×16-bit banded
    // candidates, capless self-join variant — fully oracle-checked. The
    // xxhash 64-bit simhash stays the scale default (DedupSpec).
    QueryDef("q35_simhash", (s, d) => {
      val sigs = Dedup.simhashPortable(dupDocs(s, d), "doc_id", "text")
        .localCheckpoint(true) // keep the signature aggregate out of the
                               // band projections (plan-fusion recompute)
      Dedup.simhashCandidates(sigs, bands = 2, bitsPerBand = 16,
        bucketCap = 0)
    }, Some("""
      WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1 + (SELECT max(doc_id) FROM documents),
                         text FROM documents),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM docs),
      vals AS (SELECT doc_id,
                 CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS v
               FROM toks WHERE len(tok) > 0),
      bits AS (SELECT doc_id, i.i AS i,
                 SUM(CASE WHEN (v >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS c
               FROM vals, (SELECT unnest(range(32)) AS i) i
               GROUP BY 1, 2),
      sig0 AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END)
                   AS BIGINT) AS simhash
               FROM bits GROUP BY 1),
      sig AS (SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT)
                AS simhash
              FROM docs d LEFT JOIN sig0 s USING (doc_id)),
      buckets AS (SELECT doc_id, b.b AS band,
                    (simhash >> (b.b * 16)) & 65535 AS bits
                  FROM sig, (SELECT unnest(range(2)) AS b) b)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id""")),

    // Portable rolling fingerprint (md5 token values, polynomial mod-prime)
    // — oracle-checked; the xxhash variant stays the library default.
    QueryDef("q36_fingerprint", (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        TextFunctions.fingerprintPortable(col("text")).as("fingerprint"))
    }, Some("""
      SELECT doc_id, list_reduce(
        list_prepend(0::BIGINT,
          list_transform(string_split(text, ' '),
            t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
        (h, t) -> (h * 31 + t) % 1000000007) AS fingerprint
      FROM documents""")),

    // Multimodal: binary payload plumbing over documents-derived media —
    // metadata surface (media_id, kind, n_bytes) oracle-checked.
    // decodePayloads=false: these payloads are text-byte stand-ins (so the
    // oracle can recompute octet_length), not encoded media; the REAL
    // decode paths are q50 (image), q53 (audio), q75 (video).
    QueryDef("q37_multimodal", (s, d) => {
      val media = Multimodal.fromDocuments(s, t(s, d, "documents"))
      Multimodal.extractFeatures(s, media, decodePayloads = false)
        .toDF().select(col("media_id"), col("kind"), col("n_bytes"))
    }, Some("""
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS kind,
        CAST(octet_length(encode(text)) AS INT) AS n_bytes
      FROM documents""")),

    // REAL image decode end-to-end (JDK ImageIO, zero external deps):
    // synthesize a genuine PNG per document id (constant gray = id%256,
    // corner marked (gray+7)%256), decode it back, and emit pixel values
    // READ FROM THE DECODED RASTER plus the dims of a genuinely resized
    // (bilinear, re-encoded, re-decoded) copy. PNG is lossless, so every
    // emitted value is an exact integer the DuckDB oracle recomputes from
    // id arithmetic — the only way Spark gets them is a real decode.
    QueryDef("q50_image_decode", (s, d) => {
      import s.implicits._
      // spread the single-split fixture before the per-row PNG
      // encode/decode/resize (profiled 1.6 s on ONE task) — q75 rationale
      t(s, d, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism).as[Long].map { id =>
        val w = 8 + (id % 24).toInt
        val h = 8 + (id % 16).toInt
        val png = Multimodal.syntheticPng(id, w, h)
        val img = Multimodal.decodeImage(png)
        val corner = img.getRGB(0, 0) & 0xFF
        val base = img.getRGB(img.getWidth - 1, img.getHeight - 1) & 0xFF
        val rs = Multimodal.decodeImage(Multimodal.resizeImage(png, 4, 4))
        (id, img.getWidth, img.getHeight, corner, base,
          rs.getWidth, rs.getHeight)
      }.toDF("media_id", "width", "height", "corner_gray", "base_gray",
        "resized_width", "resized_height")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(8 + doc_id % 24 AS INT) AS width,
        CAST(8 + doc_id % 16 AS INT) AS height,
        CAST((doc_id % 256 + 7) % 256 AS INT) AS corner_gray,
        CAST(doc_id % 256 AS INT) AS base_gray,
        CAST(4 AS INT) AS resized_width, CAST(4 AS INT) AS resized_height
      FROM documents""")),

    // REAL audio decode end-to-end (JDK javax.sound.sampled WAV codec,
    // zero external deps): synthesize a genuine RIFF/PCM16 WAV per
    // document id (square wave, amplitude 1000 + id%100*250, 32 + id%64
    // samples), decode it back, and emit the sample rate READ FROM THE
    // PARSED RIFF HEADER plus peak/trough/length READ FROM THE DECODED
    // SAMPLES. PCM is lossless, so every value is an exact integer the
    // DuckDB oracle recomputes from id arithmetic — the only way Spark
    // gets them is a real decode.
    QueryDef("q53_audio_decode", (s, d) => {
      import s.implicits._
      // NOT spread (r06): unlike q50/q75, the per-row WAV synth+decode is
      // tiny (≤96 samples) — measured, the extra exchange costs more than
      // the single-task map
      t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val rate = 8000 + (id % 3).toInt * 8000
        val wav = Multimodal.syntheticWav(id, rate)
        val (decodedRate, samples) = Multimodal.decodeWav(wav)
        (id, decodedRate, samples.length,
          samples.max.toInt, samples.min.toInt)
      }.toDF("media_id", "sample_rate", "n_samples", "peak", "trough")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(8000 + (doc_id % 3) * 8000 AS INT) AS sample_rate,
        CAST(32 + doc_id % 64 AS INT) AS n_samples,
        CAST(1000 + (doc_id % 100) * 250 AS INT) AS peak,
        CAST(-(1000 + (doc_id % 100) * 250) AS INT) AS trough
      FROM documents""")),

    // IVF ANN with the coordinate-axis centroid family (dot(v, c) = v[c])
    // so coarse quantization, probe selection and rerank are ALL
    // oracle-checkable; the hash-derived centroid family stays the scale
    // default (recall + determinism in AnnSpec).
    QueryDef("q51_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
      Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 5, nlist = 16,
        nprobe = 4, dotsFn = Ann.coordDots)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }, Some("""
      WITH corpus AS (
        SELECT vec_id, embedding,
          list_position(embedding[1:16], list_max(embedding[1:16])) - 1
            AS cluster
        FROM embeddings),
      qprobes AS (
        SELECT vec_id AS query_id, j.j AS cluster
        FROM embeddings, (SELECT unnest(range(16)) AS j) j
        WHERE vec_id < 8
        QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY embedding[j.j + 1] DESC, j.j) <= 4),
      cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM qprobes q JOIN corpus c ON c.cluster = q.cluster
        WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT cand.query_id, cand.neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY cand.query_id
            ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                     cand.neighbor_id) AS rank
        FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
                  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
      SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""")),

    // Pipeline-backed KG materialization, DRIVER-ORACLED end-to-end: run
    // the full checkpointed pipeline (synth pages → page canonicalization
    // [minhash dedup ON — the dedupPages stage is continuously exercised
    // here] → triples → vertices → edges) to a fixed root, then emit the
    // claim edges. The DuckDB oracle INDEPENDENTLY rebuilds them from the
    // materialized triples+vertices parquet: claim aggregation (COUNT per
    // (subj,pred,obj)), dense per-type key assignment (recomputed as a
    // plain window rank — checking the distributed KeyAssigner), endpoint
    // resolution drop semantics (inner joins), and the strength formula.
    // A hash mismatch in ANY of those shows up as a red driver row.
    // BENCH NOTE (applies to q52/q59/q60): the pipeline is checkpointed at
    // a fixed root, so repeated bench passes time the WARM path
    // (manifest-skip + parquet read + aggregation); cold pipeline
    // throughput is measured by Bench's dedicated KG-scaling section
    // (4M docs at 3 parallelism levels), not by these query rows.
    QueryDef("q52_kg_pipeline_edges", (s, d) => {
      graft.pipeline.Pipeline.run(s, KgRoot, nPages = 2000, partitions = 8,
        dedupPages = true)
      s.read.parquet(s"$KgRoot/edges")
        .where(col("claim_type") =!= "DRUG_LABEL")
        .select(col("src_type"), col("src_key"), col("dst_type"),
          col("dst_key"), col("claim_type"), col("strength_score"),
          col("frequency"))
    }, Some(s"""
      WITH t AS (
        SELECT * FROM read_parquet('$KgRoot/triples/*.parquet')),
      v AS (
        SELECT node_type, label,
          CAST(row_number() OVER (PARTITION BY node_type ORDER BY label)
            AS BIGINT) AS key
        FROM read_parquet('$KgRoot/vertices/*.parquet')),
      claims AS (
        SELECT subj, pred, obj, COUNT(*) AS frequency FROM t GROUP BY 1, 2, 3)
      SELECT sv.node_type AS src_type, sv.key AS src_key,
        dv.node_type AS dst_type, dv.key AS dst_key,
        c.pred AS claim_type,
        LEAST(1.0::DOUBLE, c.frequency / 10.0) AS strength_score,
        CAST(c.frequency AS DOUBLE) AS frequency
      FROM claims c
      JOIN v sv ON sv.label = c.subj
      JOIN v dv ON dv.label = c.obj""")),

    // Evidence retrieval over the materialized pipeline graph: explode the
    // per-claim evidence lists (bounded at EvidenceCap=20, url-sorted) for
    // a claim-key range. The oracle independently rebuilds claim keys
    // (dense rank over the \x01-joined claim string — checking KeyAssigner
    // again from a second angle), endpoint-resolution drops, the per-(claim,
    // url) min-sentence payload AND the evidence cap from the triples
    // parquet. Proves the evidence PAYLOADS (reference build.py:121-167),
    // not just the url lists.
    QueryDef("q59_claim_evidence", (s, d) => {
      graft.pipeline.Pipeline.run(s, KgRoot, nPages = 2000, partitions = 8,
        dedupPages = true)
      val edges = s.read.parquet(s"$KgRoot/edges")
      graft.query.Tools.claimEvidenceBatch(
          edges.where(col("claim_key").between(1, 50)))
        .select(col("claim_key"), col("claim_type"), col("evidence_type"),
          col("source_record_id"), col("source_url"),
          element_at(col("payload"), "sentence").as("sentence"))
    }, Some(s"""
      WITH t AS (
        SELECT * FROM read_parquet('$KgRoot/triples/*.parquet')),
      vlabels AS (
        SELECT DISTINCT label
        FROM read_parquet('$KgRoot/vertices/*.parquet')),
      ck AS (
        SELECT subj, pred, obj,
          row_number() OVER (ORDER BY subj || chr(1) || pred || chr(1) || obj)
            AS claim_key
        FROM (SELECT DISTINCT subj, pred, obj FROM t)),
      resolved AS (
        SELECT ck.subj, ck.pred, ck.obj, ck.claim_key FROM ck
        JOIN vlabels sv ON sv.label = ck.subj
        JOIN vlabels dv ON dv.label = ck.obj
        WHERE ck.claim_key BETWEEN 1 AND 50),
      ev AS (
        SELECT subj, pred, obj, url, MIN(sentence) AS sentence
        FROM t GROUP BY 1, 2, 3, 4),
      capped AS (
        SELECT *, row_number() OVER (PARTITION BY subj, pred, obj
          ORDER BY url) AS rn FROM ev)
      SELECT r.claim_key, r.pred AS claim_type,
        'page' AS evidence_type, c.url AS source_record_id,
        c.url AS source_url, c.sentence
      FROM resolved r
      JOIN capped c ON c.subj = r.subj AND c.pred = r.pred AND c.obj = r.obj
      WHERE c.rn <= 20""")),

    // FDA-label-style sections for EVERY drug (batched
    // get_drug_label_sections): DRUG_LABEL self-loop evidence payload maps
    // exploded to (section_name, content) rows; the oracle rebuilds the
    // per-drug min-sentence section text from the triples parquet.
    QueryDef("q60_label_sections", (s, d) => {
      graft.pipeline.Pipeline.run(s, KgRoot, nPages = 2000, partitions = 8,
        dedupPages = true)
      graft.query.PathTools.allDrugLabelSections(
        s.read.parquet(s"$KgRoot/edges"))
    }, Some(s"""
      WITH t AS (
        SELECT * FROM read_parquet('$KgRoot/triples/*.parquet')),
      vd AS (
        SELECT label, key
        FROM read_parquet('$KgRoot/vertices/*.parquet')
        WHERE node_type = 'Drug'),
      lab AS (
        SELECT subj, MIN(sentence) AS section_text
        FROM t WHERE pred = 'DRUG_AE' GROUP BY subj)
      SELECT vd.key AS drug_key, l.subj AS brand_name,
        'adverse_reactions' AS section_name, l.section_text AS content
      FROM lab l JOIN vd ON vd.label = l.subj""")),

    // S15 serving layer end-to-end: load the ServingIndex from the
    // materialized pipeline artifact (collected once into a driver-side
    // label map + adjacency store) and resolve a drug name through it — exact-before-partial precedence,
    // substring scan, shortest-label ordering, bounded partials, all
    // recomputed by the oracle from the vertices parquet. "zorvex1" has one
    // exact hit and ten zorvex1X partials, so both ranks carry rows.
    QueryDef("q72_serving_resolve", (s, d) => {
      graft.pipeline.Pipeline.run(s, KgRoot, nPages = 2000, partitions = 8,
        dedupPages = true)
      // loadOrGet: the get_store()-style session singleton — repeated
      // bench passes reuse ONE driver store instead of collecting a fresh
      // copy per pass
      val idx = graft.query.ServingIndex.loadOrGet(s, KgRoot)
      // nodeLabel goes through the driver label map — assert it agrees with
      // the served frame so the O(1) lookup path is exercised too
      require(idx.nodeLabel("Drug", 1L).isDefined,
        "driver label map missing Drug key 1")
      idx.resolve("Drug", "zorvex1")
        .select(col("node_type"), col("key"), col("label"),
          col("match_rank"))
    }, Some(s"""
      WITH v AS (
        SELECT node_type, key, label
        FROM read_parquet('$KgRoot/vertices/*.parquet')
        WHERE node_type = 'Drug'),
      partials AS (
        SELECT *, row_number() OVER (ORDER BY length(label), label, key)
          AS rn
        FROM v
        WHERE contains(lower(label), 'zorvex1') AND lower(label) != 'zorvex1')
      SELECT node_type, key, label, 0 AS match_rank FROM v
      WHERE lower(label) = 'zorvex1'
      UNION ALL
      SELECT node_type, key, label, 1 FROM partials WHERE rn <= 25""")),

    // Flagship: the full KG extraction (synth pages → extract → link →
    // triple rows → claim aggregate), DRIVER-ORACLED: the raw
    // (unaggregated) triples are materialized to parquet as a side output
    // and the DuckDB oracle INDEPENDENTLY re-aggregates them, while Spark
    // returns the aggregate computed from the in-memory extraction — so
    // the claim aggregation and the write path are cross-checked. The
    // extraction leg itself is DuckDB-inexpressible (HTML walking); its
    // P/R = 1.0 vs the pure-Scala oracle is pinned in KgPipelineSpec, and
    // its downstream keys/evidence/labels are independently oracled by
    // q52/q59/q60. Corpus fixed at 2000 pages (sf-independent — the oracle
    // SQL is one string for all sfs); extraction THROUGHPUT at scale is
    // measured by Bench's KG-scaling section (4M docs), not here.
    QueryDef("q38_kg_triples", (s, d) => {
      val out = s"$KgRoot/q38_triples"
      val triples = TripleExtractor.extract(s, PageSynth.pages(s, 2000),
        PageSynth.gazetteer, PageSynth.RelationRules.toMap).toDF()
      triples.write.mode("overwrite").parquet(out)
      triples
        .groupBy(col("subj"), col("pred"), col("obj"))
        .agg(count(lit(1)).as("frequency"))
    }, Some(s"""
      SELECT subj, pred, obj, COUNT(*) AS frequency
      FROM read_parquet('$KgRoot/q38_triples/*.parquet')
      GROUP BY 1, 2, 3""")),

    // REAL video decode end-to-end (MJPEG-style container, zero external
    // deps): synthesize a genuine muxed video per document id (3 + id%4
    // PNG frames, frame f constant gray (id+11f)%256 with a marked
    // corner), demux it through the REAL sampleFrames operator (row
    // explosion: every 2nd frame), decode each emitted frame payload via
    // ImageIO, and emit pixel values READ FROM THE DECODED RASTERS. The
    // DuckDB oracle recomputes every value from id arithmetic — matching
    // requires a genuine demux AND a genuine per-frame decode.
    QueryDef("q75_video_decode", (s, d) => {
      import s.implicits._
      // spread the single-split fixture BEFORE the synth+demux+decode
      // map work (container mux, ImageIO per frame — by far the
      // heaviest per-row cost in the suite) — on one scan task it all
      // ran on a single core; a real media corpus arrives in thousands
      // of splits (the q83/q86 rationale). Per-row output → order-free.
      val media = t(s, d, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism).as[Long].map {
        id => Multimodal.MediaRow(id, "video", Multimodal.syntheticVideo(id),
          8, 6, 0)
      }
      Multimodal.sampleFrames(s, media, everyN = 2).map { fr =>
        val img = Multimodal.decodeImage(fr.payload)
        (fr.media_id, fr.frame_idx,
          img.getRGB(img.getWidth - 1, img.getHeight - 1) & 0xFF,
          img.getRGB(0, 0) & 0xFF, img.getWidth, img.getHeight)
      }.toDF("media_id", "frame_idx", "frame_gray", "corner_gray",
        "width", "height")
    }, Some("""
      SELECT doc_id AS media_id, CAST(f.i AS INT) AS frame_idx,
        CAST((doc_id + 11 * f.i) % 256 AS INT) AS frame_gray,
        CAST((doc_id + 11 * f.i + 7) % 256 AS INT) AS corner_gray,
        CAST(8 AS INT) AS width, CAST(6 AS INT) AS height
      FROM documents,
        UNNEST(generate_series(0, 2 + doc_id % 4)) AS f(i)
      WHERE f.i % 2 = 0""")),

    // §2.8's incremental streaming claims sink under the driver: two
    // deterministic page-file waves stream through incrementalClaims with
    // a persistent checkpoint — the second run RESUMES from committed
    // offsets and merges only wave 2's delta; later invocations replay
    // nothing (exactly-once). The raw triples of the full corpus are
    // materialized once as a side output and the DuckDB oracle
    // re-aggregates them INDEPENDENTLY, so a dropped or double-merged
    // delta (the crash windows the atomic in-dir batch-id commit closes)
    // hash-mismatches against the streamed claims table.
    QueryDef("q78_incremental_claims", (s, d) => {
      val root = s"$KgRoot/q78"
      def drain(): Unit = graft.streaming.StreamOps.incrementalClaims(
        s, s"$root/pages/*",
        org.apache.spark.sql.Encoders.product[graft.model.Page].schema,
        s"$root/claims_table", s"$root/ckpt",
        PageSynth.gazetteer, PageSynth.RelationRules.toMap)
      ensureTwoWaveClaimsFixture(s, root)(() => drain())
      drain() // no new files: exactly-once replay must be a no-op
      graft.streaming.StreamOps.readClaims(s, root + "/claims_table")
    }, Some(s"""
      SELECT subj, pred, obj, COUNT(*) AS frequency
      FROM read_parquet('$KgRoot/q78/triples/*.parquet')
      GROUP BY 1, 2, 3""")),

    // The KEYED claims sink (open-vocabulary scale path) under the driver:
    // same two-wave resume/replay protocol as q78, but each micro-batch
    // merges via KeyedClaims — bucket-level rewrites published by manifest
    // + _HEAD pointer swap instead of a whole-table rewrite. The oracle
    // re-aggregates the independently-materialized raw triples, so a
    // dropped delta, a double merge, OR a bucket the manifest lost/kept
    // stale (the failure modes specific to partial rewrites) all
    // hash-mismatch. KeyedClaimsSpec additionally pins on the manifest
    // that wave 2 rewrote ONLY its touched buckets.
    QueryDef("q81_keyed_claims", (s, d) => {
      val root = ensureKeyedClaimsFixture(s)
      drainKeyed(s, root) // no new files: exactly-once replay = no-op
      graft.streaming.KeyedClaims.read(s, root + "/claims_table")
    }, Some(s"""
      SELECT subj, pred, obj, COUNT(*) AS frequency
      FROM read_parquet('$KgRoot/q81/triples/*.parquet')
      GROUP BY 1, 2, 3""")),

    // Point lookup against the keyed claims table: the read-side payoff
    // of the bucketed layout — the key's bucket is computed DRIVER-side
    // with the table's pinned bucket function and only that bucket's data
    // dir is scanned (Iceberg-style bucket-partition pruning on plain
    // parquet; KeyedClaimsSpec pins via inputFiles that exactly one
    // bucket dir is read). The key is derived deterministically from the
    // fixture (lexicographic min triple) in BOTH engines, so nothing is
    // hardcoded; the oracle aggregates the raw triples full-scan, so a
    // lookup routed to the wrong bucket returns zero rows and mismatches.
    QueryDef("q82_keyed_lookup", (s, d) => {
      val root = ensureKeyedClaimsFixture(s)
      val k = s.read.parquet(s"$root/triples")
        .select(col("subj"), col("pred"), col("obj"))
        .orderBy("subj", "pred", "obj").limit(1).collect()(0)
      graft.streaming.KeyedClaims.lookup(s, s"$root/claims_table",
        k.getString(0), k.getString(1), k.getString(2))
    }, Some(s"""
      WITH k AS (
        SELECT subj, pred, obj
        FROM read_parquet('$KgRoot/q81/triples/*.parquet')
        ORDER BY subj, pred, obj LIMIT 1)
      SELECT t.subj, t.pred, t.obj, COUNT(*) AS frequency
      FROM read_parquet('$KgRoot/q81/triples/*.parquet') t
      JOIN k USING (subj, pred, obj)
      GROUP BY 1, 2, 3""")),

    // Snapshot-diff CDC over the stage-table snapshot machinery: commit a
    // "v1 crawl" of per-doc stats through runStage, recommit a "v2
    // re-crawl" (different doc filter AND a changed flag derivation — so
    // added, removed and changed rows all occur), then diffSnapshots the
    // archived v1 against current v2. The oracle recomputes BOTH versions
    // independently from the raw documents table and mirrors the full
    // outer join — so a snapshot archived non-byte-faithfully, a diff that
    // misclassifies presence, or a null-safe compare bug all
    // hash-mismatch. Repeat runs flip v1→v2 through the same commit
    // protocol every time (versions intentionally never manifest-skip);
    // retention is pruned so the history stays bounded.
    QueryDef("q114_snapshot_cdc", (s, d) => {
      import graft.pipeline.Pipeline
      val root = CdcRoot
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Pipeline.runStage(s, root, "doc_claims", "cdc-v1", upstream = d) {
        docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("flag", pmod(col("n_tokens"), lit(2)))
      }
      Pipeline.runStage(s, root, "doc_claims", "cdc-v2", upstream = d) {
        docs.where(pmod(col("doc_id"), lit(4)) =!= 0)
          .withColumn("flag",
            pmod(col("n_tokens") + col("doc_id"), lit(2)))
      }
      Pipeline.pruneSnapshots(root, "doc_claims", keep = 2)
      val v1Snap = Pipeline.snapshots(root, "doc_claims").last
      Pipeline.diffSnapshots(s, root, "doc_claims", v1Snap,
        keyCols = Seq("doc_id"), compareCols = Seq("n_tokens", "flag"))
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      v1 AS (SELECT doc_id, n_tokens, n_tokens % 2 AS flag
             FROM base WHERE doc_id % 3 <> 0),
      v2 AS (SELECT doc_id, n_tokens, (n_tokens + doc_id) % 2 AS flag
             FROM base WHERE doc_id % 4 <> 0)
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        CASE WHEN v1.doc_id IS NULL THEN 'added'
             WHEN v2.doc_id IS NULL THEN 'removed'
             ELSE 'changed' END AS change_type,
        v1.n_tokens AS old_n_tokens, v2.n_tokens AS new_n_tokens,
        v1.flag AS old_flag, v2.flag AS new_flag
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
         OR v1.n_tokens IS DISTINCT FROM v2.n_tokens
         OR v1.flag IS DISTINCT FROM v2.flag"""))
  )

  private def drainKeyed(s: SparkSession, root: String): Unit =
    graft.streaming.KeyedClaims.incrementalClaimsKeyed(
      s, s"$root/pages/*",
      org.apache.spark.sql.Encoders.product[graft.model.Page].schema,
      s"$root/claims_table", s"$root/ckpt",
      PageSynth.gazetteer, PageSynth.RelationRules.toMap)

  /** The shared q81/q82 keyed-claims fixture root (built on demand). */
  private def ensureKeyedClaimsFixture(s: SparkSession): String = {
    val root = s"$KgRoot/q81"
    ensureTwoWaveClaimsFixture(s, root)(() => drainKeyed(s, root))
    root
  }

  /** Build (or self-heal) a two-wave incremental-claims fixture at
    * `root`: wave 1 (pages 0–249) written under `root/pages` and streamed
    * through `drain`, wave 2 (pages 250–399) appended and drained again
    * (the drain RESUMES from the checkpoint's committed offsets), plus
    * the full corpus's raw triples materialized once for the DuckDB
    * oracle. ONE builder shared by the rewrite (q78) and keyed (q81/q82)
    * sinks, so the two oracled sinks can never diverge in fixture
    * semantics.
    *
    * Self-healing: a previous PARTIAL attempt (e.g. killed between
    * wave 1's commit and the _READY marker) leaves a checkpoint that
    * tracks the old part-file NAMES — rewriting wave 1 would stream the
    * renamed files as a fresh batch and double-merge it. Rebuild the
    * whole fixture tree from scratch instead; the result is
    * deterministic, so a clean rebuild always converges. */
  private def ensureTwoWaveClaimsFixture(s: SparkSession, root: String)(
      drain: () => Unit): Unit = {
    import s.implicits._
    val ready = java.nio.file.Paths.get(root, "_READY")
    if (!java.nio.file.Files.exists(ready)) {
      graft.util.Fs.deleteRec(java.nio.file.Paths.get(root))
      PageSynth.pages(s, 250).toDF()
        .write.mode("overwrite").parquet(s"$root/pages/b1")
      drain() // wave 1 commits
      s.range(250, 400).map(i => PageSynth.page(i))(
          org.apache.spark.sql.Encoders.product[graft.model.Page]).toDF()
        .write.mode("overwrite").parquet(s"$root/pages/b2")
      drain() // restart: checkpointed offsets → only wave 2 merges
      TripleExtractor.extract(s, PageSynth.pages(s, 400),
          PageSynth.gazetteer, PageSynth.RelationRules.toMap).toDF()
        .write.mode("overwrite").parquet(s"$root/triples")
      java.nio.file.Files.writeString(ready, "1")
    }
  }
}
