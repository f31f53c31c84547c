package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.PathTools

import QueryDef.t

/** Driver-oracle-checkable coverage of the reference tool layer
  * (reference:src/kg_ae/tools/) — the tools are generic DataFrame programs
  * over (vertices, edges), so they run unchanged over a typed property
  * graph DERIVED FROM the deterministic TPC-H tables, which DuckDB can
  * reconstruct exactly. Mapping:
  *
  *   supplier → Drug        part → Gene        p_brand → Disease (as-is)
  *   upper(p_brand) → AdverseEvent   (same concept, two "ontologies" with
  *     different casing — exactly the situation the J8 label-equality join
  *     exists for, reference:src/kg_ae/tools/paths.py:98-111)
  *   p_type → Pathway       order → DrugCombination (suppliers that appear
  *     on one order are "co-prescribed"; membership bounded to
  *     l_suppkey ≤ 30 to keep pair fan-out proportional at every sf)
  *
  * Claim granularity: one DRUG_TARGET edge per (supplier, part,
  * returnflag) — multiple claims per drug–gene pair, so dedup-by-gene and
  * claim counting are actually exercised. Fixture-graph semantics are
  * covered in PathToolsSpec; these queries pin the SAME code against the
  * DuckDB gate at data scale.
  */
object GraphQueries {

  private def brandKey(c: org.apache.spark.sql.Column) =
    substring(c, 7, 10).cast("long")
  private def prioKey(c: org.apache.spark.sql.Column) =
    substring(c, 1, 1).cast("long") + 1000L

  /** Typed vertex table (node_type, key, label). */
  def tpchVertices(s: SparkSession, d: String): DataFrame = {
    val part = t(s, d, "part")
    val drugs = t(s, d, "supplier").select(lit("Drug").as("node_type"),
      col("s_suppkey").as("key"), col("s_name").as("label"))
    val genes = part.select(lit("Gene").as("node_type"),
      col("p_partkey").as("key"), col("p_name").as("label"))
    val aesBrand = part.select(brandKey(col("p_brand")).as("key"),
      upper(col("p_brand")).as("label")).distinct()
      .select(lit("AdverseEvent").as("node_type"), col("key"), col("label"))
    val aesPrio = t(s, d, "orders")
      .select(prioKey(col("o_orderpriority")).as("key"),
        col("o_orderpriority").as("label")).distinct()
      .select(lit("AdverseEvent").as("node_type"), col("key"), col("label"))
    val diseases = part.select(brandKey(col("p_brand")).as("key"),
      col("p_brand").as("label")).distinct()
      .select(lit("Disease").as("node_type"), col("key"), col("label"))
    val pathways = pathwayKeys(s, d)
      .select(lit("Pathway").as("node_type"), col("key"),
        col("p_type").as("label"))
    val combos = t(s, d, "orders").select(
      lit("DrugCombination").as("node_type"), col("o_orderkey").as("key"),
      concat(lit("combo "), col("o_orderkey")).as("label"))
    drugs.unionByName(genes).unionByName(aesBrand).unionByName(aesPrio)
      .unionByName(diseases).unionByName(pathways).unionByName(combos)
  }

  /** Dense pathway keys: rank of p_type in sort order (6 values), computed
    * as a ≤-self-join count over the distinct values (6×6 pairs) instead
    * of a global Window.orderBy — no single-partition funnel and no
    * "No Partition Defined" log noise burying real scale warnings.
    *
    * Deliberately NOT KeyAssigner.assign (the general dense-key path,
    * identical 1..N-in-sort-order semantics): assign eagerly materializes
    * its range partitioning (a cut) to make key boundaries a
    * fact, which would launch a job at query-BUILD time for every
    * tpch-graph QueryDef. The ≤-join stays lazy and is bounded by the
    * fixed 6-value p_type domain; use assign for any unbounded domain. */
  private def pathwayKeys(s: SparkSession, d: String): DataFrame = {
    val pt = t(s, d, "part").select("p_type").distinct()
    pt.as("a").join(pt.as("b"), col("b.p_type") <= col("a.p_type"))
      .groupBy(col("a.p_type").as("p_type"))
      .agg(count(lit(1)).cast("long").as("key"))
  }

  /** Typed edge table in the GraphBuilder schema (minus evidence). */
  def tpchEdges(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val part = t(s, d, "part")
    val orders = t(s, d, "orders")
    def edgeRow(df: DataFrame, st: String, sk: String, dt: String,
        dk: String, claim: String, strength: org.apache.spark.sql.Column,
        freq: org.apache.spark.sql.Column,
        variant: org.apache.spark.sql.Column = lit("")): DataFrame =
      df.select(
        lit(st).as("src_type"), col(sk).cast("long").as("src_key"),
        lit(dt).as("dst_type"), col(dk).cast("long").as("dst_key"),
        lit(claim).as("edge"),
        xxhash64(lit(st), col(sk), lit(dt), col(dk), lit(claim), variant)
          .as("claim_key"),
        lit(claim).as("claim_type"),
        strength.cast("double").as("strength_score"),
        freq.cast("double").as("frequency"),
        lit(claim).as("relation"),
        lit("tpch").as("dataset"),
        map().cast("map<string,string>").as("meta"))
    val drugTarget = edgeRow(
      li.groupBy("l_suppkey", "l_partkey", "l_returnflag")
        .agg(count(lit(1)).as("n")),
      "Drug", "l_suppkey", "Gene", "l_partkey", "DRUG_TARGET",
      lit(0.9), col("n"), col("l_returnflag"))
    val drugAe = edgeRow(
      li.join(part, col("p_partkey") === col("l_partkey"))
        .where(col("l_quantity") >= 49)
        .groupBy(col("l_suppkey"), brandKey(col("p_brand")).as("bk"))
        .agg(count(lit(1)).as("n")),
      "Drug", "l_suppkey", "AdverseEvent", "bk", "DRUG_AE",
      lit(0.7), col("n"))
    val geneDisease = edgeRow(
      part.select(col("p_partkey"), brandKey(col("p_brand")).as("bk"),
        (col("p_size") / lit(50.0)).as("sc")),
      "Gene", "p_partkey", "Disease", "bk", "GENE_DISEASE",
      col("sc"), lit(1.0))
    val genePathway = edgeRow(
      part.join(pathwayKeys(s, d), "p_type")
        .select(col("p_partkey"), col("key").as("pk")),
      "Gene", "p_partkey", "Pathway", "pk", "GENE_PATHWAY",
      lit(0.9), lit(1.0))
    val membership = edgeRow(
      li.where(col("l_suppkey") <= 30)
        .select("l_suppkey", "l_orderkey").distinct(),
      "Drug", "l_suppkey", "DrugCombination", "l_orderkey",
      "DRUG_IN_COMBINATION", lit(0.5), lit(1.0))
    val ddiAe = edgeRow(
      orders.select(col("o_orderkey"),
        prioKey(col("o_orderpriority")).as("ak"), col("o_totalprice")),
      "DrugCombination", "o_orderkey", "AdverseEvent", "ak",
      "DDI_AE_TWOSIDES", col("o_totalprice"), lit(1.0))
    drugTarget.unionByName(drugAe).unionByName(geneDisease)
      .unionByName(genePathway).unionByName(membership).unionByName(ddiAe)
  }

  /** q42's Drug→AE path set (direct ∪ label-equality two-hop) — shared by
    * q42 and the q65 policy re-scoring query. */
  private def labelPathsOf(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val part = t(s, d, "part")
    val v = tpchVertices(s, d)
    // Legs built straight from the base tables instead of filtering
    // tpchEdges (r06, guide §2.3/§2.4 — project early, drop exchanges):
    //  - direct: same li⋈part qty≥49 aggregation the DRUG_AE branch runs,
    //    minus the edge-schema wrapper columns;
    //  - drugGene: ONE distinct over (suppkey, partkey) — the edge route
    //    paid a 3-column groupBy (the per-returnflag claim grain) AND then
    //    a distinct, two full fact-sized exchanges for the same pair set;
    //  - geneDisease: p_partkey is unique in part, so the per-(gene,
    //    disease) max-aggregation is the identity — the bare projection
    //    is the same row set with zero exchanges.
    // Row-for-row identical to the tpchEdges derivation (the driver's
    // hash gate on q42/q65/q76 proves it); the J8 operator under test,
    // labelEqualityPaths, is unchanged.
    val direct = li.join(part, col("p_partkey") === col("l_partkey"))
      .where(col("l_quantity") >= 49)
      .groupBy(col("l_suppkey").cast("long").as("drug_key"),
        brandKey(col("p_brand")).as("ae_key"))
      .agg(count(lit(1)).cast("double").as("direct_score"))
    val drugGene = li
      .select(col("l_suppkey").cast("long").as("drug_key"),
        col("l_partkey").cast("long").as("gene_key"))
      .distinct()
    val geneDisease = part.select(
      col("p_partkey").cast("long").as("gene_key"),
      brandKey(col("p_brand")).as("disease_key"),
      (col("p_size") / lit(50.0)).cast("double").as("score"))
    val diseases = v.where(col("node_type") === "Disease")
      .select(col("key").as("disease_key"), col("label").as("disease_label"))
    val aes = v.where(col("node_type") === "AdverseEvent")
      .select(col("key").as("ae_key"), col("label").as("ae_label"))
    PathTools.labelEqualityPaths(direct, drugGene, geneDisease, diseases,
      aes)
  }

  /** GENE_GENE_STRING edges for the interactor tool: parts sharing
    * (p_type, p_brand) interact. Emitted in BOTH directions (the reference
    * STRING graph is undirected; geneInteractors scans out-edges only, so
    * a one-direction encoding would silently drop every lower-keyed
    * partner). Strength comes from the partner's (dst) p_size, so the
    * reference's 0.7 confidence gate bites. Built separately from
    * [[tpchEdges]] so multi-hop queries (q46 subgraph) keep their edge
    * vocabulary unchanged. */
  private def tpchGeneGeneEdges(s: SparkSession, d: String): DataFrame = {
    val p = t(s, d, "part")
      .select(col("p_partkey"), col("p_type"), col("p_brand"),
        col("p_size"))
    p.select(col("p_partkey").as("src_key"), col("p_type"), col("p_brand"))
      .join(p.select(col("p_partkey").as("dst_key"), col("p_type"),
        col("p_brand"), col("p_size")), Seq("p_type", "p_brand"))
      .where(col("src_key") =!= col("dst_key"))
      .select(
        lit("Gene").as("src_type"), col("src_key"),
        lit("Gene").as("dst_type"), col("dst_key"),
        lit("GENE_GENE_STRING").as("edge"),
        xxhash64(col("src_key"), col("dst_key")).as("claim_key"),
        lit("GENE_GENE_STRING").as("claim_type"),
        (col("p_size") / lit(50.0)).as("strength_score"),
        lit(1.0).as("frequency"),
        lit("interacts_with").as("relation"),
        lit("tpch").as("dataset"),
        map().cast("map<string,string>").as("meta"))
  }

  /** The drug→AE path-set oracle CTE stack SHARED by q42/q65/q76: the
    * dg/gd/dis/aes/direct legs and the 1-hop ∪ label-equality 3-hop
    * `paths` union. One shared fragment means a leg or label-join fix can
    * never silently diverge between the three path oracles (same
    * discipline as TextStats.signalStatsSql for the signals oracles).
    * Each query appends only its final SELECT over `paths`. */
  private val pathStackSql = """
      WITH dg AS (SELECT DISTINCT l_suppkey AS drug_key,
                    l_partkey AS gene_key FROM lineitem),
      gd AS (SELECT p_partkey AS gene_key,
               CAST(substr(p_brand, 7) AS BIGINT) AS disease_key,
               p_size / 50.0 AS score FROM part),
      dis AS (SELECT DISTINCT CAST(substr(p_brand, 7) AS BIGINT)
                AS disease_key, p_brand AS disease_label FROM part),
      aes AS (SELECT DISTINCT CAST(substr(p_brand, 7) AS BIGINT) AS ae_key,
                upper(p_brand) AS ae_label FROM part
              UNION
              SELECT DISTINCT CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                + 1000, o_orderpriority FROM orders),
      direct AS (SELECT l_suppkey AS drug_key,
                   CAST(substr(p_brand, 7) AS BIGINT) AS ae_key,
                   CAST(COUNT(*) AS DOUBLE) AS direct_score
                 FROM lineitem JOIN part ON p_partkey = l_partkey
                 WHERE l_quantity >= 49 GROUP BY 1, 2),
      paths AS (
        SELECT drug_key, ae_key, CAST(NULL AS BIGINT) AS gene_key,
          1 AS hops, direct_score AS score, 1 AS evidence_count FROM direct
        UNION ALL
        SELECT dg.drug_key, a.ae_key, dg.gene_key, 3 AS hops,
          COALESCE(gd.score, 0.5) * 0.9 AS score, 2 AS evidence_count
        FROM dg JOIN gd USING (gene_key)
          JOIN dis USING (disease_key)
          JOIN aes a
            ON lower(trim(dis.disease_label)) = lower(trim(a.ae_label)))"""

  val defs: Seq[QueryDef] = Seq(

    // J8: batched Drug→AE paths — direct edges ∪ label-equality two-hop.
    QueryDef("q42_label_paths", (s, d) => labelPathsOf(s, d), Some(s"""
      $pathStackSql
      SELECT drug_key, ae_key, gene_key, hops, score, evidence_count
      FROM paths""")),

    // P8 prefix / starts-with filter (reference:src/kg_ae/datasets/hpo/
    // parse.py:186-190, clingen/parse.py:93 shape) + P7 membership isin
    // (reference:ctd/parse.py direct-evidence gate shape).
    QueryDef("q43_prefix_filter", (s, d) => {
      t(s, d, "part")
        .where(col("p_name").startsWith("red")
          && col("p_type").isin("PROMO", "ECONOMY", "SMALL"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
    }, Some("""
      SELECT p_partkey, p_name, p_brand FROM part
      WHERE p_name LIKE 'red%'
        AND p_type IN ('PROMO', 'ECONOMY', 'SMALL')""")),

    // DDI tool, batched: every drug pair sharing a combination → AE fan-out.
    QueryDef("q44_ddi_all", (s, d) => {
      PathTools.drugDrugInteractionsAll(tpchEdges(s, d), tpchVertices(s, d))
    }, Some("""
      WITH mem AS (SELECT DISTINCT l_suppkey AS drug_key,
                     l_orderkey AS combo_key
                   FROM lineitem WHERE l_suppkey <= 30),
      cae AS (SELECT o_orderkey AS combo_key,
                CAST(substr(o_orderpriority, 1, 1) AS BIGINT) + 1000 AS ae_key,
                o_totalprice AS prr, o_orderpriority AS ae_label FROM orders)
      SELECT a.drug_key AS drug_a_key, b.drug_key AS drug_b_key,
        c.ae_key, c.ae_label, c.prr
      FROM mem a JOIN mem b
        ON a.combo_key = b.combo_key AND a.drug_key < b.drug_key
      JOIN cae c ON c.combo_key = a.combo_key""")),

    // Drug profile: drug + targets + top-20 AEs in one answer.
    QueryDef("q45_drug_profile", (s, d) => {
      PathTools.drugProfile(tpchEdges(s, d), tpchVertices(s, d), 1L)
    }, Some("""
      WITH tgt AS (SELECT DISTINCT l_partkey FROM lineitem
                   WHERE l_suppkey = 1),
      dae AS (SELECT CAST(substr(p_brand, 7) AS BIGINT) AS key,
                upper(p_brand) AS label, CAST(COUNT(*) AS DOUBLE) AS frequency
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE l_suppkey = 1 AND l_quantity >= 49 GROUP BY 1, 2)
      SELECT 'drug' AS section, s_suppkey AS key, s_name AS label,
        CAST(NULL AS DOUBLE) AS frequency FROM supplier WHERE s_suppkey = 1
      UNION ALL
      SELECT 'target', l_partkey, p_name, CAST(NULL AS DOUBLE)
      FROM tgt JOIN part ON p_partkey = l_partkey
      UNION ALL
      SELECT * FROM (SELECT 'adverse_event', key, label, frequency
                     FROM dae ORDER BY frequency DESC, label LIMIT 20)""")),

    // Subgraph with node labels + evidence-weighted edge scores.
    QueryDef("q46_subgraph_props", (s, d) => {
      PathTools.subgraphWithProps(tpchEdges(s, d), tpchVertices(s, d),
        "Drug", 1L, hops = 2)
    }, Some("""
      WITH drug AS (SELECT s_suppkey, s_name FROM supplier
                    WHERE s_suppkey = 1),
      tgt AS (SELECT DISTINCT l_partkey, l_returnflag FROM lineitem
              WHERE l_suppkey = 1),
      genes AS (SELECT DISTINCT l_partkey FROM tgt),
      myorders AS (SELECT DISTINCT l_orderkey FROM lineitem
                   WHERE l_suppkey = 1),
      pk AS (SELECT p_type,
               CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS key
             FROM (SELECT DISTINCT p_type FROM part))
      SELECT 'Drug' AS src_type, CAST(1 AS BIGINT) AS src_key,
        d.s_name AS src_label, 'Gene' AS dst_type, t.l_partkey AS dst_key,
        p.p_name AS dst_label, 'DRUG_TARGET' AS claim_type,
        0.9::DOUBLE * 1.0::DOUBLE AS weight
      FROM tgt t JOIN part p ON p.p_partkey = t.l_partkey CROSS JOIN drug d
      UNION ALL
      SELECT 'Drug', 1, d.s_name, 'AdverseEvent',
        CAST(substr(p_brand, 7) AS BIGINT), upper(p_brand), 'DRUG_AE',
        0.7::DOUBLE * 0.7::DOUBLE
      FROM (SELECT DISTINCT p_brand FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE l_suppkey = 1 AND l_quantity >= 49) CROSS JOIN drug d
      UNION ALL
      SELECT 'Drug', 1, d.s_name, 'DrugCombination', o.l_orderkey,
        'combo ' || o.l_orderkey, 'DRUG_IN_COMBINATION', 0.5::DOUBLE * 0.5::DOUBLE
      FROM myorders o CROSS JOIN drug d
      UNION ALL
      SELECT 'Gene', g.l_partkey, p.p_name, 'Disease',
        CAST(substr(p.p_brand, 7) AS BIGINT), p.p_brand, 'GENE_DISEASE',
        (p.p_size / 50.0) * 0.8::DOUBLE
      FROM genes g JOIN part p ON p.p_partkey = g.l_partkey
      UNION ALL
      SELECT 'Gene', g.l_partkey, p.p_name, 'Pathway', pk.key, p.p_type,
        'GENE_PATHWAY', 0.9::DOUBLE * 0.9::DOUBLE
      FROM genes g JOIN part p ON p.p_partkey = g.l_partkey
      JOIN pk ON pk.p_type = p.p_type
      UNION ALL
      SELECT 'DrugCombination', o.l_orderkey, 'combo ' || o.l_orderkey,
        'AdverseEvent', CAST(substr(os.o_orderpriority, 1, 1) AS BIGINT)
        + 1000, os.o_orderpriority, 'DDI_AE_TWOSIDES', os.o_totalprice * 0.5::DOUBLE
      FROM myorders o JOIN orders os ON os.o_orderkey = o.l_orderkey""")),

    // Mechanism expansion: targets (claim-counted) + their pathways.
    QueryDef("q47_mechanism", (s, d) => {
      PathTools.expandMechanism(tpchEdges(s, d), tpchVertices(s, d), 1L)
    }, Some("""
      WITH tgt AS (SELECT l_partkey AS key,
                     CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_claims
                   FROM lineitem WHERE l_suppkey = 1 GROUP BY 1),
      pw AS (SELECT DISTINCT p.p_type FROM tgt t
             JOIN part p ON p.p_partkey = t.key),
      pk AS (SELECT p_type,
               CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS key
             FROM (SELECT DISTINCT p_type FROM part))
      SELECT 'target' AS kind, t.key, p_name AS label, n_claims
      FROM tgt t JOIN part ON p_partkey = t.key
      UNION ALL
      SELECT 'pathway', pk.key, pw.p_type, CAST(NULL AS BIGINT)
      FROM pw JOIN pk USING (p_type)""")),

    // Embedding-cosine near-dup pairs (the embedding leg of the dedup
    // suite) via the oracle-checkable coordinate-sign LSH family; pairs
    // only in the output (raw float cosines hash differently across
    // engines; the spec checks values).
    QueryDef("q49_embed_neardup", (s, d) => {
      graft.similarity.Ann.cosineNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, nBits = 32, bands = 4,
        sigFn = graft.similarity.Ann.coordSignSignature)
        .select(col("id_a"), col("id_b"))
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
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id)
      SELECT id_a, id_b FROM cand
      JOIN embeddings x ON x.vec_id = id_a
      JOIN embeddings y ON y.vec_id = id_b
      WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.4""")),

    // P12: list-of-struct extraction — first matching element
    // (reference:src/kg_ae/datasets/opentargets/normalize.py:83-95 shape:
    // element_at(filter(col, pred), 1)).
    QueryDef("q48_struct_extract", (s, d) => {
      val items = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice")))).as("items"))
      val firstR = try_element_at(
        filter(col("items"), x => x.getField("l_returnflag") === lit("R")),
        lit(1))
      items.select(col("l_orderkey"),
        firstR.getField("l_linenumber").as("first_r_line"),
        firstR.getField("l_extendedprice").as("first_r_price"))
        .where(col("first_r_line").isNotNull)
    }, Some("""
      SELECT l_orderkey, l_linenumber AS first_r_line,
        l_extendedprice AS first_r_price
      FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
              row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_returnflag, l_extendedprice) AS rn
            FROM lineitem WHERE l_returnflag = 'R')
      WHERE rn = 1""")),

    // get_gene_interactors (mechanism.py:208-230): GENE_GENE_STRING
    // partners of a gene above the reference's 0.7 confidence gate,
    // score-ranked.
    QueryDef("q63_gene_interactors", (s, d) => {
      PathTools.geneInteractors(tpchGeneGeneEdges(s, d),
        tpchVertices(s, d), geneKey = 1L)
    }, Some("""
      WITH g1 AS (SELECT p_type, p_brand FROM part WHERE p_partkey = 1),
      inter AS (
        SELECT CAST(1 AS BIGINT) AS gene_key, p.p_partkey AS interactor_key,
          p.p_size / 50.0 AS score
        FROM part p JOIN g1 USING (p_type, p_brand)
        WHERE p.p_partkey != 1 AND p.p_size / 50.0 >= 0.7)
      SELECT i.interactor_key, i.gene_key, i.score,
        p2.p_name AS interactor_symbol
      FROM inter i JOIN part p2 ON p2.p_partkey = i.interactor_key
      ORDER BY i.score DESC, i.interactor_key LIMIT 100""")),

    // get_disease_genes (mechanism.py:167-206): incoming Gene→Disease
    // edges of one disease, source-mapped, min-score gated, score-ranked,
    // bounded.
    QueryDef("q64_disease_genes", (s, d) => {
      PathTools.diseaseGenes(tpchEdges(s, d), tpchVertices(s, d),
        diseaseKey = 23L, minScore = 0.5)
    }, Some("""
      SELECT p_partkey AS gene_key,
        CAST(substr(p_brand, 7) AS BIGINT) AS disease_key,
        p_size / 50.0 AS score, 'opentargets' AS source,
        p_name AS gene_symbol, p_brand AS disease_label
      FROM part
      WHERE CAST(substr(p_brand, 7) AS BIGINT) = 23
        AND p_size / 50.0 >= 0.5
      ORDER BY score DESC, gene_key LIMIT 100""")),

    // score_paths policy (paths.py:182-259 + docs/scoring-policy.md):
    // base × source weight × 0.95^hops × 1.2 multi-source bonus, applied
    // over the q42 path set — both the length penalty (hops 1 vs 3) and
    // the bonus (evidence_count 1 vs 2) branches are exercised.
    QueryDef("q65_path_scores", (s, d) => {
      labelPathsOf(s, d).withColumn("policy_score",
        graft.query.Tools.policyScore(col("score"), col("hops"),
          col("evidence_count"), lit(1.0)))
    }, Some(s"""
      $pathStackSql
      SELECT drug_key, ae_key, gene_key, hops, score, evidence_count,
        score * 1.0::DOUBLE * power(0.95::DOUBLE, hops)
          * (CASE WHEN evidence_count >= 2 THEN 1.2::DOUBLE
             ELSE 1.0::DOUBLE END) AS policy_score
      FROM paths""")),

    // expand_gene_context (mechanism.py:231-268): pathway memberships ∪
    // score-gated disease links for a gene set, one tagged row stream.
    QueryDef("q70_gene_context", (s, d) => {
      PathTools.expandGeneContext(tpchEdges(s, d), tpchVertices(s, d),
        geneKeys = Seq(1L, 2L, 3L))
    }, Some("""
      WITH pk AS (SELECT p_type, row_number() OVER (ORDER BY p_type) AS key
                  FROM (SELECT DISTINCT p_type FROM part))
      SELECT p.p_partkey AS gene_key, 'pathway' AS kind,
        CAST(pk.key AS BIGINT) AS key, p.p_type AS label,
        CAST(NULL AS DOUBLE) AS score
      FROM part p JOIN pk USING (p_type) WHERE p.p_partkey IN (1, 2, 3)
      UNION ALL
      SELECT p_partkey, 'disease', CAST(substr(p_brand, 7) AS BIGINT),
        p_brand, p_size / 50.0
      FROM part
      WHERE p_partkey IN (1, 2, 3) AND p_size / 50.0 >= 0.3""")),

    // get_entity_claims (evidence.py:77-101): out-edges of one entity,
    // claim-type filtered, strongest first. The projection drops claim_key
    // (hash-family-dependent); the DRUG_AE set of one drug is far under
    // the 100-row bound at every sf, so the emitted SET is
    // order-independent and exactly reproducible.
    QueryDef("q71_entity_claims", (s, d) => {
      PathTools.entityClaims(tpchEdges(s, d), "Drug", 5L,
          claimTypes = Seq("DRUG_AE"))
        .select(col("src_type"), col("src_key"), col("dst_type"),
          col("dst_key"), col("claim_type"), col("strength_score"),
          col("frequency"))
    }, Some("""
      SELECT 'Drug' AS src_type, CAST(5 AS BIGINT) AS src_key,
        'AdverseEvent' AS dst_type,
        CAST(substr(p_brand, 7) AS BIGINT) AS dst_key,
        'DRUG_AE' AS claim_type, 0.7::DOUBLE AS strength_score,
        CAST(COUNT(*) AS DOUBLE) AS frequency
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE l_quantity >= 49 AND l_suppkey = 5
      GROUP BY dst_key""")),

    // T4 dedup-keep-best through the neighbors tool: a drug's DRUG_TARGET
    // edges carry MULTIPLE claims per gene (one per returnflag variant) —
    // neighbors collapses to one row per destination keeping max
    // frequency/strength + the claim count. k chosen non-binding so the
    // emitted SET is order-independent.
    QueryDef("q73_neighbors_best", (s, d) => {
      graft.query.Tools.neighbors(tpchEdges(s, d), tpchVertices(s, d),
        "Drug", 1L, "Gene", k = 1000000)
    }, Some("""
      SELECT 'Gene' AS dst_type, c.l_partkey AS dst_key,
        CAST(MAX(c.cnt) AS DOUBLE) AS frequency,
        0.9::DOUBLE AS strength_score,
        COUNT(*) AS n_claims, p.p_name AS label
      FROM (SELECT l_partkey, l_returnflag, COUNT(*) AS cnt
            FROM lineitem WHERE l_suppkey = 1
            GROUP BY l_partkey, l_returnflag) c
      JOIN part p ON p.p_partkey = c.l_partkey
      GROUP BY c.l_partkey, p.p_name""")),

    // The FULL scoring policy with the reference's per-source trust
    // weights (paths.py:185-199) — q65 exercises the formula with unit
    // weight; this row maps each path leg to a reference dataset (direct
    // DRUG_AE → faers 0.5, gene-mediated → opentargets 0.95) so the ≠1
    // weight branch of Tools.SourceWeights/sourceWeightFor is
    // driver-oracled too.
    QueryDef("q76_path_scores_weighted", (s, d) => {
      val paths = labelPathsOf(s, d).withColumn("dataset",
        when(col("hops") === 1, lit("faers")).otherwise(lit("opentargets")))
      paths
        .withColumn("source_weight",
          graft.query.Tools.sourceWeightFor(col("dataset")))
        .withColumn("policy_score",
          graft.query.Tools.policyScore(col("score"), col("hops"),
            col("evidence_count"), col("source_weight")))
    }, Some(s"""
      $pathStackSql
      SELECT drug_key, ae_key, gene_key, hops, score, evidence_count,
        CASE WHEN hops = 1 THEN 'faers' ELSE 'opentargets' END AS dataset,
        CASE WHEN hops = 1 THEN 0.5::DOUBLE ELSE 0.95::DOUBLE END
          AS source_weight,
        score * (CASE WHEN hops = 1 THEN 0.5::DOUBLE ELSE 0.95::DOUBLE END)
          * power(0.95::DOUBLE, hops)
          * (CASE WHEN evidence_count >= 2 THEN 1.2::DOUBLE
             ELSE 1.0::DOUBLE END) AS policy_score
      FROM paths""")),

    // resolve's exact-tie richness ordering (reference _prefer_richer,
    // resolve.py:23-52) under the driver: two vertices share the same
    // lowercase label — one carries the canonical drugcentral_id prop
    // (fewer total props), the other MORE props but no canonical id. The
    // canonical-id holder must win the top slot; limit(1) makes the
    // emitted set order-sensitive, so a wrong tie-break hash-mismatches.
    QueryDef("q77_resolve_richer", (s, d) => {
      val sup = t(s, d, "supplier")
      val twinA = sup.select(lit("Drug").as("node_type"),
        col("s_suppkey").cast("long").as("key"), col("s_name").as("label"),
        map(lit("drugcentral_id"),
            concat(lit("DC"), col("s_suppkey").cast("string")),
          lit("syn"), lit("x")).as("props"))
      val twinB = sup.select(lit("Drug").as("node_type"),
        (col("s_suppkey") + 100000).cast("long").as("key"),
        upper(col("s_name")).as("label"),
        map(lit("a"), lit("1"), lit("b"), lit("2"), lit("c"), lit("3"))
          .as("props"))
      graft.query.Tools.resolve(twinA.unionByName(twinB), "Drug",
          "Supplier#000000001")
        .limit(1)
        .select(col("node_type"), col("key"), col("label"),
          col("match_rank"))
    }, Some("""
      SELECT 'Drug' AS node_type, CAST(s_suppkey AS BIGINT) AS key,
        s_name AS label, 0 AS match_rank
      FROM supplier WHERE s_suppkey = 1""")),

    // explain_paths' condition-relevance boost (paths.py:161-178): drug →
    // gene → disease paths where diseases {5, 23} are the patient's known
    // conditions — matched paths score × 1.5 BEFORE the top-k re-rank.
    // Total ordering (boosted score + every key) makes the limit
    // deterministic, so the emitted top-100 is exactly reproducible.
    QueryDef("q79_condition_boost", (s, d) => {
      val dg = t(s, d, "lineitem")
        .select(col("l_suppkey").as("drug_key"),
          col("l_partkey").as("gene_key")).distinct()
      val gd = t(s, d, "part").select(col("p_partkey").as("gene_key"),
        brandKey(col("p_brand")).as("disease_key"),
        (col("p_size") / lit(50.0)).as("score"))
      PathTools.conditionBoostedPaths(dg.join(gd, "gene_key"),
        conditionKeys = Seq(5L, 23L), topK = 100)
    }, Some("""
      WITH dg AS (SELECT DISTINCT l_suppkey AS drug_key,
                    l_partkey AS gene_key FROM lineitem),
      gd AS (SELECT p_partkey AS gene_key,
               CAST(substr(p_brand, 7) AS BIGINT) AS disease_key,
               p_size / 50.0 AS score FROM part),
      paths AS (SELECT gene_key, drug_key, disease_key, score
                FROM dg JOIN gd USING (gene_key)),
      b AS (SELECT *, CASE WHEN disease_key IN (5, 23)
              THEN score * 1.5::DOUBLE ELSE score END AS boosted_score
            FROM paths)
      SELECT gene_key, drug_key, disease_key, score, boosted_score FROM b
      ORDER BY boosted_score DESC, drug_key, gene_key, disease_key
      LIMIT 100"""))
  )
}
