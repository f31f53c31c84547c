package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Mechanistic-path, DDI, mechanism-expansion, profile and subgraph tools —
  * the DataFrame recast of the reference's remaining tool layer
  * (reference:src/kg_ae/tools/{paths,adverse_events,mechanism,subgraph,
  * evidence}.py). Every tool is a parameterized declarative plan: Catalyst
  * prunes the edges scan to the claim types / endpoint types it touches
  * (the edges table is partitioned by claim_type at rest), and the
  * per-entity variants prune to a handful of files by key.
  *
  * The batched ("All") variants answer the tool for EVERY source entity in
  * one pass — the shape a 100 TB deployment wants (one shuffle amortized
  * over all keys) instead of a per-key driver loop.
  */
object PathTools {

  private def typed(vertices: DataFrame, t: String, keyAs: String,
      labelAs: String): DataFrame =
    vertices.where(col("node_type") === t)
      .select(col("key").as(keyAs), col("label").as(labelAs))

  // --------------------------------------------------------------------
  // J8: Drug→AE mechanistic paths with the label-equality join
  // (reference:src/kg_ae/tools/paths.py:56-120)
  // --------------------------------------------------------------------

  /** Generic J8 core, batched over all drugs: direct Drug→AE edges UNION
    * two-hop Drug→Gene→Disease chains kept only when
    * `lower(trim(disease_label)) == lower(trim(ae_label))` — the
    * cross-ontology label-equality join (paths.py:98-111; AE and Disease
    * ontologies differ, so the bridge is string-level). Inputs:
    *   direct(drug_key, ae_key, direct_score)
    *   drugGene(drug_key, gene_key)
    *   geneDisease(gene_key, disease_key, score)
    *   diseases(disease_key, disease_label)
    *   aes(ae_key, ae_label)
    * Output one row per path: (drug_key, ae_key, gene_key?, hops, score,
    * evidence_count). Direct paths: hops=1, score=direct_score, evidence=1.
    * Two-hop: hops=3 (Drug→Gene→Disease→matches→AE), score=(score or
    * 0.5)×0.9, evidence=2. The label join is dimension×dimension — tiny
    * next to the fact-sized hop joins, which shuffle on their keys.
    */
  def labelEqualityPaths(direct: DataFrame, drugGene: DataFrame,
      geneDisease: DataFrame, diseases: DataFrame, aes: DataFrame): DataFrame = {
    val d = direct.select(
      col("drug_key"), col("ae_key"),
      lit(null).cast("long").as("gene_key"),
      lit(1).as("hops"),
      col("direct_score").cast("double").as("score"),
      lit(1).as("evidence_count"))
    val two = drugGene
      .join(geneDisease, "gene_key")
      .join(diseases.withColumn("_lbl", lower(trim(col("disease_label"))))
        .select(col("disease_key"), col("_lbl")), "disease_key")
      .join(aes.withColumn("_lbl", lower(trim(col("ae_label"))))
        .select(col("ae_key"), col("_lbl")), "_lbl")
      .select(
        col("drug_key"), col("ae_key"), col("gene_key"),
        lit(3).as("hops"),
        (coalesce(col("score").cast("double"), lit(0.5)) * lit(0.9))
          .as("score"),
        lit(2).as("evidence_count"))
    d.unionByName(two)
  }

  /** KG-shaped Drug→AE paths for one (drug, ae) pair, ranked
    * (paths.py:75-120): direct CAUSES edge first (score = frequency else
    * strength else 0.7), then label-equality two-hop chains. */
  def drugToAePaths(edges: DataFrame, vertices: DataFrame, drugKey: Long,
      aeKey: Long, maxPaths: Int = 10): DataFrame = {
    val direct = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey
        && col("dst_type") === "AdverseEvent" && col("dst_key") === aeKey)
      .select(col("src_key").as("drug_key"), col("dst_key").as("ae_key"),
        coalesce(col("frequency"), col("strength_score"), lit(0.7))
          .as("direct_score"))
    val drugGene = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey && col("dst_type") === "Gene")
      .select(col("src_key").as("drug_key"), col("dst_key").as("gene_key"))
      .distinct()
    // dedup-keep-best per (gene, disease) — get_gene_diseases semantics.
    // Prune to the drug's target genes BEFORE aggregating: for a point
    // query the drug's gene set is tiny (broadcast join), so the fact-sized
    // Gene→Disease partition never feeds a full aggregation.
    val geneDisease = edges.where(col("src_type") === "Gene"
        && col("dst_type") === "Disease")
      .select(col("src_key").as("gene_key"), col("dst_key").as("disease_key"),
        col("strength_score"))
      .join(drugGene.select("gene_key"), Seq("gene_key"), "left_semi")
      .groupBy(col("gene_key"), col("disease_key"))
      .agg(max("strength_score").as("score"))
    val diseases = typed(vertices, "Disease", "disease_key", "disease_label")
    val aes = typed(vertices, "AdverseEvent", "ae_key", "ae_label")
      .where(col("ae_key") === aeKey)
    labelEqualityPaths(direct, drugGene, geneDisease, diseases, aes)
      .join(typed(vertices, "Drug", "drug_key", "drug_label"), "drug_key")
      .join(typed(vertices, "AdverseEvent", "ae_key", "ae_label"), "ae_key")
      .orderBy(col("score").desc, col("hops"), col("gene_key"))
      .limit(maxPaths)
  }

  /** Exploration paths when no AE is given (paths.py:122-158):
    * Drug→Gene→Pathway (score 0.8) and Drug→Gene→Disease (score =
    * strength else 0.5), both evidence_count=2, ranked. */
  def mechanisticContext(edges: DataFrame, vertices: DataFrame,
      drugKey: Long, maxPaths: Int = 10): DataFrame = {
    val targets = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey && col("dst_type") === "Gene")
      .select(col("dst_key").as("gene_key")).distinct()
    def hop(dstType: String, kind: String, score: Column) =
      edges.where(col("src_type") === "Gene" && col("dst_type") === dstType)
        .select(col("src_key").as("gene_key"), col("dst_key").as("end_key"),
          col("strength_score"))
        .join(targets, Seq("gene_key"), "left_semi") // prune before the agg
        .groupBy(col("gene_key"), col("end_key"))
        .agg(max("strength_score").as("strength_score"))
        .join(typed(vertices, dstType, "end_key", "end_label"), "end_key")
        .select(lit(drugKey).as("drug_key"), col("gene_key"),
          lit(kind).as("path_kind"), col("end_key"), col("end_label"),
          score.as("score"), lit(2).as("evidence_count"))
    val viaPathway = hop("Pathway", "drug_gene_pathway", lit(0.8))
    val viaDisease = hop("Disease", "drug_gene_disease",
      coalesce(col("strength_score"), lit(0.5)))
    viaPathway.unionByName(viaDisease)
      .orderBy(col("score").desc, col("path_kind"), col("gene_key"),
        col("end_key"))
      .limit(maxPaths)
  }

  /** Per-path scoring breakdown (paths.py:182-259 score_paths_with_evidence
    * + ScoringPolicy): final = base × lengthPenalty^hops × multi-source
    * bonus (evidence_count > 1). Input needs (score, hops, evidence_count);
    * pure column arithmetic, fully codegen'd. */
  def scoreBreakdown(paths: DataFrame, lengthPenalty: Double = 0.95,
      multiSourceBonus: Double = 1.2, minEvidence: Int = 1): DataFrame = {
    paths.where(col("evidence_count") >= minEvidence)
      .withColumn("base_score", coalesce(col("score"), lit(0.5)))
      .withColumn("length_factor", pow(lit(lengthPenalty), col("hops")))
      .withColumn("multi_source_factor",
        when(col("evidence_count") > 1, lit(multiSourceBonus))
          .otherwise(lit(1.0)))
      .withColumn("final_score",
        col("base_score") * col("length_factor") * col("multi_source_factor"))
  }

  /** explain_paths' condition-relevance boost
    * (reference:src/kg_ae/tools/paths.py:161-178): paths whose Disease
    * step matches one of the patient's `conditionKeys` get score × 1.5
    * BEFORE the top-k re-rank, so condition-relevant mechanisms displace
    * higher-raw-score irrelevant ones. Ordering is total (boosted score,
    * then every key column) so the limit is deterministic; the limit
    * compiles to TakeOrderedAndProject — per-partition top-k, never a
    * global sort. */
  def conditionBoostedPaths(paths: DataFrame, conditionKeys: Seq[Long],
      topK: Int = 5, diseaseKeyCol: String = "disease_key"): DataFrame =
    paths.withColumn("boosted_score",
        when(col(diseaseKeyCol).isin(conditionKeys: _*),
          col("score") * lit(1.5)).otherwise(col("score")))
      .orderBy(col("boosted_score").desc, col("drug_key"), col("gene_key"),
        col(diseaseKeyCol))
      .limit(topK)

  // --------------------------------------------------------------------
  // DDI via DrugCombination intersection
  // (reference:src/kg_ae/tools/adverse_events.py:117-146)
  // --------------------------------------------------------------------

  /** Reference PRR fallback (adverse_events.py:135-140): `meta["prr"]` when
    * the edge carries any meta at all (null if the key is absent), falling
    * back to strength_score ONLY when meta is entirely empty/missing. */
  private[query] def prrOf: Column =
    when(size(col("meta")) > 0, element_at(col("meta"), "prr").cast("double"))
      .otherwise(col("strength_score"))

  /** AEs of the combination of two drugs: combos(drugA) ∩ combos(drugB) →
    * combo→AE fan-out, ranked by PRR (meta) else strength, desc. */
  def drugDrugInteractions(edges: DataFrame, vertices: DataFrame,
      keyA: Long, keyB: Long, limit: Int = 50): DataFrame = {
    def combos(k: Long) = edges.where(col("src_type") === "Drug"
        && col("src_key") === k && col("dst_type") === "DrugCombination")
      .select(col("dst_key").as("combo_key")).distinct()
    val shared = combos(keyA).join(combos(keyB), Seq("combo_key"))
    val comboAe = edges.where(col("src_type") === "DrugCombination"
        && col("dst_type") === "AdverseEvent")
      .select(col("src_key").as("combo_key"), col("dst_key").as("ae_key"),
        prrOf.as("prr"),
        col("dataset"))
    comboAe.join(shared, "combo_key")
      .join(typed(vertices, "AdverseEvent", "ae_key", "ae_label"), "ae_key")
      .select(lit(keyA).as("drug_a_key"), lit(keyB).as("drug_b_key"),
        col("ae_key"), col("ae_label"), col("prr"), col("dataset"))
      .orderBy(col("prr").desc, col("ae_key"))
      .limit(limit)
  }

  /** Batched DDI: for EVERY drug pair sharing ≥1 combination, the AE
    * fan-out — one co-partitioned self-join on combo_key instead of a
    * per-pair loop. Skew note: a blockbuster combo with many member drugs
    * fans out quadratically; AQE skew-join splits those partitions. */
  def drugDrugInteractionsAll(edges: DataFrame, vertices: DataFrame): DataFrame = {
    val membership = edges.where(col("src_type") === "Drug"
        && col("dst_type") === "DrugCombination")
      .select(col("src_key").as("drug_key"), col("dst_key").as("combo_key"))
      .distinct()
    val pairs = membership.select(col("drug_key").as("drug_a_key"),
        col("combo_key"))
      .join(membership.select(col("drug_key").as("drug_b_key"),
        col("combo_key")), "combo_key")
      .where(col("drug_a_key") < col("drug_b_key"))
    val comboAe = edges.where(col("src_type") === "DrugCombination"
        && col("dst_type") === "AdverseEvent")
      .select(col("src_key").as("combo_key"), col("dst_key").as("ae_key"),
        prrOf.as("prr"))
    pairs.join(comboAe, "combo_key")
      .join(typed(vertices, "AdverseEvent", "ae_key", "ae_label"), "ae_key")
      .select(col("drug_a_key"), col("drug_b_key"), col("ae_key"),
        col("ae_label"), col("prr"))
  }

  // --------------------------------------------------------------------
  // Mechanism expansion + profiles
  // (reference:src/kg_ae/tools/mechanism.py:113-166, adverse_events.py:54)
  // --------------------------------------------------------------------

  /** Full mechanism of a drug in one answer (expand_mechanism): its gene
    * targets (dedup by gene, ranked by supporting-claim count) plus the
    * distinct pathways of those genes (label-sorted). One DataFrame, rows
    * tagged kind ∈ {target, pathway}. */
  def expandMechanism(edges: DataFrame, vertices: DataFrame,
      drugKey: Long): DataFrame = {
    val targets = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey && col("dst_type") === "Gene")
      .groupBy(col("dst_key").as("key"))
      .agg(count(lit(1)).as("n_claims"))
      .join(typed(vertices, "Gene", "key", "label"), "key")
      .select(lit("target").as("kind"), col("key"), col("label"),
        col("n_claims"))
      // one drug's target list feeds the output union and the pathway
      // semi-probe; its size follows the graph
      .transform(Cut.large)
    val pathways = edges.where(col("src_type") === "Gene"
        && col("dst_type") === "Pathway")
      .select(col("src_key").as("key"), col("dst_key").as("pw_key"))
      .join(targets.select(col("key")), "key")
      .select(col("pw_key").as("key")).distinct()
      .join(typed(vertices, "Pathway", "key", "label"), "key")
      .select(lit("pathway").as("kind"), col("key"), col("label"),
        lit(null).cast("long").as("n_claims"))
    targets.unionByName(pathways)
      .orderBy(col("kind") =!= "target", col("n_claims").desc_nulls_last,
        col("label"))
  }

  /** Batched gene context (expand_gene_context): pathways + diseases
    * (score ≥ min) for a set of genes, rows tagged by kind. */
  def expandGeneContext(edges: DataFrame, vertices: DataFrame,
      geneKeys: Seq[Long], minDiseaseScore: Double = 0.3): DataFrame = {
    val genes = col("src_key").isin(geneKeys: _*)
    val pw = edges.where(col("src_type") === "Gene" && genes
        && col("dst_type") === "Pathway")
      .select(col("src_key").as("gene_key"), col("dst_key").as("key"))
      .distinct()
      .join(typed(vertices, "Pathway", "key", "label"), "key")
      .select(col("gene_key"), lit("pathway").as("kind"), col("key"),
        col("label"), lit(null).cast("double").as("score"))
    val dis = edges.where(col("src_type") === "Gene" && genes
        && col("dst_type") === "Disease")
      .groupBy(col("src_key").as("gene_key"), col("dst_key").as("key"))
      .agg(max("strength_score").as("score"))
      .where(col("score").isNull || col("score") >= minDiseaseScore)
      .join(typed(vertices, "Disease", "key", "label"), "key")
      .select(col("gene_key"), lit("disease").as("kind"), col("key"),
        col("label"), col("score"))
    pw.unionByName(dis)
      .orderBy(col("gene_key"), col("kind"), col("score").desc_nulls_last,
        col("label"))
  }

  /** Complete drug profile (get_drug_profile): the drug row, its targets,
    * and its top-`aeLimit` AEs by max frequency — one DataFrame, rows
    * tagged section ∈ {drug, target, adverse_event}. */
  def drugProfile(edges: DataFrame, vertices: DataFrame, drugKey: Long,
      aeLimit: Int = 20): DataFrame = {
    val self = typed(vertices, "Drug", "key", "label")
      .where(col("key") === drugKey)
      .select(lit("drug").as("section"), col("key"), col("label"),
        lit(null).cast("double").as("frequency"))
    val targets = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey && col("dst_type") === "Gene")
      .select(col("dst_key").as("key")).distinct()
      .join(typed(vertices, "Gene", "key", "label"), "key")
      .select(lit("target").as("section"), col("key"), col("label"),
        lit(null).cast("double").as("frequency"))
    val aes = edges.where(col("src_type") === "Drug"
        && col("src_key") === drugKey && col("dst_type") === "AdverseEvent")
      .groupBy(col("dst_key").as("key"))
      .agg(max("frequency").as("frequency"))
      .join(typed(vertices, "AdverseEvent", "key", "label"), "key")
      .orderBy(col("frequency").desc, col("label"))
      .limit(aeLimit)
      .select(lit("adverse_event").as("section"), col("key"), col("label"),
        col("frequency"))
    self.unionByName(targets).unionByName(aes)
  }

  /** Source label → gene–disease claim type (mechanism.py:158-166). */
  val DiseaseGeneClaimTypes: Map[String, String] = Map(
    "opentargets" -> "GENE_DISEASE", "ctd" -> "GENE_DISEASE_CTD",
    "clingen" -> "GENE_DISEASE_CLINGEN")

  /** Reverse lookup: genes associated with a disease, filtered by source
    * (claim-type map), min score, score-ranked (get_disease_genes,
    * mechanism.py:167-206). Traverses INCOMING Gene→Disease edges —
    * in-edges are just an out-edge scan keyed on dst; at rest the edges
    * table is claim_type-partitioned so the allowed-claim filter prunes
    * partitions before the key filter. */
  def diseaseGenes(edges: DataFrame, vertices: DataFrame, diseaseKey: Long,
      sources: Seq[String] = Nil, minScore: Double = 0.0,
      limit: Int = 100): DataFrame = {
    val unknown = sources.filterNot(DiseaseGeneClaimTypes.contains)
    require(unknown.isEmpty,
      s"unknown disease-gene source(s) ${unknown.mkString(", ")} — " +
        s"valid: ${DiseaseGeneClaimTypes.keys.toSeq.sorted.mkString(", ")}")
    val allowed =
      (if (sources.isEmpty) DiseaseGeneClaimTypes.values
       else sources.map(DiseaseGeneClaimTypes)).toSeq.distinct
    val sourceOf = DiseaseGeneClaimTypes.foldLeft(lit(null).cast("string")) {
      case (acc, (src, ct)) =>
        when(col("claim_type") === ct, lit(src)).otherwise(acc)
    }
    edges.where(col("src_type") === "Gene" && col("dst_type") === "Disease"
        && col("dst_key") === diseaseKey
        && col("claim_type").isin(allowed: _*)
        && (col("strength_score").isNull || col("strength_score") >= minScore))
      .select(col("dst_key").as("disease_key"),
        col("src_key").as("gene_key"),
        col("strength_score").as("score"), sourceOf.as("source"))
      .join(typed(vertices, "Gene", "gene_key", "gene_symbol"), "gene_key")
      .join(typed(vertices, "Disease", "disease_key", "disease_label"),
        "disease_key")
      .orderBy(col("score").desc_nulls_last, col("gene_key"))
      .limit(limit)
  }

  /** Gene–gene interactors above a confidence gate, score-ranked
    * (get_gene_interactors, mechanism.py:208-230). Default claim type
    * matches the reference's GENE_GENE_STRING filter — a reference-shaped
    * graph returns interactors out of the box; synthetic-corpus callers
    * pass their own claim type explicitly. */
  def geneInteractors(edges: DataFrame, vertices: DataFrame, geneKey: Long,
      minScore: Double = 0.7, limit: Int = 100,
      claimType: String = "GENE_GENE_STRING"): DataFrame = {
    edges.where(col("src_type") === "Gene" && col("src_key") === geneKey
        && col("dst_type") === "Gene" && col("claim_type") === claimType
        && col("strength_score") >= minScore)
      .select(col("src_key").as("gene_key"),
        col("dst_key").as("interactor_key"),
        col("strength_score").as("score"))
      .join(typed(vertices, "Gene", "interactor_key", "interactor_symbol"),
        "interactor_key")
      .orderBy(col("score").desc, col("interactor_key"))
      .limit(limit)
  }

  // --------------------------------------------------------------------
  // Entity claims + label sections
  // (reference:src/kg_ae/tools/evidence.py:77-101, adverse_events.py:148-177)
  // --------------------------------------------------------------------

  /** All claims (out-edges) of an entity, optionally filtered by claim
    * type, strongest first (get_entity_claims). */
  def entityClaims(edges: DataFrame, entityType: String, entityKey: Long,
      claimTypes: Seq[String] = Nil, limit: Int = 100): DataFrame = {
    val base = edges.where(col("src_type") === entityType
      && col("src_key") === entityKey)
    val filtered =
      if (claimTypes.isEmpty) base
      else base.where(col("claim_type").isin(claimTypes: _*))
    filtered.orderBy(col("strength_score").desc_nulls_last, col("claim_key"))
      .limit(limit)
  }

  /** FDA-label-style sections of a drug (get_drug_label_sections): explode
    * the DRUG_LABEL self-loop's evidence payload map into
    * (section_name, content) rows, optionally filtered to named sections. */
  def drugLabelSections(edges: DataFrame, vertices: DataFrame, drugKey: Long,
      sections: Seq[String] = Nil): DataFrame = {
    val rows = allDrugLabelSections(edges)
      .where(col("drug_key") === drugKey)
    if (sections.isEmpty) rows
    else rows.where(col("section_name").isin(sections: _*))
  }

  /** Batched label-section explosion over EVERY drug's DRUG_LABEL edge —
    * the set-at-a-time form of [[drugLabelSections]] (the per-drug filter
    * pushes through the explode into the partition-pruned scan). */
  def allDrugLabelSections(edges: DataFrame): DataFrame =
    edges.where(col("src_type") === "Drug"
        && col("claim_type") === "DRUG_LABEL")
      .select(col("src_key").as("drug_key"),
        element_at(col("meta"), "brand_name").as("brand_name"),
        explode(col("evidence")).as("ev"))
      .select(col("drug_key"), col("brand_name"),
        explode(col("ev.payload")).as(Seq("section_name", "content")))

  // --------------------------------------------------------------------
  // Subgraph with node props + re-scored weights
  // (reference:src/kg_ae/tools/subgraph.py:71-166)
  // --------------------------------------------------------------------

  /** Edge-type → evidence weight (subgraph.py score_edges defaults). */
  val DefaultTypeWeights: Map[String, Double] = Map(
    "DRUG_TARGET" -> 1.0, "GENE_PATHWAY" -> 0.9, "GENE_DISEASE" -> 0.8,
    "DRUG_AE" -> 0.7)

  /** Bounded subgraph around a seed, returned as typed edge rows WITH both
    * endpoint labels and an evidence-weighted score (base strength × edge
    * type weight, default 0.5 for unknown types) — the cytoscape-export
    * shape of the reference. */
  def subgraphWithProps(edges: DataFrame, vertices: DataFrame,
      srcType: String, srcKey: Long, hops: Int = 2,
      typeWeights: Map[String, Double] = DefaultTypeWeights): DataFrame = {
    val sub = Tools.subgraph(edges, srcType, srcKey, hops)
    val weightExpr = typeWeights.foldLeft(lit(0.5)) {
      case (acc, (t, w)) => when(col("claim_type") === t, lit(w)).otherwise(acc)
    }
    val vl = vertices.select(col("node_type"), col("key"), col("label"))
    sub
      .join(vl.select(col("node_type").as("src_type"),
        col("key").as("src_key"), col("label").as("src_label")),
        Seq("src_type", "src_key"))
      .join(vl.select(col("node_type").as("dst_type"),
        col("key").as("dst_key"), col("label").as("dst_label")),
        Seq("dst_type", "dst_key"))
      .withColumn("weight",
        coalesce(col("strength_score"), lit(1.0)) * weightExpr)
      .select(col("src_type"), col("src_key"), col("src_label"),
        col("dst_type"), col("dst_key"), col("dst_label"),
        col("claim_type"), col("weight"))
  }
}
