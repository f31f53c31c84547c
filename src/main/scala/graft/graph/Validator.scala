package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structural graph invariants as distributed assertions — the DataFrame
  * recast of `validate_graph` (reference:src/kg_ae/graph/validate.py:20-69),
  * run fail-fast before materialization (build.py:849-854).
  */
object Validator {

  val AllowedNodeTypes: Set[String] = Set(
    "Drug", "Gene", "Pathway", "Disease", "AdverseEvent", "DrugCombination")

  case class Report(
      vertexCount: Long,
      edgeCount: Long,
      badNodeTypes: Long,
      badKeys: Long,
      missingEdgeFields: Long,
      orphanEdges: Long,
      // EXTRA rows beyond the distinct (node_type, key) set — 3 rows
      // sharing one key report 2 (renamed from duplicateVertexKeys, which
      // counted duplicated GROUPS; zero iff keys unique either way)
      duplicateVertexRows: Long) {
    def ok: Boolean =
      badNodeTypes == 0 && badKeys == 0 && missingEdgeFields == 0 &&
      orphanEdges == 0 && duplicateVertexRows == 0
  }

  def validate(vertices: DataFrame, edges: DataFrame): Report = {
    // ONE action: vertex rows and edge endpoints (src and dst, one row
    // each) are unioned and grouped by (node_type, key); every invariant
    // is a per-row flag summed twice — per (type, key), then overall. No
    // source scan per invariant and no separate anti-join: an endpoint is
    // an orphan when its (type, key) group holds no vertex. Under AQE the
    // action is a few jobs (one per shuffle stage), not one per check.
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    val vRows = vertices.select(col("node_type"), col("key"),
      lit(1L).as("v"), lit(0L).as("e"), lit(0L).as("ends"),
      flag(!col("node_type").isin(AllowedNodeTypes.toSeq: _*)).as("bad_type"),
      flag(col("key").isNull || col("key") < 1).as("bad_key"),
      lit(0L).as("missing"))
    // edge-level counts ride on the src endpoint row only
    val missing = flag(
      col("src_type").isNull || col("src_key").isNull ||
      col("dst_type").isNull || col("dst_key").isNull ||
      col("edge").isNull || col("claim_type").isNull ||
      col("dataset").isNull)
    val srcRows = edges.select(col("src_type"), col("src_key"),
      lit(0L), lit(1L), lit(1L), lit(0L), lit(0L), missing)
    val dstRows = edges.select(col("dst_type"), col("dst_key"),
      lit(0L), lit(0L), lit(1L), lit(0L), lit(0L), lit(0L))
    val perKey = vRows.union(srcRows).union(dstRows)
      .groupBy(col("node_type"), col("key"))
      .agg(sum("v").as("v"), sum("e").as("e"), sum("ends").as("ends"),
        sum("bad_type").as("bad_type"), sum("bad_key").as("bad_key"),
        sum("missing").as("missing"))
    // an endpoint with a null type or key matches no vertex (equi-join
    // semantics), even when a vertex row carries the same nulls
    val orphan = col("v") === 0 || col("node_type").isNull || col("key").isNull
    val r = perKey.agg(
      total(col("v")), total(col("e")), total(col("bad_type")),
      total(col("bad_key")), total(col("missing")),
      total(when(orphan, col("ends")).otherwise(0L)),
      // duplicates counted as EXTRA rows beyond the distinct (type, key)
      // set (3 rows sharing one key report 2) — zero iff keys are unique,
      // which is the invariant; null-keyed rows group like any other
      total(greatest(col("v") - 1, lit(0L)))
    ).head()
    Report(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
  }

  /** Fail-fast gate (reference build.py:849-854 raises on invalid). */
  def validateOrThrow(vertices: DataFrame, edges: DataFrame): Report = {
    val r = validate(vertices, edges)
    require(r.ok, s"graph validation failed: $r")
    r
  }
}
