package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cut

/** Entity-link candidate re-ranking (north star: "batched entity-link
  * scorer — trie/Aho-Corasick gazetteer broadcast + TF-IDF candidate
  * re-ranking"; generalizes the reference's deterministic tie-breaking
  * resolution, reference:src/kg_ae/tools/resolve.py:23-52).
  *
  * An ambiguous surface form maps to several candidate entities, each with
  * a textual context profile. Score(candidate | page) =
  * Σ_{t ∈ tokens(page) ∩ context(candidate)} idf(t), where
  * idf(t) = ln(1 + N/df(t)) over the candidate-context corpus. The winner
  * per (url, surface) is the max score; ties break on entity_id — fully
  * deterministic.
  *
  * Shape at scale: contexts are dictionary-sized (≪ corpus) → broadcast
  * joins against the exploded page-token stream; one aggregation keyed by
  * (url, surface, entity) and a window max — no quadratic blowup.
  */
object Linker {

  /** idf table from candidate contexts: (token, idf). N (the distinct
    * entity count) is folded INTO the plan as a 1-row aggregate
    * cross-joined onto the df aggregation — no driver-side count() job, so
    * a rank() over this stays a single Spark job. */
  def idf(contexts: DataFrame): DataFrame = {
    val tokens = contexts.select(col("entity_id"),
      explode(split(lower(col("context")), " ")).as("token"))
      .where(length(col("token")) > 0).distinct()
    val n = contexts.select(col("entity_id")).distinct()
      .agg(count(lit(1)).cast("double").as("_n"))
    tokens.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(n) // 1-row side: AQE broadcasts it, no driver round-trip
      .withColumn("idf", log(lit(1.0) + col("_n") / col("df")))
      .select("token", "idf")
  }

  /** Resolve ambiguous mentions.
    * mentions: (url, norm)   — detected surfaces per page
    * pages:    (url, text)   — cleaned page text
    * candidates: (norm, entity_id) — surface → candidate entities (≥1 each)
    * contexts: (entity_id, context) — space-separated context profile
    * Returns (url, norm, entity_id, score) — one winner per (url, norm).
    */
  def rank(spark: SparkSession, mentions: DataFrame, pages: DataFrame,
      candidates: DataFrame, contexts: DataFrame): DataFrame = {
    val idfT = idf(contexts)
    val ctxTokens = contexts.select(col("entity_id"),
        explode(split(lower(col("context")), " ")).as("token"))
      .where(length(col("token")) > 0).distinct()
      .join(broadcast(idfT), "token")
    // ONE scan of the mentions input: both consumers below (the semi-join
    // url set and the candidate expansion) read this deduplicated
    // projection, materialized once (Cut.large — the CC pattern).
    // `mentions` is typically the UNmaterialized MentionDetector.detect
    // plan over the full corpus; two independent consumers would run the
    // whole broadcast-AC scan twice, and the candidate join's null-filter
    // pushdown defeats plain exchange reuse between them. The
    // checkpointed frame is mention-key-sized (distinct url×norm), tiny
    // next to the scan it saves.
    val mentionKeys = mentions.select(col("url"), col("norm")).distinct()
      .transform(Cut.large)
    // prune BEFORE tokenizing: only pages that actually carry an ambiguous
    // mention matter, and the token explode + distinct below is the
    // dominant shuffle — the semi-join shrinks it from corpus-proportional
    // to mention-page-proportional (at web scale most pages carry no
    // ambiguous surface at all). Equi-join, hint-free: AQE broadcasts the
    // url set when it is small.
    val mentionUrls = mentionKeys.select(col("url")).distinct()
    val pageTokens = pages
      .join(mentionUrls, Seq("url"), "left_semi")
      .select(col("url"),
        explode(split(lower(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
      .distinct() // set semantics: a context word counts once per page
    val mentionCand = mentionKeys.join(broadcast(candidates), "norm")
    val scored = mentionCand
      .join(pageTokens, "url")
      .join(broadcast(ctxTokens), Seq("entity_id", "token"))
      .groupBy("url", "norm", "entity_id")
      .agg(sum(col("idf")).as("score"))
    // candidates with zero overlap still compete (score 0)
    val all = mentionCand.join(scored, Seq("url", "norm", "entity_id"), "left")
      .na.fill(0.0, Seq("score"))
    val w = Window.partitionBy(col("url"), col("norm"))
      .orderBy(col("score").desc, col("entity_id").asc)
    all.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select("url", "norm", "entity_id", "score")
  }
}
