package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

case class SessEvent(user_id: Long, event_id: Long, ts_micros: Long)
case class SessState(lastTs: Long, idx: Int)
case class SessOut(user_id: Long, event_id: Long, session_idx: Int)

/** Structured Streaming surface. The reference is fully batch
  * (SURVEY §2.8); the one order-insensitive aggregation that maps to a
  * stream is the co-occurrence count (A6) → watermarked windowed counts.
  * Provided both as a batch-window query (oracle-checkable) and a
  * readStream pipeline (smoke-tested with the memory sink).
  */
object StreamOps {

  /** Tumbling-window counts per event_type — batch form (same plan shape
    * Catalyst produces for the streaming variant). */
  def windowedCountsBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events.groupBy(
        window(col("ts"), windowLen).getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        cast2(sum(col("value").cast("decimal(18,6)"))).as("sum_value"))

  private def cast2(c: org.apache.spark.sql.Column) = c.cast("double")

  /** Streaming variant: parquet source → windowed counts → memory sink,
    * driven synchronously (processAllAvailable) so tests are
    * deterministic.
    *
    * HONEST MODE NOTE: complete output mode re-emits every window each
    * trigger, so Spark retains ALL window state and the watermark is
    * inert here — state is bounded only by the test horizon's window
    * count, which is what lets the spec compare the full snapshot against
    * the batch aggregation. The unbounded-stream deployment shape is
    * [[windowedCountsUpdateStream]]: update mode, where the SAME
    * watermark evicts closed windows' state and drops later-than-
    * watermark events (spec-pinned). */
  def windowedCountsStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      queryName: String): Unit = {
    val events = spark.readStream.schema(schema).parquet(dir)
      // parquet micros read as TIMESTAMP_NTZ; event-time watermarks require
      // TIMESTAMP (session UTC ⇒ identical instants)
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The scale shape of the windowed count: UPDATE mode + watermark, so
    * closed windows' aggregation state is EVICTED as event time passes
    * and events arriving later than the watermark for an evicted window
    * are dropped — bounded state on an unbounded stream. Returns the
    * running query so the caller can drive multiple file drops
    * (processAllAvailable per wave) and must stop() it. */
  def windowedCountsUpdateStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, queryName: String,
      watermark: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val events = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /** The shared front half of every triple-extraction stream
    * ([[tripleStream]], [[KeyedClaims.incrementalClaimsKeyed]]): broadcast
    * the gazetteer + rules, stream page files, run the SAME narrow
    * per-row extraction as the batch pipeline, hand the triple stream to
    * `f`, and destroy the broadcasts after the query `f` drives
    * finishes. */
  private[streaming] def withTripleStream[A](spark: SparkSession, pagesDir: String,
      schema: org.apache.spark.sql.types.StructType,
      gaz: graft.link.Gazetteer, rules: graft.link.TripleExtractor.Rules)(
      f: org.apache.spark.sql.Dataset[graft.model.RawTriple] => A): A = {
    import spark.implicits._
    val bGaz = spark.sparkContext.broadcast(gaz)
    val bRules = spark.sparkContext.broadcast(rules)
    try {
      val pages = spark.readStream.schema(schema).parquet(pagesDir)
        .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
        .as[graft.model.Page]
      f(pages.filter(_.lang == "en").flatMap { p =>
        graft.link.TripleExtractor.triplesOf(bGaz.value, bRules.value, p.url,
          graft.link.MentionDetector.extractText(p))
      })
    } finally { bGaz.destroy(); bRules.destroy() }
  }

  /** Streaming KG construction: the extract→link→triples stage of the
    * pipeline as a Structured Streaming job — new page files micro-batch
    * into claim counts incrementally. The extraction flatMap is the SAME
    * narrow per-row code the batch pipeline runs (broadcast gazetteer);
    * the claim aggregate is vocabulary-bounded, so complete-mode state
    * stays dimension-sized. At scale this is the "pages land continuously
    * in the lake" deployment shape; the batch job is the backfill. */
  def tripleStream(spark: SparkSession, pagesDir: String,
      schema: org.apache.spark.sql.types.StructType, queryName: String,
      gaz: graft.link.Gazetteer,
      rules: graft.link.TripleExtractor.Rules): Unit =
    withTripleStream(spark, pagesDir, schema, gaz, rules) { triples =>
      val claims = triples.groupBy(col("subj"), col("pred"), col("obj"))
        .agg(count(lit(1)).as("frequency"))
      val q = claims.writeStream.outputMode("complete")
        .format("memory").queryName(queryName).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** Streaming exact dedup: the streaming leg of [[graft.dedup.Dedup.exact]]
    * — new document files micro-batch in, rows whose content was already
    * seen inside the watermark horizon are dropped
    * (`dropDuplicatesWithinWatermark`). The dedup key is a 128-bit content
    * fingerprint (two independent xxhash64 runs), NOT the text itself:
    * dedup state holds only the key columns, and holding full documents in
    * state is exactly what an unbounded stream can't afford. The watermark
    * EVICTS state as event time passes — the only state-safe dedup shape at
    * stream scale; an unwatermarked dropDuplicates would accumulate every
    * fingerprint forever. Collision exposure at 2×64 bits is ~n²/2¹²⁸
    * within a horizon — negligible; the batch path's collision re-check
    * (Dedup.exact) has no streaming analogue without keeping text in state,
    * a documented divergence. */
  def dedupStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, queryName: String,
      horizon: String = "1 hour"): Unit = {
    val docs = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("_h1", xxhash64(col("text")))
      .withColumn("_h2", xxhash64(lit("graft-dedup-2"), col("text")))
    val deduped = docs
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("_h1", "_h2")
    val q = deduped.drop("_h1", "_h2").writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Custom per-key state: streaming sessionization via
    * flatMapGroupsWithState (the KeyValueGroupedDataset state API the
    * SURVEY maps "custom state" to, §2.8). A new session starts when the
    * gap to the previous event of the same user exceeds `gapSec`. State
    * carries (last event time, session counter) across micro-batches. */
  def sessionizeStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, queryName: String,
      gapSec: Long = 1800L): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = spark.readStream.schema(schema).parquet(dir)
      // SECOND granularity on purpose: the batch q33 sessionize (and its
      // DuckDB oracle) compare gaps via unix_timestamp/date_diff('second')
      // — the stream must truncate identically or the two would split
      // sub-second-apart events differently at the gap boundary
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").cast("long").as("ts_sec"))
      .select(col("user_id"), col("event_id"),
        (col("ts_sec") * 1000000L).as("ts_micros"))
      .as[SessEvent]
    val out = events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          val evs = it.toSeq.sortBy(e => (e.ts_micros, e.event_id))
          var (last, idx) = state.getOption
            .map(s => (s.lastTs, s.idx)).getOrElse((Long.MinValue, 0))
          val res = evs.map { e =>
            if (last == Long.MinValue || e.ts_micros - last > gapSec * 1000000L)
              idx += 1
            // state time is MONOTONE: a cross-batch straggler (file source
            // gives no cross-batch ordering) joins the current session but
            // must not rewind lastTs — a rewound clock would wrongly split
            // the NEXT in-order event into a new session. Within a batch
            // events are sorted, so this is the batch q33 semantics; under
            // cross-batch stragglers no append-mode stream can match the
            // batch's global re-sort (it cannot retract emitted rows) —
            // the monotone rule is the documented approximation.
            last = math.max(last, e.ts_micros)
            SessOut(uid, e.event_id, idx)
          }
          if (evs.nonEmpty) state.update(SessState(last, idx))
          res.iterator
      }
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
  }
}
