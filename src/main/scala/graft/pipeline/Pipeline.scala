package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.PageSynth
import graft.graph.{GraphBuilder, Validator}
import graft.link.TripleExtractor
import graft.model.Page

/** Checkpointed, resumable stage DAG — the engine analogue of the
  * reference's medallion layers with cache-skip
  * (reference:src/kg_ae/datasets/base.py:75-79 skip-if-present;
  * src/kg_ae/etl/stage.py:1-27 download→parse→normalize→build).
  *
  * Each stage writes exactly one parquet table via a temp-dir + atomic
  * rename commit (the sandbox stand-in for an Iceberg snapshot commit) plus
  * a manifest recording {stage, version, upstream fingerprints, row count};
  * the row count is observed on the write itself, so a commit is one job.
  * Replaced tables are retained as numbered snapshots with time-travel
  * reads, rollback and bounded retention (see [[runStage]] — the
  * snapshot/time-travel half of the Iceberg stand-in).
  * On re-run, a stage whose manifest matches its code version and upstream
  * fingerprints is SKIPPED — so a job killed mid-pipeline resumes from the
  * last committed stage and, because every stage function is deterministic,
  * produces byte-identical tables (north-rule resumability).
  *
  * A `counters` table records per-stage rows-in/rows-out/elapsed — the
  * per-partition lineage/metrics requirement (north rule; analogue of the
  * reference's meta.json per-dataset counts, build.py:862-874).
  */
object Pipeline {

  case class StageResult(stage: String, rows: Long, skipped: Boolean,
      elapsedSec: Double)

  final case class Manifest(stage: String, version: String,
      upstream: String, rows: Long)

  private def manifestPath(root: String, stage: String) =
    Paths.get(root, stage, "_MANIFEST")

  private def readManifest(root: String, stage: String): Option[Manifest] = {
    val p = manifestPath(root, stage)
    if (!Files.exists(p)) None
    else Files.readString(p).split("\n").toList match {
      case v :: up :: rows :: _ => Some(Manifest(stage, v, up, rows.toLong))
      case _ => None
    }
  }

  private def writeManifest(root: String, m: Manifest): Unit = {
    // staged + atomic rename: a torn plain write could leave a manifest
    // that still PARSES but records a truncated row count — the stage
    // would then be skipped forever with a lying fingerprint. (The
    // underscore prefix keeps the temp file invisible to parquet scans.)
    val p = manifestPath(root, m.stage)
    val tmp = p.resolveSibling("_MANIFEST.tmp")
    Files.writeString(tmp, s"${m.version}\n${m.upstream}\n${m.rows}")
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run one stage: skip when committed with matching version+upstream.
    * `partitionCols` hive-partitions the output (downstream point queries
    * prune to matching directories — the sandbox stand-in for Iceberg
    * partition transforms).
    *
    * SNAPSHOTS (the time-travel half of the Iceberg stand-in): when a
    * recompute replaces a previously-committed table, the old table —
    * data files, its `_MANIFEST` and `_COMMITTED` marker — is archived
    * whole under `root/_snapshots/<stage>/snap-NNNNN` instead of deleted.
    * [[readStage]] reads any retained snapshot, [[rollback]] restores one
    * as current (archiving the replaced table, so rollback itself is in
    * the history), [[pruneSnapshots]] bounds retention. Snapshot ids are
    * dense integers, not wall-clock timestamps — deterministic across
    * reruns. A production implementation would swap a metadata pointer
    * instead of moving files; the commit protocol (write tmp → atomic
    * rename → marker) is identical. */
  def runStage(spark: SparkSession, root: String, stage: String,
      version: String, upstream: String, partitionCols: Seq[String] = Nil)
      (body: => DataFrame): StageResult = {
    settleRollbackIntent(root, stage)
    val dir = Paths.get(root, stage)
    val t0 = System.nanoTime()
    readManifest(root, stage) match {
      case Some(m) if m.version == version && m.upstream == upstream &&
          Files.exists(dir.resolve("_COMMITTED")) =>
        StageResult(stage, m.rows, skipped = true, 0.0)
      case _ =>
        val tmp = Paths.get(root, s".tmp_$stage")
        graft.util.Fs.deleteRec(tmp)
        // the committed row count comes from the write itself: the
        // observed count is collected by the write job, so a commit is
        // one job, not a write plus a re-read of the table to count it
        val written = Observation(s"commit_$stage")
        val writer = body.observe(written, count(lit(1)).as("rows"))
          .write.mode("overwrite")
        (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
         else writer).parquet(tmp.toString)
        val rows = written.get("rows").asInstanceOf[Long]
        archiveIfCommitted(root, stage)
        graft.util.Fs.deleteRec(dir) // uncommitted leftovers only; committed dirs archived
        Files.createDirectories(dir.getParent)
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        Files.writeString(dir.resolve("_COMMITTED"), "1")
        writeManifest(root, Manifest(stage, version, upstream, rows))
        StageResult(stage, rows, skipped = false,
          (System.nanoTime() - t0) / 1e9)
    }
  }

  private def snapRoot(root: String, stage: String) =
    Paths.get(root, "_snapshots", stage)

  private def snapDir(root: String, stage: String, id: Int) =
    snapRoot(root, stage).resolve(f"snap-$id%05d")

  /** Retained snapshot ids for a stage, oldest first. */
  def snapshots(root: String, stage: String): Seq[Int] =
    graft.util.Fs.numberedEntries(snapRoot(root, stage), "snap-")

  /** Archive the stage's current COMMITTED table (with its manifest +
    * marker) as the next snapshot; uncommitted/absent dirs archive
    * nothing. */
  private def archiveIfCommitted(root: String, stage: String): Unit = {
    val dir = Paths.get(root, stage)
    if (Files.exists(dir.resolve("_COMMITTED"))) {
      val next = snapshots(root, stage).lastOption.getOrElse(0) + 1
      Files.createDirectories(snapRoot(root, stage))
      Files.move(dir, snapDir(root, stage, next),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Read a stage table: current by default, or time-travel to a retained
    * snapshot via `asOf`. */
  def readStage(spark: SparkSession, root: String, stage: String,
      asOf: Option[Int] = None): DataFrame = asOf match {
    case None => spark.read.parquet(s"$root/$stage")
    case Some(id) =>
      val d = snapDir(root, stage, id)
      require(Files.exists(d.resolve("_COMMITTED")),
        s"stage '$stage' has no retained snapshot $id " +
          s"(retained: ${snapshots(root, stage).mkString(",")})")
      spark.read.parquet(d.toString)
  }

  /** Restore a retained snapshot as the stage's current table. The
    * replaced current table is archived first, so rollback appears in the
    * snapshot history and is itself reversible. The restored snapshot's
    * manifest comes back with it, so downstream stages whose `upstream`
    * fingerprints no longer match recompute on the next run (fingerprints
    * include row counts + versions).
    *
    * Unlike runStage (which writes FRESH data and must therefore write
    * `_COMMITTED` last, post-rename), the rollback source is already a
    * complete committed snapshot — so the marker is copied INTO the
    * staged tmp dir and the atomic rename is the single commit point. A
    * marker-last protocol here would reopen the window it closes
    * elsewhere: a crash between the rename and the marker write leaves
    * the restored table unmarked, the intent's settle path sees "current
    * table exists" and drops the intent, and the next runStage deletes
    * the restore as uncommitted leftovers — silently undoing the
    * rollback. With the marker inside the rename there is no such state:
    * either the old table is still current, or the restore is current
    * AND committed. (The tmp dir briefly carries a marker pre-rename,
    * which is harmless — `.tmp_*` paths are never read as tables.) */
  def rollback(root: String, stage: String, toSnapshot: Int): Unit = {
    settleRollbackIntent(root, stage)
    val src = snapDir(root, stage, toSnapshot)
    require(Files.exists(src.resolve("_COMMITTED")),
      s"stage '$stage' has no retained snapshot $toSnapshot")
    // intent journal: the destructive window below (current archived away,
    // restore not yet moved in) would otherwise leave NO current table on
    // a crash, and the next run would silently RECOMPUTE the latest
    // version instead of honoring the requested rollback. The intent lets
    // settleRollbackIntent complete the swap from the staged tmp copy.
    val intent = intentPath(root, stage)
    val tmp = Paths.get(root, s".tmp_$stage")
    val staging = Paths.get(root, s".copying_$stage")
    // the tmp delete happens BEFORE the intent write: settleRollbackIntent
    // trusts any .tmp_<stage> that coexists with an intent as a COMPLETE
    // restore, so a stale partial tmp (a runStage killed mid-parquet-write
    // can leave one) must be gone before the intent exists. The staging
    // dir needs no delete here: settleRollbackIntent above owns that
    // invariant (its first action reclaims .copying_<stage> in every
    // state).
    graft.util.Fs.deleteRec(tmp)
    Files.createDirectories(intent.getParent)
    Files.writeString(intent, toSnapshot.toString)
    // copy (not move) so the snapshot itself stays retained/immutable;
    // the source is committed, so its marker travels WITH the copy and
    // the atomic rename below is the single commit point (see scaladoc).
    // The copy is staged under a DIFFERENT name and renamed to
    // .tmp_<stage> only once complete: Files.walk order is unspecified,
    // so a crash mid-copy could otherwise leave a marker-bearing partial
    // tree under the name settleRollbackIntent would restore and mark
    // committed — a data-truncated table served as committed.
    graft.util.Fs.copyTree(src, staging)
    Files.move(staging, tmp, StandardCopyOption.ATOMIC_MOVE)
    archiveIfCommitted(root, stage)
    val dir = Paths.get(root, stage)
    graft.util.Fs.deleteRec(dir) // uncommitted leftovers only
    Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    Files.deleteIfExists(intent)
  }

  private def intentPath(root: String, stage: String) =
    Paths.get(root, "_intents", stage)

  /** Complete (or loudly abandon) a rollback interrupted mid-swap. Called
    * on entry to [[runStage]] and [[rollback]]:
    *  - current table missing but the staged restore copy exists → finish
    *    the interrupted rollback (atomic move + marker), exactly what the
    *    crashed call would have done. The copy is COMPLETE by
    *    construction: rollback() renames it to `.tmp_<stage>` atomically
    *    only after copyTree finishes, and deletes any stale tmp before
    *    writing the intent — so an intent can never coexist with a
    *    partial tree under that name;
    *  - otherwise the destructive swap either never started or already
    *    finished — the intent alone can't distinguish "rollback applied"
    *    from "rollback never applied", so drop the intent and say so on
    *    stderr instead of guessing (the operator re-runs rollback if they
    *    still want it; nothing was corrupted either way). A crash
    *    mid-copy leaves only the `.copying_<stage>` staging dir, which is
    *    garbage in every state and reclaimed here. */
  private def settleRollbackIntent(root: String, stage: String): Unit = {
    graft.util.Fs.deleteRec(Paths.get(root, s".copying_$stage"))
    val intent = intentPath(root, stage)
    if (Files.exists(intent)) {
      val dir = Paths.get(root, stage)
      val tmp = Paths.get(root, s".tmp_$stage")
      if (!Files.exists(dir) && Files.exists(tmp)) {
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        Files.writeString(dir.resolve("_COMMITTED"), "1")
        System.err.println(
          s"[pipeline] completed interrupted rollback of '$stage' to " +
          s"snapshot ${Files.readString(intent).trim}")
      } else {
        System.err.println(
          s"[pipeline] dropping stale rollback intent for '$stage' " +
          s"(to snapshot ${Files.readString(intent).trim}): the swap " +
          "did not start or already completed — re-run rollback() if " +
          "still intended")
      }
      Files.deleteIfExists(intent)
    }
  }

  /** Snapshot-diff (CDC): the changed rows between a retained snapshot and
    * the CURRENT table of a stage — the "what did this recompute actually
    * change" question every incremental consumer of a versioned table
    * asks (Iceberg's changelog scan / Delta CDF, over this module's
    * numbered snapshots).
    *
    * Keyed FULL OUTER JOIN on `keyCols`; a key present only in the
    * snapshot is `removed`, only in the current table `added`, in both
    * with any `compareCols` difference `changed` (null-safe comparison);
    * identical rows are dropped. Output: keyCols, change_type, then
    * old_<c>/new_<c> for each compare column (null on the absent side).
    *
    * Scale shape: one shuffle of each side on the key — the same cost as
    * any keyed merge; nothing driver-side. Both sides come off parquet
    * scans with only keyCols+compareCols read (column pruning), so a wide
    * table diffs at the width of the compared columns, not the full row. */
  def diffSnapshots(spark: SparkSession, root: String, stage: String,
      fromSnapshot: Int, keyCols: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val cols = (keyCols ++ compareCols).map(col)
    val old = readStage(spark, root, stage, Some(fromSnapshot))
      .select(cols: _*)
    val cur = readStage(spark, root, stage).select(cols: _*)
    val o = old.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"old_$c")): _*)
    val n = cur.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"new_$c")): _*)
    // presence flags survive the outer join even when every compare column
    // is legitimately null on a present side
    val j = o.withColumn("_in_old", lit(true))
      .join(n.withColumn("_in_new", lit(true)), keyCols, "full_outer")
    val same = compareCols
      .map(c => col(s"old_$c") <=> col(s"new_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    j.withColumn("change_type",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!same, lit("changed")))
      .where(col("change_type").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("change_type")) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Delete the oldest snapshots beyond `keep` (bounded retention).
    * Markers go first (see Fs.deleteCommitted): a crash mid-prune must
    * leave a visibly-uncommitted partial that readStage(asOf)/rollback
    * refuse, never a marker-bearing truncated snapshot. */
  def pruneSnapshots(root: String, stage: String, keep: Int): Unit =
    snapshots(root, stage).dropRight(keep)
      .foreach(id => graft.util.Fs.deleteCommitted(
        snapDir(root, stage, id), Seq("_COMMITTED", "_MANIFEST")))

  /** Fingerprint of a committed stage output (manifest content) — used as
    * the downstream's `upstream` key so edits invalidate transitively. */
  def fingerprint(root: String, stages: Seq[String]): String =
    stages.map(s => readManifest(root, s)
      .map(m => s"${m.stage}:${m.version}:${m.rows}").getOrElse("?"))
      .mkString("|")

  val CodeVersion = "v3" // bump to invalidate all stages (v3: evidence payloads)

  /** The full KG pipeline over a synthesized pages corpus:
    * pages → [optional page canonicalization: MinHash+LSH+CC boilerplate
    * dedup keeps one canonical page per near-dup cluster] → triples
    * (extract+link fused, narrow) → vertices/edges
    * (canonicalize+materialize) → validation + counters.
    */
  def run(spark: SparkSession, root: String, nPages: Long,
      partitions: Int = 32, dedupPages: Boolean = false,
      snapshotRetention: Int = 3): Seq[StageResult] = {
    import spark.implicits._
    Files.createDirectories(Paths.get(root))
    val results = Seq.newBuilder[StageResult]

    val s1 = runStage(spark, root, "pages", CodeVersion, s"n=$nPages") {
      PageSynth.pages(spark, nPages, partitions).toDF()
    }
    results += s1

    val pagesStage = if (dedupPages) {
      // boilerplate canonicalization (SURVEY §7.4 phase 2): extract text,
      // minhash near-dup clusters, keep the min-xxhash64(url) page per
      // cluster (deterministic, hash-ordered — NOT lexicographic-min url).
      // 63-bit ids can collide and merge unrelated pages with ~n²/2⁶⁴
      // probability — fine for this optional dedup stage at sandbox scale;
      // switch to a 128-bit id before trillion-page deployments.
      val up = fingerprint(root, Seq("pages"))
      val sd = runStage(spark, root, "pages_canonical", CodeVersion, up) {
        val pages = spark.read.parquet(s"$root/pages")
        val docId = xxhash64(col("url")).bitwiseAND(lit(Long.MaxValue))
        val withText = pages.as[Page].map(p =>
            (p.url, graft.link.MentionDetector.extractText(p)))
          .toDF("url", "text")
        val clusters = graft.dedup.Dedup.minhashDedup(
          withText.withColumn("doc_id", docId),
          "doc_id", "text", k = 5, numHashes = 64, bands = 16,
          threshold = 0.9)
        // ids from the url column: a typed map cannot be column-pruned, so
        // reading `withText` here would extract every page's text again
        val ids = pages.select(col("url"), docId.as("doc_id"))
        val keep = ids.join(clusters, Seq("doc_id"), "left")
          .where(col("canonical_id").isNull ||
            col("canonical_id") === col("doc_id"))
          .select(col("url"))
        pages.join(keep, Seq("url"), "left_semi")
      }
      results += sd
      "pages_canonical"
    } else "pages"

    val up1 = fingerprint(root, Seq(pagesStage))
    val s2 = runStage(spark, root, "triples", CodeVersion, up1) {
      val pages = spark.read.parquet(s"$root/$pagesStage").as[Page]
      TripleExtractor.extract(spark, pages, PageSynth.gazetteer,
        PageSynth.RelationRules.toMap).toDF()
    }
    results += s2

    val up2 = fingerprint(root, Seq("pages", "triples"))
    val s3 = runStage(spark, root, "vertices", CodeVersion, up2) {
      val triples = spark.read.parquet(s"$root/triples")
        .as[graft.model.RawTriple]
      GraphBuilder.buildVertices(spark, triples, PageSynth.gazetteer)
    }
    results += s3

    val up3 = fingerprint(root, Seq("pages", "triples", "vertices"))
    val s4 = runStage(spark, root, "edges", CodeVersion, up3,
        partitionCols = Seq("claim_type")) {
      val triples = spark.read.parquet(s"$root/triples")
        .as[graft.model.RawTriple]
      val vertices = spark.read.parquet(s"$root/vertices")
      GraphBuilder.buildEdges(spark, triples, vertices, PageSynth.gazetteer)
        .unionByName(GraphBuilder.buildLabelEdges(spark, triples, vertices))
    }
    results += s4

    // bounded snapshot retention: every recompute archives the replaced
    // table, so an unpruned history grows by one full table copy per
    // version/upstream change — cap it here rather than in callers.
    Seq("pages", "pages_canonical", "triples", "vertices", "edges")
      .foreach(st => pruneSnapshots(root, st, snapshotRetention))

    // validation gate (fail-fast, reference build.py:849-854)
    val v = spark.read.parquet(s"$root/vertices")
    val e = spark.read.parquet(s"$root/edges")
    Validator.validateOrThrow(v, e)

    // counters table (lineage/metrics)
    val counters = results.result()
      .map(r => (r.stage, r.rows, r.skipped, r.elapsedSec))
      .toDF("stage", "rows", "skipped", "elapsed_sec")
    counters.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/_counters")
    results.result()
  }
}
