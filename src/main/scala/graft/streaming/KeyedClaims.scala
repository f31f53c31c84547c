package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental claims sink: a persistent (subj, pred, obj, frequency)
  * table that each streamed micro-batch merges its claim-count delta
  * into. Claims are hash-bucketed by key and each micro-batch rewrites
  * ONLY the buckets its delta touches, i.e. a keyed MERGE INTO expressed
  * on plain parquet — per-batch cost
  * O(delta + touchedBuckets × table/nBuckets), never O(table) once
  * nBuckets > 1. `nBuckets = 1` is the rewrite-per-batch regime: every
  * batch rewrites the one bucket, i.e. the whole table (q78), through the
  * same commit protocol.
  *
  * Table layout under `tableDir` (an Iceberg-style pointer table — data
  * files are immutable once written, commits are manifest swaps):
  * {{{
  *   files/c<seq>/b=<bucket>/part-*.parquet       bucket data, write-once
  *   manifests/manifest-<seq>                     full bucket→dir map +
  *                                                batchId + ckptId + nBuckets
  *   _HEAD                                        current manifest seq
  * }}}
  * A commit writes new dirs for the touched buckets, writes
  * `manifest-<seq+1>` (carrying forward the UNtouched buckets' existing
  * dirs), then atomically swaps `_HEAD`. Readers resolve `_HEAD` → manifest
  * → union of bucket dirs, so they always see one complete committed
  * version. Because data files are never modified in place, time-travel is
  * "read an older manifest" and rollback is "commit a new manifest with an
  * old manifest's map" — a pure pointer operation with NO copy, NO
  * archive/swap window and therefore no intent journal.
  *
  * Crash windows (single writer — the streaming query):
  *   - mid data write: orphan dirs under `files/c<seq>`; `_HEAD` is
  *     untouched, replay re-merges the delta and overwrites them.
  *   - between manifest write and `_HEAD` swap: an unreferenced manifest;
  *     replay re-merges and REPLACES it (staged + atomic rename).
  *   - mid retention: manifest files are deleted FIRST (the marker-first
  *     rule, [[graft.util.Fs.deleteCommitted]] analog) so an interrupted
  *     prune leaves visibly-unreferenced data dirs for the next sweep,
  *     never a manifest pointing at truncated data.
  *
  * Exactly-once: the committed micro-batch id travels in the manifest the
  * `_HEAD` swap publishes, so the id can never disagree with the data it
  * describes; replayed ids are skipped, and the table is pinned to the
  * identity of the checkpoint whose batch ids it records
  * ([[checkpointIdentity]]).
  *
  * 100 TB notes: the manifest is O(nBuckets) driver-side lines — size
  * nBuckets so a bucket holds one healthy parquet file set (thousands of
  * buckets at lake scale; Iceberg itself tracks files the same way, just
  * with manifest FILES instead of lines). The merge's shuffle is
  * O(touched-bucket rows + delta), keyed, AQE-planned; the bucket function
  * (xxhash64 pmod nBuckets) is pinned per table in the manifest and
  * validated on every merge — changing it would strand rows in wrong
  * buckets. Swapping this sink for a real Iceberg `MERGE INTO` is a sink
  * change behind the same [[merge]]/[[read]] interface.
  *
  * Reference provenance: the reference materializes its graph by full
  * rebuild per run (reference: README.md "kg-ae build"); incremental keyed
  * maintenance is this engine's scale extension.
  */
object KeyedClaims {

  /** One committed table version: the full bucket→relative-dir map plus
    * the commit's batch id and the checkpoint identity that scoped it. */
  final case class Manifest(seq: Int, batchId: Long, nBuckets: Int,
      ckptId: Option[String], buckets: Map[Int, String])

  val DefaultBuckets = 64

  private def manifestsDir(root: Path) = root.resolve("manifests")
  private def manifestPath(root: Path, seq: Int) =
    manifestsDir(root).resolve(f"manifest-$seq%06d")
  private def headPath(root: Path) = root.resolve("_HEAD")

  private def bucketCol(nBuckets: Int) =
    pmod(xxhash64(col("subj"), col("pred"), col("obj")), lit(nBuckets))
      .cast("int").as("b")

  /** Driver-side bucket of one claim key under the table's pinned bucket
    * function — the same fold `xxhash64(subj, pred, obj)` evaluates (seed
    * 42, each column's hash seeding the next) followed by pmod, computed
    * without launching a job so a point lookup costs zero cluster work
    * before its single-bucket scan. Spec-pinned equal to [[bucketCol]]
    * over fuzzed keys. */
  private[graft] def bucketOf(subj: String, pred: String, obj: String,
      nBuckets: Int): Int = {
    val h = Seq(subj, pred, obj).foldLeft(42L) { (seed, s) =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType, seed)
    }
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** Retained manifest seqs, oldest first. */
  def manifests(tableDir: String): Seq[Int] =
    graft.util.Fs.numberedEntries(manifestsDir(Paths.get(tableDir)),
      "manifest-")

  /** The current committed manifest (None before the first commit). */
  def head(tableDir: String): Option[Manifest] = {
    val root = Paths.get(tableDir)
    val h = headPath(root)
    if (!Files.exists(h)) None
    else Some(loadManifest(root, Files.readString(h).trim.toInt))
  }

  /** Batch id embedded in the current manifest (-1 when absent) — the
    * replay-skip watermark. */
  def committedBatchId(tableDir: String): Long =
    head(tableDir).map(_.batchId).getOrElse(-1L)

  /** Parse a committed manifest. Line format (order-independent, one
    * key=value per line; bucket lines are `bucket=<n>\t<relpath>`):
    * written and read only by this object, staged + atomically renamed so
    * a partial file is never visible under its committed name. */
  def loadManifest(root: Path, seq: Int): Manifest = {
    val p = manifestPath(root, seq)
    require(Files.exists(p),
      s"keyed claims table has no committed manifest $seq " +
        s"(retained: ${manifests(root.toString).mkString(",")})")
    var batchId = -1L
    var nBuckets = -1
    var ckptId: Option[String] = None
    val buckets = Map.newBuilder[Int, String]
    Files.readString(p).linesIterator.foreach { line =>
      val i = line.indexOf('=')
      if (i > 0) {
        val (k, v) = (line.substring(0, i), line.substring(i + 1))
        k match {
          case "batchId" => batchId = v.toLong
          case "nBuckets" => nBuckets = v.toInt
          case "ckptId" => ckptId = Some(v)
          case "bucket" =>
            val t = v.indexOf('\t')
            require(t > 0, s"corrupt keyed-claims manifest $p: bucket " +
              s"line '$line' has no tab separator")
            buckets += v.substring(0, t).toInt -> v.substring(t + 1)
          case _ => // forward-compatible: unknown keys ignored
        }
      }
    }
    require(batchId >= 0 && nBuckets > 0,
      s"corrupt keyed-claims manifest $p: missing batchId/nBuckets")
    Manifest(seq, batchId, nBuckets, ckptId, buckets.result())
  }

  private def writeManifest(root: Path, m: Manifest): Unit = {
    Files.createDirectories(manifestsDir(root))
    val sb = new StringBuilder
    sb ++= s"seq=${m.seq}\n"
    sb ++= s"batchId=${m.batchId}\n"
    sb ++= s"nBuckets=${m.nBuckets}\n"
    m.ckptId.foreach(id => sb ++= s"ckptId=$id\n")
    m.buckets.toSeq.sortBy(_._1).foreach { case (b, rel) =>
      sb ++= s"bucket=$b\t$rel\n"
    }
    val tmp = manifestsDir(root).resolve(".tmp-manifest")
    Files.writeString(tmp, sb.result())
    // REPLACE_EXISTING: a crash between manifest write and _HEAD swap
    // leaves this seq unreferenced; the replay of the same batch rewrites
    // it under the same name
    Files.move(tmp, manifestPath(root, m.seq), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def swapHead(root: Path, seq: Int): Unit = {
    val tmp = root.resolve(".tmp_HEAD")
    Files.writeString(tmp, seq.toString)
    Files.move(tmp, headPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One idempotent keyed merge: aggregate the batch's triples to a claim
    * delta, rewrite ONLY the buckets the delta touches, publish by manifest
    * + `_HEAD` swap. Skips already-committed batch ids. */
  def merge(batch: DataFrame, batchId: Long, tableDir: String,
      nBuckets: Int = DefaultBuckets, retention: Int = 3,
      ckptId: Option[String] = None): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // retention = 0 would prune the manifest the _HEAD swap just
    // published and reclaim every data dir it references — the commit
    // would destroy its own table
    require(retention >= 1, s"retention must be >= 1, got $retention")
    val spark = batch.sparkSession
    val root = Paths.get(tableDir)
    Files.createDirectories(root)
    val cur = head(tableDir)
    cur.foreach { m =>
      // the bucket function is part of the table's identity: merging with
      // a different nBuckets would route existing keys to new buckets and
      // silently duplicate them
      require(m.nBuckets == nBuckets,
        s"keyed claims table at $tableDir was committed with nBuckets=" +
          s"${m.nBuckets} but this merge uses $nBuckets — the bucket " +
          "function is pinned at table creation")
      // checkpoint-identity guard, checked BEFORE the replay skip: batch
      // ids are only comparable within one checkpoint's id-space, and a
      // recreated checkpoint restarts at 0 — the skip would silently
      // discard its genuinely new waves
      for (id <- ckptId; existing <- m.ckptId; if existing != id)
        throw new IllegalStateException(
          s"keyed claims table at $tableDir was committed under " +
            s"checkpoint identity $existing but this stream runs under " +
            s"$id: batch-id replay protection is invalid across " +
            "checkpoints — restore the original checkpoint directory or " +
            "materialize into a fresh tableDir")
    }
    if (batchId <= cur.map(_.batchId).getOrElse(-1L)) return // replay
    // the commit seq names the data dir, NOT the batch id: seq is unique
    // and monotonic across the table's whole history (rollbacks included)
    // and deterministic across a crash-replay boundary (head unchanged →
    // same seq, so the replay overwrites its own leftovers). A batch-id
    // name would let a post-rollback merge that reuses a pre-rollback id
    // deleteRec a dir retained manifests still reference.
    val seq = cur.map(_.seq + 1).getOrElse(0)
    val delta = batch
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("frequency"))
      .withColumn("b", bucketCol(nBuckets))
      .persist() // read twice: touched-bucket collect + the merge itself
    try {
      // delta-sized driver list, hard-capped at nBuckets rows
      val touched = delta.select("b").distinct()
        .collect().map(_.getInt(0)).sorted
      val oldMap = cur.map(_.buckets).getOrElse(Map.empty[Int, String])
      val mDirRel = s"files/c$seq"
      if (touched.nonEmpty) {
        // only the touched buckets are ever read or shuffled: the union is
        // O(touched rows + delta), grouped on the claim key. Every row in
        // a bucket dir has the bucket id the manifest filed it under, so
        // `b` comes back FREE via partition discovery of the `b=<n>` dir
        // names (basePath = the dir's commit root; old dirs can span
        // several commits) — zero per-row re-hashing, and no silent
        // dependency on a re-hash agreeing with the function that
        // originally placed the rows.
        val oldByCommit = touched.toSeq.flatMap(b => oldMap.get(b))
          .groupBy(rel => rel.substring(0, rel.lastIndexOf('/')))
        val oldFrames = oldByCommit.toSeq.sortBy(_._1).map {
          case (commitRel, rels) =>
            spark.read
              .option("basePath", root.resolve(commitRel).toString)
              .parquet(rels.map(rel => root.resolve(rel).toString): _*)
              .withColumn("b", col("b").cast("int"))
        }
        val merged =
          if (oldFrames.isEmpty) delta
          else oldFrames.reduce(_.unionByName(_))
            .unionByName(delta)
            .groupBy(col("b"), col("subj"), col("pred"), col("obj"))
            .agg(sum(col("frequency")).as("frequency"))
        val mDir = root.resolve(mDirRel)
        graft.util.Fs.deleteRec(mDir) // replay-crash leftovers
        merged.write.partitionBy("b").mode("overwrite").parquet(mDir.toString)
      }
      val newMap = oldMap ++ touched.map(b => b -> s"$mDirRel/b=$b")
      val m = Manifest(seq, batchId, nBuckets,
        ckptId.orElse(cur.flatMap(_.ckptId)), newMap)
      writeManifest(root, m)
      swapHead(root, m.seq)
      pruneRetention(root, retention)
    } finally delta.unpersist()
  }

  /** Read the claims table: current by default, or time-travel to a
    * retained manifest seq. An empty committed table (or a pre-first-commit
    * read) returns an empty frame with the claims schema. */
  def read(spark: SparkSession, tableDir: String,
      asOf: Option[Int] = None): DataFrame = {
    val root = Paths.get(tableDir)
    val m = asOf match {
      case Some(seq) => Some(loadManifest(root, seq))
      case None => head(tableDir)
    }
    val dirs = m.map(_.buckets.values.toSeq.sorted).getOrElse(Seq.empty)
      .map(rel => root.resolve(rel).toString)
    if (dirs.isEmpty) emptyClaims(spark)
    else spark.read.parquet(dirs: _*)
  }

  private def emptyClaims(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "subj STRING, pred STRING, obj STRING, frequency BIGINT"))

  /** Point lookup of one claim key: resolve the key's bucket driver-side
    * with the table's pinned bucket function and scan ONLY that bucket's
    * data dir — the read-side payoff of the keyed layout (Iceberg-style
    * bucket-partition pruning on plain parquet): O(table/nBuckets) bytes
    * touched per lookup, never a full-table scan, and a key whose bucket
    * was never written answers empty with ZERO files read. Honors
    * time-travel through `asOf` like [[read]]. */
  def lookup(spark: SparkSession, tableDir: String, subj: String,
      pred: String, obj: String, asOf: Option[Int] = None): DataFrame = {
    val root = Paths.get(tableDir)
    val m = asOf match {
      case Some(seq) => Some(loadManifest(root, seq))
      case None => head(tableDir)
    }
    val dir = for {
      man <- m
      rel <- man.buckets.get(bucketOf(subj, pred, obj, man.nBuckets))
    } yield root.resolve(rel).toString
    dir match {
      case Some(d) => spark.read.parquet(d)
        .where(col("subj") === subj && col("pred") === pred &&
          col("obj") === obj)
      case None => emptyClaims(spark)
    }
  }

  /** Roll the table back to a retained manifest: commits a NEW manifest
    * whose bucket map is the old one's — a pure pointer swap, atomic by
    * construction (no copy, no archive window, no intent journal). The
    * rollback itself is in the history and reversible; the restored
    * batchId comes back with the map so later micro-batches (higher ids)
    * merge normally. */
  def rollback(tableDir: String, toSeq: Int): Unit = {
    val root = Paths.get(tableDir)
    val target = loadManifest(root, toSeq)
    val curSeq = head(tableDir).map(_.seq).getOrElse(
      throw new IllegalStateException(
        s"keyed claims table at $tableDir has no committed head"))
    val m = target.copy(seq = curSeq + 1)
    writeManifest(root, m)
    swapHead(root, m.seq)
    // no data prune here: everything the target references is shared with
    // the new head; retention continues normally on later merges
  }

  /** Retain the newest `retention` manifests; delete older manifest files
    * FIRST, then any bucket dir no retained manifest references (which
    * also reclaims crash-orphaned dirs that never got a manifest).
    *
    * Concurrent readers: a time-travel read that STARTS after its seq is
    * pruned refuses loudly ([[loadManifest]]'s require); a scan already in
    * flight when its files are reclaimed can fail mid-read — the same
    * contract as Iceberg's expire_snapshots, and the reason `retention`
    * should exceed the longest reader's horizon in a shared deployment. */
  private def pruneRetention(root: Path, retention: Int): Unit = {
    val all = manifests(root.toString)
    val (drop, keep) = all.splitAt(math.max(0, all.size - retention))
    if (drop.isEmpty) return
    val referenced: Set[String] =
      keep.flatMap(seq => loadManifest(root, seq).buckets.values).toSet
    drop.foreach(seq => Files.deleteIfExists(manifestPath(root, seq)))
    val filesRoot = root.resolve("files")
    if (!Files.exists(filesRoot)) return
    val ms = Files.list(filesRoot)
    try ms.forEach { mDir =>
      if (Files.isDirectory(mDir)) {
        val bs = Files.list(mDir)
        try bs.forEach { bDir =>
          val rel = root.relativize(bDir).toString
          if (Files.isDirectory(bDir) && !referenced.contains(rel))
            graft.util.Fs.deleteRec(bDir)
        } finally bs.close()
        // an m-dir with no bucket dirs left holds only writer markers
        // (_SUCCESS) — reclaim the whole dir
        val left = Files.list(mDir)
        val anyBucket =
          try left.anyMatch(p => Files.isDirectory(p))
          finally left.close()
        if (!anyBucket) graft.util.Fs.deleteRec(mDir)
      }
    } finally ms.close()
  }

  /** Stable identity of a checkpoint's batch-id space, written once on
    * first use: batch ids are only comparable within ONE checkpoint, so
    * [[merge]] pins the table to this identity and a deleted/recreated
    * checkpoint (whose ids restart at 0) fails loudly against a table
    * committed under the old one instead of silently skipping new
    * waves. */
  private def checkpointIdentity(checkpointDir: String): String = {
    val idFile = Paths.get(checkpointDir, "_graft_ckpt_id")
    Files.createDirectories(idFile.getParent)
    if (!Files.exists(idFile))
      Files.writeString(idFile, java.util.UUID.randomUUID().toString)
    Files.readString(idFile).trim
  }

  /** Streaming entry: new page files micro-batch in, each batch extracts
    * triples with the SAME narrow per-row code as the batch pipeline and
    * merges its claim delta keyed, via one checkpointed `foreachBatch`
    * pass. Source offsets + batch ids persist in `checkpointDir`, so a
    * restarted job resumes at the next unread file instead of replaying
    * the whole directory — checkpointed offsets + an idempotent batch
    * sink = exactly-once. The "pages land continuously in the lake"
    * deployment shape; the batch pipeline is the backfill. */
  def incrementalClaimsKeyed(spark: SparkSession, pagesDir: String,
      schema: org.apache.spark.sql.types.StructType, tableDir: String,
      checkpointDir: String, gaz: graft.link.Gazetteer,
      rules: graft.link.TripleExtractor.Rules,
      nBuckets: Int = DefaultBuckets): Unit = {
    val ckptId = Some(checkpointIdentity(checkpointDir))
    StreamOps.withTripleStream(spark, pagesDir, schema, gaz, rules) {
      triples =>
        val q = triples.writeStream.outputMode("append")
          .option("checkpointLocation", checkpointDir)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[graft.model.RawTriple],
              batchId: Long) =>
              merge(batch.toDF(), batchId, tableDir, nBuckets,
                ckptId = ckptId)
          }
          .start()
        // stop in finally: a throwing batch (e.g. a guard) must not leak
        // an active query holding the checkpoint — a caller that catches
        // and retries would hit "query already active"
        try q.processAllAvailable() finally q.stop()
    }
  }
}
