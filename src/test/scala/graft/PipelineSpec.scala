package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline

/** Resumability + determinism of the checkpointed stage DAG (north rule:
  * resumable from checkpoint; identical output after mid-pipeline rerun). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("full run → rerun skips all stages; outputs identical") {
    val root = TestSpark.scratch("graft_pipe").toString
    val r1 = Pipeline.run(spark, root, nPages = 200, partitions = 8)
    assert(r1.forall(!_.skipped))
    val edges1 = spark.read.parquet(s"$root/edges")
      .drop("evidence").collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString)

    val r2 = Pipeline.run(spark, root, nPages = 200, partitions = 8)
    assert(r2.forall(_.skipped), s"expected all skipped: $r2")
    val edges2 = spark.read.parquet(s"$root/edges")
      .drop("evidence").collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString)
    assert(edges1 == edges2)
  }

  test("mid-pipeline kill: downstream stages recompute, upstream skipped, result identical") {
    val rootA = TestSpark.scratch("graft_pipeA").toString
    val rootB = TestSpark.scratch("graft_pipeB").toString
    Pipeline.run(spark, rootA, nPages = 150, partitions = 8)

    // simulate a job killed after 'triples': only run the first two stages
    Pipeline.runStage(spark, rootB, "pages", Pipeline.CodeVersion, "n=150") {
      graft.extract.PageSynth.pages(spark, 150, 8).toDF()
    }
    val up1 = Pipeline.fingerprint(rootB, Seq("pages"))
    Pipeline.runStage(spark, rootB, "triples", Pipeline.CodeVersion, up1) {
      import spark.implicits._
      val pages = spark.read.parquet(s"$rootB/pages").as[graft.model.Page]
      graft.link.TripleExtractor.extract(spark, pages,
        graft.extract.PageSynth.gazetteer,
        graft.extract.PageSynth.RelationRules.toMap).toDF()
    }
    // resume: full run must skip pages+triples, compute vertices+edges
    val res = Pipeline.run(spark, rootB, nPages = 150, partitions = 8)
    val byStage = res.map(r => r.stage -> r.skipped).toMap
    assert(byStage("pages") && byStage("triples"))
    assert(!byStage("vertices") && !byStage("edges"))

    def tbl(root: String, t: String) = spark.read.parquet(s"$root/$t")
      .drop("evidence").collect().map(_.toString).sorted.toSeq
    assert(tbl(rootA, "vertices") == tbl(rootB, "vertices"))
    assert(tbl(rootA, "edges") == tbl(rootB, "edges"))
  }

  test("version bump invalidates: changed code version recomputes") {
    val root = TestSpark.scratch("graft_pipeC").toString
    val a = Pipeline.runStage(spark, root, "pages", "v1", "n=50") {
      graft.extract.PageSynth.pages(spark, 50, 4).toDF()
    }
    assert(!a.skipped)
    val b = Pipeline.runStage(spark, root, "pages", "v1", "n=50") {
      graft.extract.PageSynth.pages(spark, 50, 4).toDF()
    }
    assert(b.skipped)
    val c = Pipeline.runStage(spark, root, "pages", "v2", "n=50") {
      graft.extract.PageSynth.pages(spark, 50, 4).toDF()
    }
    assert(!c.skipped)
  }

  test("page canonicalization stage: boilerplate clusters collapse") {
    val root = TestSpark.scratch("graft_pipeE").toString
    val res = Pipeline.run(spark, root, nPages = 400, partitions = 8,
      dedupPages = true)
    assert(res.map(_.stage).contains("pages_canonical"))
    val full = spark.read.parquet(s"$root/pages").count()
    val canon = spark.read.parquet(s"$root/pages_canonical").count()
    assert(canon < full, s"expected dedup to drop pages: $canon vs $full")
    // triples from the deduped corpus are a subset of the full corpus run
    val rootFull = TestSpark.scratch("graft_pipeF").toString
    Pipeline.run(spark, rootFull, nPages = 400, partitions = 8)
    val tFull = spark.read.parquet(s"$rootFull/triples")
      .select("subj", "pred", "obj", "url").collect().map(_.toString).toSet
    val tDedup = spark.read.parquet(s"$root/triples")
      .select("subj", "pred", "obj", "url").collect().map(_.toString).toSet
    assert(tDedup.subsetOf(tFull) && tDedup.size < tFull.size)
    // resumable: rerun skips everything
    val res2 = Pipeline.run(spark, root, nPages = 400, partitions = 8,
      dedupPages = true)
    assert(res2.forall(_.skipped))
  }

  test("page canonicalization extracts text once: no typed map outside a cut") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{MapElementsExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val writes = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.getName == ".tmp_pages_canonical" => writes.add(qe)
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the marker job of JobProbe flushes the listener bus
    try JobProbe(spark)(Pipeline.run(spark, TestSpark.scratch("graft_pipeM").toString,
      nPages = 120, partitions = 4, dedupPages = true))
    finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1)
    // a cut reads as an RDD scan, so a map below one does not show here
    val maps = Plans.collect(writes.peek().executedPlan) { case m: MapElementsExec => m }
    assert(maps.isEmpty, s"${maps.size} typed maps in the pages_canonical write")
  }

  test("snapshots: recompute archives the old table; time-travel reads it") {
    val root = TestSpark.scratch("graft_snap").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    assert(Pipeline.snapshots(root, "pages").isEmpty) // first commit: no history
    val cur1 = Pipeline.readStage(spark, root, "pages").count()

    // version bump with different content → recompute archives snap 1
    Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    assert(Pipeline.snapshots(root, "pages") == Seq(1))
    assert(Pipeline.readStage(spark, root, "pages").count() == 80)
    // time-travel: snapshot 1 is the ORIGINAL table, bit-for-bit readable
    val snap1 = Pipeline.readStage(spark, root, "pages", asOf = Some(1))
    assert(snap1.count() == cur1 && cur1 == 50)
    // unknown snapshot fails fast
    intercept[IllegalArgumentException] {
      Pipeline.readStage(spark, root, "pages", asOf = Some(9))
    }
  }

  test("rollback restores a snapshot, keeps history, invalidates downstream") {
    val root = TestSpark.scratch("graft_rb").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    val fpNew = Pipeline.fingerprint(root, Seq("pages"))

    Pipeline.rollback(root, "pages", toSnapshot = 1)
    // current is the old 50-page table again; the replaced 80-page table
    // was archived (rollback is itself in the history and reversible)
    assert(Pipeline.readStage(spark, root, "pages").count() == 50)
    assert(Pipeline.snapshots(root, "pages") == Seq(1, 2))
    assert(Pipeline.readStage(spark, root, "pages", asOf = Some(2)).count() == 80)
    // the restored manifest changes the fingerprint → downstream stages
    // keyed on it recompute on the next run
    assert(Pipeline.fingerprint(root, Seq("pages")) != fpNew)
    // the rolled-back-to snapshot stays retained (copy, not move)
    assert(Pipeline.readStage(spark, root, "pages", asOf = Some(1)).count() == 50)

    // bounded retention drops the oldest
    Pipeline.pruneSnapshots(root, "pages", keep = 1)
    assert(Pipeline.snapshots(root, "pages") == Seq(2))
  }

  test("crash-truncated snapshot (marker deleted first) is refused, not served") {
    val root = TestSpark.scratch("graft_trunc").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    // simulate a prune crash AFTER the markers went (they are deleted
    // FIRST) but before the data files: snapshot dir still listed, but
    // visibly uncommitted
    val snap = java.nio.file.Paths.get(root, "_snapshots", "pages", "snap-00001")
    java.nio.file.Files.delete(snap.resolve("_COMMITTED"))
    java.nio.file.Files.delete(snap.resolve("_MANIFEST"))
    assert(Pipeline.snapshots(root, "pages") == Seq(1)) // still listed...
    intercept[IllegalArgumentException] { // ...but refused by readers
      Pipeline.readStage(spark, root, "pages", asOf = Some(1))
    }
    intercept[IllegalArgumentException] {
      Pipeline.rollback(root, "pages", toSnapshot = 1)
    }
  }

  test("interrupted rollback (no current table) completes from the intent") {
    val root = TestSpark.scratch("graft_rbint").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    // simulate rollback crashing in its destructive window: intent
    // written, restore copy staged, current archived away — and no
    // current table exists. The copy is staged SANS marker here, the way
    // the legacy (pre marker-inside-rename) protocol staged it — settle
    // must complete either format, since an upgrade can inherit a legacy
    // in-flight tmp
    val snap1 = java.nio.file.Paths.get(root, "_snapshots", "pages", "snap-00001")
    val tmp = java.nio.file.Paths.get(root, ".tmp_pages")
    graft.util.Fs.copyTree(snap1, tmp, exclude = Set("_COMMITTED"))
    val intents = java.nio.file.Paths.get(root, "_intents")
    java.nio.file.Files.createDirectories(intents)
    java.nio.file.Files.writeString(intents.resolve("pages"), "1")
    val cur = java.nio.file.Paths.get(root, "pages")
    val arch = java.nio.file.Paths.get(root, "_snapshots", "pages", "snap-00002")
    java.nio.file.Files.move(cur, arch)
    // next runStage settles the intent: the interrupted rollback COMPLETES
    // (old behavior recomputed the LATEST version, silently dropping the
    // operator's rollback)
    val r = Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    assert(r.skipped, s"restored v1 table should satisfy the manifest: $r")
    assert(Pipeline.readStage(spark, root, "pages").count() == 50)
    assert(!java.nio.file.Files.exists(intents.resolve("pages")))
  }

  test("rollback commits atomically: a crash after the rename cannot undo it") {
    val root = TestSpark.scratch("graft_rbatomic").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    // two snapshots of the SAME stage spec (the realistic rollback-after-
    // bad-data case: spec unchanged, content rolled back)
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    Pipeline.runStage(spark, root, "pages", "v1", "n=80")(pages(80))
    Pipeline.rollback(root, "pages", toSnapshot = 1)
    // a COMPLETED rollback differs from the crash-right-after-the-rename
    // state only by the intent file (its delete is rollback's last
    // statement) — recreate it to simulate that exact window. Under the
    // old marker-written-last protocol the restored table sat here
    // UNmarked: settle saw "current exists", dropped the intent, and the
    // next runStage deleted the restore as uncommitted leftovers and
    // recomputed — silently undoing the operator's rollback. With the
    // marker inside the rename there is no unmarked state to mishandle.
    val intents = java.nio.file.Paths.get(root, "_intents")
    java.nio.file.Files.createDirectories(intents)
    java.nio.file.Files.writeString(intents.resolve("pages"), "1")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "pages", "_COMMITTED")),
      "rollback must publish the marker atomically with the data")
    val r = Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    assert(r.skipped, s"the restored table must satisfy the manifest: $r")
    assert(Pipeline.readStage(spark, root, "pages").count() == 50)
  }

  test("crash mid-rollback-copy cannot commit a truncated restore") {
    val root = TestSpark.scratch("graft_rbcopy").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    Pipeline.runStage(spark, root, "pages", "v1", "n=50")(pages(50))
    Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    // simulate rollback() dying MID copyTree while no current table exists
    // (a prior runStage crash had left the stage dir absent): intent
    // present, the staging dir carrying the marker + manifest but NOT the
    // data files (Files.walk order is unspecified — the marker can land
    // before the part files). Under the pre-staging protocol the copy
    // went straight to .tmp_pages, and settle moved this truncated tree
    // into place and marked it committed.
    val snap1 = java.nio.file.Paths.get(root, "_snapshots", "pages",
      "snap-00001")
    val staging = java.nio.file.Paths.get(root, ".copying_pages")
    graft.util.Fs.copyTree(snap1, staging)
    val ls = java.nio.file.Files.list(staging)
    try ls.forEach { p => // drop the data files, keep the markers
      if (!p.getFileName.toString.startsWith("_")) graft.util.Fs.deleteRec(p)
    } finally ls.close()
    val intents = java.nio.file.Paths.get(root, "_intents")
    java.nio.file.Files.createDirectories(intents)
    java.nio.file.Files.writeString(intents.resolve("pages"), "1")
    graft.util.Fs.deleteRec(java.nio.file.Paths.get(root, "pages"))
    // next runStage: settle reclaims the partial staging and drops the
    // intent (the swap never started — nothing destructive happened),
    // then recomputes. It must NEVER serve the truncated tree.
    val r = Pipeline.runStage(spark, root, "pages", "v2", "n=80")(pages(80))
    assert(!r.skipped, s"a truncated staging copy must not satisfy a manifest: $r")
    assert(Pipeline.readStage(spark, root, "pages").count() == 80)
    assert(!java.nio.file.Files.exists(staging))
    assert(!java.nio.file.Files.exists(intents.resolve("pages")))
  }

  test("copyTree excludes a directory's whole subtree, not just the entry") {
    val src = TestSpark.scratch("graft_ct_src")
    Files.createDirectories(src.resolve("logs"))
    Files.writeString(src.resolve("logs").resolve("x"), "1")
    Files.writeString(src.resolve("keep"), "2")
    val dst = TestSpark.scratch("graft_ct").resolve("out")
    graft.util.Fs.copyTree(src, dst, exclude = Set("logs"))
    assert(java.nio.file.Files.exists(dst.resolve("keep")))
    assert(!java.nio.file.Files.exists(dst.resolve("logs")),
      "excluded dir must not be recreated via its children")
  }

  test("diffSnapshots classifies added/removed/changed with null-safe " +
      "compares and drops identical rows") {
    import spark.implicits._
    val root = TestSpark.scratch("graft_cdc").toString
    // v1: keys 1..4; key 3 carries a NULL value
    Pipeline.runStage(spark, root, "t", "v1", "u") {
      Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None), (4L, Some(40L)))
        .toDF("k", "v")
    }
    // v2: key 1 unchanged, 2 changed, 3 null→value, 4 gone, 5 new, 6 new
    // with NULL value (added must not require a non-null compare column)
    Pipeline.runStage(spark, root, "t", "v2", "u") {
      Seq((1L, Some(10L)), (2L, Some(21L)), (3L, Some(30L)), (5L, Some(50L)),
        (6L, None)).toDF("k", "v")
    }
    val got = Pipeline.diffSnapshots(spark, root, "t",
        Pipeline.snapshots(root, "t").last, Seq("k"), Seq("v"))
      .as[(Long, String, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      2L -> (("changed", Some(20L), Some(21L))),
      3L -> (("changed", None, Some(30L))),
      4L -> (("removed", Some(40L), None)),
      5L -> (("added", None, Some(50L))),
      6L -> (("added", None, None))))
  }

  test("a fresh commit is one job; manifests count exactly the written rows") {
    import org.apache.spark.sql.functions.lit
    val root = TestSpark.scratch("graft_commit").toString
    def pages(n: Long) = graft.extract.PageSynth.pages(spark, n, 4).toDF()
    def manifestRows(stage: String): Long = Files.readString(
      java.nio.file.Paths.get(root, stage, "_MANIFEST")).split("\n")(2).toLong
    def parquetRows(stage: String): Long =
      spark.read.parquet(s"$root/$stage").count()
    val (res, jobs) = JobProbe(spark)(
      Pipeline.runStage(spark, root, "pages", "v1", "n=60")(pages(60)))
    assert(jobs.size == 1, s"commit jobs: $jobs")
    assert(res.rows == 60 && manifestRows("pages") == 60)
    // empty stages: a filtered-empty frame and a frame with no partitions
    Pipeline.runStage(spark, root, "filtered", "v1", "-")(
      pages(60).where(lit(false)))
    Pipeline.runStage(spark, root, "no_parts", "v1", "-")(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pages(1).schema))
    // the full run: unpartitioned stages and the claim_type-partitioned edges
    Pipeline.run(spark, root, nPages = 60, partitions = 4)
    for (st <- Seq("pages", "triples", "vertices", "edges", "filtered", "no_parts"))
      assert(manifestRows(st) == parquetRows(st), st)
    assert(manifestRows("filtered") == 0 && manifestRows("no_parts") == 0)
    assert(manifestRows("edges") > 0)
  }

  test("counters table records per-stage lineage") {
    val root = TestSpark.scratch("graft_pipeD").toString
    Pipeline.run(spark, root, nPages = 100, partitions = 4)
    val counters = spark.read.parquet(s"$root/_counters").collect()
    assert(counters.map(_.getAs[String]("stage")).toSet ==
      Set("pages", "triples", "vertices", "edges"))
    assert(counters.forall(_.getAs[Long]("rows") > 0))
  }
}
