package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeyedClaims

class KeyedClaimsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def triples(rows: Seq[(String, String, String)]) =
    rows.map { case (s, p, o) => (s, p, o, "u", "s") }
      .toDF("subj", "pred", "obj", "url", "sentence")

  private def table(dir: String, asOf: Option[Int] = None) =
    KeyedClaims.read(spark, dir, asOf)
      .collect().map(_.toString).sorted.toSeq

  test("read before any commit (and after an empty-delta commit) has the claims schema") {
    val dir = TestSpark.scratch("graft_kc0").toString
    val pre = KeyedClaims.read(spark, dir)
    assert(pre.columns.toSeq == Seq("subj", "pred", "obj", "frequency"))
    assert(pre.count() == 0)
    // an empty batch still commits (advances the batch-id watermark) and
    // the table stays empty-with-schema
    KeyedClaims.merge(triples(Seq.empty), 0L, dir)
    assert(KeyedClaims.committedBatchId(dir) == 0L)
    val post = KeyedClaims.read(spark, dir)
    assert(post.columns.toSeq == Seq("subj", "pred", "obj", "frequency"))
    assert(post.count() == 0)
  }

  test("keyed merge: frequencies accumulate, replay is a no-op") {
    val dir = TestSpark.scratch("graft_kc1").toString
    KeyedClaims.merge(triples(Seq(("a", "R", "b"), ("a", "R", "b"),
      ("c", "R", "d"))), 0L, dir)
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 1L, dir)
    val got = KeyedClaims.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(got == Map("a" -> 3L, "c" -> 1L))
    val before = table(dir)
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 1L, dir) // replay
    assert(table(dir) == before)
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 0L, dir) // older id
    assert(table(dir) == before)
  }

  test("a delta rewrites ONLY the buckets it touches") {
    val dir = TestSpark.scratch("graft_kc2").toString
    // batch 0 spreads keys over many buckets; batch 1 touches one key
    val keys = (0 until 200).map(i => (s"s$i", "R", s"o$i"))
    KeyedClaims.merge(triples(keys), 0L, dir)
    val m0 = KeyedClaims.head(dir).get
    assert(m0.buckets.nonEmpty && m0.buckets.values.forall(_.startsWith("files/c0/")))
    KeyedClaims.merge(triples(Seq(("s7", "R", "o7"))), 1L, dir)
    val m1 = KeyedClaims.head(dir).get
    val touched = m1.buckets.filter(_._2.startsWith("files/c1/")).keySet
    // exactly the one bucket s7's key hashes to was rewritten; every other
    // bucket entry still points byte-for-byte at batch 0's data dirs —
    // the keyed-merge scale contract, asserted on the manifest itself
    assert(touched.size == 1)
    assert(m1.buckets.filterNot(kv => touched(kv._1)) ==
      m0.buckets.filterNot(kv => touched(kv._1)))
    assert((m1.buckets.keySet -- touched) == (m0.buckets.keySet -- touched))
    // and the merged table is still exactly right
    val got = KeyedClaims.read(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(got("s7") == 2L && got("s8") == 1L && got.size == 200)
  }

  test("time-travel, rollback as pointer swap, retention prune") {
    val dir = TestSpark.scratch("graft_kc3").toString
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 0L, dir)
    val snap0 = table(dir)
    KeyedClaims.merge(triples(Seq(("a", "R", "b"), ("e", "R", "f"))), 1L, dir)
    val snap1 = table(dir)
    assert(snap1 != snap0)
    // time-travel reads the retained manifest
    assert(table(dir, asOf = Some(0)) == snap0)
    // rollback = a NEW manifest with the old map; history preserved
    KeyedClaims.rollback(dir, toSeq = 0)
    assert(table(dir) == snap0)
    assert(KeyedClaims.head(dir).get.seq == 2)
    assert(KeyedClaims.head(dir).get.batchId == 0L)
    // later (higher-id) merges continue normally after rollback
    KeyedClaims.merge(triples(Seq(("g", "R", "h"))), 2L, dir)
    assert(table(dir).exists(_.contains("g")))
    // drive past retention: oldest manifests pruned, their unshared dirs
    // reclaimed, a dropped seq refuses loudly
    (3L to 6L).foreach(i =>
      KeyedClaims.merge(triples(Seq((s"k$i", "R", "v"))), i, dir))
    val retained = KeyedClaims.manifests(dir)
    assert(retained.size == 3)
    intercept[IllegalArgumentException] { KeyedClaims.read(spark, dir,
      asOf = Some(0)) }
    assert(table(dir, asOf = Some(retained.head)).nonEmpty)
  }

  test("retention reclaims crash-orphaned data dirs (no manifest ever)") {
    val dir = TestSpark.scratch("graft_kc4").toString
    val root = java.nio.file.Paths.get(dir)
    // simulate a crash mid data write: a bucket dir exists, no manifest
    // references it, _HEAD never advanced
    val orphan = root.resolve("files/c99/b=7")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-0.parquet"), "junk")
    (0L to 4L).foreach(i =>
      KeyedClaims.merge(triples(Seq((s"k$i", "R", "v"))), 100L + i, dir))
    assert(!java.nio.file.Files.exists(orphan),
      "orphaned bucket dir should be reclaimed once retention prunes")
    assert(table(dir).size == 5)
  }

  test("checkpoint-identity and bucket-function guards fail loudly") {
    val dir = TestSpark.scratch("graft_kc5").toString
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 0L, dir,
      ckptId = Some("ckpt-A"))
    val e1 = intercept[IllegalStateException] {
      KeyedClaims.merge(triples(Seq(("c", "R", "d"))), 0L, dir,
        ckptId = Some("ckpt-B"))
    }
    assert(e1.getMessage.contains("checkpoint identity"))
    val e2 = intercept[IllegalArgumentException] {
      KeyedClaims.merge(triples(Seq(("c", "R", "d"))), 1L, dir,
        nBuckets = 16, ckptId = Some("ckpt-A"))
    }
    assert(e2.getMessage.contains("nBuckets"))
    // same identity proceeds
    KeyedClaims.merge(triples(Seq(("c", "R", "d"))), 1L, dir,
      ckptId = Some("ckpt-A"))
    assert(table(dir).size == 2)
  }

  test("randomized merge/replay/rollback sequences match an in-memory model") {
    // model-based fuzz: the keyed table must equal a plain Map fold of the
    // SAME committed operations, whatever interleaving of new batches,
    // replays of stale ids, and rollbacks occurs. Seeded for determinism;
    // nBuckets = 1 is the rewrite-the-whole-table regime q78 runs in.
    Seq(KeyedClaims.DefaultBuckets, 1).foreach { nBuckets =>
      val rnd = new scala.util.Random(20260818L)
      val dir = TestSpark.scratch(s"graft_kcf$nBuckets").toString
      type Model = Map[(String, String, String), Long]
      var model: Model = Map.empty
      // every manifest's batchId is some merge's batchId (rollback
      // manifests copy their target's), so batchId → model-at-that-merge
      // replays any rollback exactly
      var byBatch = Map.empty[Long, Model]
      var nextBatch = 0L
      (0 until 25).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 | 1 => // new batch: 1-8 rows over a small hot key space
            val rows = Seq.fill(1 + rnd.nextInt(8))(
              (s"s${rnd.nextInt(12)}", "R", s"o${rnd.nextInt(5)}"))
            KeyedClaims.merge(triples(rows), nextBatch, dir, nBuckets,
              retention = 50)
            rows.groupBy(identity).foreach { case (k, g) =>
              model = model.updated(k, model.getOrElse(k, 0L) + g.size) }
            byBatch += nextBatch -> model
            nextBatch += 1
          case 2 if nextBatch > 0 =>
            // replay an id at or below the COMMITTED watermark (after a
            // rollback the watermark drops, and ids above it would merge
            // as genuinely new — by design): must be a no-op
            val committed = KeyedClaims.committedBatchId(dir)
            KeyedClaims.merge(
              triples(Seq((s"s${rnd.nextInt(12)}", "R", "poison"))),
              rnd.nextInt(committed.toInt + 1).toLong, dir, nBuckets,
              retention = 50)
          case 3 if nextBatch > 1 => // rollback to a random retained seq
            val seqs = KeyedClaims.manifests(dir)
            val to = seqs(rnd.nextInt(seqs.size))
            KeyedClaims.rollback(dir, to)
            model = byBatch(KeyedClaims.head(dir).get.batchId)
          case _ => // skipped branch (guard not satisfied)
        }
        val got = KeyedClaims.read(spark, dir).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
            r.getLong(3))).toMap
        assert(got == model,
          s"table diverged from model after op (nBuckets=$nBuckets)")
      }
      assert(model.nonEmpty)
      assert(KeyedClaims.head(dir).get.buckets.size <= nBuckets)
    }
  }

  test("bucketOf matches the table's bucket function over fuzzed keys") {
    // the driver-side fold must route every key to the SAME bucket as the
    // xxhash64+pmod Column the merge partitions by — a divergence would
    // send lookups to the wrong bucket dir (empty answers for live keys)
    val rnd = new scala.util.Random(7L)
    val keys = Seq.fill(60)((rnd.nextString(1 + rnd.nextInt(12)),
      s"P${rnd.nextInt(5)}",
      rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString))
    Seq(4, 64, 1000).foreach { n =>
      keys.toDF("subj", "pred", "obj")
        .select(col("subj"), col("pred"), col("obj"),
          pmod(xxhash64(col("subj"), col("pred"), col("obj")), lit(n))
            .cast("int").as("b"))
        .collect().foreach { r =>
          assert(KeyedClaims.bucketOf(r.getString(0), r.getString(1),
            r.getString(2), n) == r.getInt(3), s"n=$n key=${r.getString(0)}")
        }
    }
  }

  test("lookup: single-bucket scan, absent keys, time-travel") {
    val dir = TestSpark.scratch("graft_kcl").toString
    val keys = (0 until 300).map(i => (s"s$i", "R", s"o${i % 7}"))
    KeyedClaims.merge(triples(keys ++ keys.take(50)), 0L, dir)
    val hit = KeyedClaims.lookup(spark, dir, "s7", "R", "o0")
    assert(hit.collect().map(r => (r.getString(0), r.getLong(3))).toSeq
      == Seq(("s7", 2L)))
    // the pruning contract itself: every file the lookup reads lives under
    // the ONE bucket dir the key hashes to
    val b = KeyedClaims.bucketOf("s7", "R", "o0", KeyedClaims.DefaultBuckets)
    assert(hit.inputFiles.nonEmpty && hit.inputFiles.forall(_.contains(s"/b=$b/")),
      hit.inputFiles.mkString(","))
    // agreement with a full-scan filter across a key sample
    keys.take(20).foreach { case (s0, p, o) =>
      val viaLookup = KeyedClaims.lookup(spark, dir, s0, p, o)
        .collect().map(_.toString).toSeq
      val viaScan = KeyedClaims.read(spark, dir)
        .where(col("subj") === s0 && col("pred") === p && col("obj") === o)
        .collect().map(_.toString).toSeq
      assert(viaLookup == viaScan, s"key=($s0,$p,$o)")
    }
    // a key whose bucket was never written answers empty with ZERO files
    val small = TestSpark.scratch("graft_kcl2").toString
    KeyedClaims.merge(triples(Seq(("a", "R", "b"))), 0L, small,
      nBuckets = 4096)
    val occupied = KeyedClaims.head(small).get.buckets.keySet
    val miss = (0 until 10000).map(i => s"m$i")
      .find(s => !occupied(KeyedClaims.bucketOf(s, "R", "x", 4096))).get
    val missDf = KeyedClaims.lookup(spark, small, miss, "R", "x")
    assert(missDf.count() == 0 && missDf.inputFiles.isEmpty)
    assert(missDf.columns.toSeq == Seq("subj", "pred", "obj", "frequency"))
    // time-travel: a lookup against an older manifest serves that version
    KeyedClaims.merge(triples(Seq(("s7", "R", "o0"))), 1L, dir)
    assert(KeyedClaims.lookup(spark, dir, "s7", "R", "o0")
      .collect()(0).getLong(3) == 3L)
    assert(KeyedClaims.lookup(spark, dir, "s7", "R", "o0", asOf = Some(0))
      .collect()(0).getLong(3) == 2L)
  }

  test("streaming incrementalClaimsKeyed == batch extraction, resume + replay") {
    import graft.extract.PageSynth
    val pagesDir = TestSpark.scratch("graft_kcp")
    val tableDir = TestSpark.scratch("graft_kct").toString
    val ckpt = TestSpark.scratch("graft_kcc").toString
    val p1 = PageSynth.pages(spark, 150).toDF()
    p1.write.parquet(pagesDir.resolve("b1").toString)
    val schema = spark.read.parquet(pagesDir.resolve("b1").toString).schema
    def batchClaims(n: Long) =
      graft.link.TripleExtractor.extract(spark,
          PageSynth.pages(spark, n), PageSynth.gazetteer,
          PageSynth.RelationRules.toMap).toDF()
        .groupBy(col("subj"), col("pred"), col("obj"))
        .agg(count(lit(1)).as("frequency"))
        .collect().map(_.toString).sorted.toSeq
    def drain(): Unit = KeyedClaims.incrementalClaimsKeyed(spark,
      s"$pagesDir/*", schema, tableDir, ckpt,
      PageSynth.gazetteer, PageSynth.RelationRules.toMap)

    drain() // wave 1
    assert(table(tableDir) == batchClaims(150))
    spark.range(150, 300).map(i => PageSynth.page(i))(
        org.apache.spark.sql.Encoders.product[graft.model.Page]).toDF()
      .write.parquet(pagesDir.resolve("b2").toString)
    drain() // restart: checkpointed offsets, only wave 2 merges
    assert(table(tableDir) == batchClaims(300))
    val before = table(tableDir)
    drain() // no new files: replay must be a no-op
    assert(table(tableDir) == before)
  }
}
