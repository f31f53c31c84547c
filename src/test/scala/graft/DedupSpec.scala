package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** deterministic corpus: 40 base docs; ids 1000+i are exact copies of i;
    * ids 2000+i are near-copies (one token changed) of i for i < 10. */
  private lazy val docs = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def text(i: Int) = (0 until 30).map(k =>
      words((graft.extract.PageSynth.splitmix64(i * 100L + k) & 0x7FFFFFFF)
        .toInt % words.length)).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, text(i)))
    val exact = (0 until 40).map(i => (1000L + i, text(i)))
    val near = (0 until 10).map { i =>
      val toks = text(i).split(" ")
      toks(15) = "CHANGED"
      (2000L + i, toks.mkString(" "))
    }
    (base ++ exact ++ near).toDF("doc_id", "text")
  }

  test("exact dedup: identical texts collapse to min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    (0 until 40).foreach { i =>
      val expectDups = if (i < 10) 2 else 2 // near-dups differ, so 2 exact
      assert(got(i.toLong) == expectDups)
    }
    assert(!got.contains(1000L)) // copies fold into the base id
  }

  test("exact dedup: hash-first output == text-grouped baseline; " +
      "forced-collision fallback path") {
    import org.apache.spark.sql.Column
    val baseline = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_dups"))
      .select("canonical_id", "n_dups")
      .as[(Long, Long)].collect().toSet
    val got = Dedup.exact(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got == baseline)
    // force EVERY row into one hash group: the second hash disagrees, so
    // the full-text fallback must resolve all of them — output unchanged
    val collided = Dedup.exactWithHashes(docs, "doc_id", "text",
      (_: Column) => lit(1L), t => xxhash64(t))
      .as[(Long, Long)].collect().toSet
    assert(collided == baseline)
  }

  /** naive driver-side Jaccard on word 5-gram shingle sets */
  private def jac(a: String, b: String, k: Int): Double = {
    def sh(t: String) = t.split(" ").sliding(k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("minhashDedup: exact + near dups clustered, distinct docs untouched") {
    val got = Dedup.minhashDedup(docs, "doc_id", "text", k = 5,
      numHashes = 64, bands = 16, threshold = 0.6)
      .as[(Long, Long)].collect().toMap
    // every exact copy maps to its base
    (0 until 40).foreach { i =>
      assert(got.get(1000L + i).contains(i.toLong), s"exact copy $i")
    }
    // near-copies: SOUND (never clusters below the exact-Jaccard threshold,
    // because the verify stage is exact) and LSH recall is high
    val texts = docs.as[(Long, String)].collect().toMap
    val eligible = (0 until 10)
      .filter(i => jac(texts(i.toLong), texts(2000L + i), 5) >= 0.6)
    val found = eligible.count(i => got.get(2000L + i).contains(i.toLong))
    (0 until 10).foreach { i =>
      if (got.get(2000L + i).contains(i.toLong))
        assert(jac(texts(i.toLong), texts(2000L + i), 5) >= 0.6)
    }
    assert(eligible.isEmpty || found.toDouble / eligible.size >= 0.6,
      s"LSH recall $found/${eligible.size}")
  }

  test("minhashSignatures: rows sharing an id merge into one union signature") {
    val a = "alpha beta gamma delta epsilon zeta"
    val b = "eta theta iota kappa lambda mu"
    def sigs(rows: (Long, String)*) = Dedup.minhashSignatures(
        rows.toDF("doc_id", "text"), "doc_id", "text", k = 2, numHashes = 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val merged = sigs(1L -> a, 1L -> b)
    val separate = sigs(1L -> a, 2L -> b)
    // one signature for the shared id, equal to the element-wise min of
    // the two rows' own signatures: the union of their shingles
    assert(merged.keySet == Set(1L))
    assert(merged(1L) == separate(1L).zip(separate(2L)).map {
      case (x, y) => math.min(x, y) })
    assert(merged(1L) != separate(1L) && merged(1L) != separate(2L))
  }

  test("jaccardOnPairs matches naive computation") {
    val pairs = Seq((0L, 2000L), (1L, 2001L), (0L, 1L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardOnPairs(docs, pairs, "doc_id", "text", 5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val texts = docs.as[(Long, String)].collect().toMap
    Seq((0L, 2000L), (1L, 2001L), (0L, 1L)).foreach { case (a, b) =>
      val want = jac(texts(a), texts(b), 5)
      if (want == 0.0) assert(!got.contains((a, b))) // no shared shingle row
      else assert(math.abs(got((a, b)) - want) < 1e-12, s"pair ($a,$b)")
    }
  }

  test("ngramJaccardPairs finds exact pairs with jaccard 1.0") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.95)
      .as[(Long, Long, Double)].collect()
    (0 until 40).foreach { i =>
      assert(got.exists(r => r._1 == i && r._2 == 1000L + i && r._3 == 1.0))
    }
  }

  test("prefix-filtered jaccard join ≡ naive all-pairs join (exactness)") {
    // naive quadratic oracle on the driver
    val texts = docs.as[(Long, String)].collect()
    def sh3(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val shs = texts.map { case (id, t) => id -> sh3(t) }.toMap
    val thresholds = Seq(0.5, 0.8, 0.95)
    thresholds.foreach { t =>
      val want = (for {
        (a, sa) <- shs.toSeq; (b, sb) <- shs.toSeq if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("simhash: identical texts → identical signatures; near → close") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    (0 until 40).foreach(i => assert(sigs(i.toLong) == sigs(1000L + i)))
    (0 until 10).foreach { i =>
      val ham = java.lang.Long.bitCount(sigs(i.toLong) ^ sigs(2000L + i))
      assert(ham <= 16, s"near-dup $i hamming=$ham")
    }
    val cands = Dedup.simhashCandidates(
      sigs.toSeq.toDF("doc_id", "simhash"))
      .as[(Long, Long)].collect().toSet
    (0 until 40).foreach(i => assert(cands.contains((i.toLong, 1000L + i))))
  }

  test("simhashCandidates: bitsPerBand=64 means full-signature equality") {
    // (1L << 64) - 1 would be 0 via JVM shift masking — every doc would
    // share bucket 0; the -1L >>> (64-bits) mask keeps all 64 bits
    val sigs = Seq((1L, 42L), (2L, 42L), (3L, 43L))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashCandidates(sigs, bands = 1, bitsPerBand = 64)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // only the identical signatures pair
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(sigs, bands = 5, bitsPerBand = 16)
    }
  }

  test("pairsFromBuckets capped ≡ pairs among the cap-lowest ids per bucket") {
    // hot bucket (0, 7): 9 members, cap 4 keeps ids 1..4 → C(4,2) pairs;
    // the two-level rank must emit exactly the unsalted slice's pairs
    val buckets = ((1L to 9L).map(i => (0, 7L, i)) ++
      Seq((1, 8L, 3L), (1, 8L, 5L), (2, 9L, 42L)))
      .toDF("band", "sig", "doc_id")
    val got = Dedup.pairsFromBuckets(buckets, 4)
      .as[(Long, Long)].collect().toSet
    val want = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toSet + ((3L, 5L))
    assert(got == want)
    // capless: all C(9,2) pairs from the hot bucket; the (3,5) pair from
    // bucket (1,8) is already among them and distinct merges it
    val all = Dedup.pairsFromBuckets(buckets, 0)
      .as[(Long, Long)].collect().toSet
    assert(all.size == 36)
  }

  /** Runs `body` with `System.err` captured; returns what it printed. */
  private def stderrOf(body: => Any): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(err)
    buf.toString("UTF-8")
  }

  /** Σ max(0, bucket size − cap), counted on the driver. */
  private def naiveOverflow(buckets: org.apache.spark.sql.DataFrame,
      cap: Int): Long =
    buckets.select("band", "sig").collect().groupBy(identity).values
      .map(b => math.max(0L, b.length.toLong - cap)).sum

  test("bucketOverflowCount counts dropped slots; 0 when capless") {
    val buckets = ((1L to 9L).map(i => (0, 7L, i)) ++
      Seq((1, 8L, 3L), (1, 8L, 5L)))
      .toDF("band", "sig", "doc_id")
    assert(Dedup.bucketOverflowCount(buckets, 4) == 5L) // 9 - 4
    assert(Dedup.bucketOverflowCount(buckets, 9) == 0L)
    assert(Dedup.bucketOverflowCount(buckets, 0) == 0L)
    // one 2000-member bucket: every salt group outgrows the cap, so both
    // rank levels drop rows
    val hot = ((1L to 2000L).map(i => (0, 7L, i)) ++
      Seq((1, 8L, 3L), (1, 8L, 5L))).toDF("band", "sig", "doc_id")
    assert(Dedup.bucketOverflowCount(hot, 4) == naiveOverflow(hot, 4))
    assert(Dedup.bucketOverflowCount(hot, 4) == 1996L)
  }

  test("capped runs report the slots the cap dropped on stderr") {
    // nine equal signatures share one bucket per band: 4 × (9 − 4)
    val sigs = (1L to 9L).map(i => (i, 42L)).toDF("doc_id", "simhash")
    val simErr = stderrOf(Dedup.simhashCandidates(sigs, bands = 4,
      bitsPerBand = 16, bucketCap = 4).collect())
    assert(simErr.contains("[dedup] simhash dropped 20 bucket slots over cap=4"),
      simErr)
    assert(!stderrOf(Dedup.simhashCandidates(sigs, bands = 4,
      bitsPerBand = 16, bucketCap = 9).collect()).contains("[dedup]"))
    // minhash: the buckets of the distinct-text representatives
    val reps = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val want = naiveOverflow(Dedup.lshBuckets(
      Dedup.minhashSignatures(reps, "doc_id", "text"), 64, 16), 1)
    assert(want > 0)
    val lshErr = stderrOf(Dedup.minhashDedup(docs, "doc_id", "text",
      threshold = 0.6, bucketCap = 1).collect())
    assert(lshErr.contains(s"[dedup] lsh dropped $want bucket slots over cap=1"),
      lshErr)
  }

  test("near-dup pipelines: forced collisions give the unforced rows") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def collisionBranch(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }
    // every row in one hash group; the second hash tells the texts apart
    def forced = Dedup.collapse(docs, "doc_id", "text",
      (_: Column) => lit(1L), t => xxhash64(t))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    val minhash = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.6)
    val minhashForced = Dedup.minhashDedupOf(forced, k = 5, numHashes = 64,
      bands = 16, threshold = 0.6, bucketCap = 50)
    assert(!collisionBranch(minhash) && collisionBranch(minhashForced))
    assert(rows(minhashForced) == rows(minhash))
    val ngram = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val ngramForced = Dedup.ngramJaccardPairsOf(forced, 3, 0.8)
    assert(!collisionBranch(ngram) && collisionBranch(ngramForced))
    assert(rows(ngramForced) == rows(ngram))
  }

  test("q26 and q34 keep their job budget and read the corpus once") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val sf = "/root/testdata/sf0.001"
    Seq("q26_minhash_dedup" -> 22, "q34_ngram_jaccard" -> 22).foreach {
      case (q, budget) =>
        val runs = new ConcurrentLinkedQueue[QueryExecution]()
        val listener = new QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            runs.add(qe)
          override def onFailure(f: String, qe: QueryExecution,
              e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        val jobs = try JobProbe(spark)(SparkEntry.queries(q)(spark, sf).collect())._2
          finally spark.listenerManager.unregister(listener)
        assert(jobs.size == budget, s"$q ran ${jobs.size} jobs")
        // the executions that read `documents`: the fixture's scans and its
        // max(doc_id) run in one of them
        val reads = runs.asScala.count(qe => Plans.collect(qe.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.getName.startsWith("documents")) &&
                s.metrics("numOutputRows").value > 0 => s
        }.nonEmpty)
        assert(reads == 1, s"$q read documents in $reads executions")
    }
  }

  test("decontaminate ≡ naive distinct-n-gram overlap against the benchmark") {
    // exact copies (1000+i of i) guarantee large overlaps; near-copies
    // (2000+i) share most but not all grams; unrelated docs share few
    val bench = docs.where($"doc_id" < 10)
    val corpus = docs.where($"doc_id" >= 10)
    val n = 3
    def gramsOf(text: String): Set[String] =
      text.split(" ").sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSet
    val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchGrams = rows.filter(_._1 < 10).values.flatMap(gramsOf).toSet
    val naive = rows.filter(_._1 >= 10)
      .map { case (id, t) => id -> (gramsOf(t) & benchGrams).size.toLong }
      .filter(_._2 >= 5L)
    val got = graft.dedup.Decontaminate
      .flag(corpus, bench, "doc_id", "text", n = n, minOverlap = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    // exact copies of benchmark docs MUST be flagged
    (1000L until 1010L).foreach(id => assert(got.contains(id), s"id $id"))
  }
}
