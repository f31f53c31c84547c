package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-5 analytics batch (q117–q126) that the
  * DuckDB hash gate can't express directly: BFS vs a naive in-memory
  * reference, the bounded priority sample vs the single-window form, the
  * exact-moment correlation vs Spark's built-in, and gap-fill calendar
  * completeness. */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("Bfs.hops matches naive in-memory BFS on a cyclic graph") {
    import spark.implicits._
    // 0→1→2→3→0 cycle, 2→4, 5→6 unreachable from seed {0}
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (2L, 4L),
      (5L, 6L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    Seq("local" -> graft.graph.Bfs.hops _,
      "distributed" -> graft.graph.Bfs.hopsDistributed _).foreach {
      case (path, bfs) =>
        val got = bfs(edges, seeds, 2).as[(Long, Long)].collect().toMap
        assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L), path)
        // wider bound reaches 3 and 4; the cycle back-edge must NOT
        // relabel 0, and the frontier must drain (empty-frontier early
        // exit) before 10
        val got4 = bfs(edges, seeds, 10).as[(Long, Long)].collect().toMap
        assert(got4 === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L),
          path)
    }
  }

  test("priority sample equals the single-window reference") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = size(split(col("text"), " ")).cast("long")
    val got = graft.sample.PrioritySample
      .sample(docs, Seq("source"), "doc_id", w, k = 7)
      .select("doc_id", "source", "rank")
    val win = Window.partitionBy("source").orderBy(col("pri"), col("doc_id"))
    val ref = docs
      .withColumn("pri",
        graft.sample.PrioritySample.uniformDraw(col("doc_id"))
          .cast("double") / w.cast("double"))
      .withColumn("rank", row_number().over(win))
      .where(col("rank") <= 7)
      .select("doc_id", "source", "rank")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("exact-moment corr matches Spark's built-in corr to 1e-12") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val builtin = li.groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_linenumber").cast("double"))
        .as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    q("q119_group_corr").collect().foreach { r =>
      val flag = r.getString(r.fieldIndex("l_returnflag"))
      val got = r.getDouble(r.fieldIndex("corr_xy"))
      assert(math.abs(got - builtin(flag)) < 1e-12, flag)
    }
  }

  test("gap fill emits one row per day of each type's span") {
    val rows = q("q121_gap_fill")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("day").as("d0"), max("day").as("d1"))
      .withColumn("span", datediff(col("d1"), col("d0")) + 1)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getLong(r.fieldIndex("n")) ===
        r.getInt(r.fieldIndex("span")).toLong))
  }

  test("morton2 matches a bit-by-bit reference interleave") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      z
    }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 1L), (257L, 511L))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.sources.ZOrder.morton2(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z === ref(x & 0xFFFFL, y & 0xFFFFL), s"($x,$y)")
    }
  }

  test("A-priori prune is output-lossless vs the unpruned pair join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val got = graft.stats.Itemsets.frequentPairs(
      li, "l_orderkey", "l_partkey", minSupport = 2L)
    val b = li.select(col("l_orderkey").as("basket"),
      col("l_partkey").as("item")).distinct()
    val naive = b.as("a").join(b.as("b"),
        col("a.basket") === col("b.basket") &&
          col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("HLL estimate lands within theoretical error of exact distinct") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li.select("l_partkey").distinct().count().toDouble
    val regs = graft.stats.Hll.registers(li, col("l_partkey"))
      .as[(Long, Long)].collect().toSeq
    val est = graft.stats.Hll.estimate(regs)
    // m=256 → σ ≈ 6.5%; allow 4σ
    assert(math.abs(est - exact) / exact < 0.26, s"est=$est exact=$exact")
    // sketches merge by register-wise max: split the stream, merge, same
    val a = graft.stats.Hll.registers(
      li.where(col("l_orderkey") % 2 === 0), col("l_partkey"))
      .as[(Long, Long)].collect().toMap
    val b = graft.stats.Hll.registers(
      li.where(col("l_orderkey") % 2 === 1), col("l_partkey"))
      .as[(Long, Long)].collect().toMap
    val merged = (a.keySet ++ b.keySet).map(r =>
      r -> math.max(a.getOrElse(r, 0L), b.getOrElse(r, 0L))).toMap
    assert(merged === regs.toMap)
  }

  test("zorder prune bites (fewer candidate buckets) and stays lossless") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
    val xd = col("p_size").cast("long").bitwiseAND(lit(0xFFFFL))
    val yd = floor(col("p_retailprice") / lit(100.0)).cast("long")
      .bitwiseAND(lit(0xFFFFL))
    val keyed = parts.select(col("p_partkey"), xd.as("xd"), yd.as("yd"))
      .withColumn("z_bucket",
        shiftright(graft.sources.ZOrder.morton2(col("xd"), col("yd")), 6))
    val nBuckets = keyed.select("z_bucket").distinct().count()
    val stats = keyed.groupBy("z_bucket").agg(
      min("xd").as("x_min"), max("xd").as("x_max"),
      min("yd").as("y_min"), max("yd").as("y_max"))
    val nCands = stats.where(col("x_max") >= 10 && col("x_min") <= 20 &&
      col("y_max") >= 5 && col("y_min") <= 12).count()
    assert(nCands < nBuckets, s"prune did not bite: $nCands/$nBuckets")
    val got = SparkEntry.queries("q130_zorder_prune")(spark, sf)
    val plain = keyed.where(col("xd").between(10, 20) &&
      col("yd").between(5, 12)).select("p_partkey", "xd", "yd")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
  }

  test("label propagation matches a naive in-memory reference") {
    import spark.implicits._
    // two triangles bridged by one edge + an isolated self-community seed
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L),
      (5L, 3L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    // naive synchronous reference: same vote count + min-label tie rule
    val und = edges.as[(Long, Long)].collect().toSeq
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = und.map(_._1).distinct
    var lab = nodes.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      val votes = und.groupBy(_._1).map { case (n, es) =>
        val cnt = es.map(e => lab(e._2)).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        n -> cnt.minBy { case (l, c) => (-c, l) }._1
      }
      lab = nodes.map(n => n -> votes.getOrElse(n, n)).toMap
    }
    Seq("local" -> graft.graph.LabelPropagation.run _,
      "distributed" -> graft.graph.LabelPropagation.runDistributed _).foreach {
      case (path, lp) =>
        val got = lp(edges, 3).as[(Long, Long)].collect().toMap
        assert(got === lab, path)
        // the triangle collapses to one label; the isolated 2-node pair
        // OSCILLATES under synchronous rounds (the classic bipartite
        // label-swap) — pin the odd-round state so a silent switch to
        // async/converged semantics (which the oracle can't mirror) fails
        assert(got(0L) === got(1L) && got(1L) === got(2L), path)
        assert(got(7L) === 8L && got(8L) === 7L, path)
    }
  }

  test("bitmap overlap equals naive distinct intersection") {
    import graft.operators.BitmapIndex
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val got = q("q141_bitmap_overlap")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val du = ev.select("event_type", "user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val naive = du.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      (a, sa) <- naive; (b, sb) <- naive if a < b
      n = (sa & sb).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(got === want)
    // word-boundary exactness: members 63/64/65 straddle two words
    import spark.implicits._
    val tiny = Seq(("g1", 63L), ("g1", 64L), ("g1", 64L), ("g1", 65L),
      ("g2", 64L), ("g2", 65L), ("g2", 200L)).toDF("g", "m")
    val ov = BitmapIndex.overlap(
      BitmapIndex.bitmap(tiny, col("g"), col("m")))
      .as[(String, String, Long)].collect()
    assert(ov.toSeq === Seq(("g1", "g2", 2L)))
  }

  test("count-min estimate is a one-sided overestimate of exact counts") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cells = q("q142_cms")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val n = cells.filter(_._1._1 == 0L).values.sum // row 0 sums to N
    assert(n === li.count())
    val exact = li.groupBy("l_partkey").count()
      .as[(Long, Long)].collect().toSeq
    exact.foreach { case (k, c) =>
      val est = graft.stats.CountMin.estimate(cells, k.toString)
      assert(est >= c, s"CMS under-estimated key $k: $est < $c")
      // e·N/w error bound holds with prob 1−e^−d; at this sf the
      // load factor is tiny, so allow the full deterministic bound
      assert(est - c <= n, s"absurd overestimate for $k")
    }
    // the median overestimate should be far below the worst-case bound
    val errs = exact.map { case (k, c) =>
      graft.stats.CountMin.estimate(cells, k.toString) - c }.sorted
    assert(errs(errs.size / 2) <= math.max(1L, 3 * n / 1024))
  }

  test("k-core peel matches a naive in-memory reference and cascades") {
    import spark.implicits._
    // K4 clique + a tail 4-5-6: tail nodes die round by round at k=3,
    // and 4's death must NOT unseat the clique (its degree stays 3)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    // naive synchronous reference
    val und = edges.as[(Long, Long)].collect().toSeq
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    var alive = und.map(_._1).distinct.toSet
    var deg = Map.empty[Long, Int]
    (1 to 3).foreach { _ =>
      deg = und.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap
      alive = deg.filter(_._2 >= 3).keySet
    }
    Seq("local" -> graft.graph.KCore.peel _,
      "distributed" -> graft.graph.KCore.peelDistributed _).foreach {
      case (path, peel) =>
        val got = peel(edges, 3, 3).as[(Long, Long)].collect().toMap
        assert(got === deg.filter(_._2 >= 3).map { case (n, c) => n -> c.toLong },
          path)
        // the 3-core is exactly the K4 clique; rounds are synchronous:
        // 5 and 6 die round 1, 4 dies round 2, so round 3 judges 3 by
        // deg 3
        assert(got.keySet === Set(0L, 1L, 2L, 3L), path)
        assert(got(3L) === 3L && got(0L) === 3L, path)
    }
  }

  test("bm25 scores: rare term outranks common term at equal tf and len") {
    val rows = q("q145_bm25").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.forall(_._4 > 0.0))
    // group by (tf): for docs of the same length and tf, dup > spark
    val len = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byKey = rows.groupBy(r => (len(r._1), r._3))
    val comparable = byKey.values.filter(g =>
      g.exists(_._2 == "dup") && g.exists(_._2 == "spark"))
    assert(comparable.nonEmpty)
    comparable.foreach { g =>
      val d = g.filter(_._2 == "dup").map(_._4).min
      val s0 = g.filter(_._2 == "spark").map(_._4).max
      assert(d > s0, s"rare-term idf did not dominate: dup=$d spark=$s0")
    }
  }

  test("k-means assignment: centroid vectors assign to themselves") {
    val rows = q("q146_kmeans_assign").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L to 3L).foreach { c =>
      assert(rows(c) === ((c, 0.0)), s"centroid $c not self-assigned")
    }
    assert(rows.values.forall { case (c, d) => c >= 0 && c <= 3 && d >= 0.0 })
    // every cluster should be non-empty on this synthetic set
    assert(rows.values.map(_._1).toSet === Set(0L, 1L, 2L, 3L))
  }

  test("mixture weights sum to ~1 and are monotone in count") {
    val rows = q("q143_mixture_weights").collect()
      .map(r => (r.getLong(r.fieldIndex("n_docs")),
        r.getDouble(r.fieldIndex("weight"))))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((n1, w1), (n2, w2)) =>
        assert(w1 <= w2 + 1e-12, s"weight not monotone: $n1/$w1 vs $n2/$w2")
      case _ =>
    }
  }

  test("table profile distinct counts are exact") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val prof = q("q126_table_profile").collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("n_distinct")))
      .toMap
    assert(prof("o_orderstatus") ===
      orders.select("o_orderstatus").distinct().count())
    assert(prof("o_orderkey") ===
      orders.select("o_orderkey").distinct().count())
  }
}
