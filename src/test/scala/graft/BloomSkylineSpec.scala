package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PageSynth.splitmix64
import graft.functions.StatCols.{coMoment, doubledMidrank, pln, sumInOrder}
import graft.operators.{BloomSemiJoin, Skyline}

/** Round-5 operator batch: the Bloom-pruned semi-join's superset +
  * broadcast contracts, the two-phase skyline's exact equivalence to the
  * naive quadratic definition, portable_ln's codegen + Math.log
  * identity, and the StatCols `pln` / `sumInOrder` / `coMoment` /
  * `doubledMidrank` bit contracts. */
class BloomSkylineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- BloomSemiJoin ----------------------------------------------------

  private def keysDf = (0L until 500L).map(i => splitmix64(i) & 0xFFFFFL)
    .toDF("k")
  private def probeDf = (0L until 4000L)
    .map(i => splitmix64(i + 1000000L) & 0xFFFFFL).toDF("pk")

  test("bloom bitmap is word-bounded and prune keeps a superset") {
    val bloom = BloomSemiJoin.build(keysDf, "k")
    assert(bloom.count() <= BloomSemiJoin.DefaultBits / 32)

    val pruned = BloomSemiJoin.prune(probeDf, col("pk"), bloom)
      .select("pk").as[Long].collect().toSet
    val members = probeDf.join(keysDf, col("pk") === col("k"), "left_semi")
      .as[Long].collect().toSet
    assert(members.subsetOf(pruned), "a true member was Bloom-pruned")
    // with 500 keys in 2^18 bits the filter must actually prune most
    // non-members — not degrade to a pass-through
    val total = probeDf.count()
    assert(pruned.size < total / 2,
      s"bloom pruned nothing: ${pruned.size} of $total survived")
  }

  test("bloom prune + exact semi-join == plain semi-join") {
    val bloom = BloomSemiJoin.build(keysDf, "k")
    val viaBloom = BloomSemiJoin.prune(probeDf, col("pk"), bloom)
      .join(keysDf, col("pk") === col("k"), "left_semi")
      .as[Long].collect().sorted.toSeq
    val plain = probeDf.join(keysDf, col("pk") === col("k"), "left_semi")
      .as[Long].collect().sorted.toSeq
    assert(viaBloom == plain)
  }

  test("bloom probe joins broadcast; the probe side never sort-merges") {
    val bloom = BloomSemiJoin.build(keysDf, "k")
    val plan = BloomSemiJoin.prune(probeDf, col("pk"), bloom)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  // ---- Skyline ----------------------------------------------------------

  /** naive O(n²) dominance reference */
  private def naiveSkyline(pts: Seq[(Long, Double, Int)])
      : Seq[(Long, Double, Int)] =
    pts.filterNot { case (_, x, y) =>
      pts.exists { case (_, sx, sy) =>
        sx <= x && sy >= y && (sx < x || sy > y)
      }
    }

  test("skyline2d == naive quadratic (fuzzed, both band regimes)") {
    val pts = (0L until 600L).map { i =>
      // coarse grids force duplicate x, duplicate y, and duplicate points
      val x = ((splitmix64(i) & 0x3F) * 7).toDouble
      val y = (splitmix64(i * 31 + 7) & 0x1F).toInt
      (i, x, y)
    }
    val df = pts.toDF("id", "x", "y")
    val expect = naiveSkyline(pts).map(_._1).sorted
    // bandWidth 50 → many bands; 1e9 → a single band (phase 1 no-op, the
    // exact sweep carries everything); 1 → one band per x value
    Seq(50.0, 1e9, 1.0).foreach { bw =>
      val got = Skyline.skyline2d(df, "x", "y", bw)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == expect, s"bandWidth=$bw")
    }
  }

  test("skyline keeps all copies of duplicate frontier points") {
    val df = Seq((1L, 1.0, 10), (2L, 1.0, 10), (3L, 2.0, 5))
      .toDF("id", "x", "y")
    val got = Skyline.skyline2d(df, "x", "y", 10.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  // ---- portable_ln -------------------------------------------------------

  test("portable_ln == Math.log and generated code force-compiles") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.DoubleType
    val expr = graft.functions.PortableLn(
      BoundReference(0, DoubleType, nullable = true))
    val proj = GenerateMutableProjection.generate(Seq(expr)) // throws on compile error
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (1 to 2000).foreach { i =>
      row.update(0, i.toDouble)
      val got = proj(row).get(0, DoubleType).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(java.lang.Math.log(i.toDouble)),
        s"i=$i")
    }
    row.update(0, null)
    assert(proj(row).get(0, DoubleType) == null)
  }

  test("portable_ln SQL surface registers beside clean_text") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql("SELECT portable_ln(CAST(7 AS DOUBLE))")
      .first().getDouble(0)
    assert(got == java.lang.Math.log(7.0))
    // the column vocabulary's pln: a LONG argument is widened to DOUBLE
    // first, the result is Math.log of that double bit for bit, and a
    // null stays null
    val in = Seq[Option[Long]](Some(1L), Some(2L), Some(7L), Some(9169L),
      Some(1L << 40), Some(0L), None)
    val lns = in.toDF("n").select(col("n"), pln(col("n")).as("ln"))
      .as[(Option[Long], Option[Double])].collect().toMap
    assert(lns.keySet == in.toSet)
    in.foreach {
      case Some(n) =>
        assert(lns(Some(n)).map(java.lang.Double.doubleToRawLongBits) ==
          Some(java.lang.Double.doubleToRawLongBits(
            java.lang.Math.log(n.toDouble))), s"pln($n)")
      case None => assert(lns(None).isEmpty, "pln(null) must stay null")
    }
  }

  // ---- sorted-fold determinism -------------------------------------------

  test("entropy/EMA folds are bit-stable under repartitioning") {
    val rows = (0L until 900L).map { i =>
      (splitmix64(i) % 40L, (splitmix64(i * 13 + 5) & 0xFFFFL).toDouble, i)
    }
    def ema(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val vals = transform(col("seq"), e => e.getField("v"))
      df.groupBy("g")
        .agg(sort_array(collect_list(struct(col("ord"), col("v"))))
          .as("seq"))
        .select(col("g"),
          aggregate(slice(vals, lit(2), size(col("seq")) - lit(1)),
            element_at(vals, 1),
            (acc, v) => acc * lit(0.5) + v * lit(0.5)).as("ema"))
        .as[(Long, Double)].collect()
        .map { case (g, e) =>
          g -> java.lang.Double.doubleToRawLongBits(e)
        }.toMap
    }
    // sumInOrder over the sorted list == Scala's left fold over the same
    // list, bit for bit. The extra groups carry NaN, ±0.0, ±∞, subnormals,
    // overflow and a sum whose rounding depends on the order
    // (1+1+1+1e16 left to right is 1e16+4, right to left 1e16).
    val specials = Seq(
      100L -> Seq(1.0, 1.0, 1.0, 1e16),
      101L -> Seq(-0.0, -0.0, 0.0),
      102L -> Seq(-0.0, -0.0),
      103L -> Seq(Double.MinPositiveValue, -3 * Double.MinPositiveValue,
        java.lang.Double.MIN_NORMAL, -java.lang.Double.MIN_NORMAL / 3),
      104L -> Seq(Double.PositiveInfinity, 1.0, Double.NegativeInfinity),
      105L -> Seq(Double.NaN, 2.0, -0.0),
      106L -> Seq(Double.MaxValue, Double.MaxValue, -1.0),
      107L -> Seq(Double.NegativeInfinity, -5.0))
    val extra = specials.zipWithIndex.flatMap { case ((g, vs), i) =>
      vs.zipWithIndex.map { case (v, j) => (g, v, 10000L + 10L * i + j) }
    }
    def sums(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val got = df.groupBy("g")
        .agg(sort_array(collect_list(col("v"))).as("vs"))
        .select(col("g"), col("vs"), sumInOrder(col("vs"))(v => v).as("s"))
        .as[(Long, Seq[Double], Double)].collect()
      got.foreach { case (g, vs, s) =>
        assert(java.lang.Double.doubleToRawLongBits(s) ==
          java.lang.Double.doubleToRawLongBits(vs.foldLeft(0.0)(_ + _)),
          s"group $g: sumInOrder($vs) = $s")
      }
      got.map { case (g, _, s) =>
        g -> java.lang.Double.doubleToRawLongBits(s) }.toMap
    }
    val df = rows.toDF("g", "v", "ord")
    val a = ema(df.repartition(1))
    val b = ema(df.repartition(17, col("ord")))
    assert(a == b, "fold result depends on partitioning")
    val all = (rows ++ extra).toDF("g", "v", "ord")
    val s1 = sums(all.repartition(1))
    assert(s1.keySet == (rows.map(_._1) ++ specials.map(_._1)).toSet)
    assert(s1 == sums(all.repartition(17, col("ord"))),
      "sumInOrder depends on partitioning")
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("coMoment == n·Σab − Σa·Σb in Scala doubles, bit for bit") {
    // sums past 2^53 round in the DOUBLE cast (2^53 + 1 reads 2^53), so
    // the widened result is not the exact BIGINT co-moment rounded once
    val big = (1L << 53) + 1L
    val rows = Seq(
      (4L, 30L, 10L, 10L),
      (3L, -7L, -2L, 5L),
      (big, big, big, 3L),
      (7L, big + 2L, -big, big),
      (Long.MaxValue, Long.MaxValue, Long.MinValue, Long.MaxValue),
      (0L, 0L, 0L, 0L)) ++
      (0L until 200L).map { i =>
        val r = splitmix64(i)
        ((r & 0xFFFFFL) + 1L, r >> 9, splitmix64(r) >> 11, r >> 12)
      }
    val got = rows.toDF("n", "sab", "sa", "sb")
      .select(coMoment(col("n"), col("sab"), col("sa"), col("sb")),
        coMoment(col("n"), col("sab"), col("sa"), col("sa")))
      .as[(Double, Double)].collect()
    rows.zip(got).foreach { case ((n, sab, sa, sb), (cm, v)) =>
      assert(bits(cm) == bits(n.toDouble * sab.toDouble
        - sa.toDouble * sb.toDouble), s"coMoment($n, $sab, $sa, $sb)")
      assert(bits(v) == bits(n.toDouble * sab.toDouble
        - sa.toDouble * sa.toDouble), s"coMoment($n, $sab, $sa, $sa)")
    }
    val exact = BigInt(big) * BigInt(big) - BigInt(big) * BigInt(3L)
    assert(bits(got(2)._1) != bits(exact.toDouble),
      "the 2^53 row no longer exercises the DOUBLE cast")
  }

  test("doubledMidrank == lowest + highest rank of each tie run") {
    val values = (0L until 300L).map(i => splitmix64(i) % 23L).sorted
    val runs = values.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val cum = runs.map(_._2).scanLeft(0L)(_ + _).tail
    val got = runs.zip(cum).map { case ((v, t), c) => (v, t, c) }
      .toDF("v", "t", "t_cum")
      .select(col("v"), doubledMidrank("t")).as[(Long, Long)].collect().toMap
    // ranks are 1-based positions in the sorted list, ties included
    val want = values.zipWithIndex.groupBy(_._1).view
      .mapValues(r => r.map(_._2).min + 1L + r.map(_._2).max + 1L).toMap
    assert(runs.exists(_._2 > 1), "no tie runs")
    assert(got == want)
  }

  test("the BIGINT sumInOrder throws on overflow under ANSI, wraps off it") {
    val lists = Seq(Seq(1L, 2L, -5L), Seq(Long.MaxValue, 1L),
      Seq(Long.MinValue, -1L, 3L))
    def sums(xs: Seq[Long]): Long = Seq(xs).toDF("xs")
      .select(sumInOrder(col("xs"), lit(0L))(identity)).as[Long].head()
    def overflows(xs: Seq[Long]): Boolean =
      try { sums(xs); false }
      catch {
        case e: Throwable => Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
      }
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    assert(ansi == "true")
    assert(sums(lists.head) == -2L)
    assert(lists.tail.forall(overflows))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try lists.foreach(xs => assert(sums(xs) == xs.foldLeft(0L)(_ + _)))
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
