package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** catalog: the analyst workload. A fixed set of `SparkEntry` queries over
  * synthesized fixture tables, run once each in a fresh session, in an
  * order the seed permutes; each is forced to completion by a sink that
  * also checks its row count and hash. The set has three families, each
  * exercising one planned optimisation and bypassing the others. */
object Catalog {

  /** Scale factor of the synthesized tables (lineitem 6M × sf rows): the
    * repository's correctness scale, whose 500 documents fill the doc-id
    * graphs (rings of up to 431 nodes) the iterate family builds. At this
    * scale q147 joins 100 dense left nodes into 4,950 pair rows, not the
    * 1,000 nodes and 5.15M rows of sf0.1. */
  val Sf = 0.01
  val Generations = 3

  val Families: Seq[(String, Seq[String])] = Seq(
    "pairs" -> Seq("q147_adamic_adar", "q128_frequent_pairs",
      "q155_item_cosine", "q148_containment", "q23_shared_parts",
      "q34_ngram_jaccard"),
    "iterate" -> Seq("q125_bfs_hops", "q140_label_prop", "q144_kcore",
      "q152_hits", "q153_shortest_path"),
    "control" -> Seq("q26_minhash_dedup", "q202_hard_negatives",
      "q134_bloom_semijoin"))

  val Queries: Seq[String] = Families.flatMap(_._2)
  val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  /** Families whose queries each report their own shuffle volume. */
  val PerQueryShuffle = Set("pairs")
  val Anomaly = "q147_adamic_adar"
  /** Query outside the set, run at the end of each set-up. */
  val Warmup = "q05_region_rollup"

  /** A value rendered for hashing: doubles at 9 significant digits, maps
    * in key order, times without the JVM's time zone. */
  def render(v: Any): String = v match {
    case null => "\u2205"
    case d: Double => String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => render(f.toDouble)
    case t: java.sql.Timestamp => s"${t.getTime}:${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** 64-bit hash of a row's fields taken in `order`. */
  def rowHash(r: Row, order: Array[Int]): Long = {
    val s = order.map(i => render(r.get(i))).mkString("\u0001")
    (MurmurHash3.stringHash(s, 1).toLong << 32) ^
      (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  }

  /** Runs a query's plan to completion, like a noop write, and returns its
    * row count and an order-insensitive hash: the wrapping sum of row
    * hashes, columns taken in name order. */
  def consume(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = spark.sparkContext.longAccumulator
    val hash = spark.sparkContext.longAccumulator
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, order) }
      rows.add(n)
      hash.add(h)
    }
    (rows.sum, hash.sum)
  }

  def tables(ctx: Ctx): String = ctx.work.resolve("tables").toString

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val r = new Report
    val dir = tables(ctx)
    // set-up, repeated: synthesize the tables, then one query outside the
    // set over them, which also absorbs the session's first-query cost
    // that would otherwise land on whichever query the seed puts first
    val gens = (0 until Generations).map(_ => Main.time {
      CatalogData.write(spark, dir, Sf, ctx.cores)
      consume(spark, SparkEntry.queries(Warmup)(spark, dir))
    }._2)
    Main.log(f"set-ups ${gens.map(g => f"$g%.2f").mkString(" ")} s")
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val times = pass(ctx, r, dir, order, None)
    Main.log(f"pass ${times.values.sum}%.2f s")
    if (ctx.trace) traced(ctx, r, dir, order, times)
    else {
      r.e2e("setup_s") = Stats.median(gens)
      r.e2e("batch_s") = times.values.sum
      r.e2e("ops_per_s") = times.size / times.values.sum
    }
    r
  }

  /** One timed, checked pass in `order`: seconds per query that succeeded.
    * A query that throws, or whose row count or hash differs from the
    * pinned values, is counted as failed and left out of the totals. */
  def pass(ctx: Ctx, r: Report, dir: String, order: Seq[String],
      tracer: Option[Tracer]): Map[String, Double] = {
    val spark = ctx.spark
    val pinned = expected(ctx)
    val got = order.flatMap { q =>
      val t0 = System.nanoTime()
      // building a query can already run jobs (eager cuts), so the span
      // covers the build as well as the forcing sink
      def run() = consume(spark, SparkEntry.queries(q)(spark, dir))
      r.op(q)(tracer.fold(run())(_.span(q)(run()))).map { fp =>
        val s = (System.nanoTime() - t0) / 1e9
        Main.log(f"$q%-26s $s%6.2f s ${fp._1}%7d rows")
        (q, s, fp)
      }
    }
    got.flatMap { case (q, s, fp) =>
      if (pinned.get(q).contains(fp)) Some(q -> s)
      else {
        r.failOps(1, s"$q returned ${fp._1} rows hash ${fp._2}, pinned ${pinned.get(q)}")
        None
      }
    }.toMap
  }

  /** Pinned row count and hash per query. A change meant to change
    * results updates the file by hand from the logged rows and hashes. */
  def expected(ctx: Ctx): Map[String, (Long, Long)] = {
    val q = new ObjectMapper().readTree(Files.readString(
      ctx.benchDir.resolve("catalog_expected.json"))).get("queries")
    q.fieldNames().asScala.map(n =>
      n -> (q.get(n).get("rows").asLong(), q.get(n).get("hash").asLong())).toMap
  }

  private def familyTotals(times: Map[String, Double]): Map[String, Double] =
    times.groupBy { case (q, _) => familyOf(q) }.view
      .mapValues(_.values.sum).toMap

  /** After the timed pass: its family totals, then an in-suite pass that
    * runs each query untraced and traced back to back (alternating which
    * goes first; the traced one under a span and job group), then the
    * ROADMAP anomaly: q147 alone in a fresh session. */
  private def traced(ctx: Ctx, r: Report, dir: String, order: Seq[String],
      first: Map[String, Double]): Unit = {
    val L = r.layer
    L("catalog.catalog_s") = first.values.sum
    familyTotals(first).foreach { case (f, s) => L(s"catalog.${f}_s") = s }
    val sc = ctx.spark.sparkContext
    val listener = new JobGroupListener(sc)
    sc.addSparkListener(listener)
    val t = new Tracer(sc, s"catalog-${ctx.seed}")
    val runs = order.zipWithIndex.map { case (q, i) =>
      def traced() = pass(ctx, r, dir, Seq(q), Some(t))
      if (i % 2 == 0) { val p = pass(ctx, r, dir, Seq(q), None); (p, traced()) }
      else { val x = traced(); (pass(ctx, r, dir, Seq(q), None), x) }
    }
    val plain = runs.flatMap(_._1).toMap
    val traced = runs.flatMap(_._2).toMap
    L("catalog.trace_overhead_s") = traced.values.sum - plain.values.sum
    val fam = mutable.Map.empty[String, Counters].withDefaultValue(Counters())
    Queries.foreach { q =>
      val c = listener.forSpans(t, q)
      fam(familyOf(q)) = fam(familyOf(q)) + c
      L(s"queries.$q.s") = traced.getOrElse(q, 0.0)
      L(s"queries.$q.jobs") = c.jobs.toDouble
      if (PerQueryShuffle(familyOf(q))) L(s"queries.$q.shuffle_mb") = c.shuffleMb
      if (q == Anomaly) L(s"queries.$q.gc_s") = c.gcSeconds
    }
    Families.foreach { case (f, _) =>
      L(s"queries.$f.gc_s") = fam(f).gcSeconds
      if (!PerQueryShuffle(f)) L(s"queries.$f.shuffle_mb") = fam(f).shuffleMb
    }
    Tracer.write(ctx, t)

    // the same query alone: a fresh session (new SparkContext, empty block
    // manager and AQE state) in this JVM; the second of two runs counts
    ctx.spark.stop()
    val fresh = Main.session()
    try {
      val fsc = fresh.sparkContext
      val alone = new JobGroupListener(fsc)
      fsc.addSparkListener(alone)
      val ft = new Tracer(fsc, s"catalog-alone-${ctx.seed}")
      val runs = (0 until 2).map(_ =>
        pass(ctx.copy(spark = fresh), r, dir, Seq(Anomaly), Some(ft)))
      val last = ft.byName(Anomaly).last
      val c = alone.counters().getOrElse(Tracer.group(last.name, last.id), Counters())
      L(s"queries.$Anomaly.alone_s") = runs.last.getOrElse(Anomaly, 0.0)
      L(s"queries.$Anomaly.alone_jobs") = c.jobs.toDouble
      L(s"queries.$Anomaly.alone_gc_s") = c.gcSeconds
      L(s"queries.$Anomaly.alone_shuffle_mb") = c.shuffleMb
      Tracer.write(ctx, ft)
    } finally fresh.stop()
  }
}
