package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.extract.PageSynth
import graft.link.AhoCorasick
import graft.query.ServingIndex

/** The serve half of the kg workload: the reference agent's use of the
  * graph the build half wrote. It loads the [[ServingIndex]]; then one
  * caller runs a closed loop, one tool call at a time, and collects each
  * result. Calls lean toward the hot drug and about one in ten misses. */
object KgServe {

  val IndexLoads = 3
  /** Timed calls per run: at least `MinCalls`, then until `--seconds` has
    * passed, in whole blocks so every tool is called equally often. */
  val MinCalls = 40
  val Block = 10
  /** Untimed calls from the seeded stream after the one-per-tool warm-up:
    * query planning gets faster over the first calls as the JIT warms. */
  val WarmupCalls = 10
  /** Calls of the traced run's fixed list (p75 has ten beyond it). */
  val TracedCalls = 40
  /** Latency limit of one call; a failed call counts as missing it. */
  val LimitMs = 1000.0

  sealed trait Call { def tool: String }
  final case class Resolve(nodeType: String, name: String) extends Call {
    def tool = "resolve" }
  final case class Neighbors(srcType: String, srcKey: Long, dstType: String)
      extends Call { def tool = "neighbors" }
  final case class Paths(drugKey: Long, aeKey: Long) extends Call {
    def tool = "paths" }
  final case class Ddi(a: Long, b: Long) extends Call { def tool = "ddi" }
  final case class Profile(drugKey: Long) extends Call { def tool = "profile" }

  val Tools = Seq("resolve", "neighbors", "paths", "ddi", "profile")

  /** The graph as plain Scala collections, collected once for the checks. */
  final case class V(nodeType: String, key: Long, label: String)
  final case class E(srcType: String, srcKey: Long, dstType: String,
      dstKey: Long, frequency: java.lang.Double, strength: java.lang.Double,
      meta: Map[String, String], dataset: String)

  /** Seeded call stream over the collected vertices. */
  final class Calls(seed: Long, vertices: Seq[V]) {
    private val rnd = new scala.util.Random(seed)
    private val keys = vertices.map(v => (v.nodeType, v.label) -> v.key).toMap
    private var missed = 0L
    private def miss(): Long = { missed += 1; 1000000L + missed }
    private def key(t: String, label: String): Long =
      keys.getOrElse((t, label), miss())
    /** Drug index: the hot drug for 30% of picks. */
    private def drug(): Int =
      if (rnd.nextInt(10) < 3) 0 else rnd.nextInt(PageSynth.NumDrugs)
    private def drugKey(): Long = key("Drug", PageSynth.drugName(drug()))
    private def aeKey(): Long =
      key("AdverseEvent", PageSynth.aeName(rnd.nextInt(PageSynth.NumAes)))

    /** Calls come in blocks of `Block`: each tool twice, in a seeded
      * order, and one call of the block aimed at a missing key or name. */
    private var block = List.empty[(String, Boolean)]
    def next(): Call = {
      if (block.isEmpty) {
        val tools = rnd.shuffle(Tools ++ Tools)
        val missAt = rnd.nextInt(tools.size)
        block = tools.zipWithIndex.map { case (t, i) => (t, i == missAt) }.toList
      }
      val (tool, isMiss) = block.head
      block = block.tail
      def d(): Long = if (isMiss) miss() else drugKey()
      tool match {
        case "resolve" =>
          val label = PageSynth.drugName(drug())
          if (isMiss) Resolve("Drug", s"unknown${rnd.nextInt(100)}")
          else rnd.nextInt(3) match {
            case 0 => Resolve("Drug", label.take(7))
            case 1 => Resolve("AdverseEvent",
              PageSynth.aeName(rnd.nextInt(PageSynth.NumAes)).toUpperCase)
            case _ => Resolve("Drug", label)
          }
        case "neighbors" =>
          Neighbors("Drug", d(), if (rnd.nextBoolean()) "AdverseEvent" else "Gene")
        case "paths" => Paths(d(), aeKey())
        case "ddi" => Ddi(d(), drugKey())
        case _ => Profile(d())
      }
    }
  }

  /** One untimed call of each tool on the hot drug, before timing. */
  def warmup(vs: Seq[V]): Seq[Call] = {
    def key(t: String, l: String) =
      vs.find(v => v.nodeType == t && v.label == l).map(_.key).getOrElse(1L)
    val d0 = key("Drug", PageSynth.drugName(0))
    val d1 = key("Drug", PageSynth.drugName(1))
    Seq(Resolve("Drug", PageSynth.drugName(0)), Neighbors("Drug", d0, "AdverseEvent"),
      Paths(d0, key("AdverseEvent", PageSynth.aeName(0))), Ddi(d0, d1), Profile(d0))
  }

  def execute(idx: ServingIndex, c: Call): DataFrame = c match {
    case Resolve(t, n) => idx.resolve(t, n)
    case Neighbors(s, k, d) => idx.neighbors(s, k, d)
    case Paths(d, a) => idx.drugToAePaths(d, a)
    case Ddi(a, b) => idx.drugDrugInteractions(a, b)
    case Profile(d) => idx.drugProfile(d)
  }

  /** Result rows projected to the compared columns, in result order. */
  def project(c: Call, rows: Seq[Row]): Seq[Seq[Any]] = {
    def cols(r: Row, names: String*): Seq[Any] =
      names.map(n => r.get(r.fieldIndex(n)))
    c match {
      case _: Resolve => rows.map(cols(_, "node_type", "key", "label", "match_rank"))
      case _: Neighbors => rows.map(cols(_, "dst_key", "frequency",
        "strength_score", "n_claims", "label"))
      case _: Paths => rows.map(cols(_, "drug_key", "ae_key", "gene_key", "hops",
        "score", "evidence_count", "drug_label", "ae_label"))
      case _: Ddi => rows.map(cols(_, "drug_a_key", "drug_b_key", "ae_key",
        "ae_label", "prr", "dataset"))
      case _: Profile => rows.map(cols(_, "section", "key", "label", "frequency"))
    }
  }

  /** Tools whose result order is total and therefore compared as is;
    * the others are compared as multisets. */
  def ordered(c: Call): Boolean = c match {
    case _: Resolve | _: Neighbors => true
    case _ => false
  }

  /** Plain-Scala answers over the collected graph, column for column
    * what [[project]] keeps of the tool's result. */
  final class Oracle(vs: Seq[V], es: Seq[E]) {
    private val label = vs.map(v => (v.nodeType, v.key) -> v.label).toMap
    private def out(t: String, k: Long, d: String) =
      es.filter(e => e.srcType == t && e.srcKey == k && e.dstType == d)
    private def typedLabel(t: String, k: Long): Option[String] = label.get((t, k))
    private def low(s: String): String = s.trim.toLowerCase(java.util.Locale.ROOT)

    def answer(c: Call): Seq[Seq[Any]] = c match {
      case Resolve(t, name) =>
        val q = AhoCorasick.lowerPreserving(name).trim
        val base = vs.filter(_.nodeType == t)
          .map(v => (v, AhoCorasick.lowerPreserving(v.label)))
        val order = (v: V) => (v.label.length, v.label, v.key)
        val exact = base.collect { case (v, l) if l == q => v }.sortBy(order)
        val partial = base.collect { case (v, l) if l.contains(q) && l != q => v }
          .sortBy(order).take(25)
        exact.map(v => Seq(v.nodeType, v.key, v.label, 0)) ++
          partial.map(v => Seq(v.nodeType, v.key, v.label, 1))
      case Neighbors(s, k, d) =>
        out(s, k, d).groupBy(_.dstKey).toSeq.flatMap { case (dk, g) =>
          typedLabel(d, dk).map(l => (dk, g.map(_.frequency.doubleValue).max,
            g.map(_.strength.doubleValue).max, g.size.toLong, l))
        }.sortBy(x => (-x._2, x._5)).take(100)
          .map(x => Seq(x._1, x._2, x._3, x._4, x._5))
      case Paths(dk, ak) =>
        val direct = out("Drug", dk, "AdverseEvent").filter(_.dstKey == ak)
          .map(e => (ak, null: java.lang.Long, 1,
            Option(e.frequency).orElse(Option(e.strength))
              .map(_.doubleValue).getOrElse(0.7), 1))
        val genes = out("Drug", dk, "Gene").map(_.dstKey).distinct
        val aeLbl = typedLabel("AdverseEvent", ak).map(low)
        val twoHop = genes.flatMap { g =>
          out("Gene", g, "Disease").groupBy(_.dstKey).toSeq.flatMap { case (dis, es2) =>
            val score = es2.flatMap(e => Option(e.strength).map(_.doubleValue))
              .maxOption.getOrElse(0.5)
            if (typedLabel("Disease", dis).map(low) == aeLbl &&
                aeLbl.isDefined)
              Seq((ak, java.lang.Long.valueOf(g), 3, score * 0.9, 2))
            else Nil
          }
        }
        (for {
          dl <- typedLabel("Drug", dk).toSeq
          al <- typedLabel("AdverseEvent", ak).toSeq
          p <- direct ++ twoHop
        } yield (p, dl, al))
          .sortBy { case (p, _, _) => (-p._4, p._3,
            Option(p._2).map(_.longValue).getOrElse(Long.MinValue)) }
          .take(10)
          .map { case ((a, g, h, s, n), dl, al) => Seq(dk, a, g, h, s, n, dl, al) }
      case Ddi(a, b) =>
        def combos(k: Long) = out("Drug", k, "DrugCombination").map(_.dstKey).toSet
        val shared = combos(a) intersect combos(b)
        es.filter(e => e.srcType == "DrugCombination" &&
            e.dstType == "AdverseEvent" && shared.contains(e.srcKey))
          .flatMap { e =>
            val prr: java.lang.Double =
              if (e.meta != null && e.meta.nonEmpty)
                e.meta.get("prr").map(p => java.lang.Double.valueOf(p.toDouble)).orNull
              else e.strength
            typedLabel("AdverseEvent", e.dstKey)
              .map(l => (e.dstKey, l, prr, e.dataset))
          }
          .sortBy(x => (Option(x._3).map(-_.doubleValue).getOrElse(Double.MaxValue), x._1))
          .take(50)
          .map(x => Seq(a, b, x._1, x._2, x._3, x._4))
      case Profile(dk) =>
        val self = typedLabel("Drug", dk).toSeq.map(l => Seq("drug", dk, l, null))
        val targets = out("Drug", dk, "Gene").map(_.dstKey).distinct
          .flatMap(g => typedLabel("Gene", g).map(l => Seq("target", g, l, null)))
        val aes = out("Drug", dk, "AdverseEvent").groupBy(_.dstKey).toSeq
          .flatMap { case (ak, g) => typedLabel("AdverseEvent", ak)
            .map(l => (ak, l, g.map(_.frequency.doubleValue).max)) }
          .sortBy(x => (-x._3, x._2)).take(20)
          .map(x => Seq("adverse_event", x._1, x._2, x._3))
        self ++ targets ++ aes
    }
  }

  /** Same rows, normalizing boxed numbers so Spark and Scala values compare. */
  def same(c: Call, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    def norm(row: Seq[Any]): Seq[Any] = row.map {
      case i: java.lang.Integer => i.longValue
      case i: Int => i.toLong
      case l: java.lang.Long => l.longValue
      case d: java.lang.Double => d.doubleValue
      case x => x
    }
    val g = got.map(r => norm(r).toList)
    val w = want.map(r => norm(r).toList)
    def bag(rows: Seq[List[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    if (ordered(c)) g == w else bag(g) == bag(w)
  }

  final case class Setup(index: ServingIndex, vertices: Seq[V], edges: Seq[E],
      loads: Seq[Double])

  /** Loads the index over a built root `IndexLoads` times, each load
    * replacing the previous index, and collects the graph for the checks. */
  def setup(ctx: Ctx, root: java.nio.file.Path): Setup = {
    val spark = ctx.spark
    import spark.implicits._
    var idx: ServingIndex = null
    val loads = (0 until IndexLoads).map { _ =>
      if (idx != null) idx.unpersist()
      val (i, s) = Main.time(ServingIndex.load(spark, root.toString))
      idx = i
      s
    }
    val vs = idx.vertices.select("node_type", "key", "label")
      .as[(String, Long, String)].collect().toSeq.map(V.tupled)
    val es = idx.edges.select("src_type", "src_key", "dst_type", "dst_key",
        "frequency", "strength_score", "meta", "dataset").collect().toSeq
      .map(x => E(x.getString(0), x.getLong(1), x.getString(2), x.getLong(3),
        x.getAs[java.lang.Double](4), x.getAs[java.lang.Double](5),
        Option(x.getMap[String, String](6)).map(_.toMap).orNull, x.getString(7)))
    Setup(idx, vs, es, loads)
  }

  /** One checked call: its latency in ms, or the limit plus its latency
    * when it throws or its answer is wrong (a failed call). */
  final class Caller(ctx: Ctx, r: Report, s: Setup) {
    private val oracle = new Oracle(s.vertices, s.edges)
    var rows = 0L
    def call(c: Call): Double = {
      val t0 = System.nanoTime()
      val got = r.op(s"${c.tool} $c")(execute(s.index, c).collect().toSeq)
      val ms = (System.nanoTime() - t0) / 1e6
      got match {
        case Some(res) =>
          rows += res.size
          val want = oracle.answer(c)
          val proj = project(c, res)
          if (!same(c, proj, want)) {
            r.failOps(1, s"$c returned $proj, expected $want")
            LimitMs + ms
          } else ms
        case None => LimitMs + ms
      }
    }
  }

  def serve(ctx: Ctx, r: Report, root: java.nio.file.Path): Unit = {
    val s = setup(ctx, root)
    Main.log(f"index loads ${s.loads.map(l => f"$l%.2f").mkString(" ")} s")
    val calls = new Calls(ctx.seed, s.vertices)
    val caller = new Caller(ctx, r, s)
    warmup(s.vertices).foreach(caller.call)
    (0 until WarmupCalls).foreach(_ => caller.call(calls.next()))
    Main.log("warm-up calls done")
    if (ctx.trace) traced(ctx, r, s, calls, caller)
    else {
      val lat = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      while (lat.size < MinCalls || lat.size % Block != 0 ||
          (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val c = calls.next()
        lat += c.tool -> caller.call(c)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val busy = lat.map(_._2).sum / 1e3
      Main.log(f"${lat.size} calls in $wall%.2f s ($busy%.2f s in calls), " +
        f"p50 ${Stats.median(lat.map(_._2).toSeq)}%.1f ms")
      // one caller, so calls per second is one over the mean latency; the
      // answer checks between calls are not counted
      r.e2e("ops_per_s") = lat.size / busy
      r.e2e("setup_s") += Stats.median(s.loads)
    }
  }

  /** A fixed call list, each call made untraced and traced back to back
    * (alternating which goes first), the traced one under its own span
    * and job group. */
  private def traced(ctx: Ctx, r: Report, s: Setup, calls: Calls,
      caller: Caller): Unit = {
    val sc = ctx.spark.sparkContext
    val list = Seq.fill(TracedCalls)(calls.next())
    val listener = new JobGroupListener(sc)
    sc.addSparkListener(listener)
    val t = new Tracer(sc, s"kg-serve-${ctx.seed}")
    val rows0 = caller.rows
    val pairs = list.zipWithIndex.map { case (c, i) =>
      def traced() = t.span(s"query.${c.tool}")(caller.call(c))
      if (i % 2 == 0) { val p = caller.call(c); (p, traced()) }
      else { val q = traced(); (caller.call(c), q) }
    }
    val (plain, withSpans) = pairs.unzip
    val byTool = list.zip(withSpans).groupBy(_._1.tool)
    val counters = Tools.map(tool => listener.forSpans(t, s"query.$tool"))
      .foldLeft(Counters())(_ + _)
    val L = r.layer
    Tools.foreach(tool => L(s"query.${tool}_p50_ms") =
      byTool.get(tool).map(x => Stats.median(x.map(_._2))).getOrElse(0.0))
    L("query.jobs_per_call") = counters.jobs.toDouble / list.size
    L("query.tasks_per_call") = counters.tasks.toDouble / list.size
    L("query.rows_per_call") = (caller.rows - rows0).toDouble / (2 * list.size)
    L("query.index_load_s") = Stats.median(s.loads)
    val tail = Stats.tailPercentile(plain.size)
    L("kg.tool_p50_ms") = Stats.median(plain)
    L("kg.tool_tail_ms") = Stats.percentile(plain, tail)
    L("kg.trace_overhead_ms") = (withSpans.sum - plain.sum) / list.size
    Tracer.write(ctx, t)
  }
}
