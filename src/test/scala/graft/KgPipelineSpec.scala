package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.PageSynth
import graft.graph.{GraphBuilder, Validator}
import graft.link.{MentionDetector, TripleExtractor}

/** End-to-end KG pipeline correctness: P/R vs an INDEPENDENT oracle.
  *
  * The oracle derives expected triples straight from the generator's
  * planted structure (PageSynth.sentences / boilerplate / truncation /
  * lang), not from the engine code paths — so extraction, mention
  * detection, linking and triple rules are all under test at once.
  * North-rule target: P/R ≥ 0.95; planted rules are exact, so we assert
  * P = R = 1.0.
  */
class KgPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val N = 600L

  /** Jobs of the edges stage body (claim and label edges, noop write) over
    * 300 synthesized pages: the (claim, bucket) and claim shuffles, the
    * range sample and shuffle of the key assignment, its cut (which also
    * reads the key runs), the key-offset and vertex broadcasts, the label
    * edges' aggregate shuffle and drug-key broadcast, the write. */
  val EdgeStageJobs = 10

  /** Jobs of the vertices stage body (noop write) over synthesized triples,
    * whatever the number of node types: the (type, label) distinct's
    * shuffle, the range sample and shuffle of the key assignment, its cut
    * (which also reads the key runs), the key-offset broadcast, the
    * write. */
  val VertexStageJobs = 6

  /** Expected (subj, pred, obj, url) multiset from the planted structure. */
  def oracleTriples(n: Long): Seq[(String, String, String, String)] = {
    (0L until n).flatMap { i =>
      if (PageSynth.lang(i) != "en") Nil
      else if (PageSynth.isBoilerplate(i)) {
        val t = PageSynth.boilerplateTemplate(i)
        Seq((PageSynth.drugName(t), "DRUG_AE", PageSynth.aeName(t),
          PageSynth.url(i)))
      } else if (PageSynth.draw(i, 5, 20) == 0) {
        // oversized pages: the 14K-char lorem block precedes every relation
        // sentence, so truncation at 10000 chars drops them all
        Nil
      } else {
        PageSynth.sentences(i).flatMap { s =>
          val noDot = s.stripSuffix(".")
          if (noDot.contains(" combined with ") &&
              noDot.contains(" jointly cause ")) {
            // ternary DDI: Drug combined-with Drug jointly-cause AE →
            // 2 membership triples + 1 combo→AE triple, sorted-pair combo
            val Array(a, rest) = noDot.split(" combined with ", 2)
            val Array(b, ae) = rest.split(" jointly cause ", 2)
            val combo = if (a <= b) s"$a + $b" else s"$b + $a"
            Seq(
              (a, "DRUG_IN_COMBINATION", combo, PageSynth.url(i)),
              (b, "DRUG_IN_COMBINATION", combo, PageSynth.url(i)),
              (combo, "DDI_AE_TWOSIDES", ae, PageSynth.url(i)))
          } else PageSynth.RelationRules.collectFirst {
            case (phrase, (claim, _, _)) if noDot.contains(s" $phrase ") =>
              val Array(subj, obj) = noDot.split(s" $phrase ")
              (subj, claim, obj, PageSynth.url(i))
          }.toSeq
        }
      }
    }
  }

  lazy val engineTriples: Seq[(String, String, String, String)] = {
    import spark.implicits._
    val pages = PageSynth.pages(spark, N)
    TripleExtractor.extract(spark, pages, PageSynth.gazetteer,
      PageSynth.RelationRules.toMap)
      .map(t => (t.subj, t.pred, t.obj, t.url))
      .collect().toSeq
  }

  test("triple P/R vs planted oracle == 1.0") {
    val want = oracleTriples(N).groupBy(identity).view.mapValues(_.size).toMap
    val got = engineTriples.groupBy(identity).view.mapValues(_.size).toMap
    val tp = got.map { case (k, c) => math.min(c, want.getOrElse(k, 0)) }.sum
    val precision = tp.toDouble / got.values.sum
    val recall = tp.toDouble / want.values.sum
    withClue(s"precision=$precision recall=$recall " +
        s"got=${got.values.sum} want=${want.values.sum}") {
      assert(precision == 1.0 && recall == 1.0)
    }
    assert(want.values.sum > 300) // the corpus actually planted plenty
  }

  test("byte-identical extracted text per url (engine vs pure oracle)") {
    import spark.implicits._
    val pages = PageSynth.pages(spark, 300)
    val got = pages.map(p => (p.url, MentionDetector.extractText(p)))
      .collect().toMap
    (0L until 300L).foreach { i =>
      val want = graft.extract.TextExtractor.htmlToText(
        PageSynth.html(i), graft.extract.TextExtractor.MaxChars)
      assert(got(PageSynth.url(i)) == want, s"url ${PageSynth.url(i)}")
    }
  }

  test("graph build: validation invariants + deterministic keys") {
    import spark.implicits._
    val pages = PageSynth.pages(spark, 300)
    val triples = TripleExtractor.extract(spark, pages, PageSynth.gazetteer,
      PageSynth.RelationRules.toMap)
    val g = GraphBuilder.build(spark, triples, PageSynth.gazetteer)
    val report = Validator.validateOrThrow(g.vertices, g.edges)
    assert(report.vertexCount > 0 && report.edgeCount > 0)

    // dense per-type keys: 1..N per node type, rank of sorted label
    val drugs = g.vertices.filter("node_type = 'Drug'")
      .select("key", "label").as[(Long, String)].collect().sortBy(_._1)
    assert(drugs.map(_._1).toSeq == (1L to drugs.length).toSeq)
    assert(drugs.map(_._2).toSeq == drugs.map(_._2).sorted.toSeq)

    // rebuild → byte-identical graph (determinism / resumability);
    // map/array payloads via to_json (set ops reject MAP columns)
    def canonV(df: org.apache.spark.sql.DataFrame) =
      df.select(col("node_type"), col("key"), col("label"),
        to_json(col("props")).as("props"))
    val g2 = GraphBuilder.build(spark, triples, PageSynth.gazetteer)
    assert(canonV(g2.vertices).exceptAll(canonV(g.vertices)).isEmpty
      && canonV(g.vertices).exceptAll(canonV(g2.vertices)).isEmpty)
    def canonE(df: org.apache.spark.sql.DataFrame) =
      df.drop("evidence").withColumn("meta", to_json(col("meta")))
    val e1 = canonE(g.edges)
    val e2 = canonE(g2.edges)
    assert(e2.exceptAll(e1).isEmpty && e1.exceptAll(e2).isEmpty)
  }

  test("all 6 reference node types + DDI/pathway/label claims materialize") {
    import spark.implicits._
    val pages = PageSynth.pages(spark, 400)
    val triples = TripleExtractor.extract(spark, pages, PageSynth.gazetteer,
      PageSynth.RelationRules.toMap)
    val g = GraphBuilder.build(spark, triples, PageSynth.gazetteer)
    Validator.validateOrThrow(g.vertices, g.edges)
    val types = g.vertices.select("node_type").distinct()
      .as[String].collect().toSet
    assert(types == Validator.AllowedNodeTypes) // all 6, incl. combos+pathways
    val claims = g.edges.select("claim_type").distinct()
      .as[String].collect().toSet
    assert(Set("DRUG_IN_COMBINATION", "DDI_AE_TWOSIDES", "GENE_PATHWAY",
      "DRUG_LABEL", "DRUG_AE", "DRUG_TARGET").subsetOf(claims))
    // sorted-pair combo invariant: every combo label is "a + b" with a <= b
    val combos = g.vertices.where(col("node_type") === "DrugCombination")
      .select("label").as[String].collect()
    assert(combos.nonEmpty)
    combos.foreach { c =>
      val Array(a, b) = c.split(" \\+ "); assert(a <= b, c)
    }
    // DDI traversable end-to-end: Drug→Combo and Combo→AE edges both exist
    assert(g.edges.where(col("claim_type") === "DDI_AE_TWOSIDES"
      && col("src_type") === "DrugCombination"
      && col("dst_type") === "AdverseEvent").count() > 0)
  }

  test("evidence cap: hot claim keeps exactly the first-N url-sorted urls") {
    import spark.implicits._
    val gaz = graft.link.Gazetteer(Seq(
      graft.link.GazEntry("d", "Drug"), graft.link.GazEntry("g", "Gene")))
    // one hot claim with 100 distinct urls (4 dup rows each) + a cold one
    // (two sentences on the same url — the payload must carry the min)
    val hot = (0 until 100).flatMap(i => Seq.fill(4)(
      graft.model.RawTriple("d", "X", "g", f"u$i%03d", f"sent u$i%03d")))
    val cold = Seq(
      graft.model.RawTriple("d", "Y", "g", "u9", "zz later sentence"),
      graft.model.RawTriple("d", "Y", "g", "u9", "aa first sentence"))
    val v = GraphBuilder.buildVertices(spark, (hot ++ cold).toDS(), gaz)
    val e = GraphBuilder.buildEdges(spark, (hot ++ cold).toDS(), v, gaz)
    val row = e.where(col("claim_type") === "X").head()
    val ev = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("evidence"))
    val urls = ev.map(_.getAs[String]("source_url"))
    // exactly the first EvidenceCap urls in sorted order, no bucket leakage
    assert(urls == (0 until GraphBuilder.EvidenceCap).map(i => f"u$i%03d"))
    assert(row.getAs[Double]("frequency") == 400.0)
    // every evidence item carries a payload with its supporting sentence
    // (reference build.py:121-167: per-evidence payload dicts)
    ev.foreach { item =>
      val p = item.getAs[Map[String, String]]("payload")
      assert(p("sentence") == s"sent ${item.getAs[String]("source_url")}")
    }
    val coldRow = e.where(col("claim_type") === "Y").head()
    val coldPayload = coldRow.getSeq[org.apache.spark.sql.Row](
        coldRow.fieldIndex("evidence")).head
      .getAs[Map[String, String]]("payload")
    assert(coldPayload("sentence") == "aa first sentence") // min per url
  }

  test("claim keys: ambiguous concatenations get distinct keys") {
    import spark.implicits._
    // ("ab","c","d") and ("a","bc","d") concatenate identically without a
    // separator — the NUL-separated claim identity must keep them distinct
    val gaz = graft.link.Gazetteer(Seq(
      graft.link.GazEntry("ab", "Drug"), graft.link.GazEntry("a", "Drug"),
      graft.link.GazEntry("d", "Gene")))
    val triples = Seq(
      graft.model.RawTriple("ab", "c", "d", "u1", "s1"),
      graft.model.RawTriple("a", "bc", "d", "u2", "s2")).toDS()
    val v = GraphBuilder.buildVertices(spark, triples, gaz)
    val e = GraphBuilder.buildEdges(spark, triples, v, gaz)
    assert(e.select("claim_key").distinct().count() == 2)
  }

  test("KG build plan carries no static broadcast hints (scale guard)") {
    import spark.implicits._
    val pages = PageSynth.pages(spark, 50)
    val triples = TripleExtractor.extract(spark, pages, PageSynth.gazetteer,
      PageSynth.RelationRules.toMap)
    val g = GraphBuilder.build(spark, triples, PageSynth.gazetteer)
    // The claim-key table is fact-proportional; a hinted broadcast there
    // OOMs at 100 TB. AQE may still broadcast truly-small sides at runtime
    // — that's adaptive and fine; what must never appear is a compile-time
    // hint. (analyzed plan: ResolvedHint/UnresolvedHint nodes; optimized
    // plan: JoinHint annotations)
    val plans = Seq(g.edges.queryExecution.analyzed.toString,
      g.edges.queryExecution.optimizedPlan.toString)
    plans.foreach(p => assert(!p.toLowerCase.contains("broadcast"), p.take(500)))
  }

  test("edges stage keeps its job budget; buildEdges reads triples once") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    // the stage's inputs are tables, as in Pipeline.run
    val dir = TestSpark.scratch("graft_edges_budget")
    val gaz = PageSynth.gazetteer
    TripleExtractor.extract(spark, PageSynth.pages(spark, 300), gaz,
      PageSynth.RelationRules.toMap).write.parquet(s"$dir/triples")
    val triples = spark.read.parquet(s"$dir/triples").as[graft.model.RawTriple]
    GraphBuilder.buildVertices(spark, triples, gaz).write.parquet(s"$dir/vertices")
    val v = spark.read.parquet(s"$dir/vertices")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (_, jobs) = JobProbe(spark) {
      noop(GraphBuilder.buildEdges(spark, triples, v, gaz)
        .unionByName(GraphBuilder.buildLabelEdges(spark, triples, v)))
    }
    assert(jobs.size == EdgeStageJobs, s"the edges stage ran ${jobs.size} jobs")
    // executed scans of the triples table, over every execution the call makes
    val runs = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try JobProbe(spark)(noop(GraphBuilder.buildEdges(spark, triples, v, gaz)))
    finally spark.listenerManager.unregister(listener)
    val scans = runs.asScala.toSeq.map(qe => Plans.collect(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "triples") &&
            s.metrics("numOutputRows").value > 0 => s
    }.size).sum
    assert(scans == 1, s"buildEdges scanned triples $scans times")
  }

  test("buildVertices keys all node types in one pass: jobs independent of type count") {
    import spark.implicits._
    // every type gets five labels; each label is a subject of one triple
    // whose object is the first type's first label
    def jobs(types: Seq[String]): Int = {
      val norms = types.map(t => t -> (0 until 5).map(i => s"${t.toLowerCase}$i"))
      val gaz = graft.link.Gazetteer(norms.flatMap { case (t, ns) =>
        ns.map(graft.link.GazEntry(_, t)) })
      val obj = norms.head._2.head
      val triples = norms.flatMap(_._2).map(n =>
        graft.model.RawTriple(n, "R", obj, s"u-$n", "s")).toDS()
      val (_, seen) = JobProbe(spark) {
        GraphBuilder.buildVertices(spark, triples, gaz)
          .write.format("noop").mode("overwrite").save()
      }
      seen.size
    }
    val two = jobs(Seq("Drug", "Gene"))
    val six = jobs(Validator.AllowedNodeTypes.toSeq.sorted)
    assert(two == VertexStageJobs && six == VertexStageJobs,
      s"2 types: $two jobs, 6 types: $six jobs")
  }

  test("multi-word + prefix-overlap mention semantics (leftmost-longest)") {
    val gaz = PageSynth.gazetteer
    val text = "zorvex1 causes severe rash17 and severe rash1 appears."
    val ms = MentionDetector.mentionsOf(gaz, "u", text)
    assert(ms.map(_.norm) == Seq("zorvex1", "severe rash17", "severe rash1"))
  }
}
