package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.KeyAssigner
import graft.extract.PageSynth
import graft.graph.{GraphBuilder, Validator}
import graft.link.{MentionDetector, TripleExtractor}
import graft.model.{Page, RawTriple}
import graft.pipeline.Pipeline

/** The build half of the kg workload: the north-rule batch job. Set-up
  * commits a seeded pages table into several artifact roots (the median
  * commit plus the serve half's median index load is the set-up time); the
  * timed op is the process's first `Pipeline.run` over one of them
  * (triples → vertices → edges → validation → counters), as a batch job
  * runs it. The finished root is then re-run to time resume, checked, and
  * handed to the serve half. */
object KgBuild {

  /** Roots the pages table is committed into during set-up. */
  val Roots = 3
  /** Resume re-runs of a traced run (an untraced run re-runs once, to
    * check that resume leaves the tables alone). */
  val Resumes = 3
  val SampleSize = 24

  def untraced(ctx: Ctx, r: Report): Path = {
    val spark = ctx.spark
    val off = Kg.offset(ctx.seed)
    val roots = (0 until Roots).map(i => ctx.work.resolve(s"kg$i"))
    r.e2e("setup_s") = Stats.median(
      roots.map(Kg.commitPages(spark, _, off, Kg.Pages, ctx.cores)))
    Main.log("pages committed")
    val root = roots.head
    r.op("build") {
      val (res, s) = Main.time(Pipeline.run(spark, root.toString, Kg.Pages))
      checkBuild(r, res)
      r.e2e("batch_s") = s
    }
    val resumes = resume(ctx, r, root, 1)
    checkGraph(ctx, r, root, off)
    Main.log(f"build ${r.e2e.getOrElse("batch_s", Double.NaN)}%.2f s; " +
      f"resume median ${Stats.median(resumes)}%.3f s")
    root
  }

  /** Every stage after pages recomputed; pages taken as committed input. */
  private def checkBuild(r: Report, res: Seq[Pipeline.StageResult]): Unit = {
    val byStage = res.map(s => s.stage -> s).toMap
    val stale = Kg.Stages.filterNot(s => byStage.get(s).exists(x => !x.skipped && x.rows > 0))
    if (!byStage.get("pages").exists(_.skipped))
      r.failOps(1, "Pipeline.run did not take the committed pages table")
    else if (stale.nonEmpty)
      r.failOps(1, s"stages not rebuilt or empty: ${stale.mkString(", ")}")
  }

  /** Re-runs `Pipeline.run` over a finished root: every stage must be
    * skipped and every stage table must stay byte-identical. */
  private def resume(ctx: Ctx, r: Report, root: Path, n: Int): Seq[Double] = {
    val tables = "pages" +: Kg.Stages
    val before = Kg.digest(root, tables)
    val times = (0 until n).flatMap { i =>
      r.op(s"resume $i") {
        val (res, s) = Main.time(Pipeline.run(ctx.spark, root.toString, Kg.Pages))
        if (!res.forall(_.skipped)) r.failOps(1, "resume recomputed a stage")
        s
      }
    }
    if (Kg.digest(root, tables) != before)
      r.failOps(n, "resume changed a committed stage table")
    times
  }

  /** The graph validates, and the committed triples of a seeded page
    * sample equal the pure per-page extraction. */
  def checkGraph(ctx: Ctx, r: Report, root: Path, off: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val report = Validator.validate(spark.read.parquet(s"$root/vertices"),
      spark.read.parquet(s"$root/edges"))
    if (!report.ok) r.failOps(1, s"graph validation failed: $report")
    val ids = Kg.sample(ctx.seed, off, Kg.Pages, SampleSize)
    val expected = ids.flatMap { i =>
      val p = PageSynth.page(i)
      if (p.lang != "en") Nil
      else TripleExtractor.triplesOf(PageSynth.gazetteer,
        PageSynth.RelationRules.toMap, p.url, MentionDetector.extractText(p))
    }
    val urls = ids.map(PageSynth.url)
    val actual = spark.read.parquet(s"$root/triples")
      .where(col("url").isin(urls: _*)).as[RawTriple].collect().toSeq
    if (expected.isEmpty || counts(actual) != counts(expected))
      r.failOps(1, s"triples of the ${ids.size} sampled pages differ from " +
        s"TripleExtractor.triplesOf (${actual.size} vs ${expected.size} rows)")
  }

  private def counts[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Traced run: two warm-up builds; an untraced build; the build stage by
    * stage through the layers' public entry points, each layer forced
    * under its own span and job group; another untraced build. The mean of
    * the two untraced builds is the reference the layers are compared
    * with. Returns the last untraced build's root. */
  def traced(ctx: Ctx, r: Report): Path = {
    val spark = ctx.spark
    import spark.implicits._
    val off = Kg.offset(ctx.seed)
    val roots @ Seq(warm, before, layered, plain) =
      Seq("warm", "before", "layered", "plain").map(ctx.work.resolve)
    roots.foreach(Kg.commitPages(spark, _, off, Kg.Pages, ctx.cores))
    r.op("warm-up build")(Pipeline.run(spark, warm.toString, Kg.Pages))
    Kg.Stages.foreach(st => graft.util.Fs.deleteRec(warm.resolve(st)))
    r.op("second warm-up build")(Pipeline.run(spark, warm.toString, Kg.Pages))
    def untracedBuild(root: Path): Double = r.op("untraced build") {
      val (res, s) = Main.time(Pipeline.run(spark, root.toString, Kg.Pages))
      checkBuild(r, res); s
    }.getOrElse(Double.NaN)
    val untracedBefore = untracedBuild(before)

    val listener = new JobGroupListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val t = new Tracer(spark.sparkContext, s"kg-build-${ctx.seed}")
    val root = layered.toString
    val gaz = PageSynth.gazetteer
    val rules = PageSynth.RelationRules.toMap
    def pages: Dataset[Page] = spark.read.parquet(s"$root/pages").as[Page]
    def enPages: Dataset[Page] = pages.filter(_.lang == "en")
    def triples: Dataset[RawTriple] =
      spark.read.parquet(s"$root/triples").as[RawTriple]
    def stage(name: String, upstream: Seq[String], cols: Seq[String] = Nil)
        (body: => DataFrame): Pipeline.StageResult =
      t.span(s"pipeline.stage.$name")(Pipeline.runStage(spark, root, name,
        Pipeline.CodeVersion, Pipeline.fingerprint(root, upstream), cols)(body))

    r.op("layered build") {
      t.span("kg.build") {
        t.span("pipeline.read")(Main.noop(pages))
        t.span("extract")(Main.noop(enPages.map(MentionDetector.extractText)))
        t.span("link.detect")(Main.noop(MentionDetector.detect(spark, enPages, gaz)))
        t.span("link.extract")(Main.noop(TripleExtractor.extract(spark, pages, gaz, rules)))
        stage("triples", Seq("pages"))(
          TripleExtractor.extract(spark, pages, gaz, rules).toDF())
        t.span("graph.vertices")(Main.noop(GraphBuilder.buildVertices(spark, triples, gaz)))
        stage("vertices", Seq("pages", "triples"))(
          GraphBuilder.buildVertices(spark, triples, gaz))
        def edges: DataFrame = {
          val v = spark.read.parquet(s"$root/vertices")
          GraphBuilder.buildEdges(spark, triples, v, gaz)
            .unionByName(GraphBuilder.buildLabelEdges(spark, triples, v))
        }
        t.span("graph.edges")(Main.noop(edges))
        stage("edges", Seq("pages", "triples", "vertices"), Seq("claim_type"))(edges)
        val report = t.span("graph.validate")(Validator.validate(
          spark.read.parquet(s"$root/vertices"), spark.read.parquet(s"$root/edges")))
        if (!report.ok) r.failOps(1, s"layered graph validation failed: $report")
        t.span("canon.assign")(Main.noop(KeyAssigner.assign(
          triples.select(col("subj").as("label"))
            .union(triples.select(col("obj").as("label"))), "label")))
      }
    }
    val untracedS = (untracedBefore + untracedBuild(plain)) / 2
    val resumeS = Stats.median(resume(ctx, r, plain, Resumes))
    // the layered stages must be the ones Pipeline.run itself would commit
    r.op("resume of layered build") {
      val res = Pipeline.run(spark, root, Kg.Pages)
      if (!res.forall(_.skipped))
        r.failOps(1, "layered stages do not match Pipeline.run's fingerprints")
    }
    checkGraph(ctx, r, layered, off)

    val s = t.seconds _
    val bodies = s("link.extract") + s("graph.vertices") + s("graph.edges")
    val stages = Seq("triples", "vertices", "edges").map(n => s(s"pipeline.stage.$n")).sum
    val commit = stages - bodies
    val layers = Seq(
      s("pipeline.read"),
      Tracer.minusUpstream(s("extract"), s("pipeline.read")),
      Tracer.minusUpstream(s("link.extract"), s("extract")),
      s("graph.vertices"), s("graph.edges"), s("graph.validate"), commit)
    val mentions = MentionDetector.detect(spark, enPages, gaz).count()
    val nTriples = triples.count()
    val L = r.layer
    L("pipeline.read_s") = s("pipeline.read")
    L("extract.s") = layers(1)
    L("extract.pages") = enPages.count().toDouble
    L("extract.html_mb") = enPages.select(sum(length(col("html"))))
      .as[Long].head() / 1048576.0
    L("link.s") = layers(2)
    L("link.detect_s") = Tracer.minusUpstream(s("link.detect"), s("extract"))
    L("link.mentions") = mentions.toDouble
    L("link.triples") = nTriples.toDouble
    L("link.triple_yield") = nTriples.toDouble / math.max(1L, mentions)
    L("canon.assign_s") = s("canon.assign")
    L("canon.labels") = triples.select(col("subj").as("l"))
      .union(triples.select(col("obj").as("l"))).distinct().count().toDouble
    L("graph.vertices") = spark.read.parquet(s"$root/vertices").count().toDouble
    L("graph.edges") = spark.read.parquet(s"$root/edges").count().toDouble
    for (g <- Seq("vertices", "edges", "validate")) {
      val c = listener.forSpans(t, s"graph.$g")
      L(s"graph.${g}_s") = s(s"graph.$g")
      L(s"graph.$g.jobs") = c.jobs.toDouble
      L(s"graph.$g.tasks") = c.tasks.toDouble
      L(s"graph.$g.shuffle_mb") = c.shuffleMb
      L(s"graph.$g.spill_mb") = c.spillMb
      L(s"graph.$g.gc_s") = c.gcSeconds
    }
    L("pipeline.commit_s") = commit
    val bytes = Kg.dataBytes(layered, Kg.Stages)
    L("pipeline.bytes_written") = bytes.toDouble
    L("kg.docs_per_s") = Kg.Pages / untracedS
    L("kg.resume_s") = resumeS
    L("kg.stored_bytes_per_doc") = bytes.toDouble / Kg.Pages
    L("kg.layer_sum_ratio") = layers.sum / untracedS
    L("kg.trace_overhead_s") = stages + s("graph.validate") - untracedS
    Tracer.write(ctx, t)
    plain
  }
}
