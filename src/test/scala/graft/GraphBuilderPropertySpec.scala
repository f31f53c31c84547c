package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.KeyAssigner
import graft.graph.GraphBuilder
import graft.graph.GraphBuilder.EvidenceCap
import graft.link.{GazEntry, Gazetteer}
import graft.model.RawTriple
import graft.operators.Cut

/** The one-aggregate [[GraphBuilder.buildEdges]] returns the same rows, in
  * the same schema, as the three-aggregate form it replaced (kept below as
  * the reference: a claim aggregate, a (claim, url) aggregate ranked for
  * the evidence cap, their cut join, and claim keys joined back on the
  * claim string). Random triples lean on the traps — hot claims with more
  * than [[EvidenceCap]] urls over many url-hash buckets and more than it
  * inside one bucket, a (claim, url) repeated with different sentences,
  * endpoints that do not resolve, DRUG_AE subjects with no Drug vertex,
  * ambiguous concatenations ("ab","c" against "a","bc"), inputs over 1
  * and 17 partitions. */
class GraphBuilderPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Labels with a vertex; "zz…" labels and "nodrug" resolve to none. */
  private val gaz = Gazetteer(Seq(
    GazEntry("a", "Drug"), GazEntry("ab", "Drug"), GazEntry("d", "Drug"),
    GazEntry("c", "Gene"), GazEntry("bc", "Gene"), GazEntry("g", "Gene"),
    GazEntry("rash", "AdverseEvent"), GazEntry("gene x", "Gene")))
  private val subjects = Seq("a", "ab", "d", "gene x", "nodrug", "zz")
  private val objects = Seq("c", "bc", "g", "rash", "zz1")
  private val preds = Seq("DRUG_AE", "c", "bc", "DRUG_TARGET")

  private val genTriple: Gen[RawTriple] = for {
    s <- Gen.oneOf(subjects)
    p <- Gen.oneOf(preds)
    o <- Gen.oneOf(objects)
    u <- Gen.choose(0, 30)
    t <- Gen.oneOf("s1", "s2", "s3")
  } yield RawTriple(s, p, o, s"u$u", t)

  /** Sorted urls that fall in two of the 64 url-hash buckets, so a claim
    * holding many of them overflows the cap inside one bucket. */
  private lazy val crowded: Seq[String] =
    spark.range(4000).select(concat(lit("c"), col("id").cast("string")).as("u"))
      .where(pmod(xxhash64(col("u")), lit(64L)) < 2)
      .collect().map(_.getString(0)).sorted.toSeq

  /** A hot claim: more urls than the cap, spread over many buckets, each
    * url repeated with several sentences; plus up to three caps of crowded
    * urls whose sentences fall as the url rises, so the urls the cap drops
    * hold the claim's min sentence. */
  private val genHot: Gen[Seq[RawTriple]] = for {
    s <- Gen.oneOf(subjects)
    p <- Gen.oneOf(preds)
    o <- Gen.oneOf(objects)
    urls <- Gen.choose(EvidenceCap + 1, 4 * EvidenceCap)
    packed <- Gen.choose(0, 3 * EvidenceCap)
    reps <- Gen.choose(1, 3)
  } yield (0 until urls).flatMap(i =>
    (0 until reps).map(r => RawTriple(s, p, o, f"h$i%03d", s"hot $r $i"))) ++
    crowded.take(packed).zipWithIndex.flatMap { case (u, j) =>
      (0 until reps).map(r => RawTriple(s, p, o, u, f"a ${packed - j}%03d $r")) }

  final case class Input(triples: Seq[RawTriple], parts: Int)

  private val genInput: Gen[Input] = for {
    n <- Gen.choose(0, 80)
    cold <- Gen.listOfN(n, genTriple)
    hot <- Gen.frequency(1 -> Gen.const(Nil), 2 -> genHot)
    parts <- Gen.oneOf(1, 17)
  } yield Input(Seq(RawTriple("ab", "c", "g", "u1", "s1"),
    RawTriple("a", "bc", "g", "u1", "s1")) ++ cold ++ hot, parts)

  private def check(prop: Prop): Unit = {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(9L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  /** The three-aggregate claim edges. */
  private def referenceEdges(spark: SparkSession, triples: Dataset[RawTriple],
      vertices: DataFrame): DataFrame = {
    import spark.implicits._
    val stats = triples.toDF()
      .groupBy($"subj", $"pred", $"obj")
      .agg(count(lit(1)).as("frequency"), min($"sentence").as("statement"))
    val w1 = Window.partitionBy($"subj", $"pred", $"obj", $"_b").orderBy($"url")
    val w2 = Window.partitionBy($"subj", $"pred", $"obj").orderBy($"url")
    val evidence = triples.toDF()
      .groupBy($"subj", $"pred", $"obj", $"url")
      .agg(min($"sentence").as("ev_sentence"))
      .withColumn("_b", pmod(xxhash64($"url"), lit(64L)))
      .withColumn("_rn1", row_number().over(w1))
      .where($"_rn1" <= EvidenceCap)
      .withColumn("_rn", row_number().over(w2))
      .where($"_rn" <= EvidenceCap)
      .groupBy($"subj", $"pred", $"obj")
      .agg(sort_array(collect_list(struct($"url", $"ev_sentence")))
        .as("evidence_items"))
    val claims = stats.join(evidence, Seq("subj", "pred", "obj"))
      .withColumn("strength_score",
        least(lit(1.0), col("frequency").cast("double") / 10.0))
      .transform(Cut.large)
    val claimKeys = KeyAssigner.assign(
      claims.select(concat_ws("\u0001", $"subj", $"pred", $"obj").as("ck")), "ck")
      .withColumnRenamed("key", "claim_key")
    val withClaimKey = claims
      .withColumn("ck", concat_ws("\u0001", $"subj", $"pred", $"obj"))
      .join(claimKeys, "ck")
      .drop("ck")
    val vk = vertices.select($"node_type", $"label", $"key")
    val src = vk.select($"node_type".as("src_type"), $"label".as("subj"),
      $"key".as("src_key"))
    val dst = vk.select($"node_type".as("dst_type"), $"label".as("obj"),
      $"key".as("dst_key"))
    withClaimKey.join(src, Seq("subj")).join(dst, Seq("obj"))
      .select(
        $"src_type", $"src_key", $"dst_type", $"dst_key",
        lit("Claim").as("edge"),
        $"claim_key",
        $"pred".as("claim_type"),
        $"strength_score",
        $"frequency".cast("double").as("frequency"),
        $"pred".as("relation"),
        lit("synthetic_web").as("dataset"),
        map(lit("statement"), $"statement").as("meta"),
        transform($"evidence_items", e => struct(
          lit("page").as("evidence_type"),
          e.getField("url").as("source_record_id"),
          e.getField("url").as("source_url"),
          lit("synthetic_web").as("dataset"),
          map(lit("sentence"), e.getField("ev_sentence")).as("payload")))
          .as("evidence"))
  }

  /** Rows as strings, maps and arrays through `to_json` (evidence order
    * included). */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.map { c =>
      if (c == "meta" || c == "evidence") to_json(col(c)).as(c) else col(c)
    }: _*).collect().map(_.toString).sorted.toSeq

  test("one-aggregate claim edges == the three-aggregate reference") {
    import spark.implicits._
    check(Prop.forAll(genInput) { in =>
      val triples = in.triples.toDS().repartition(in.parts)
      val v = GraphBuilder.buildVertices(spark, triples, gaz)
      val got = GraphBuilder.buildEdges(spark, triples, v, gaz)
        .unionByName(GraphBuilder.buildLabelEdges(spark, triples, v))
      val want = referenceEdges(spark, triples, v)
        .unionByName(GraphBuilder.buildLabelEdges(spark, triples, v))
      val (g, w) = (rows(got), rows(want))
      Prop(got.schema == want.schema) :| s"schema ${got.schema} vs ${want.schema}" &&
        Prop(g == w) :| s"got ${g.diff(w).take(3)}, want ${w.diff(g).take(3)}"
    })
  }

  test("claim_key is the rank of every claim in its chr(1)-joined order") {
    import spark.implicits._
    check(Prop.forAll(genInput) { in =>
      val triples = in.triples.toDS().repartition(in.parts)
      // every endpoint resolves: vertices for every label seen
      val all = Gazetteer((subjects ++ objects).map(GazEntry(_, "Gene")))
      val v = GraphBuilder.buildVertices(spark, triples, all)
      val got = GraphBuilder.buildEdges(spark, triples, v, all)
        .select($"claim_key", $"claim_type", $"src_key", $"dst_key")
        .as[(Long, String, Long, Long)].collect()
      val label = v.select($"key", $"label").as[(Long, String)].collect().toMap
      val ranked = in.triples.map(t => Seq(t.subj, t.pred, t.obj).mkString("\u0001"))
        .distinct.sorted.zipWithIndex.map { case (ck, i) => ck -> (i + 1L) }.toMap
      val want = got.map { case (_, p, s, o) =>
        ranked(Seq(label(s), p, label(o)).mkString("\u0001")) }
      Prop(got.map(_._1).toSeq == want.toSeq && got.length == ranked.size) :|
        s"keys ${got.map(_._1).sorted.toSeq}, want ${want.sorted.toSeq}"
    })
  }
}
