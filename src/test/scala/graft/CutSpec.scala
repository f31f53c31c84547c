package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkEnv, SparkException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{Average,
  CentralMomentAgg, Covariance, PearsonCorrelation, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.LocalGraph
import graft.operators.{Cut, Spread}

/** The cut and spread contracts of [[graft.operators.Cut]]:
  *   - `Cut.small` fails over its bound, naming both numbers, and costs the
  *     Spark jobs of an eager `localCheckpoint`; so does `LocalGraph.cut`,
  *     whose size gate reads the cut in the materializing job;
  *   - a cut's consumers never re-run the plan below it, and a lost cut
  *     block fails the next read instead of recomputing;
  *   - no catalog query that spreads rows round-robin sums floating-point
  *     values, averages or takes moments above the spread. */
class CutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** `n` rows of `(k, count)`, grouped from `4n` input rows: a plan with
    * a shuffle below the cut. */
  private def grouped(n: Int): DataFrame =
    spark.range(0, 4L * n, 1, 4).groupBy((col("id") % n).as("k")).count()

  private def jobs(body: => Any): Int = JobProbe(spark)(body)._2.size

  test("Cut.small passes at its bound and fails over it with both numbers") {
    assert(Cut.small(10)(grouped(10)).count() == 10)
    val e = intercept[IllegalStateException](Cut.small(10)(grouped(11)))
    assert(e.getMessage.contains("11") && e.getMessage.contains("10"),
      e.getMessage)
  }

  test("Cut.small and LocalGraph.cut cost the jobs of an eager cut") {
    val eager = jobs(grouped(50).localCheckpoint(true))
    assert(eager >= 2, s"an eager cut of a shuffled plan took $eager jobs")
    assert(jobs(Cut.small(50)(grouped(50))) == eager)
    assert(jobs(Cut.large(grouped(50))) == eager)
    val edges = grouped(50).select(col("k").as("src"), col("count").as("dst"))
    assert(jobs(LocalGraph.cut(edges)) == eager)
    assert(LocalGraph.cut(edges)._2.map(_.length).contains(50))
  }

  test("consumers of a cut never re-run the plan below it") {
    val evals = spark.sparkContext.longAccumulator("evals")
    val touch = udf((x: Long) => { evals.add(1); x })
    val plan = spark.range(0, 400, 1, 4)
      .groupBy((touch(col("id")) % 25).as("k")).count()
    val c = Cut.small(25)(plan)
    assert(evals.sum == 400)
    assert(c.count() == 25)
    assert(c.agg(sum("count")).head().getLong(0) == 400)
    assert(evals.sum == 400, "a consumer re-ran the aggregate below the cut")
  }

  /** The checkpointed RDD behind a cut frame. */
  private def cutRdd(df: DataFrame) = df.queryExecution.analyzed
    .collectFirst { case r: LogicalRDD => r.rdd }
    .getOrElse(fail("no LogicalRDD under the cut"))

  test("a lost cut block fails the read; it is never recomputed") {
    def lose(name: String, cut: DataFrame => DataFrame): Unit = {
      val evals = spark.sparkContext.longAccumulator(name)
      val touch = udf((x: Long) => { evals.add(1); x })
      val c = cut(spark.range(0, 400, 1, 4)
        .groupBy((touch(col("id")) % 25).as("k")).count())
      assert(c.count() == 25)
      val before = evals.sum
      SparkEnv.get.blockManager.master.removeRdd(cutRdd(c).id, blocking = true)
      val e = intercept[SparkException](c.collect())
      assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
        s"$name: ${e.getMessage}")
      assert(evals.sum == before, s"$name: the plan below the cut re-ran")
    }
    lose("small", Cut.small(25))
    lose("large", Cut.large)
    lose("LocalGraph.cut", df => LocalGraph.cut(
      df.select(col("k").as("src"), col("count").as("dst")))._1)
  }

  /** A round-robin spread: `Spread.orderFree`'s `repartition(n)`. */
  private def isSpread(p: LogicalPlan): Boolean = p match {
    case r: Repartition => r.shuffle
    case _ => false
  }

  /** An aggregate whose result depends on the order of its inputs. */
  private def orderDependent(e: Expression): Boolean = e.exists {
    case s: Sum => s.child.dataType == DoubleType ||
      s.child.dataType == FloatType
    case _: Average | _: CentralMomentAgg | _: Covariance |
      _: PearsonCorrelation => true
    case _ => false
  }

  /** Runs `build`; returns its optimized plan and the plans of the cuts it
    * made, with every cut leaf replaced by the plan it was cut from, so a
    * spread below a cut is still below the cut's consumers. A cut's plan is
    * found through the listener: the cut's leaf keeps the output
    * attributes of the frame it was cut from. */
  private def stitchedPlans(build: => DataFrame): Seq[LogicalPlan] = {
    val cuts = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") cuts.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      val df = JobProbe(spark)(build)._1 // the marker job flushes the bus
      df.queryExecution.optimizedPlan
    } finally spark.listenerManager.unregister(listener)
    def ids(p: LogicalPlan) = p.output.map(_.exprId)
    // a cut of a cut keeps its output attributes: expand each once
    val byOutput = cuts.asScala.filterNot(_.isInstanceOf[LogicalRDD])
      .map(p => ids(p) -> p).toMap
    def stitch(p: LogicalPlan, seen: Set[Any]): LogicalPlan = p.transformUp {
      case r: LogicalRDD if byOutput.contains(ids(r)) && !seen(ids(r)) =>
        stitch(byOutput(ids(r)), seen + ids(r))
    }
    (plan +: cuts.asScala.toSeq).map(stitch(_, Set.empty))
  }

  /** Nodes above a round-robin spread that hold an order-dependent
    * aggregate. */
  private def offenders(plans: Seq[LogicalPlan]): Seq[String] =
    plans.flatMap(_.collect {
      case n if n.expressions.exists(orderDependent) &&
          n.children.exists(_.exists(isSpread)) => n.simpleString(200)
    }).distinct

  test("a spread below a floating-point sum or an avg is caught") {
    val x = spark.range(0, 100, 1, 2).select(col("id").cast("double").as("x"))
    assert(offenders(stitchedPlans(
      x.transform(Spread.orderFree).agg(sum("x")))).nonEmpty)
    assert(offenders(stitchedPlans(spark.range(100).toDF()
      .transform(Spread.orderFree).agg(avg("id")))).nonEmpty)
    assert(offenders(stitchedPlans(Cut.large(x.transform(Spread.orderFree))
      .agg(stddev("x")))).nonEmpty, "the check must see below a cut")
    assert(offenders(stitchedPlans(spark.range(100).toDF()
      .transform(Spread.orderFree).agg(sum("id")))).isEmpty)
  }

  /** Every catalog query that reaches `Spread.orderFree`. */
  val spreading = Seq("q23_shared_parts", "q26_minhash_dedup",
    "q30_connected_components", "q34_ngram_jaccard", "q35_simhash",
    "q50_image_decode", "q75_video_decode", "q83_repetition",
    "q86_decontam", "q128_frequent_pairs", "q142_cms", "q147_adamic_adar",
    "q148_containment", "q155_item_cosine", "q162_npmi",
    "q193_apriori_triples", "q202_hard_negatives", "q223_bootstrap_se",
    "q224_permutation_test", "q313_rule_metrics")

  spreading.foreach { name =>
    test(s"$name: no order-dependent aggregate above its spread") {
      val plans = stitchedPlans(SparkEntry.queries(name)(spark, sf))
      assert(plans.exists(_.exists(isSpread)), s"$name has no spread")
      val bad = offenders(plans)
      assert(bad.isEmpty, s"$name:\n${bad.mkString("\n")}")
    }
  }
}
