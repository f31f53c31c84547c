package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the optimizations the 100 TB design relies on
  * must actually appear in the executed plans — filter pushdown to the
  * parquet scan, partition pruning on the hive-partitioned edges table,
  * broadcast joins for dimension sides, WholeStageCodegen on scan paths.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown reaches the parquet scan (q02)") {
    val plan = planOf(SparkEntry.queries("q02_filter_project")(spark, sf))
    assert(plan.contains("PushedFilters:"), plan.take(800))
    assert(plan.contains("EqualTo(l_returnflag,R)")
      || plan.contains("l_returnflag"), plan.take(800))
  }

  test("column pruning: scan reads only projected columns (q02)") {
    val plan = planOf(SparkEntry.queries("q02_filter_project")(spark, sf))
    // ReadSchema must not include unprojected wide columns
    assert(!plan.contains("l_extendedprice") || !plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey"),
      "scan should not read unused columns")
  }

  test("dimension joins broadcast (q04, q41)") {
    val p4 = planOf(SparkEntry.queries("q04_left_join_enrich")(spark, sf))
    assert(p4.contains("BroadcastHashJoin") || p4.contains("BroadcastExchange"),
      p4.take(500))
    val p41 = planOf(SparkEntry.queries("q41_double_decode")(spark, sf))
    assert(p41.contains("BroadcastHashJoin"), p41.take(500))
  }

  test("WholeStageCodegen covers the scan+project hot path (q15)") {
    val plan = planOf(SparkEntry.queries("q15_text_clean")(spark, sf))
    // executedPlan.toString marks codegen stages with a '*(n)' prefix
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      plan.take(500))
  }

  test("hive-partitioned edges table prunes partitions on claim_type") {
    val root = TestSpark.scratch("graft_prune").toString
    graft.pipeline.Pipeline.run(spark, root, nPages = 150, partitions = 4)
    val edges = spark.read.parquet(s"$root/edges")
    val filtered = edges.where(col("claim_type") === "DRUG_AE")
    val plan = planOf(filtered)
    assert(plan.contains("PartitionFilters:") &&
      plan.contains("claim_type"), plan.take(1000))
    // pruning must actually reduce the partition count read
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scan.exists(_.selectedPartitions.partitionCount == 1),
      s"expected 1 pruned partition, got ${scan.map(_.selectedPartitions.partitionCount)}")
  }

  test("label-section explode prunes edge partitions through the tool") {
    // allDrugLabelSections filters claim_type === DRUG_LABEL before the
    // double explode — at rest the edges table is hive-partitioned on
    // claim_type, so the serving-path scan must read exactly one partition
    // even though the consumer is an explode, not a plain projection.
    val root = TestSpark.scratch("graft_prune2").toString
    graft.pipeline.Pipeline.run(spark, root, nPages = 150, partitions = 4)
    val sections = graft.query.PathTools.allDrugLabelSections(
      spark.read.parquet(s"$root/edges"))
    val scan = sections.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scan.exists(_.selectedPartitions.partitionCount == 1),
      s"expected 1 pruned partition, got ${scan.map(_.selectedPartitions.partitionCount)}")
  }

  test("disproportionality margin joins carry no static broadcast hints") {
    // margins are vocabulary-proportional — an open web-scale exposure
    // vocabulary can exceed broadcast limits, so the stats path must leave
    // the join strategy to AQE (no compile-time hint), the same policy the
    // KG build follows (KgPipelineSpec scale guard).
    val pairs = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey").as("exposure"),
        col("l_returnflag").as("outcome"))
    val sig = graft.stats.Disproportionality.signals(pairs, "exposure",
      "outcome")
    val plans = Seq(sig.queryExecution.analyzed.toString,
      sig.queryExecution.optimizedPlan.toString)
    plans.foreach(p =>
      assert(!p.toLowerCase.contains("broadcast"), p.take(500)))
  }

  test("ANN broadcast policy: equi paths hint-free, non-equi brute force hinted") {
    // batched-query paths (LSH/IVF) join on EQUI keys — AQE picks
    // broadcast at runtime when a side fits, so compile-time hints are
    // banned (same policy as the stats margins and the KG build). Brute
    // force is the opposite by documented contract: its join is NON-equi,
    // where a hintless plan can degrade to CartesianProduct that AQE
    // cannot re-plan — the small-query-set broadcast hint must be there.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 4)
    Seq(
      graft.similarity.Ann.lshTopK(emb, queries, "vec_id", "embedding",
        k = 3),
      graft.similarity.Ann.ivfTopK(emb, queries, "vec_id", "embedding",
        k = 3)).foreach { df =>
      val plans = Seq(df.queryExecution.analyzed.toString,
        df.queryExecution.optimizedPlan.toString)
      plans.foreach(p =>
        assert(!p.toLowerCase.contains("broadcast"), p.take(500)))
    }
    val bf = graft.similarity.Ann.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k = 3)
    val bfPlan = bf.queryExecution.executedPlan.toString
    assert(bfPlan.contains("BroadcastNestedLoopJoin"), bfPlan.take(800))
    assert(!bfPlan.contains("CartesianProduct"), bfPlan.take(800))
  }

  test("disproportionality: one fact scan, margins from the pair aggregate") {
    // margins + N must derive from the CUT pair-count aggregate — its four
    // consumers carry different pushed null-filters, so exchange reuse
    // can't share them and an uncut plan would scan the fact table four
    // times. And N must come from a cross-joined 1-row aggregate, NOT an
    // eager driver count(): the old count() planted the materialized
    // total as an integer LITERAL aliased to n, so its absence from the
    // optimized plan is a deterministic proxy for "no driver-side count".
    val pairs = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_suppkey").as("exposure"),
        col("l_returnflag").as("outcome"))
    val sig = graft.stats.Disproportionality.signals(pairs, "exposure",
      "outcome")
    val optimized = sig.queryExecution.optimizedPlan.toString
    assert(!"\\b\\d+ AS n\\b".r.findFirstIn(optimized).isDefined,
      "n must be an aggregate output, not an eagerly-counted literal:\n" +
        optimized.take(1000))
    assert(optimized.contains("sum(a"), optimized.take(1000))
    // every leaf, in the plain and the salted two-phase path, is a read
    // of the one cut RDD: no scan of the fact parquet, ≥4 cut reads
    val salted = graft.stats.Disproportionality.signals(pairs, "exposure",
      "outcome", saltBuckets = 8)
    for (df <- Seq(sig, salted)) {
      val plan = df.queryExecution.optimizedPlan
      val leaves = plan.collectLeaves()
      val rdds = leaves.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(rdds.size == leaves.size && rdds.size >= 4 &&
        rdds.distinct.size == 1, plan.toString.take(1500))
    }
  }

  test("ordered limits compile to TakeOrderedAndProject, not a global sort (q79)") {
    // orderBy().limit(k) must plan as per-partition top-k + driver merge —
    // a 100 TB path frame would die on a single-partition global sort
    val plan = planOf(SparkEntry.queries("q79_condition_boost")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // the faersSignals tool (q80) ends in the same PRR-desc top-k shape
    val plan80 = planOf(SparkEntry.queries("q80_faers_tool")(spark, sf))
    assert(plan80.contains("TakeOrderedAndProject"), plan80.take(800))
  }

  test("aggregations use partial (map-side) aggregation (q01)") {
    val plan = planOf(SparkEntry.queries("q01_agg_pricing")(spark, sf))
    // HashAggregate appears twice around the exchange: partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
  }

  test("unigram-LM scoring: vocab model broadcasts, doc agg is partial (q90)") {
    val plan = planOf(SparkEntry.queries("q90_unigram_lm")(spark, sf))
    // the token→count model must attach map-side (vocab is the dimension
    // side; with it broadcast, a doc's token rows never move before the
    // per-doc partial aggregation collapses them to one row)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(800))
  }

  test("PageRank iterations stay constant-depth via lineage cuts (q94)") {
    // each iteration ends in a localCheckpoint: the executed plan of the
    // final ranks must start from the checkpointed RDD scan, not replay
    // three joins deep — at web-graph scale an uncut 10-iteration lineage
    // re-executes every prior shuffle on each action
    val plan = planOf(SparkEntry.queries("q94_pagerank")(spark, sf))
    assert(plan.contains("Scan ExistingRDD"), plan.take(800))
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).isEmpty,
      "the returned ranks must read the checkpointed result, not replay " +
        "the iteration joins:\n" + plan.take(1200))
  }

  test("native runtime Bloom filter injects on a selective shuffle join") {
    // Catalyst's InjectRuntimeFilter is the engine-native form of the
    // portable Bloom-pruned semi-join (q134 / operators/BloomSemiJoin):
    // on a cluster-sized plan (thresholds lowered here to simulate one)
    // a selective build side plants might_contain(bloom_filter_agg(...))
    // on the probe side's scan, dropping rows BEFORE the shuffle. Pinned
    // so a Spark upgrade or a stray conf default can't silently disable
    // the scale path this library's join guidance assumes.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "1B",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(sf + "/lineitem.parquet")
      val o = spark.read.parquet(sf + "/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") &&
        opt.contains("bloom_filter_agg"), opt.take(1500))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("decision-stump winner is a bounded TakeOrdered, not a global sort (q233)") {
    // the split search ranks one candidate row per distinct value —
    // row-scale at web size, so the argmax must be a bounded heap
    val plan = planOf(SparkEntry.queries("q233_decision_stump")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("GlobalLimit"), plan.take(800))
  }

  test("resampling fan-outs partial-aggregate map-side (q223, q224)") {
    // the bootstrap/permutation explode(×B) must collapse to 2B
    // counters per partition BEFORE the shuffle — a final-only
    // aggregate would ship B copies of the fact table
    Seq("q223_bootstrap_se", "q224_permutation_test").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$q should partial-aggregate:\n" + plan.take(800))
      assert(!plan.contains("CartesianProduct"),
        s"$q must not cartesian:\n" + plan.take(800))
    }
  }

  test("inference attach joins broadcast their 1-row/k-row sides (q216, q226)") {
    Seq("q216_psi", "q226_eb_shrinkage").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("BroadcastExchange")
        || plan.contains("BroadcastNestedLoopJoin"),
        s"$q should broadcast the tiny side:\n" + plan.take(800))
    }
  }
}
