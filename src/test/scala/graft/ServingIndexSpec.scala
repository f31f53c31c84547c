package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Edge, Vertex}
import graft.query.{PathTools, ServingIndex, Tools}

/** S15 serving layer: artifact load, driver-resident store, no Spark job
  * per tool call, bounded-size invariant (reference:src/kg_ae/graph/
  * store.py:44-157 get_store semantics). Answer parity with the
  * distributed tools is [[ServingIndexPropertySpec]]. */
class ServingIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def v(t: String, k: Long, label: String) =
    Vertex(t, k, label, Map("label" -> label))
  private def e(st: String, sk: Long, dt: String, dk: Long, claim: String,
      freq: Double) =
    Edge(st, sk, dt, dk, "Claim", sk * 1000 + dk, claim, 0.5, freq, claim,
      "fixture", Map.empty, Seq.empty)

  private lazy val vertices = Seq(
    v("Drug", 1, "warfarin"), v("Gene", 1, "VKORC1"),
    v("AdverseEvent", 1, "bleeding")).toDS().toDF()
  private lazy val edges = Seq(
    e("Drug", 1, "Gene", 1, "DRUG_TARGET", 1),
    e("Drug", 1, "AdverseEvent", 1, "DRUG_AE", 9)).toDS().toDF()

  test("build: the driver store serves labels and tools") {
    val idx = ServingIndex.build(vertices, edges)
    try {
      assert(idx.nodeLabel("Drug", 1).contains("warfarin"))
      assert(idx.nodeLabel("Gene", 1).contains("VKORC1"))
      assert(idx.nodeLabel("Drug", 99).isEmpty)
      val r = idx.resolve("Drug", "warfarin").collect()
      assert(r.length == 1)
      val n = idx.neighbors("Drug", 1, "AdverseEvent").collect()
      assert(n.length == 1 && n(0).getAs[String]("label") == "bleeding")
      val p = idx.drugProfile(1).collect()
      assert(p.map(_.getAs[String]("section")).toSeq ==
        Seq("drug", "target", "adverse_event"))
    } finally idx.unpersist()
  }

  test("served schemas == the distributed tools' schemas on typed tables") {
    // the case-class tables carry non-nullable keys and scores, unlike
    // parquet reads (covered by ServingIndexPropertySpec)
    val idx = ServingIndex.build(vertices, edges)
    try {
      assert(idx.resolve("Drug", "w").schema ==
        Tools.resolve(vertices, "Drug", "w").schema)
      assert(idx.neighbors("Drug", 1, "Gene").schema ==
        Tools.neighbors(edges, vertices, "Drug", 1, "Gene").schema)
      assert(idx.drugToAePaths(1, 1).schema ==
        PathTools.drugToAePaths(edges, vertices, 1, 1).schema)
      assert(idx.drugDrugInteractions(1, 1).schema ==
        PathTools.drugDrugInteractions(edges, vertices, 1, 1).schema)
      assert(idx.drugProfile(1).schema ==
        PathTools.drugProfile(edges, vertices, 1).schema)
    } finally idx.unpersist()
  }

  test("load: round-trips pipeline-style parquet artifacts") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_serving").toString
    vertices.write.mode("overwrite").parquet(s"$root/vertices")
    edges.write.mode("overwrite").parquet(s"$root/edges")
    val idx = ServingIndex.load(spark, root)
    try {
      assert(idx.nodeLabel("AdverseEvent", 1).contains("bleeding"))
      assert(idx.vertices.count() == 3 && idx.edges.count() == 2)
    } finally idx.unpersist()
  }

  test("loadOrGet: one cached index per artifact root per session") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_serving_once").toString
    vertices.write.mode("overwrite").parquet(s"$root/vertices")
    edges.write.mode("overwrite").parquet(s"$root/edges")
    val a = ServingIndex.loadOrGet(spark, root)
    val b = ServingIndex.loadOrGet(spark, root)
    try {
      // get_store() semantics: the second call must REUSE the first index
      // (same instance — same driver store), not collect a fresh copy per
      // call the way repeated load() would
      assert(a eq b)
      assert(a.nodeLabel("Drug", 1).contains("warfarin"))
    } finally a.unpersist()
    // the unpersisted entry must NOT be served again (its store is
    // released) — the next loadOrGet rebuilds a live index
    val c = ServingIndex.loadOrGet(spark, root)
    try {
      assert(!(c eq a))
      assert(c.isActive && !a.isActive)
      assert(c.nodeLabel("Drug", 1).contains("warfarin"))
    } finally c.unpersist()
  }

  test("after load, a tool call plus collect() submits no Spark job") {
    val idx = ServingIndex.build(vertices, edges)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          job.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("serving-calls", "tool calls")
      val answers = Seq(idx.resolve("Drug", "warf"),
        idx.neighbors("Drug", 1, "AdverseEvent"), idx.drugToAePaths(1, 1),
        idx.drugDrugInteractions(1, 1), idx.drugProfile(1)).map(_.collect())
      assert(answers.map(_.length) == Seq(1, 1, 1, 0, 3))
      // a marker job after the calls: listener events arrive in order, so
      // once the marker is seen every earlier job would have been too
      sc.setJobGroup("serving-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("serving-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("serving-marker"))
      assert(!groups.contains("serving-calls"), s"jobs seen: $groups")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      idx.unpersist()
    }
  }

  test("bounded-vocabulary invariant fails fast, never silently collects") {
    val ex = intercept[IllegalArgumentException] {
      ServingIndex.build(vertices, edges, maxEntries = 2L)
    }
    assert(ex.getMessage.contains("vertex count (3) exceeds the driver store cap"))
  }

  test("bounded-size invariant fails fast on the edge count too") {
    val more = edges.unionByName(edges)
    val ex = intercept[IllegalArgumentException] {
      ServingIndex.build(vertices, more, maxEntries = 3L)
    }
    assert(ex.getMessage.contains("edge count (4) exceeds the driver store cap"))
    ServingIndex.build(vertices, more, maxEntries = 4L).unpersist()
  }

  test("vertices must be unique by (node_type, key)") {
    val ex = intercept[IllegalArgumentException] {
      ServingIndex.build(vertices.unionByName(vertices), edges)
    }
    assert(ex.getMessage.contains("unique by (node_type, key)"))
  }
}
