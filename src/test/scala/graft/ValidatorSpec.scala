package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Edge, Vertex}
import graft.graph.Validator

class ValidatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val okV = Seq(
    Vertex("Drug", 1, "d", Map()), Vertex("Gene", 1, "g", Map())).toDS().toDF()
  private def edge(st: String, sk: Long, dt: String, dk: Long) =
    Edge(st, sk, dt, dk, "Claim", 1, "DRUG_TARGET", 0.5, 1.0, "r",
      "ds", Map.empty, Seq.empty)

  test("valid graph passes") {
    val e = Seq(edge("Drug", 1, "Gene", 1)).toDS().toDF()
    assert(Validator.validate(okV, e).ok)
  }

  test("orphan edge detected (reference validate.py no-orphan invariant)") {
    val e = Seq(edge("Drug", 1, "Gene", 99)).toDS().toDF()
    val r = Validator.validate(okV, e)
    assert(!r.ok && r.orphanEdges == 1)
    intercept[IllegalArgumentException] {
      Validator.validateOrThrow(okV, e)
    }
  }

  test("bad node type and bad key detected") {
    val badV = Seq(Vertex("Potato", 1, "x", Map()),
      Vertex("Drug", 0, "y", Map())).toDS().toDF()
    val r = Validator.validate(badV, Seq.empty[Edge].toDS().toDF())
    assert(r.badNodeTypes == 1 && r.badKeys == 1)
  }

  test("duplicate (type, key) detected") {
    val dupV = Seq(Vertex("Drug", 1, "a", Map()),
      Vertex("Drug", 1, "b", Map())).toDS().toDF()
    val r = Validator.validate(dupV, Seq.empty[Edge].toDS().toDF())
    assert(r.duplicateVertexRows == 1)
  }

  test("validate is one action: every job runs under one SQL execution") {
    val e = Seq(edge("Drug", 1, "Gene", 1), edge("Drug", 1, "Gene", 99))
      .toDS().toDF()
    val (r, jobs) = JobProbe(spark)(Validator.validate(okV, e))
    assert(r.orphanEdges == 1)
    assert(jobs.nonEmpty && jobs.forall(_.isDefined) && jobs.distinct.size == 1,
      s"jobs by SQL execution id: $jobs")
  }
}
