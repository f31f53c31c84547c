package perfbench

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String = graft.util.Jsons.str(s)

  /** A measured number with all its digits. */
  def num(d: Double): String = {
    require(java.lang.Double.isFinite(d), s"non-finite metric value $d")
    java.lang.Double.toString(d)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run reports. `metrics` holds the end-to-end metrics
  * of an untraced run or the per-layer metrics of a traced run. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)]) {
  def line: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })))
}
