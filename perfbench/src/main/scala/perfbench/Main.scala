package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Everything a workload run needs. `work` is a scratch directory the run
  * owns, `traceDir` where traced runs write their spans, `benchDir` the
  * benchmark's own directory and `spec` the parsed BENCHMARK.json. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: Path, traceDir: Path, benchDir: Path,
    spec: JsonNode) {
  val cores: Int = spark.sparkContext.defaultParallelism
}

/** What a workload run found. Failures mark the run incorrect and are
  * listed on stderr; `e2e` and `layer` hold metric values by name. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  private def fail(msg: String): Unit = {
    problems += msg
    Main.log(s"check failed: $msg")
  }

  /** Runs one op; an exception counts it as attempted and failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** Records that `n` ops failed a check after they ran. */
  def failOps(n: Long, msg: String): Unit = { failed += n; fail(msg) }

  def correct: Boolean = problems.isEmpty
}

object Main {

  val Workloads: Map[String, Ctx => Report] = Map(
    "kg" -> Kg.run,
    "catalog" -> Catalog.run)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs a plan to completion without writing anything. */
  def noop(ds: Dataset[_]): Unit =
    ds.write.mode("overwrite").format("noop").save()

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs to stderr with the seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f] $msg")

  /** Peak resident set of this JVM (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The metric lines of the result, with their units from the spec:
    * what the run measured, and 0 for each per-layer metric the workload
    * does not exercise. run.py checks the line against the spec. */
  def metrics(spec: JsonNode, trace: Boolean, r: Report): Seq[(String, Metric)] = {
    val (key, got) = if (trace) ("per_layer", r.layer) else ("end_to_end", r.e2e)
    val units = spec.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
    val unexercised = if (trace) units.keys.filterNot(got.contains) else Nil
    (got.toSeq ++ unexercised.map(_ -> 0.0)).map { case (name, v) =>
      name -> Metric(v, units.getOrElse(name, "")) }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}"))
    val benchDir = Paths.get(opts("--bench-dir"))
    val spec = new ObjectMapper().readTree(
      Files.readString(Paths.get(opts("--spec"))))
    val work = Paths.get(opts("--work"))
    Files.createDirectories(work)
    val spark = session()
    log(s"session ready; workload $workload")
    var code = 1
    try {
      val ctx = Ctx(spark, opts("--seed").toLong, opts("--seconds").toDouble,
        opts("--trace") == "1", work, Paths.get(opts("--trace-dir")), benchDir,
        spec)
      val report = run(ctx)
      if (!ctx.trace) report.e2e("peak_rss_mb") = peakRssMb()
      val out = Outcome(report.correct, report.attempted, report.failed,
        metrics(spec, ctx.trace, report))
      println(out.line)
      code = 0
    } catch { case t: Throwable =>
      t.printStackTrace()
    } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }
}
