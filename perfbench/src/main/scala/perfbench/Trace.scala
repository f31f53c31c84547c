package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for a root); spans of one workload run share
  * `traceId`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, traceId: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once at the end of a run. Each span
  * also names the Spark job group of the work it covers, so the
  * [[JobGroupListener]] counters attribute to it. */
final class Tracer(sc: SparkContext, val traceId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack = List.empty[Int]

  /** Runs `body` as span `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    stack = id :: stack
    sc.setJobGroup(Tracer.group(name, id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (outer == null) sc.clearJobGroup()
      else sc.setJobGroup(outer, outer, interruptOnCancel = false)
      done += Span(id, parent, traceId, name, t0, t1)
    }
  }

  def byName(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Duration of the one span called `name`. */
  def seconds(name: String): Double = byName(name) match {
    case Seq(s) => s.seconds
    case other => sys.error(s"expected one span '$name', found ${other.size}")
  }

  /** JSON lines, one span per line. */
  def jsonLines: Seq[String] = done.sortBy(_.id).map { s =>
    Json.obj(Seq("trace_id" -> Json.str(s.traceId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
  }.toSeq
}

object Tracer {
  /** Writes the spans of a run, one JSON object per line. */
  def write(ctx: Ctx, t: Tracer): Unit = {
    java.nio.file.Files.createDirectories(ctx.traceDir)
    val f = ctx.traceDir.resolve(s"${t.traceId}.jsonl")
    java.nio.file.Files.write(f, t.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Main.log(s"spans written to $f")
  }

  /** Job group of span `id` — the key counters are attributed under. */
  def group(name: String, id: Int): String = s"$name#$id"

  /** Self time of a span that re-runs the work of an upstream span on the
    * same input (a noop-forced layer whose plan contains the upstream
    * layer): its duration minus the upstream's, never below zero. */
  def minusUpstream(span: Double, upstream: Double): Double =
    math.max(0.0, span - upstream)
}

/** Spark work attributed to one job group. */
final case class Counters(jobs: Int = 0, tasks: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0, gcMs: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, gcMs + o.gcMs)
  def shuffleMb: Double = shuffleBytes / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  def gcSeconds: Double = gcMs / 1000.0
}

/** Listener events reduced to what attribution needs. */
sealed trait Event
final case class JobStarted(jobId: Int, group: Option[String],
    stageIds: Seq[Int]) extends Event
final case class StageDone(stageId: Int, work: Counters) extends Event

object Attribution {
  /** Folds events into counters per job group. A stage counts toward the
    * group of the first job that listed it; stages and jobs outside any
    * group are dropped. */
  def fold(events: Seq[Event]): Map[String, Counters] = {
    val stageGroup = mutable.Map.empty[Int, String]
    val out = mutable.Map.empty[String, Counters].withDefaultValue(Counters())
    events.foreach {
      case JobStarted(_, Some(g), stages) =>
        out(g) = out(g) + Counters(jobs = 1)
        stages.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
      case JobStarted(_, None, _) =>
      case StageDone(s, w) =>
        stageGroup.get(s).foreach(g => out(g) = out(g) + w)
    }
    out.toMap
  }
}

/** Records job and stage events; [[counters]] attributes them to job
  * groups after draining the listener bus. */
final class JobGroupListener(sc: SparkContext) extends SparkListener {
  private val events = mutable.ArrayBuffer.empty[Event]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    events += JobStarted(e.jobId, g, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val w =
        if (m == null) Counters(tasks = si.numTasks)
        else Counters(tasks = si.numTasks,
          shuffleBytes = m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          gcMs = m.jvmGCTime)
      events += StageDone(si.stageId, w)
    }

  def counters(): Map[String, Counters] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(Attribution.fold(events.toSeq))
  }

  /** Counters of every span called `name` (summed). */
  def forSpans(tracer: Tracer, name: String): Counters = {
    val all = counters()
    tracer.byName(name).map(s => all.getOrElse(Tracer.group(s.name, s.id),
      Counters())).foldLeft(Counters())(_ + _)
  }
}
