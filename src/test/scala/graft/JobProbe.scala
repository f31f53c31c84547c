package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code submits, seen through a SparkListener. */
object JobProbe {

  /** Runs `body` in its own job group; returns its result and, per job the
    * block submitted, the SQL execution id it ran under (None outside any
    * SQL execution). A marker job after the block flushes the listener
    * bus: events arrive in order, so once the marker is seen every earlier
    * job has been too. */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val group = s"probe-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        val props = Option(job.properties)
        seen.add((props.map(_.getProperty("spark.jobGroup.id")).orNull,
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))))
      }
    }
    def markerSeen = seen.asScala.exists(_._1 == marker)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probed block")
      val out = body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the listener never saw the marker job")
      (out, seen.asScala.collect { case (`group`, id) => id }.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
