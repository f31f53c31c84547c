package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one JVM for tests),
  * and the fixture directories they write. */
object TestSpark {
  lazy val spark: SparkSession = {
    root // registers the cleanup hook before any spec writes a fixture
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** This JVM's fixture root. A shutdown hook deletes it together with the
    * per-pid fixture roots the catalog writes in this JVM
    * ([[graft.sources.SourceSynth.Dir]], the KG oracle roots). */
  lazy val root: Path = {
    val pid = ProcessHandle.current().pid()
    val r = Files.createDirectories(Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_test_$pid"))
    sys.addShutdownHook {
      Seq(r.toString, graft.sources.SourceSynth.Dir,
        graft.queries.Advanced.KgRoot, graft.queries.Advanced.CdcRoot)
        .foreach(p => graft.util.Fs.deleteRec(Paths.get(p)))
    }
    r
  }

  /** A fresh directory under [[root]]. */
  def scratch(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
