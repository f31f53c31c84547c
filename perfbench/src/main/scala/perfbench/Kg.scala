package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.PageSynth
import graft.pipeline.Pipeline

/** The kg workload: [[KgBuild]] builds the seeded graph, then [[KgServe]]
  * serves it. Also the corpus and artifact-root helpers both halves use. */
object Kg {

  def run(ctx: Ctx): Report = {
    val r = new Report
    val root = if (ctx.trace) KgBuild.traced(ctx, r) else KgBuild.untraced(ctx, r)
    KgServe.serve(ctx, r, root)
    r
  }

  /** Pages per corpus. The planted skew (a hot drug in ~30% of
    * relation sentences), 10% boilerplate, 5% oversized and 20% non-en
    * pages are properties of every page range. */
  val Pages = 2000L

  /** The stage tables `Pipeline.run` commits after `pages`. */
  val Stages = Seq("triples", "vertices", "edges")

  /** First page index of a seed's corpus: seeds select disjoint ranges. */
  def offset(seed: Long): Long = Math.floorMod(seed, 100000L) * 10000L

  def pages(spark: SparkSession, off: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(off, off + n, 1, parts).map(i => PageSynth.page(i)).toDF()
  }

  /** Commits the seeded pages table into `root` exactly as `Pipeline.run`
    * fingerprints its own pages stage, so the run takes it as committed
    * input. Returns the commit's wall seconds. */
  def commitPages(spark: SparkSession, root: Path, off: Long, n: Long,
      parts: Int): Double = {
    Files.createDirectories(root)
    Main.time(Pipeline.runStage(spark, root.toString, "pages",
      Pipeline.CodeVersion, s"n=$n")(pages(spark, off, n, parts)))._2
  }

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sorted
      finally s.close()
    }

  /** Bytes of the data files (not markers, manifests or checksums) of
    * the given stage tables. */
  def dataBytes(root: Path, stages: Seq[String]): Long =
    stages.flatMap(s => files(root.resolve(s)))
      .filterNot { p => val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_") }
      .map(Files.size).sum

  /** Content digest of every file of the given stage tables, by path. */
  def digest(root: Path, stages: Seq[String]): Map[String, String] =
    stages.flatMap(s => files(root.resolve(s))).map { p =>
      val md = MessageDigest.getInstance("SHA-256")
      root.relativize(p).toString ->
        md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap

  /** Page indices of the seeded check sample. */
  def sample(seed: Long, off: Long, n: Long, k: Int): Seq[Long] =
    (0 until k).map(j =>
      off + Math.floorMod(PageSynth.splitmix64(seed * 7919L + j), n)).distinct
}
