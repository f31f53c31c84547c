package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Readers

/** Per-scan-shape tests (SURVEY §2.1): deterministic fixture files written
  * to a temp dir, read back through the library readers. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpFile(name: String, content: String): String = {
    val dir = TestSpark.scratch("graft_src")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("S2: header TSV") {
    val p = tmpFile("a.tsv", "id\tname\n1\taspirin\n2\twarfarin\n")
    val df = Readers.csvWithHeader(spark, p)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }

  test("S3: headerless TSV with imposed schema") {
    val p = tmpFile("b.tsv", "1\t0.5\n2\t0.9\n")
    val schema = StructType(Seq(
      StructField("gene_id", LongType), StructField("score", DoubleType)))
    val df = Readers.csvImposedSchema(spark, p, schema)
    assert(df.as[(Long, Double)].collect().toSet == Set((1L, 0.5), (2L, 0.9)))
  }

  test("S4: commented-header TSV skips # lines") {
    val p = tmpFile("c.tsv", "# Fields:\n# gene\tdisease\ng1\td1\ng2\td2\n")
    val schema = StructType(Seq(
      StructField("gene", StringType), StructField("disease", StringType)))
    val df = Readers.csvCommentHeader(spark, p, schema)
    assert(df.count() == 2)
    assert(df.where($"gene" === "g1").count() == 1)
  }

  test("S5: tolerant scan keeps ragged lines; projection prunes") {
    val p = tmpFile("d.tsv", "a\tb\tc\nx\ty\tz\nshort\nlong\t1\t2\textra\n")
    val df = Readers.csvTolerant(spark, p).select("a", "b")
    assert(df.count() == 3) // ragged rows survive PERMISSIVE
  }

  test("S6: gzipped CSV reads transparently") {
    val dir = TestSpark.scratch("graft_gz")
    val p = dir.resolve("e.csv.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    out.write("k,v\n1,a\n2,b\n".getBytes(StandardCharsets.UTF_8))
    out.close()
    val df = Readers.csvGz(spark, p.toString)
    assert(df.count() == 2)
  }

  test("S7: space-separated scan") {
    val p = tmpFile("f.txt", "p1 p2 score\ng1 g2 700\ng1 g3 900\n")
    val df = Readers.spaceSeparated(spark, p)
    assert(df.where($"score" >= 700).count() == 2)
    assert(df.columns.toSeq == Seq("p1", "p2", "score"))
  }

  test("S10: JSONL with corrupt-record capture") {
    val p = tmpFile("g.jsonl",
      """{"id":1,"name":"ok"}
        |NOT JSON AT ALL
        |{"id":2,"name":"fine"}
        |""".stripMargin)
    val df = Readers.jsonl(spark, p).cache()
    assert(df.where($"_corrupt_record".isNull).count() == 2)
    assert(df.where($"_corrupt_record".isNotNull).count() == 1)
  }

  test("S11: nested JSON docs explode + first-of-list extraction") {
    val p = tmpFile("h.json",
      """{"response": {"numFound": 2, "docs": [
        |  {"symbol": "BRCA1", "uniprot_ids": ["P38398", "X0"]},
        |  {"symbol": "TP53",  "uniprot_ids": ["P04637"]}
        |]}}""".stripMargin)
    val df = Readers.nestedJsonDocs(spark, p, "response.docs")
      .select($"symbol", element_at($"uniprot_ids", 1).as("uniprot"))
    assert(df.as[(String, String)].collect().toSet ==
      Set(("BRCA1", "P38398"), ("TP53", "P04637")))
  }

  test("S9: zip-of-JSON explodes members on executors") {
    val dir = TestSpark.scratch("graft_zip")
    val p = dir.resolve("docs.zip")
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    Seq("r1.json" -> """{"results":[{"id":"a"}]}""",
        "r2.json" -> """{"results":[{"id":"b"},{"id":"c"}]}""").foreach {
      case (name, content) =>
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes(StandardCharsets.UTF_8))
        zos.closeEntry()
    }
    zos.close()
    val df = Readers.zipOfJson(spark, p.toString).cache()
    assert(df.count() == 2)
    // downstream parse: from_json + explode (the reference descends results[])
    val ids = df.select(explode(
        from_json($"json",
          StructType(Seq(StructField("results",
            ArrayType(StructType(Seq(StructField("id", StringType))))))))
          .getField("results")).as("r"))
      .select($"r.id").as[String].collect().toSet
    assert(ids == Set("a", "b", "c"))
  }

  test("S13: JSON artifact sink round-trips") {
    val dir = TestSpark.scratch("graft_meta").toString + "/meta"
    Readers.writeJsonArtifact(
      Seq(("edges", 100L), ("vertices", 10L)).toDF("table", "rows"), dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
  }

  // NOTE: this test touches FIXED shared paths under the real /tmp (the
  // legacy root names are a fixed set by definition, so they cannot be
  // made unique per test). It relies on the one-JVM-at-a-time reality of
  // this repo's test runs: sbt's target-dir lock prevents two concurrent
  // sbt instances, and suites run sequentially in the single forked test
  // JVM. If tests are ever parallelized across JVMs, give the janitor an
  // injectable root dir and point this test at a private one.
  test("janitor: reaps dead-owner + legacy roots, keeps live/fresh ones") {
    import java.nio.file.{Files => NFiles, Paths, attribute}
    val tmp = Paths.get("/tmp")
    val old = attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7L * 3600 * 1000)
    def mk(name: String, backdate: Boolean): java.nio.file.Path = {
      val p = tmp.resolve(name)
      NFiles.createDirectories(p)
      NFiles.writeString(p.resolve("x"), "fixture")
      if (backdate) NFiles.setLastModifiedTime(p, old)
      p
    }
    // a pid that is certainly dead (scan down from pid_max territory)
    val deadPid = Iterator.from(4000000, -7)
      .find(p => p > 2 && ProcessHandle.of(p.toLong).isEmpty).get
    val deadOwner = mk(s"graft_sources_$deadPid", backdate = true)
    val legacy = mk("graft_sources", backdate = true) // pre-round-4 fixed root
    val fresh = mk(s"graft_kg_oracle_$deadPid-fresh", backdate = false)
    val ours = mk(s"graft_sources_${ProcessHandle.current().pid()}_t",
      backdate = true) // suffix avoids clobbering the REAL fixture root
    try {
      graft.sources.SourceSynth.cleanStaleRoots(6)
      assert(!NFiles.exists(deadOwner), "dead-owner aged root reaped")
      assert(!NFiles.exists(legacy), "legacy fixed root reaped by age")
      assert(NFiles.exists(fresh), "fresh root survives the age cutoff")
      // `ours` has a dead-ish parse ("t" → no pid) but is prefix-matched
      // and aged: it must be reaped too — only a LIVE owner pid or our own
      // exact pid suffix protects a root
      assert(!NFiles.exists(ours))
    } finally Seq(deadOwner, legacy, fresh, ours)
      .foreach(p => graft.util.Fs.deleteRec(p))
  }

  test("ORC roundtrip preserves types, values, and nulls exactly") {
    val dir = TestSpark.scratch("graft_orc").toString + "/t"
    val src = Seq(
      (1L, Some("a"), Some(1.5), Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))),
      (2L, None, None, None),
      (3L, Some(""), Some(-0.0), Some(java.sql.Timestamp.valueOf("1969-12-31 23:59:59")))
    ).toDF("k", "s", "x", "ts")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // ORC scans surface every column nullable; names/types must round-trip
    assert(back.schema.map(f => (f.name, f.dataType))
      === src.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // pre-epoch timestamp survives (the classic ORC epoch-handling bug)
    val ts3 = back.where(col("k") === 3).select("ts").collect().head
      .getTimestamp(0)
    assert(ts3 === java.sql.Timestamp.valueOf("1969-12-31 23:59:59"))
  }
}
