package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.streaming.StreamOps

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCount / subwordCount / meanTokenLen") {
    val df = Seq("one two three", "", "  ", "a b", "hello, world42")
      .toDF("t")
    val got = df.select(
      TextFunctions.tokenCount(col("t")).as("n"),
      TextFunctions.subwordCount(col("t")).as("sw"),
      TextFunctions.meanTokenLen(col("t")).as("ml"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(got(0) == ((3, 3, 11.0 / 3)))
    assert(got(1)._1 == 0 && got(2)._1 == 0)
    assert(got(3) == ((2, 2, 1.0)))
    assert(got(4)._2 == 4) // hello , world 42
  }

  test("tokenCount / meanTokenLen honor the pinned ws class (tabs/newlines)") {
    // built-in trim() strips only ' ' — these would miscount under the old
    // trim+split-on-spaces version (TextExtractor.WsClass is the contract)
    val df = Seq("a\tbb\ncc", "\t \n", "x y\f z\r", " lone\t")
      .toDF("t")
    val got = df.select(
      TextFunctions.tokenCount(col("t")).as("n"),
      TextFunctions.meanTokenLen(col("t")).as("ml"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got(0) == ((3, 5.0 / 3)))
    assert(got(1) == ((0, 0.0)))
    assert(got(2) == ((3, 1.0)))
    assert(got(3) == ((1, 4.0)))
    // fingerprint hashes the SAME token sequence the stats describe:
    // space- vs tab-separated docs with identical tokens now agree
    val fp = Seq("a bb cc", "a\tbb\ncc", "a bbcc")
      .toDF("t").select(TextFunctions.fingerprint(col("t")))
      .as[Long].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
    // and subwordCount does not count ws-class chars as punctuation
    val sw = Seq("a b", "a\tb", "a.b").toDF("t")
      .select(TextFunctions.subwordCount(col("t"))).as[Int].collect()
    assert(sw.toSeq == Seq(2, 2, 3))
  }

  test("langId picks the densest stopword family") {
    val df = Seq(
      "the cat is in the house and that is fine",
      "el perro y la casa de los vecinos en madrid",
      "der hund und die katze ist nicht von mir",
      "zzz qqq xxx").toDF("t")
    val got = df.select(TextFunctions.langId(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "de", "und"))
  }

  test("fingerprint: deterministic, order-sensitive, stable across runs") {
    val df = Seq("a b c", "c b a", "a b c").toDF("t")
    val got = df.select(TextFunctions.fingerprint(col("t"))).as[Long].collect()
    assert(got(0) == got(2))
    assert(got(0) != got(1)) // order matters
    val again = df.select(TextFunctions.fingerprint(col("t"))).as[Long].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("quality score in [0,1], monotone-ish in substance") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and that is a fine day in the sun",
      "x").toDF("t")
    val got = df.select(TextFunctions.qualityScore(col("t"))).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  test("multimodal: batched feature extraction (real image/audio/video decode)") {
    val media = Multimodal.syntheticMedia(spark, 50, 4)
    val feats = Multimodal.extractFeatures(spark, media)
    assert(feats.rdd.getNumPartitions == 4) // narrow: no shuffle
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.feature.length == 8))
    // image features come from REAL ImageIO decode of the PNG payload:
    // the raster is constant gray g (one marked corner pixel), so every
    // stripe mean must be ~g/255
    rows.filter(_.kind == "image").foreach { r =>
      val g = Multimodal.grayOf(r.media_id) / 255f
      assert(r.feature.forall(f => math.abs(f - g) < 0.05f),
        s"media ${r.media_id}: ${r.feature.toSeq} vs $g")
    }
    // audio features come from REAL WAV decode of the PCM payload: a
    // square wave of amplitude a has mean |sample| exactly a in every
    // time stripe, so each stripe mean must be a/32768
    rows.filter(_.kind == "audio").foreach { r =>
      val a = Multimodal.ampOf(r.media_id) / 32768f
      assert(r.feature.forall(f => math.abs(f - a) < 1e-4f),
        s"media ${r.media_id}: ${r.feature.toSeq} vs $a")
    }
    // video features come from REAL container demux + per-frame ImageIO
    // decode: frame f is constant gray frameGrayOf(id, f) (one marked
    // corner pixel), so feature slot f must be ~gray/255 for the real
    // frames and exactly 0 for the zero-padded tail
    rows.filter(_.kind == "video").foreach { r =>
      val nf = Multimodal.frameCountOf(r.media_id)
      (0 until nf).foreach { f =>
        val g = Multimodal.frameGrayOf(r.media_id, f) / 255f
        assert(math.abs(r.feature(f) - g) < 0.05f,
          s"media ${r.media_id} frame $f: ${r.feature(f)} vs $g")
      }
      (nf until 8).foreach(f => assert(r.feature(f) == 0f))
    }
    // deterministic (all three decode kernels)
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(rows.map(_.feature.toSeq).toSeq == again.map(_.feature.toSeq).toSeq)
    // metadata-only stats never touch payload
    val stats = Multimodal.kindStats(media.toDF()).collect()
    assert(stats.map(_.getAs[String]("kind")).toSet == Set("image", "audio", "video"))
  }

  test("multimodal: PNG encode/decode roundtrip is pixel-exact") {
    // gradient raster: every pixel distinct → decode must read real pixels
    val w = 20; val h = 10
    def px(x: Int, y: Int): Int = {
      val g = (x * 12 + y * 3) % 256
      (g << 16) | (g << 8) | g
    }
    val png = Multimodal.encodePng(w, h, px)
    val img = Multimodal.decodeImage(png)
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xFFFFFF) == px(x, y), s"pixel ($x,$y)")
    // undecodable payloads fail fast, not garbage
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(Array[Byte](1, 2, 3, 4))
    }
  }

  test("multimodal: WAV encode/decode roundtrip is sample-exact") {
    // every sample distinct → decode must read real PCM data, and the
    // sample rate must come from the parsed RIFF header
    val src = Array.tabulate[Short](100)(i => ((i * 331 - 16000) % 32768).toShort)
    val wav = Multimodal.encodeWav(src, 16000)
    val (rate, back) = Multimodal.decodeWav(wav)
    assert(rate == 16000)
    assert(back.toSeq == src.toSeq)
    // undecodable payloads fail fast, not garbage
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(Array[Byte](1, 2, 3, 4))
    }
  }

  test("multimodal: real resize + frame-sample plumbing (narrow, deterministic)") {
    val media = Multimodal.syntheticMedia(spark, 60, 4)
    val resized = Multimodal.resizeImages(spark, media, 32, 32)
    assert(resized.rdd.getNumPartitions == 4) // narrow per-batch kernel
    val rr = resized.collect()
    assert(rr.length == 20) // ids % 3 == 0 are images
    // REAL resize: decoding the re-encoded output must yield the target
    // raster dims, and (the source being constant gray away from the
    // marked corner) the center pixel must carry the exact source gray
    rr.foreach { r =>
      val img = Multimodal.decodeImage(r.payload)
      assert(img.getWidth == 32 && img.getHeight == 32)
      val g = Multimodal.grayOf(r.media_id)
      assert((img.getRGB(16, 16) & 0xFF) == g, s"media ${r.media_id}")
    }
    val again = Multimodal.resizeImages(spark, media, 32, 32).collect()
    assert(rr.map(_.payload.toSeq).toSeq == again.map(_.payload.toSeq).toSeq)
    // frame sampling: one video row explodes to every-Nth REAL frames —
    // genuinely demuxed from the container, each payload an encoded image
    // whose decoded pixels carry the per-frame gray
    val frames = Multimodal.sampleFrames(spark, media, everyN = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 2 == 0))
    val byId = frames.groupBy(_.media_id)
    val vids = media.collect().filter(_.kind == "video")
    vids.foreach { v =>
      val expect =
        (0 until Multimodal.frameCountOf(v.media_id)).count(_ % 2 == 0)
      assert(byId(v.media_id).length == expect, s"media ${v.media_id}")
    }
    val dims = vids.map(v => v.media_id -> (v.width, v.height)).toMap
    frames.foreach { fr =>
      val img = Multimodal.decodeImage(fr.payload)
      // frame dims match the ROW's metadata (payload never contradicts it)
      assert((img.getWidth, img.getHeight) == dims(fr.media_id))
      val g = Multimodal.frameGrayOf(fr.media_id, fr.frame_idx)
      assert((img.getRGB(img.getWidth - 1, img.getHeight - 1) & 0xFF) == g,
        s"media ${fr.media_id} frame ${fr.frame_idx}")
      assert((img.getRGB(0, 0) & 0xFF) == (g + 7) % 256)
    }
    // mux/demux roundtrip is byte-exact; corrupt containers fail fast
    val fb = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val demuxed = Multimodal.demuxVideo(Multimodal.encodeVideo(fb))
    assert(demuxed.map(_.toSeq) == fb.map(_.toSeq))
    intercept[IllegalArgumentException] {
      Multimodal.demuxVideo(Array[Byte](9, 9, 9, 9, 9, 9, 9, 9, 9, 9))
    }
    // the container is frame-format-agnostic: genuine MJPEG (JPEG frames
    // via the JDK's ImageIO JPEG codec) demuxes and decodes through the
    // same kernels — dims exact, pixel values within JPEG quantization
    // error of the source gray
    val jpegFrames = (0 until 3).map { f =>
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = 40 + 60 * f
      (0 until 12).foreach(y => (0 until 16).foreach(x =>
        img.setRGB(x, y, (g << 16) | (g << 8) | g)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val mjpeg = Multimodal.encodeVideo(jpegFrames)
    Multimodal.demuxVideo(mjpeg).zipWithIndex.foreach { case (fbytes, f) =>
      val img = Multimodal.decodeImage(fbytes)
      assert(img.getWidth == 16 && img.getHeight == 12)
      assert(math.abs((img.getRGB(8, 6) & 0xFF) - (40 + 60 * f)) <= 4,
        s"jpeg frame $f center gray")
    }
    val mjFeat = Multimodal.videoFeature(mjpeg, dims = 4)
    (0 until 3).foreach(f =>
      assert(math.abs(mjFeat(f) - (40 + 60 * f) / 255f) < 0.03f))
  }

  test("streaming: windowed counts via memory sink == batch windowed counts") {
    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
    // file stream source needs a directory, not a single file
    val streamDir = TestSpark.scratch("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    StreamOps.windowedCountsStream(spark, streamDir.toString,
      events.schema, "stream_counts")
    // normalize TIMESTAMP (stream, LTZ) vs TIMESTAMP_NTZ (batch) via
    // date_format under the UTC session zone
    val streamed = spark.sql(
      "SELECT date_format(window.start, 'yyyy-MM-dd HH:mm') AS w, " +
        "event_type, n FROM stream_counts")
      .collect().map(_.toString).sorted.toSeq
    val batch = StreamOps.windowedCountsBatch(events)
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("w"),
        col("event_type"), col("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("streaming exact dedup (watermark-bounded state) == batch distinct") {
    import spark.implicits._
    // two micro-batch files with duplicates inside AND across batches;
    // the streaming dedup must keep exactly one row per distinct text
    val dir = TestSpark.scratch("graft_sdedup")
    def row(id: Long, text: String) =
      (id, text, java.sql.Timestamp.valueOf(s"2024-01-01 10:0${id % 10}:00"))
    val b1 = Seq(row(0, "alpha"), row(1, "beta"), row(2, "alpha"))
      .toDF("doc_id", "text", "ts")
    val b2 = Seq(row(3, "beta"), row(4, "gamma"), row(5, "gamma"))
      .toDF("doc_id", "text", "ts")
    b1.write.parquet(dir.resolve("b1").toString)
    b2.write.parquet(dir.resolve("b2").toString)
    val schema = spark.read.parquet(dir.resolve("b1").toString).schema
    StreamOps.dedupStream(spark, s"$dir/*", schema, "stream_dedup")
    val kept = spark.sql("SELECT text FROM stream_dedup")
      .as[String].collect().toSeq
    assert(kept.sorted == Seq("alpha", "beta", "gamma")) // one per text
  }

  test("streaming KG triples (incremental claim counts) == batch extraction") {
    import graft.extract.PageSynth
    // two micro-batch files: pages arrive in waves; complete-mode counts
    // must equal the one-shot batch job over the union
    val pagesDir = TestSpark.scratch("graft_pages")
    val p1 = PageSynth.pages(spark, 150).toDF()
    val p2 = spark.range(150, 300).map(i => PageSynth.page(i))(
      org.apache.spark.sql.Encoders.product[graft.model.Page]).toDF()
    p1.write.parquet(pagesDir.resolve("b1").toString)
    p2.write.parquet(pagesDir.resolve("b2").toString)
    val schema = spark.read.parquet(pagesDir.resolve("b1").toString).schema
    StreamOps.tripleStream(spark, s"$pagesDir/*", schema, "stream_triples",
      PageSynth.gazetteer, PageSynth.RelationRules.toMap)
    val streamed = spark.sql(
      "SELECT subj, pred, obj, frequency FROM stream_triples")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.link.TripleExtractor.extract(spark,
        PageSynth.pages(spark, 300), PageSynth.gazetteer,
        PageSynth.RelationRules.toMap)
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("frequency"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("update-mode windowed counts: watermark drops later-than-watermark events") {
    import spark.implicits._
    val dir = TestSpark.scratch("graft_upd")
    def write(name: String, rows: Seq[(String, String)]): Unit =
      rows.toDF("ts_s", "event_type")
        .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"))
        .write.parquet(dir.resolve(name).toString)
    write("b1", Seq(
      ("2026-01-01 00:30:00", "click"),   // window W1 [00:00, 01:00)
      ("2026-01-01 05:00:00", "click")))  // advances watermark to 04:00
    val schema = spark.read.parquet(dir.resolve("b1").toString).schema
    val q = StreamOps.windowedCountsUpdateStream(
      spark, s"$dir/*", schema, "upd_counts")
    try {
      q.processAllAvailable()
      // W1's state is evicted once the watermark passed; this event is
      // older than the watermark → DROPPED, not merged into W1
      write("b2", Seq(
        ("2026-01-01 00:40:00", "click"),   // late beyond watermark
        ("2026-01-01 05:10:00", "click")))  // proves the wave processed
      q.processAllAvailable()
      val w1 = spark.sql(
        "SELECT max(n) FROM upd_counts WHERE " +
        "date_format(window.start, 'HH:mm') = '00:00'").collect()(0).getLong(0)
      assert(w1 == 1L, s"late event beyond the watermark must be dropped: $w1")
      val w5 = spark.sql(
        "SELECT max(n) FROM upd_counts WHERE " +
        "date_format(window.start, 'HH:mm') = '05:00'").collect()(0).getLong(0)
      assert(w5 == 2L, "the second wave's in-time event must count")
    } finally q.stop()
  }

  test("streaming sessionization (flatMapGroupsWithState) == batch window sessionize") {
    val dir = "/root/testdata/sf0.001"
    val events = spark.read.parquet(s"$dir/events.parquet")
    val streamDir = TestSpark.scratch("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    StreamOps.sessionizeStream(spark, streamDir.toString, events.schema,
      "stream_sessions")
    val streamed = spark.sql(
      "SELECT user_id, event_id, CAST(session_idx AS BIGINT) FROM stream_sessions")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("q33_sessionize")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("repetition stats: dup-token and top-n-gram fractions (hand-computed)") {
    val df = Seq("a a a a", "a b c d", "a b a b a", "", "x").toDF("t")
    val toks = TextFunctions.wsTokens(col("t"))
    val got = df.select(
      TextFunctions.dupTokenFrac(toks).as("dup"),
      TextFunctions.topNgramFrac(toks, 1).as("g1"),
      TextFunctions.topNgramFrac(toks, 2).as("g2"),
      TextFunctions.topNgramFrac(toks, 3).as("g3"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    // "a a a a": 4 toks 1 distinct; 3 bigrams all "a a"; 2 trigrams same
    assert(got(0) == ((0.75, 1.0, 1.0, 1.0)))
    // "a b c d": all unique; 3 distinct bigrams; 2 distinct trigrams
    assert(got(1) == ((0.0, 0.25, 1.0 / 3, 0.5)))
    // "a b a b a": 5 toks 2 distinct; bigrams abab → "a b"×2 of 4;
    // trigrams "a b a","b a b","a b a" → 2 of 3
    assert(got(2) == ((1.0 - 2.0 / 5, 3.0 / 5, 0.5, 2.0 / 3)))
    // empty text → empty token array → all zero (no [""] artifact)
    assert(got(3) == ((0.0, 1.0, 0.0, 0.0)) ||
      got(3) == ((0.0, 0.0, 0.0, 0.0)))
    // single token: nothing repeats, no bigrams/trigrams exist
    assert(got(4) == ((0.0, 1.0, 0.0, 0.0)))
  }

  test("repetition tokens: ws-class split, empty-text guard, maxTokens cap") {
    val df = Seq("a\tb\nc", "", "a b c d e").toDF("t")
    val got = df.select(
      size(TextFunctions.wsTokens(col("t"))).as("n"),
      size(TextFunctions.wsTokens(col("t"), maxTokens = 2)).as("capped"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got(0) == ((3, 2))) // tabs/newlines separate tokens
    assert(got(1) == ((0, 0))) // empty → empty array, not [""]
    assert(got(2) == ((5, 2))) // cap bounds the quadratic n-gram cost
  }

  test("hashBucket/hashSplit: portable (md5-derived), in-range, stable") {
    val keys = (0L until 1000L).toSeq
    val got = keys.toDF("k").select(
      col("k"),
      TextFunctions.hashBucket(col("k"), 100).as("b"),
      TextFunctions.hashSplit(col("k")).as("s"),
      TextFunctions.hashSplit(col("k"), trainPct = 0, validPct = 0)
        .as("allTest"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    // mirror the portable definition with the JDK's own md5 — the SAME
    // recomputation the DuckDB oracle does (q84)
    def refBucket(k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    got.foreach { case (k, b, s, allTest) =>
      assert(b >= 0 && b < 100)
      assert(b == refBucket(k), s"bucket mismatch for key $k")
      val expected =
        if (b < 98) "train" else if (b < 99) "valid" else "test"
      assert(s == expected)
      assert(allTest == "test")
    }
    // membership is keyed, not positional: the split must be identical
    // when computed over a different row order/partitioning
    val again = keys.reverse.toDF("k").repartition(7)
      .select(col("k"), TextFunctions.hashSplit(col("k")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (k, _, s, _) => assert(again(k) == s) }
    // default 98/1/1 split lands near its targets over 1000 keys
    val frac = got.count(_._3 == "train").toDouble / got.length
    assert(frac > 0.9 && frac < 1.0)
  }

  test("redactPii: replace-all, email-before-ip/phone ordering, no-op path") {
    val cases = Seq(
      // two of each kind → replace-ALL, not replace-first
      "a@b.com then c.d@e.org call +1-555-0042 and +44-123-4567 " +
        "from 10.0.0.1 or 192.168.255.3",
      // the email's digits/dotted host must be swallowed by <EMAIL>,
      // never half-matched as an IP or phone
      "user42@10-net.example.com",
      // boundary: a 5-octet run is not an IPv4 (trailing \b still matches
      // the leading 4 octets — same in Java and RE2)
      "1.2.3.4.5",
      // clean text stays byte-identical
      "no pii here at all")
    val got = cases.toDF("t")
      .select(TextFunctions.redactPii(col("t"))).as[String].collect()
    assert(got(0) == "<EMAIL> then <EMAIL> call <PHONE> and <PHONE> " +
      "from <IP> or <IP>")
    assert(got(1) == "<EMAIL>")
    assert(got(2) == "<IP>.5")
    assert(got(3) == "no pii here at all")
  }

  test("ngrams: order-n windows, short-doc empty, unigram passthrough") {
    val df = Seq("a b c d", "a b", "").toDF("t")
    val toks = TextFunctions.wsTokens(col("t"))
    val got = df.select(
      TextFunctions.ngrams(toks, 3).as("g3"),
      TextFunctions.ngrams(toks, 1).as("g1"))
      .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1)))
    assert(got(0)._1 == Seq("a b c", "b c d"))
    assert(got(0)._2 == Seq("a", "b", "c", "d"))
    assert(got(1)._1 == Seq.empty) // fewer than n tokens → empty, no descend
    assert(got(2)._1 == Seq.empty)
  }
}
