package graft.extract

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.link.{GazEntry, Gazetteer}
import graft.model.Page

/** Deterministic synthetic Common-Crawl-style corpus (north-rule §7.2).
  *
  * Every page is a PURE FUNCTION of its row index (splitmix64 PRNG seeded by
  * the index) — no external data, rebuilds are stable (analogue of the
  * reference's deterministic rebuild guarantee, reference:
  * src/kg_ae/graph/build.py:15-17). Generated distributed via
  * `spark.range(n)` so the 100 TB-scale version is embarrassingly parallel.
  *
  * Planted structure (knobs exercised by tests + bench):
  *   - entity mentions from a fixed gazetteer (drugs/genes/AEs/diseases);
  *   - relation sentences "<subj> <phrase> <obj>." for triple extraction;
  *   - hot entity skew: drug0 appears on a large fraction of pages
  *     (salted-aggregation exercise, SURVEY.md §7.5);
  *   - exact-duplicate boilerplate pages (canonicalization/dedup);
  *   - messy whitespace + HTML noise (byte-identity extractor tests);
  *   - >10KB pages (truncation path);
  *   - non-"en" rows (language filtering).
  */
object PageSynth {

  // ---- deterministic PRNG --------------------------------------------------
  @inline def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** k-th deterministic draw for row i, in [0, bound). */
  @inline def draw(i: Long, k: Long, bound: Int): Int = {
    val h = splitmix64(splitmix64(i * 1315423911L + k) ^ 0x5DEECE66DL)
    (((h >>> 1) % bound).toInt)
  }

  // ---- fixed entity vocabulary --------------------------------------------
  val NumDrugs = 40
  val NumGenes = 30
  val NumAes = 20
  val NumDiseases = 15
  val NumPathways = 12

  def drugName(i: Int) = s"zorvex$i"
  def geneName(i: Int) = s"gtx$i"
  def aeName(i: Int) = s"severe rash$i" // multi-word: exercises AC automaton
  def diseaseName(i: Int) = s"cold flux$i"
  def pathwayName(i: Int) = s"wnt cascade$i"

  lazy val gazEntries: Seq[GazEntry] =
    (0 until NumDrugs).map(i => GazEntry(drugName(i), "Drug")) ++
    (0 until NumGenes).map(i => GazEntry(geneName(i), "Gene")) ++
    (0 until NumAes).map(i => GazEntry(aeName(i), "AdverseEvent")) ++
    (0 until NumDiseases).map(i => GazEntry(diseaseName(i), "Disease")) ++
    (0 until NumPathways).map(i => GazEntry(pathwayName(i), "Pathway"))

  lazy val gazetteer: Gazetteer = Gazetteer(gazEntries)

  /** relation phrase → (claim_type, subjType, objType) — the triple rule
    * vocabulary (claim-shape table, reference:docs/data-sources.md:56-68). */
  val RelationRules: Seq[(String, (String, String, String))] = Seq(
    "inhibits" -> (("DRUG_TARGET", "Drug", "Gene")),
    "causes" -> (("DRUG_AE", "Drug", "AdverseEvent")),
    "associated with" -> (("GENE_DISEASE", "Gene", "Disease")),
    "interacts with" -> (("GENE_GENE", "Gene", "Gene")),
    "participates in" -> (("GENE_PATHWAY", "Gene", "Pathway")))

  private val Noise = Array("the", "patient", "cohort", "study", "reported",
    "baseline", "clinical", "observed", "group", "trial", "dose", "placebo")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "es") // 20% non-en

  def lang(i: Long): String = Langs(draw(i, 1, Langs.length))

  /** Hot-key skew: drug index for the s-th sentence of page i. ~30% of
    * sentences use drug0 (the hot entity). */
  private def drugIdx(i: Long, k: Long): Int = {
    if (draw(i, k, 10) < 3) 0 else draw(i, k + 1000, NumDrugs)
  }

  /** Relation sentences for page i (pure; shared by generator and oracle).
    * Cases 4/5 plant the ternary DDI shape (Drug combined-with Drug
    * jointly-cause AE → DrugCombination node, reference:src/kg_ae/graph/
    * build.py:747-805) and Gene→Pathway membership. */
  def sentences(i: Long): Seq[String] = {
    val nSent = 2 + draw(i, 2, 4) // 2..5 relation sentences
    (0 until nSent).map { s =>
      val k = 10L + s * 7
      draw(i, k, 6) match {
        case 0 =>
          s"${drugName(drugIdx(i, k + 1))} inhibits ${geneName(draw(i, k + 2, NumGenes))}."
        case 1 =>
          s"${drugName(drugIdx(i, k + 1))} causes ${aeName(draw(i, k + 2, NumAes))}."
        case 2 =>
          s"${geneName(draw(i, k + 1, NumGenes))} associated with ${diseaseName(draw(i, k + 2, NumDiseases))}."
        case 3 =>
          s"${geneName(draw(i, k + 1, NumGenes))} interacts with ${geneName(draw(i, k + 2, NumGenes))}."
        case 4 =>
          s"${geneName(draw(i, k + 1, NumGenes))} participates in ${pathwayName(draw(i, k + 2, NumPathways))}."
        case _ =>
          val a = drugIdx(i, k + 1)
          val b0 = draw(i, k + 2, NumDrugs)
          val b = if (b0 == a) (b0 + 1) % NumDrugs else b0
          s"${drugName(a)} combined with ${drugName(b)} jointly cause ${aeName(draw(i, k + 3, NumAes))}."
      }
    }
  }

  private def noiseRun(i: Long, k: Long, words: Int): String = {
    // byte-identical to the former map+mkString — appended in place to
    // skip the per-call Seq + join allocations (this runs per sentence
    // per page on the KG hot path)
    val sb = new java.lang.StringBuilder(words * 9)
    var w = 0
    while (w < words) {
      if (w > 0) sb.append(' ')
      sb.append(Noise(draw(i, k + w, Noise.length)))
      w += 1
    }
    sb.toString
  }

  /** Duplicate-page clusters: ~10% of pages are byte-identical boilerplate
    * copies of a template chosen from a small pool. */
  def isBoilerplate(i: Long): Boolean = draw(i, 3, 10) == 0
  def boilerplateTemplate(i: Long): Int = draw(i, 4, 5)

  /** Raw HTML for page i — messy on purpose. */
  def html(i: Long): String = {
    if (isBoilerplate(i)) {
      val t = boilerplateTemplate(i)
      s"""<html><head><title>tpl$t</title><script>var x=$t;</script></head>
<body><p>boilerplate   template $t</p><p>${drugName(t)}\tcauses ${aeName(t)}.</p></body></html>"""
    } else {
      val ws = Array(" ", "  ", "\t", "\n", " \n ")
      // presized: the default 16-char builder re-copies its array ~6×
      // growing to a ~1 KB page (the oversized branch appends ~14 KB)
      val sb = new StringBuilder(if (draw(i, 5, 20) == 0) 16384 else 2048)
      sb ++= s"<html><head><title>page $i</title><style>p{}</style>"
      sb ++= "<script>if(1<2){document.x=1;}</script></head><body>"
      if (draw(i, 5, 20) == 0) { // ~5% oversized → truncation path
        sb ++= "<p>" + ("lorem ipsum " * 1200) + "</p>"
      }
      sentences(i).zipWithIndex.foreach { case (sent, sIdx) =>
        sb ++= s"<p>${noiseRun(i, 400 + sIdx * 31, draw(i, 401 + sIdx, 6))}${ws(draw(i, 402 + sIdx, ws.length))}"
        sb ++= sent.replace(" ", ws(draw(i, 403 + sIdx, ws.length)))
        sb ++= "</p>"
      }
      sb ++= s"<p>score &amp; notes${ws(draw(i, 6, ws.length))}${noiseRun(i, 500, 4)}</p>"
      sb ++= "</body></html>"
      sb.toString
    }
  }

  /** Byte-identical to f"https://host-${i % 997}%04d.example/p/$i%09d"
    * without java.util.Formatter (format-string parsing measured on the
    * per-page hot path; PageSynthSpec pins equality). Page indices are
    * non-negative: the padding below has no sign handling. */
  def url(i: Long): String = {
    require(i >= 0, s"page index must be non-negative, got $i")
    val sb = new java.lang.StringBuilder(40)
    sb.append("https://host-")
    val host = i % 997
    if (host < 1000) sb.append('0')
    if (host < 100) sb.append('0')
    if (host < 10) sb.append('0')
    sb.append(host).append(".example/p/")
    var pad = 100000000L
    while (pad > 1 && i < pad) { sb.append('0'); pad /= 10 }
    sb.append(i).toString
  }
  def warcTs(i: Long): Timestamp =
    new Timestamp(1700000000000L + (i % 86400000L)) // deterministic

  /** Pure page constructor — the single source of truth. */
  def page(i: Long): Page = {
    val h = html(i)
    Page(url(i), warcTs(i),
      h.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text = null, // force extraction from html
      lang = lang(i))
  }

  /** Distributed generation: `spark.range` → map. Scales linearly; at 100 TB
    * this is the stand-in for the Iceberg `pages` table scan. */
  def pages(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => page(i))
  }
}
