package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, byte-identical text extraction & cleaning.
  *
  * Reference semantics: `_clean_section` in
  * reference:src/kg_ae/datasets/openfda/parse.py:154-171 — join sections with
  * a single space, collapse all whitespace runs to one space, strip, and
  * truncate texts longer than MaxChars to `text[:MaxChars] + "..."`.
  *
  * The whitespace class is pinned EXPLICITLY to `[ \t\n\x0B\f\r]` because
  * Python's `\s` and Java's `\s` disagree on some Unicode controls
  * (SURVEY.md §7.5); the pure-Scala oracles here, their fast mirrors
  * (`CleanText.cleanJava`, the `clean_text` expression, [[FastHtml]]) and
  * any SQL oracle use this exact class, so "byte-identical per url" is a
  * well-defined invariant. [[clean]] and [[htmlToText]] are the
  * references those mirrors are property-tested against.
  */
object TextExtractor {

  /** Truncation bound (reference: openfda/parse.py:168 uses 10_000). */
  val MaxChars = 10000

  final val WsClass = "[ \\t\\n\\u000B\\f\\r]"

  private val WsRun = java.util.regex.Pattern.compile(WsClass + "+")

  /** Truncate `sb` to `max` CODE POINTS + "..." if it exceeds them — the
    * ONE owner of the truncation rule, shared by every implementation of
    * the extraction spec (clean / CleanText.cleanJava / FastHtml).
    * Code points, not UTF-16 units: the reference truncates by Python
    * `len` (code points), and Spark's `length`/`substring` and DuckDB's
    * `length`/`substr` count code points too — a UTF-16 cut would both
    * diverge from the distributed/oracle mirrors on astral characters
    * AND split a surrogate pair into an invalid lone surrogate.
    * `offsetByCodePoints` lands on a code-point boundary by construction.
    * Fast path: UTF-16 length ≤ max implies code points ≤ max. */
  private[graft] def truncateCp(sb: java.lang.StringBuilder, max: Int): Unit = {
    val units = sb.length()
    if (units <= max) return // ≤ max UTF-16 units ⇒ ≤ max code points
    // bounded walk to the offset of code point `max`: O(max) regardless of
    // document length (a full codePointCount would re-scan the whole
    // multi-MB builder on this hot extraction path)
    var cp = 0
    var i = 0
    while (cp < max && i < units) {
      i += Character.charCount(sb.codePointAt(i))
      cp += 1
    }
    if (i < units) { sb.setLength(i); sb.append("...") }
  }

  /** String variant of [[truncateCp]]: returns `s` itself when no cut is
    * needed (no copy). */
  private[graft] def truncateCp(s: String, max: Int): String = {
    if (s.length <= max) return s
    var cp = 0
    var i = 0
    while (cp < max && i < s.length) {
      i += Character.charCount(s.codePointAt(i))
      cp += 1
    }
    if (i < s.length) s.substring(0, i) + "..." else s
  }

  /** Pure oracle: collapse whitespace, trim, truncate at `max` code
    * points + "..." (see [[truncateCp]]). */
  def clean(text: String, max: Int = MaxChars): String = {
    if (text == null) return null
    val collapsed = WsRun.matcher(text).replaceAll(" ")
    truncateCp(stripWs(collapsed), max)
  }

  private def stripWs(s: String): String = {
    var i = 0
    var j = s.length
    def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    while (i < j && isWs(s.charAt(i))) i += 1
    while (j > i && isWs(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Strip leading/trailing runs of the pinned ws class ([[WsClass]]) —
    * the ONE owner of the column-level strip rule (built-in `trim` strips
    * only ' '); used by the token-stat functions. */
  def stripCol(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "^" + WsClass + "+", ""),
      WsClass + "+$", "")

  // ----- HTML -> text ------------------------------------------------------

  private val ScriptStyle = java.util.regex.Pattern.compile(
    "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>")
  private val Comments = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
  private val Tags = java.util.regex.Pattern.compile("<[^>]*>")

  // private[extract]: FastHtml's fused automaton derives its table from
  // THIS list so the two byte-identical implementations cannot drift
  private[extract] val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Pure oracle: deterministic HTML → cleaned text.
    * Drops script/style/comments, strips tags (tag → single space so word
    * boundaries survive), decodes the 7 common entities (amp last), then
    * applies [[clean]]. This IS the engine's extraction spec — the
    * "byte-identical extracted text per url" invariant is defined against it.
    */
  def htmlToText(html: Array[Byte], max: Int = MaxChars): String = {
    if (html == null) return null
    htmlToText(new String(html, java.nio.charset.StandardCharsets.UTF_8), max)
  }

  def htmlToText(html: String, max: Int): String = {
    var s = ScriptStyle.matcher(html).replaceAll(" ")
    s = Comments.matcher(s).replaceAll(" ")
    s = Tags.matcher(s).replaceAll(" ")
    Entities.foreach { case (e, r) => s = s.replace(e, r) }
    clean(s, max)
  }
}
