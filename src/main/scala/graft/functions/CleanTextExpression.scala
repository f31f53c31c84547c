package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.TextExtractor

/** Native Catalyst expression for the byte-identity text cleaner
  * (SURVEY §2.9: "promote to a Catalyst Expression (codegen) if hot-path
  * profiling demands"). One fused JVM pass — collapse + strip + truncate —
  * instead of three regexp_replace passes; participates in
  * WholeStageCodegen via a static call, no boxing beyond the UTF8String
  * bridge.
  *
  * Semantics are EXACTLY [[TextExtractor.clean]] (reference:
  * src/kg_ae/datasets/openfda/parse.py:154-171); CleanTextExprSpec fuzzes
  * equivalence against the pure oracle.
  */
case class CleanText(child: Expression, maxChars: Int)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"clean_text expects STRING, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    CleanText.cleanUtf8(input.asInstanceOf[UTF8String], maxChars)

  // NOTE the method name: it must NOT be `eval`. scalac emits static
  // forwarders for companion-object methods only when the class has no
  // member of the same NAME — Expression.eval(InternalRow) suppresses a
  // forwarder for an object method named `eval`, Janino then can't resolve
  // the static call and EVERY plan containing this expression silently
  // falls back to interpreted execution (codegen-compile WARN at runtime).
  // CleanTextExprSpec force-compiles the generated code to pin this.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CleanText.cleanUtf8($c, $maxChars)")

  override def prettyName: String = "clean_text"
  override protected def withNewChildInternal(newChild: Expression): CleanText =
    copy(child = newChild)
}

object CleanText {
  /** Static entry point shared by interpreted + generated code paths.
    * (Named `cleanUtf8`, not `eval` — see the doGenCode note.) */
  def cleanUtf8(s: UTF8String, maxChars: Int): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(cleanJava(s.toString, maxChars))
  }

  /** Single-pass clean: identical output to TextExtractor.clean —
    * collapse whitespace runs to ' ', strip both ends, then truncate to
    * max CODE POINTS + "..." (TextExtractor.truncateCp — the shared
    * rule; a UTF-16 cut would diverge from the Spark/DuckDB mirrors on
    * astral characters and could split a surrogate pair). */
  def cleanJava(s: String, max: Int): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      if (isWs) {
        if (sb.length() > 0) pendingSpace = true // leading ws dropped
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    } // trailing ws never emitted: pendingSpace only flushes before non-ws
    graft.extract.TextExtractor.truncateCp(sb, max)
    sb.toString
  }
}

/** Catalyst injection — usable as SQL `clean_text(col[, max])` once the
  * session is built `.withExtensions(new GraftExtensions)` (or via
  * `GraftFunctions.register(spark)` on an existing session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.cleanTextDescriptor)
    ext.injectFunction(PortableLn.descriptor)
  }
}

object GraftFunctions {
  private def build(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => CleanText(c, TextExtractor.MaxChars)
    case Seq(c, m) =>
      // maxChars is baked into the expression at plan-build time, so it
      // must be a foldable integer literal; anything else would die here
      // with an opaque UnsupportedOperation/ClassCast/NPE instead of a
      // diagnosis the SQL author can act on
      val v = if (m.foldable) m.eval() else null
      v match {
        case n: Number => CleanText(c, n.intValue())
        case _ => throw new IllegalArgumentException(
          "clean_text(col, maxChars): maxChars must be a non-null " +
            s"integer literal, got ${m.sql}")
      }
    case _ => throw new IllegalArgumentException(
      "clean_text(col[, maxChars])")
  }

  val cleanTextDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("clean_text"),
    new ExpressionInfo(classOf[CleanText].getName, "clean_text"),
    build _)

  /** Register on an already-built session (tests, Verify, Bench). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "clean_text", build, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "portable_ln", PortableLn.build, "scala_udf")
  }
}
