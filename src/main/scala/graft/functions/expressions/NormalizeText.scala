package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for corpus cleaning (the fix-encoding
  * stage every web-scale pipeline runs before tokenization): NFC
  * canonical composition, then every run of control/whitespace
  * characters (`U+0000–U+0020`, `U+007F`) collapsed to a single space,
  * ends trimmed. Equivalent to DuckDB
  * `trim(regexp_replace(nfc_normalize(replace(text, chr(0), ' ')), '[\x00-\x20\x7F]+', ' ', 'g'))`
  * — which is exactly the oracle spelling; the oracle pre-replaces NUL
  * with space because DuckDB's utf8proc normalization truncates at an
  * embedded U+0000 (java.text.Normalizer does not), and NUL blocks
  * canonical composition exactly like space, so the two pipelines
  * agree on every input. Here it is a single imperative pass behind
  * one static call inside whole-stage codegen, with a fast path that
  * returns the input UTF8String untouched (no copy) when it is
  * already normalized, as clean corpora mostly are (which also means
  * the driver-gate parity on the clean synthetic corpus only exercises
  * the identity path — the transform paths are pinned by
  * FunctionsSpec).
  *
  * Control characters are all BMP singletons, so the UTF-16 scan never
  * splits a surrogate pair; NFC is java.text.Normalizer, the same
  * tables ICU/DuckDB use.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_normalize expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    NormalizeText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.NormalizeText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_normalize"
}

object NormalizeText {

  /** `graft_normalize(text)` as a Column. */
  def of(text: Column): Column =
    ColumnBridge.column(NormalizeText(ColumnBridge.expression(text)))

  private def isCollapsible(c: Char): Boolean = c <= ' ' || c == '\u007f'

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val composed =
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    // single scan: does any run need collapsing / trimming?
    var dirty = composed ne s
    var i = 0
    while (!dirty && i < composed.length) {
      val c = composed.charAt(i)
      if (isCollapsible(c) &&
        (c != ' ' || i == 0 || i == composed.length - 1 ||
          isCollapsible(composed.charAt(i + 1)))) dirty = true
      i += 1
    }
    if (!dirty) return text // already normalized: no copy
    val out = new java.lang.StringBuilder(composed.length)
    var pendingSpace = false
    i = 0
    while (i < composed.length) {
      val c = composed.charAt(i)
      if (isCollapsible(c)) pendingSpace = out.length() > 0
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}
