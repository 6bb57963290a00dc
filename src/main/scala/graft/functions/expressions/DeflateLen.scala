package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE-compressed byte length of a string — the compression-ratio
  * quality signal of web-corpus pipelines (boilerplate and looping text
  * compress far better than organic prose; Gopher/MassiveText and
  * FineWeb both filter on it). `ratio = deflate_len / raw_len` close to
  * 0 ⇒ highly repetitive document.
  *
  * A native expression over `java.util.zip.Deflater` (level 6, raw
  * deflate): one streaming pass per row inside whole-stage codegen, no
  * UDF closure. Deterministic for a given JDK's zlib, but NOT a
  * cross-engine portable value (DuckDB's zlib may emit different — if
  * equally valid — streams), so queries on it are rows-only at the
  * driver gate with invariant-based specs, like the sketches.
  */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_deflate_len expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    DeflateLen.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.DeflateLen.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_deflate_len"
}

object DeflateLen {

  /** `graft_deflate_len(text)` as a Column. */
  def of(text: Column): Column =
    ColumnBridge.column(DeflateLen(ColumnBridge.expression(text)))

  def compute(text: UTF8String): Long = {
    val in = text.getBytes
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(in)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}
