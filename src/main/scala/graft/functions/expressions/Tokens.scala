package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenization (split on `' '`, empties dropped) as a native
  * expression — equivalent to `filter(split(text, " "), t -> len(t) > 0)`
  * and DuckDB `list_filter(string_split(text, ' '), t -> len(t) > 0)`,
  * but a flat loop behind one static call instead of an interpreted
  * higher-order-function walk (measured ~50× faster on the shingling
  * path; see [[WordShingles]]).
  */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_tokens expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.Tokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_tokens"
}

object Tokens {

  /** `graft_tokens(text)` as a Column. */
  def of(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))

  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ")
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var p = 0
    i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) { out(p) = UTF8String.fromString(toks(i)); p += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}
