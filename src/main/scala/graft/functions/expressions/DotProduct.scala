package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The brute-force similarity operators evaluate millions of 64-dim dot
  * products per task; the `zip_with`+`aggregate` higher-order-function
  * formulation allocates a boxed intermediate array per row and is ~50×
  * slower. This expression generates a tight primitive loop inside
  * whole-stage codegen (`doGenCode`), with an interpreted `nullSafeEval`
  * fallback.
  *
  * Summation is sequential in element order — the same fold order as the
  * HOF formulation and DuckDB's `list_dot_product` — so results are
  * bit-identical to the correctness oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    DotProduct.checkLengths(x.numElements(), y.numElements())
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |graft.functions.expressions.DotProduct.checkLengths(
           |  $a.numElements(), $b.numElements());
           |int $n = $a.numElements();
           |${ev.value} = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
           |}
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)

  override def prettyName: String = "graft_dot"
}

object DotProduct {

  /** A dimension mismatch must throw, not silently truncate to the
    * shorter vector: a ragged embedding (bad upstream parse, wrong
    * `dim` parameter) would otherwise produce quietly wrong cosines,
    * buckets, and codes everywhere downstream. (Null ELEMENTS are
    * still read as 0.0 — ArrayData.getDouble's contract — which only
    * well-formed float arrays avoid by construction.) */
  def checkLengths(a: Int, b: Int): Unit =
    if (a != b)
      throw new IllegalArgumentException(
        s"graft_dot: vector length mismatch ($a vs $b)")
}
