package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native Catalyst Hilbert-curve distance of a 2-D point — the locality
  * upgrade over the bit-interleave Z-value (`sources.Layout.zvalue`):
  * consecutive curve positions are always GRID NEIGHBORS (the Z-curve
  * jumps across the plane at every quadrant seam), so range-partitioned
  * files cover tighter hyper-rectangles and min/max manifests prune
  * harder on both dimensions.
  *
  * The classic per-bit quadrant walk (`d += s²·((3·rx)⊕ry)` then the
  * reflect-and-swap rotation) runs as an O(bits) primitive loop in
  * whole-stage codegen. A Column-expression formulation of the same
  * recurrence is impossible at useful widths: each round references the
  * previous round's x/y several times, so the expression tree grows as
  * ~5^bits — the loop needs mutable state, which is exactly what
  * `doGenCode` provides and Catalyst Columns cannot.
  *
  * `bits` must be a foldable literal in [1, 30] (two 30-bit dims keep
  * d = x·2^bits + y products inside int64). Inputs are masked to
  * `bits`; for wider raw domains rank-bucket first (see
  * `Layout.writeZOrderedRanked`).
  */
case class HilbertDistance(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, IntegerType) =>
        if (!third.foldable)
          TypeCheckResult.TypeCheckFailure("graft_hilbert bits must be a literal")
        else {
          val b = third.eval().asInstanceOf[Int]
          if (b >= 1 && b <= 30) TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(s"graft_hilbert bits must be in [1, 30], got $b")
        }
      case (a, b, c) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_hilbert expects (bigint, bigint, int literal), got " +
            s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(x: Any, y: Any, bits: Any): Any =
    HilbertDistance.distance(
      x.asInstanceOf[Long],
      y.asInstanceOf[Long],
      bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (x, y, b) => s"""
        |${ev.value} = graft.functions.expressions.HilbertDistance.distance($x, $y, $b);
      """.stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression): Expression = copy(newFirst, newSecond, newThird)

  override def prettyName: String = "graft_hilbert"
}

object HilbertDistance {

  /** The quadrant walk (Wikipedia's xy2d, public domain formulation):
    * per output bit, accumulate the quadrant index and reflect/swap the
    * remaining coordinates into that quadrant's frame. */
  def distance(xIn: Long, yIn: Long, bits: Int): Long = {
    val n = 1L << bits
    var x = xIn & (n - 1)
    var y = yIn & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) {
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x
        x = y
        y = t
      }
      s >>= 1
    }
    d
  }
}
