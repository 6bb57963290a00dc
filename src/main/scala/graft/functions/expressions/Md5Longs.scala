package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Hashing

/** Fused md5-slice hash expressions — the codegen fast path of the
  * [[graft.functions.Hashing]] Column family.
  *
  * The original Column formulations round-trip through a 32-char hex
  * string per row (`conv(substring(md5(x), …), 16, 10)`): md5 → hex
  * encode → substring copy → base-16 re-parse. These expressions
  * produce the identical 60/40-bit values straight from the digest
  * bytes ([[Hashing.md5LongJvm]] / [[Hashing.md5LongHiJvm]], whose
  * bit-parity with the hex path is spec-asserted), skipping three
  * string allocations per row on the hottest per-shingle/per-token
  * path in the dedup/eval families. Null → null like the originals
  * (UnaryExpression null-intolerant contract).
  */
private[graft] trait Md5SliceExpression extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.simpleString}")
  }
}

/** 60-bit non-negative hash: hex chars 1–15 of md5 — bit-identical to
  * `conv(substring(md5(x),1,15),16,10)`. */
case class Md5Long60(child: Expression) extends Md5SliceExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Hashing.md5LongJvm(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.Hashing.md5LongJvm($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_md5long"
}

/** 40-bit hash: hex chars 17–26 of md5 — bit-identical to
  * `conv(substring(md5(x),17,10),16,10)` (the upper-60-bit slice
  * shifted down to its first ten nibbles). */
case class Md5Long40(child: Expression) extends Md5SliceExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Hashing.md5LongHiJvm(input.asInstanceOf[UTF8String].getBytes) >>> 20

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"(graft.functions.Hashing.md5LongHiJvm($c.getBytes()) >>> 20)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_md5long2"
}

/** Upper 60-bit half: hex chars 17–31 of md5 — bit-identical to
  * `conv(substring(md5(x),17,15),16,10)`. */
case class Md5LongHi60(child: Expression) extends Md5SliceExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Hashing.md5LongHiJvm(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.Hashing.md5LongHiJvm($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_md5long_hi"
}

/** Both minhash base hashes from ONE digest: struct(a = hex chars
  * 1–15, b = hex chars 17–26) — the per-shingle row of
  * [[graft.dedup.Dedup.hashedShinglePairs]] pays one md5
  * instead of two (or instead of one md5 + hex + two substring/conv
  * re-parses on the original path). */
case class Md5MinhashPair(child: Expression) extends Md5SliceExpression {

  override def dataType: DataType =
    StructType(
      Seq(StructField("a", LongType, false), StructField("b", LongType, false)))

  override protected def nullSafeEval(input: Any): Any =
    Md5MinhashPair.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.Md5MinhashPair.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_md5long_pair"
}

object Md5MinhashPair {

  private val outLocal =
    ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))

  /** Called from generated code, once per row. */
  def compute(s: UTF8String): InternalRow = {
    val out = outLocal.get()
    Hashing.md5LongPairJvm(s.getBytes, out)
    new GenericInternalRow(Array[Any](out(0), out(1) >>> 20))
  }
}
