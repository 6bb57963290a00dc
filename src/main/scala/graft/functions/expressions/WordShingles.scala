package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a single-space-separated text column, as a
  * native Catalyst expression.
  *
  * Semantics match the declarative formulation used by the DuckDB oracle
  * (`list_distinct(list_transform(generate_series(1, len(t)-k+1), i ->
  * t[i] || ' ' || ... ))` over whitespace tokens with empties dropped):
  * tokenize on `' '`, drop empty tokens, emit every contiguous k-gram
  * joined by one space, first-occurrence distinct. Fewer than k tokens →
  * empty array.
  *
  * Why an expression and not `transform`/`filter` higher-order functions:
  * HOFs evaluate their lambda through the interpreted expression walker —
  * measured ~50× slower than a flat loop on the shingling hot path, and
  * they also break whole-stage codegen. `doGenCode` here emits one static
  * call, so the surrounding stage stays fused.
  */
case class WordShingles(child: Expression, k: Int, distinct: Boolean = true)
    extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k, distinct)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.WordShingles.compute($c, $k, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

object WordShingles {

  /** Flat one-pass shingling; called from generated code, once per row.
    * `distinct = false` keeps every occurrence in text order (the shape
    * n-gram counting and repetition metrics need). */
  def compute(text: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    // hot path (n-gram counting runs this per row): only the distinct
    // variant pays for the set
    val seen = if (distinct) new mutable.LinkedHashSet[String] else null
    val all = if (distinct) null else new Array[Any](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      if (distinct) seen.add(sb.toString)
      else all(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    if (!distinct) return new GenericArrayData(all)
    val out = new Array[Any](seen.size)
    var p = 0
    seen.foreach { s => out(p) = UTF8String.fromString(s); p += 1 }
    new GenericArrayData(out)
  }
}
