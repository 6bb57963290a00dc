package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions.{BpeTokens, DeflateLen, DotProduct, HilbertDistance, NormalizeText, Tokens, TopKSketch, WordShingles}

/** Session-wide registration of graft's native Catalyst expressions —
  * the standard library entry point:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or programmatically
  * `SparkSession.builder().withExtensions(new GraftExtensions)`, or
  * [[GraftExtensions.register]] on a session built without it.
  *
  * The extension serves SQL users only. Library code calls the kernels
  * as Columns (e.g. [[graft.functions.expressions.Tokens.of]]), so no
  * operator needs a function in the session's registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, info, build) <- GraftExtensions.functions)
      ext.injectFunction((FunctionIdentifier(name), info, build))
}

object GraftExtensions {

  private def literalInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  private def fn(name: String, usage: String)(build: Seq[Expression] => Expression) = {
    val info = new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")
    (name, info, build)
  }

  /** (name, usage, builder) of every `graft_*` SQL function. */
  private val functions = Seq(
    fn("graft_dot", "graft_dot(a, b) - dot product of two array<double> columns")(
      e => DotProduct(e(0), e(1))),
    fn("graft_tokens", "graft_tokens(text) - whitespace tokens, empties dropped")(
      e => Tokens(e(0))),
    fn("graft_shingles", "graft_shingles(text, k[, distinct]) - word k-shingles")(
      e =>
        WordShingles(
          e(0),
          literalInt(e(1)),
          if (e.size > 2) e(2).eval(null).asInstanceOf[Boolean] else true)),
    fn("graft_bpe", "graft_bpe(text) - greedy BPE tokens over the built-in merge table")(
      e => BpeTokens(e(0))),
    fn("graft_deflate_len", "graft_deflate_len(text) - DEFLATE-compressed byte length")(
      e => DeflateLen(e(0))),
    fn("graft_normalize",
      "graft_normalize(text) - NFC composition + control/whitespace-run collapse")(
      e => NormalizeText(e(0))),
    fn("graft_hilbert", "graft_hilbert(x, y, bits) - Hilbert-curve distance of a 2-D point")(
      e => HilbertDistance(e(0), e(1), e(2))),
    fn("graft_topk", "graft_topk(item, k) - Misra-Gries heavy-hitter summary (aggregate)")(
      e => TopKSketch(e(0), literalInt(e(1))).toAggregateExpression()))

  /** Register every `graft_*` function in `spark`'s function registry;
    * names already there are left alone, so calling it again is free. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, info, build) <- functions if !registry.functionExists(FunctionIdentifier(name)))
      registry.registerFunction(FunctionIdentifier(name), info, build)
  }
}
