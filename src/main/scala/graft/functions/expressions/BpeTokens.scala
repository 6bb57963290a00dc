package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy byte-pair encoding over a fixed merge-rank table (the
  * tokenizer-accurate complement of the regex token count in
  * [[graft.functions.TextFns.bpeTokenCount]]): each whitespace word
  * starts as single-character symbols; the lowest-ranked adjacent pair
  * present in the table is merged across all its occurrences, repeating
  * until no table pair remains (the Sennrich et al. 2016 / GPT-2 merge
  * loop, with a compiled-in merge list standing in for a trained
  * vocabulary — swap [[BpeTokens.Merges]] for a real tokenizer's list
  * to count exactly that tokenizer's tokens).
  *
  * A native expression, not a UDF: the merge loop is a flat
  * static-call kernel inside whole-stage codegen, and the merge table
  * is a shared immutable map — no per-row closure, no serialization.
  * The greedy loop IS oracle-checkable for this table: because the
  * merge list is topologically ranked, greedy lowest-rank-first equals
  * applying the merges once in rank order, which SQL replays as a
  * chained replace (see the `q_bpe_tokens` oracle); the semantics are
  * additionally pinned by hand-traced specs.
  */
case class BpeTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_bpe expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    BpeTokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(
      ctx,
      ev,
      c => s"graft.functions.expressions.BpeTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_bpe"
}

object BpeTokens {

  /** `graft_bpe(text)` as a Column. */
  def of(text: Column): Column =
    ColumnBridge.column(BpeTokens(ColumnBridge.expression(text)))

  /** Merge list in rank order (rank = index; lower merges first). A
    * small frequency-plausible English table — a stand-in for a trained
    * vocabulary, chosen for determinism, not linguistics. */
  val Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("s", "t"), ("a", "r"), ("o", "u"), ("l", "e"), ("in", "g"),
    ("an", "d"), ("e", "s"), ("o", "w"), ("u", "e"), ("c", "a"),
    ("s", "c"), ("q", "u"), ("qu", "e"), ("t", "a"), ("ta", "b"),
    ("w", "i"), ("wi", "n"), ("v", "a"), ("va", "l"), ("b", "a"),
    ("ba", "t"), ("f", "a"), ("fa", "s"), ("s", "l"), ("sl", "o"),
    ("g", "r"), ("k", "e"), ("h", "a"), ("ha", "s"))

  private val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    Merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, i)
    }
    m
  }

  private def pairRank(a: String, b: String): Int = {
    val r = rank.get(a + " " + b)
    if (r == null) Int.MaxValue else r.intValue()
  }

  /** Encode one word: repeatedly merge every (left-to-right,
    * non-overlapping) occurrence of the lowest-ranked adjacent pair.
    * Initial symbols are CODE POINTS, not UTF-16 units: a char-level
    * split would cut an emoji / supplementary-plane character into two
    * lone surrogates, which UTF8String renders as U+FFFD — corrupted
    * tokens and counts ([[graft.functions.BpeTrainer]] splits by code
    * point too, so encoder and trainer agree on any corpus). */
  private def encodeWord(word: String, out: java.util.ArrayList[Any]): Unit = {
    val nCp = word.codePointCount(0, word.length)
    var syms = new Array[String](nCp)
    var i = 0
    var off = 0
    while (off < word.length) {
      val cp = word.codePointAt(off)
      val n = Character.charCount(cp)
      syms(i) = word.substring(off, off + n)
      off += n
      i += 1
    }
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val r = pairRank(syms(j), syms(j + 1))
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = Merges(best)
        val next = new Array[String](syms.length)
        var w = 0
        j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            next(w) = a + b
            j += 2
          } else {
            next(w) = syms(j)
            j += 1
          }
          w += 1
        }
        syms = java.util.Arrays.copyOf(next, w)
        done = syms.length < 2
      }
    }
    i = 0
    while (i < syms.length) { out.add(UTF8String.fromString(syms(i))); i += 1 }
  }

  def compute(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ")
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) encodeWord(words(i), out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
