package graft.functions.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitter summary: at most `k` counters plus the total
  * decrement applied so far. Counts are LOWER bounds; `decr` bounds the
  * undercount uniformly: `count ≤ true ≤ count + decr`, and every item
  * with true frequency > n/(k+1) is guaranteed present (Misra & Gries
  * 1982). Summaries are mergeable with additive error (Agarwal et al.,
  * "Mergeable Summaries", SODA'12): sum counts pointwise, subtract the
  * (k+1)-largest count from every counter, drop the non-positive.
  */
final class MgSummary(val k: Int) {
  val counts = new mutable.HashMap[String, Long]
  var decr: Long = 0L

  def update(item: String): Unit = {
    counts.get(item) match {
      case Some(c) => counts.update(item, c + 1)
      case None if counts.size < k => counts.update(item, 1L)
      case None =>
        // decrement-all step, dropping zeros (amortized O(1) per item:
        // each decrement pass pays for k prior increments).
        // SNAPSHOT before mutating: scala 2.13 mutable.HashMap
        // iteration is undefined under concurrent mutation — even
        // value-only update() inside foreach can silently TRUNCATE the
        // iteration (observed: 4 of 11 entries visited), leaving a
        // corrupt summary that violates every Misra–Gries bound.
        decr += 1
        for ((i, c) <- counts.toArray)
          if (c == 1L) counts.remove(i) else counts.update(i, c - 1)
    }
  }

  def merge(other: MgSummary): Unit = {
    decr += other.decr
    other.counts.foreach { case (i, c) =>
      counts.update(i, counts.getOrElse(i, 0L) + c)
    }
    if (counts.size > k) {
      // subtract the (k+1)-largest count from everything, keep
      // positive; snapshot first — same iteration hazard as update()
      val sorted = counts.values.toArray
      java.util.Arrays.sort(sorted)
      val cut = sorted(sorted.length - k - 1)
      decr += cut
      for ((i, c) <- counts.toArray)
        if (c <= cut) counts.remove(i) else counts.update(i, c - cut)
    }
  }
}

/** `graft_topk(item, k)`: approximate heavy hitters over a string key in
  * ONE pass with a fixed-size mergeable state — the 100 TB shape for
  * "top items by frequency" when the key space is too large to fully
  * aggregate: each task keeps ≤ k counters, partials merge on the
  * driver-bound final stage, and nothing proportional to the distinct
  * count is ever shuffled (contrast the exact `q_vocab_topk`, which
  * shuffles every distinct key once).
  *
  * Returns `array<struct<item, count_lo, count_hi>>` sorted by
  * (count_lo desc, item): `count_lo ≤ true ≤ count_hi`, and any item
  * with true count > n·/(k+1) of the aggregated rows is guaranteed to
  * appear. Result contents are order-sensitive within the guarantees
  * (like every streaming summary), so the query surface is spec-verified
  * against the exact counts rather than hash-compared to an oracle.
  */
case class TopKSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MgSummary]
    with UnaryLike[Expression] {

  require(k >= 1, s"graft_topk capacity must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects a string column, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("count_lo", LongType, nullable = false),
      StructField("count_hi", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): MgSummary = new MgSummary(k)

  override def update(buffer: MgSummary, input: InternalRow): MgSummary = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: MgSummary, other: MgSummary): MgSummary = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: MgSummary): Any = {
    val rows = buffer.counts.toArray
      .sortBy { case (item, c) => (-c, item) }
      .map { case (item, c) =>
        InternalRow(UTF8String.fromString(item), c, c + buffer.decr)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: MgSummary): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    out.writeLong(buffer.decr)
    out.writeInt(buffer.counts.size)
    buffer.counts.foreach { case (i, c) =>
      // length-prefixed raw UTF-8, not writeUTF: items over 64 KiB
      // (arbitrary string columns) must round-trip, not throw
      val bytes = i.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MgSummary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new MgSummary(k)
    s.decr = in.readLong()
    var left = in.readInt()
    while (left > 0) {
      val ib = new Array[Byte](in.readInt())
      in.readFully(ib)
      val i = new String(ib, java.nio.charset.StandardCharsets.UTF_8)
      s.counts.update(i, in.readLong())
      left -= 1
    }
    s
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSketch =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKSketch =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): TopKSketch =
    copy(child = newChild)

  override def prettyName: String = "graft_topk"
}

object TopKSketch {

  /** `graft_topk(item, k)` as an aggregate Column. */
  def of(item: Column, k: Int): Column =
    ColumnBridge.column(TopKSketch(ColumnBridge.expression(item), k).toAggregateExpression())
}
