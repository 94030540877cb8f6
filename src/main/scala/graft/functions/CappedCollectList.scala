package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, ImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** `collect_list` with a per-key size cap: the group's list while it
  * holds at most `cap` entries, NULL once more than `cap` values arrived.
  *
  * The buffer never holds more than `cap + 1` entries — `update` stops
  * adding once the key is over the cap and `merge` tops a buffer up to
  * `cap + 1` at most — so memory per key is bounded by the cap, not by the
  * group's size, across partial aggregation, the shuffle of partial
  * buffers and the object-hash aggregate's sort-based fallback. This is
  * the posting-list form of a document-frequency cap
  * ([[graft.ops.Dedup.jaccardPairs]]): a Zipf-head shingle shared by
  * millions of docs costs `cap + 1` buffered postings, and its NULL list
  * says "over the cap" without ever materializing the list.
  *
  * NULL inputs are skipped and do not count, as in `collect_list`.
  */
case class CappedCollectList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {
  require(cap >= 0, s"capped_collect_list cap=$cap must be non-negative")

  override lazy val bufferElementType = child.dataType

  override def convertToBufferElement(value: Any): Any = InternalRow.copyValue(value)

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty

  override def update(buffer: mutable.ArrayBuffer[Any],
      input: InternalRow): mutable.ArrayBuffer[Any] =
    if (buffer.length > cap) buffer else super.update(buffer, input)

  override def merge(buffer: mutable.ArrayBuffer[Any],
      other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    val room = cap + 1 - buffer.length
    if (room > 0) buffer ++= other.iterator.take(room)
    buffer
  }

  override def nullable: Boolean = true

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    if (buffer.length > cap) null else new GenericArrayData(buffer.toArray)

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "capped_collect_list"

  override protected def withNewChildInternal(newChild: Expression): CappedCollectList =
    copy(child = newChild)
}

object CappedCollectList {
  def capped_collect_list(c: Column, cap: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.toCol(
      CappedCollectList(org.apache.spark.sql.graftbridge.Bridge.toExpr(c), cap)
        .toAggregateExpression())
}
