package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Every document pair inside one posting list, as a generator: the
  * input is a (block, shingle) key's list of `struct(id, size)` postings
  * and the output is one row `(id_a, id_b, sz_a, sz_b)` per pair of
  * postings whose ids differ, oriented `id_a < id_b` — exactly the rows
  * an equi-self-join of the postings on the key, filtered `id_a < id_b`,
  * yields for that key (duplicate postings pair as often as the join
  * would pair them). Postings with a NULL id pair with nothing, as NULL
  * fails the join's `<`. A NULL list yields no rows.
  *
  * The list is sorted by id once (Spark's ordering for the id type), so
  * pairs come out of two nested index loops with one compare each;
  * rows stream from an iterator, never as a materialized pair array.
  */
case class PostingPairs(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private def entryType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.length == 2 &&
        RowOrdering.isOrderable(st.head.dataType) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"posting_pairs needs array<struct<id (orderable), size>>, got $t")
  }

  override def elementSchema: StructType = {
    val Seq(id, sz) = entryType.fields.toSeq
    StructType(Seq(
      // nullability mirrors the posting fields', as the join's would
      StructField("id_a", id.dataType, id.nullable),
      StructField("id_b", id.dataType, id.nullable),
      StructField("sz_a", sz.dataType, sz.nullable),
      StructField("sz_b", sz.dataType, sz.nullable)))
  }

  @transient private lazy val idType: DataType = entryType.head.dataType
  @transient private lazy val szType: DataType = entryType(1).dataType
  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(idType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val list = child.eval(input).asInstanceOf[ArrayData]
    if (list == null) return Iterator.empty
    val entries = (0 until list.numElements()).iterator
      .map(i => list.getStruct(i, 2))
      .filter(e => !e.isNullAt(0))
      .map(e => (e.get(0, idType), e.get(1, szType)))
      .toArray
      .sortWith((x, y) => idOrdering.lt(x._1, y._1))
    val n = entries.length
    Iterator.range(0, n).flatMap { i =>
      val (idA, szA) = entries(i)
      Iterator.range(i + 1, n)
        .filter(j => idOrdering.lt(idA, entries(j)._1))
        .map { j =>
          val (idB, szB) = entries(j)
          new GenericInternalRow(Array[Any](idA, idB, szA, szB))
        }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PostingPairs =
    copy(child = newChild)
}

object PostingPairs {
  def posting_pairs(list: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.toCol(
      PostingPairs(org.apache.spark.sql.graftbridge.Bridge.toExpr(list)))
}
