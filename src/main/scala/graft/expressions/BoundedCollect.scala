package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftseam.ColumnSeam
import org.apache.spark.sql.types._

/** Bounded collect-list with an exact element count, for `long` inputs:
  * `bounded_collect_long(v, limit)` aggregates to a struct
  * `(n: long, vals: array<long>)` where `n` is the exact number of
  * non-null inputs and `vals` holds AT MOST `limit` of them (arrival
  * order, like `collect_list`).
  *
  * Why a custom aggregate (preference tier b — a Catalyst expression
  * where built-ins can't express the semantics): the inverted-index /
  * posting-list shape needs "collect the group unless it is hot, in
  * which case just count it". Every built-in composition pays for the
  * hot keys somewhere — `collect_list` buffers an unbounded list on the
  * hottest key before any filter sees it; a separate `(key, df)`
  * aggregate joined back is skew-safe but plans the corpus scan twice;
  * a count-over-window pins the hot key's whole partition on one task.
  * This buffer is O(limit) per key BY CONSTRUCTION no matter how hot
  * the key: past `limit`, updates and merges only increment the
  * counter, so a Zipf-head boilerplate shingle streams through at
  * counting cost. Partial aggregation (map-side combine) applies as
  * with any aggregate — ObjectHashAggregate runs it hash-based and
  * falls back to sort-based under memory pressure.
  *
  * Consumers gate on `n` (e.g. `where(n <= limit)`): for kept groups
  * `vals` is provably complete (true count ≤ limit = cap), so the gate
  * + explode is exactly the df-capped posting list of
  * [[graft.operators.Curation.decontaminate]] in ONE corpus scan. */
case class BoundedCollectLong(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectLong.Buf]
  with UnaryLike[Expression] {

  override def dataType: DataType = BoundedCollectLong.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_collect_long"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType && limit > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_collect_long requires (bigint, positive literal limit), " +
        s"got ${child.dataType.sql} with limit $limit")

  override def createAggregationBuffer(): BoundedCollectLong.Buf =
    new BoundedCollectLong.Buf(0L, ArrayBuffer.empty[Long])

  override def update(b: BoundedCollectLong.Buf,
                      input: InternalRow): BoundedCollectLong.Buf = {
    val v = child.eval(input)
    if (v != null) {
      b.n += 1L
      if (b.vals.length < limit) b.vals += v.asInstanceOf[Long]
    }
    b
  }

  override def merge(b: BoundedCollectLong.Buf,
                     o: BoundedCollectLong.Buf): BoundedCollectLong.Buf = {
    b.n += o.n
    var i = 0
    while (i < o.vals.length && b.vals.length < limit) {
      b.vals += o.vals(i)
      i += 1
    }
    b
  }

  override def eval(b: BoundedCollectLong.Buf): Any =
    InternalRow(b.n, new GenericArrayData(b.vals.toArray))

  override def serialize(b: BoundedCollectLong.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + 8 * b.vals.length)
    bb.putLong(b.n)
    bb.putInt(b.vals.length)
    b.vals.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedCollectLong.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong
    val k = bb.getInt
    val vals = new ArrayBuffer[Long](k)
    var i = 0
    while (i < k) { vals += bb.getLong; i += 1 }
    new BoundedCollectLong.Buf(n, vals)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectLong =
    copy(child = newChild)
}

object BoundedCollectLong {
  /** Mutable aggregation state: exact count + capped values. */
  final class Buf(var n: Long, val vals: ArrayBuffer[Long])

  val resultType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("vals", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** `bounded_collect_long(v, limit)` as an aggregate Column, built
    * through [[ColumnSeam]]: no function-registry entry on any
    * session. */
  def of(v: Column, limit: Int): Column =
    ColumnSeam.column(BoundedCollectLong(ColumnSeam.expression(v), limit)
      .toAggregateExpression())
}
