package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `bounded_collect(child, limit)` → struct(n: bigint, vals: array<child>)
  * — collect_list with a HARD buffer bound: at most `limit + 1` elements
  * are ever held or shipped per group, while `n` counts every row. A
  * group with n ≤ limit has ALL its values in `vals`; a group past the
  * limit is marked by its count (vals incomplete by design — callers
  * drop such groups). This is the skew-capped banding shape: the
  * previous [count agg + filter join + collect] needed two passes over
  * the sketch, and a plain collect_list holds an over-cap bucket fully
  * before the size filter can drop it — unbounded per-group state on
  * exactly the boilerplate-skew buckets the cap exists for.
  */
final class BoundedListBuf {
  var n: Long = 0L
  val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
}

case class BoundedCollect(child: Expression, limit: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedListBuf] with UnaryLike[Expression] {
  require(limit > 0, s"limit must be positive, got $limit")

  override protected def withNewChildInternal(newChild: Expression): BoundedCollect =
    copy(child = newChild)

  override def createAggregationBuffer(): BoundedListBuf = new BoundedListBuf

  override def update(buf: BoundedListBuf, input: InternalRow): BoundedListBuf = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1
      // keep limit + 1: enough to prove overflow, never more
      if (buf.vals.length <= limit) buf.vals += InternalRow.copyValue(v)
    }
    buf
  }

  override def merge(a: BoundedListBuf, b: BoundedListBuf): BoundedListBuf = {
    a.n += b.n
    var i = 0
    while (i < b.vals.length && a.vals.length <= limit) { a.vals += b.vals(i); i += 1 }
    a
  }

  override def eval(buf: BoundedListBuf): Any =
    InternalRow(buf.n, new GenericArrayData(buf.vals.toArray))

  // the buffer ships as ONE unsafe (n, vals) row — the layout
  // collect_list ships its buffer in; a per-element projection and
  // length-prefixed stream measured slower on hot (hundreds-of-member)
  // buckets
  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](LongType, ArrayType(child.dataType, containsNull = false)))

  override def serialize(buf: BoundedListBuf): Array[Byte] =
    proj.apply(InternalRow(buf.n, new GenericArrayData(buf.vals.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): BoundedListBuf = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val buf = new BoundedListBuf
    buf.n = row.getLong(0)
    // elements point into `bytes`, which nothing reuses: no copy needed
    row.getArray(1).foreach(child.dataType, (_, v) => buf.vals += v)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollect =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("vals", ArrayType(child.dataType, containsNull = false), nullable = false)))
  override def prettyName: String = "bounded_collect"
}

object BoundedCollect {
  def bounded_collect(child: Column, limit: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      BoundedCollect(org.apache.spark.sql.graft.Bridge.expression(child), limit)
        .toAggregateExpression())
}
