package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper.{REGISTER_SIZE, REGISTER_WORD_MASK, REGISTERS_PER_WORD}
import org.apache.spark.sql.types.{DataType, LongType}

/** HLL++'s `approx_count_distinct`, fed the 64-bit hash that HLL++ computes
  * of each value: `child` is that hash, null for a null value (which
  * leaves the sketch unchanged).
  *
  * The buffer holds HLL++'s registers dense, in its own word layout, in an
  * `UnsafeRow`, so `HyperLogLogPlusPlusHelper.merge` and `.query` run on it
  * unchanged and the estimate is HLL++'s. Serialized, it is one binary
  * field of the non-zero words only, each after its word index (1, 2 or 4
  * bytes, by the word count); the empty sketch is empty. A sketch of a few
  * values is a few words on the wire, not HLL++'s 52 `long` fields (at the
  * default precision), and Spark plans it in an `ObjectHashAggregateExec`.
  */
case class SparseHll(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnsafeRow] with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)
  // HLL++'s precision, computed as its helper does (the helper keeps it private)
  @transient private lazy val p = Math.ceil(2.0d * Math.log(1.106d / relativeSD) / Math.log(2.0d)).toInt
  @transient private lazy val numWords = helper.numWords
  @transient private lazy val indexBytes = if (numWords <= 256) 1 else if (numWords <= 65536) 2 else 4

  override def prettyName: String = "sparse_hll"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def defaultResult: Option[Literal] = Some(Literal.create(0L, LongType))

  override def createAggregationBuffer(): UnsafeRow = {
    val size = UnsafeRow.calculateBitSetWidthInBytes(numWords) + 8 * numWords
    val registers = new UnsafeRow(numWords)
    registers.pointTo(new Array[Byte](size), size)
    registers
  }

  /** `HyperLogLogPlusPlusHelper.update`'s register step, after its hash. */
  override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
    val h = child.eval(input)
    if (h != null) {
      val x = h.asInstanceOf[Long]
      val idx = (x >>> (64 - p)).toInt
      val pw = java.lang.Long.numberOfLeadingZeros((x << p) | (1L << (p - 1))) + 1L
      val word = idx / REGISTERS_PER_WORD
      val shift = REGISTER_SIZE * (idx - word * REGISTERS_PER_WORD)
      val mask = REGISTER_WORD_MASK << shift
      val old = buffer.getLong(word)
      if (pw > ((old & mask) >>> shift)) buffer.setLong(word, (old & ~mask) | (pw << shift))
    }
    buffer
  }

  override def merge(buffer: UnsafeRow, input: UnsafeRow): UnsafeRow = {
    helper.merge(buffer, input, 0, 0)
    buffer
  }

  override def eval(buffer: UnsafeRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: UnsafeRow): Array[Byte] = {
    val words = (0 until numWords).filter(buffer.getLong(_) != 0L)
    val out = ByteBuffer.allocate(words.length * (indexBytes + 8))
    for (i <- words) {
      indexBytes match {
        case 1 => out.put(i.toByte)
        case 2 => out.putShort(i.toShort)
        case _ => out.putInt(i)
      }
      out.putLong(buffer.getLong(i))
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): UnsafeRow = {
    val buffer = createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    while (in.hasRemaining) {
      val i = indexBytes match {
        case 1 => in.get() & 0xff
        case 2 => in.getShort() & 0xffff
        case _ => in.getInt()
      }
      buffer.setLong(i, in.getLong())
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): SparseHll = copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SparseHll = copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SparseHll = copy(child = newChild)
}
