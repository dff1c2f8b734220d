package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Base for the fixed-width `Array[Long]` sketch aggregates (Count-Min,
  * histogram, MinHash, Gram): one `length`-long buffer per group, filled
  * with `fill`, merged element-wise by `op`, shuffled as `8·length`
  * big-endian bytes. A subclass supplies `update` (and `eval` /
  * `dataType` when it emits more than the raw counter array).
  *
  * Element-wise sum and min are exact, commutative and associative, so
  * partial aggregation and any merge tree give the single-pass buffer. */
abstract class LongArrayAgg(
    input: Expression,
    length: Int,
    fill: Long,
    op: LongArrayAgg.Op)
  extends TypedImperativeAggregate[Array[Long]] with Serializable {

  override def children: Seq[Expression] = Seq(input)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](length)
    if (fill != 0L) java.util.Arrays.fill(buf, fill)
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    op match {
      case LongArrayAgg.Sum => while (i < length) { a(i) += b(i); i += 1 }
      case LongArrayAgg.Min => while (i < length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](length)
    ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }
}

object LongArrayAgg {
  /** Element-wise merge of two partial buffers. */
  sealed trait Op
  case object Sum extends Op
  case object Min extends Op
}
