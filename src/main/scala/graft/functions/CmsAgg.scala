package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as one imperative
  * aggregate — the frequency sketch next to the engine's Bloom
  * (membership), GK (quantiles) and heavy-hitter heap kernels.
  *
  * The child evaluates to one pre-hashed column index PER SKETCH ROW
  * (`array<bigint>` of length `depth`, each in `[0, width)`); keeping the
  * hash outside the kernel lets callers use the engine's shared
  * DuckDB-replayable md5-prefix recipe (`TextOps.md5Key64 % width`), so a
  * SQL oracle can rebuild the identical counter matrix. `update` adds 1 to
  * one counter per row; `merge` is element-wise addition (the sketch is a
  * linear projection of the count vector, so partial aggregation /
  * tree-merge is exact); `eval` emits the row-major `depth × width`
  * counter matrix. A point estimate is then `min_r matrix[r*width +
  * h_r(x)]` — always ≥ the true count, within εN with probability 1−δ for
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
  *
  * Scale: the buffer is a fixed `depth·width` longs (16 KiB at 4×512)
  * regardless of corpus size — at 100 TB this replaces a full-key-set
  * shuffle (exact counts) with map-side-combined constant-size partials;
  * executors each fold their partitions locally and the exchange carries
  * one buffer per partition, not one row per distinct key.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArrayAgg(child, depth * width, 0L, LongArrayAgg.Sum) {

  require(depth > 0 && width > 0, "cms_sketch: depth and width must be > 0")
  require(depth.toLong * width <= Int.MaxValue,
    s"cms_sketch: depth*width must index an Array (got ${depth}x$width)")

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val cols = v.asInstanceOf[ArrayData]
      if (cols.numElements() != depth)
        throw new IllegalArgumentException(
          s"cms_sketch: child must yield $depth row indexes, got ${cols.numElements()}")
      var r = 0
      while (r < depth) {
        val c = cols.getLong(r)
        if (c < 0L || c >= width)
          throw new IllegalArgumentException(
            s"cms_sketch: row $r column index $c out of [0, $width) — caller must hash modulo width")
        buf(r * width + c.toInt) += 1L
        r += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(child = newChildren.head)
}

object CmsSketchAgg {
  /** Aggregate Column: row-major depth×width Count-Min counter matrix.
    * `rowCols` must be an `array<bigint>` of length `depth` holding each
    * sketch row's column index for the item (caller-hashed, `[0, width)`).
    */
  def cms_sketch(rowCols: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(
      CmsSketchAgg(ColumnBridge.expression(rowCols), depth, width)
        .toAggregateExpression())
}
