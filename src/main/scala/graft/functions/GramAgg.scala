package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** One-pass upper-triangle Gram matrix over a vector column — the
  * PCA / whitening / covariance precursor every embedding pipeline runs
  * before index tuning or drift analysis. For each dim pair `i ≤ j`
  * accumulates `Σ_rows x_i · x_j`, so mean/covariance/correlation derive
  * from the output plus the row count without a second corpus pass.
  *
  * Scale shape: the buffer is ONE `d(d+1)/2`-entry long array per
  * partition (16 KB at d=64 — independent of row count), map-side
  * combined, so the exchange carries `partitions × triangle` longs and
  * the corpus is read exactly once. The d² work per row runs as a tight
  * JVM loop in this imperative aggregate — the explode-both-dims
  * formulation would amplify the corpus d²× through a shuffle.
  *
  * Engine-exactness: each product rounds to integer MICRO-units
  * (`round(x_i·x_j·1e6)`) before entering the integer sum, so any
  * accumulation order agrees bit-for-bit with the oracle's
  * `sum(CAST(round(xi*xj*1e6) AS BIGINT))`. Rounding is half-AWAY-FROM-
  * ZERO to match DuckDB's `round()`: exact .5 ties DO occur — a dyadic
  * product times 1e6 is `m·5⁶·2^(e+6)`, so products that are odd
  * multiples of 1/128 (e.g. 0.0625·0.125 = 7812.5 micro) land exactly on
  * .5 — and plain `floor(p+0.5)` would round negative ties toward +∞
  * where the oracle rounds away from zero. Overflow bound:
  * |Σ| ≤ rows · max|x|² · 1e6 — at unit-scale embeddings the long range
  * runs out near 10¹³ rows; shard the aggregate (e.g. by id ranges) and
  * sum the shards beyond that.
  *
  * Emits `ARRAY<STRUCT<i INT, j INT, s BIGINT>>` over the upper triangle
  * (1-based dims, i ≤ j), ordered by (i, j) — `posexplode` recovers rows.
  * Rows whose vector is null or not exactly `dims` long are REJECTED
  * (data-contract error), matching the PQ paths' dims discipline.
  */
case class GramMicroAgg(
    vec: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArrayAgg(vec, dims * (dims + 1) / 2, 0L, LongArrayAgg.Sum) {

  require(dims > 0, s"gram_micro needs dims > 0, got $dims")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("s", LongType, nullable = false))), containsNull = false)

  private def isFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = vec.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[ArrayData]
      require(arr.numElements() == dims,
        s"gram_micro expects $dims dims, got ${arr.numElements()}")
      val x = new Array[Double](dims)
      var i = 0
      if (isFloat) while (i < dims) { x(i) = arr.getFloat(i).toDouble; i += 1 }
      else while (i < dims) { x(i) = arr.getDouble(i); i += 1 }
      var idx = 0
      i = 0
      while (i < dims) {
        var j = i
        while (j < dims) {
          // half away from zero, matching the oracle's round(): exact .5
          // ties happen (odd multiples of 1/128 micro — see scaladoc)
          val p = x(i) * x(j) * 1e6
          buf(idx) += (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong
          idx += 1; j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val rows = new Array[Any](buf.length)
    var idx = 0; var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        rows(idx) = InternalRow(i + 1, j + 1, buf(idx))
        idx += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMicroAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMicroAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GramMicroAgg =
    copy(vec = newChildren(0))
}

object GramMicroAgg {
  /** Aggregate Column: upper-triangle micro-unit Gram sums of `vec`. */
  def gram_micro(vec: Column, dims: Int): Column =
    ColumnBridge.column(
      GramMicroAgg(ColumnBridge.expression(vec), dims).toAggregateExpression())
}
