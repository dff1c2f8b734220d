package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** MinHash signature as a single imperative aggregate.
  *
  * The naive formulation — k separate `min(pmod(a_i*h+b_i, p))` aggregate
  * columns — blows past Spark's aggregate-codegen field limit at k=128 and
  * falls back to interpreted row-based aggregation (measured 25 s at sf0.1).
  * This aggregate keeps ONE buffer (`Array[Long](k)`) and updates all k
  * permutations in a tight JVM loop per input row: same result, one shuffle,
  * ~k× smaller aggregation state. Partial aggregation still applies —
  * `merge` is an elementwise min — so map-side combine works as usual.
  *
  * Input: a 64-bit base hash per element (e.g. `xxhash64(shingle)`).
  * Output: `ARRAY<BIGINT>` of length k.
  */
case class MinHashSigAgg(
    child: Expression,
    k: Int,
    seed: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArrayAgg(child, k, MinHashSig.Prime, LongArrayAgg.Min) {

  import MinHashSig.Prime
  @transient private lazy val coeffs: Array[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Array.fill(k)((rng.nextInt(Int.MaxValue - 1).toLong + 1,
                   rng.nextInt(Int.MaxValue).toLong))
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // base hash folded into [0, p) once; each permutation is affine mod p
      val h = math.floorMod(v.asInstanceOf[Long], Prime)
      var i = 0
      while (i < k) {
        val m = math.floorMod(coeffs(i)._1 * h + coeffs(i)._2, Prime)
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSigAgg =
    copy(child = newChildren.head)
}

object MinHashSigAgg {
  /** Aggregate Column: MinHash signature of the grouped 64-bit hashes. */
  def minhash_sig(hashCol: Column, k: Int, seed: Long = 42L): Column =
    ColumnBridge.column(
      MinHashSigAgg(ColumnBridge.expression(hashCol), k, seed)
        .toAggregateExpression())
}
