package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Fixed-range histogram sketch: the MERGEABLE quantile summary next to
  * the engine's CMS (frequency), HLL (cardinality), and Bloom
  * (membership) kernels.
  *
  * `q_percentiles` computes exact interpolated percentiles — which at
  * 100 TB means a per-group sort (or Spark's `approx_percentile`, whose
  * GK summary is NOT deterministic across partition orderings and so
  * can never be oracle-checked). This kernel takes the third road the
  * production systems take (HDR-histogram / Prometheus buckets): a
  * FIXED bucketization agreed in advance, exact integer counts per
  * bucket, linear interpolation inside the bucket at read time.
  *
  *  - `update`: `bin = clamp(floor((v − lo)/w), 0, bins−1)`, count += 1
  *    (NaN/null skipped — the engine's non-finite-drop rule, SURVEY
  *    §2 P4). Values outside `[lo, hi)` clamp into the edge bins, so
  *    the sketch never loses mass, only edge resolution.
  *  - `merge`: element-wise add — exact, commutative, associative, so
  *    partial aggregation, tree-merge, per-day sketch columns, and the
  *    STREAMING state-store replay all produce the bit-identical count
  *    array one batch pass produces (same contract as
  *    [[HllRegisterAgg]]; `q_stream_quantiles` shares the batch oracle
  *    verbatim).
  *  - estimate ([[HistogramAgg.histQuantile]]): integer target rank
  *    `ceil(q·N)`, first bin with cumulative ≥ target, then one linear
  *    interpolation `binLo + (target − cumBefore)/c_bin · w` — every
  *    input exactly known to both engines, so DuckDB replays it
  *    bit-for-bit in SQL (no fixture seam).
  *
  * Scale: the buffer is `8·bins` bytes per group regardless of row
  * count — the exchange carries one count array per partition per
  * group, never rows; rank error is bounded by bin width (choose bins
  * to taste, 64 here → w = range/64).
  */
case class HistogramAgg(
    child: Expression,
    lo: Double,
    hi: Double,
    bins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends LongArrayAgg(child, bins, 0L, LongArrayAgg.Sum) {

  require(bins >= 2 && bins <= (1 << 16),
    s"histogram: bins must be in [2, 65536], got $bins")
  require(lo < hi && java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi),
    s"histogram: need finite lo < hi, got [$lo, $hi)")

  private val w = (hi - lo) / bins

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (!d.isNaN) {
        val raw = math.floor((d - lo) / w).toInt
        val bin = if (raw < 0) 0 else if (raw >= bins) bins - 1 else raw
        buf(bin) += 1L
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(child = newChildren.head)
}

object HistogramAgg {
  /** Aggregate Column: the `bins`-element count array of `value` over
    * the fixed range `[lo, hi)`. */
  def hist_sketch(value: Column, lo: Double, hi: Double, bins: Int): Column =
    ColumnBridge.column(
      HistogramAgg(ColumnBridge.expression(value), lo, hi, bins)
        .toAggregateExpression())

  /** Quantile-`q` estimate from a count array: target rank
    * `ceil(q·N)` (integer — no float comparison crosses the engines),
    * scan to the first bin with cumulative count ≥ target, interpolate
    * linearly inside it. Pure `Column` arithmetic over the tiny final
    * array (one per group — serving-edge work, exactly where the
    * reference interpolates too). Empty sketch → null. */
  def histQuantile(counts: Column, q: Double,
                   lo: Double, hi: Double, bins: Int): Column = {
    val w = (hi - lo) / bins
    val total = aggregate(counts, lit(0L), (acc, c) => acc + c)
    val target = ceil(lit(q) * total.cast("double")).cast("long")
    // fold to (cumulative, answer): once the answer is set it sticks
    val state = aggregate(
      zip_with(counts, sequence(lit(0), lit(bins - 1)),
        (c, i) => struct(c.as("c"), i.as("i"))),
      struct(lit(0L).as("cum"), lit(null).cast("double").as("est")),
      (acc, e) => {
        val cum2 = acc.getField("cum") + e.getField("c")
        val hit = acc.getField("est").isNull && cum2 >= target &&
          e.getField("c") > lit(0)
        val binLo = lit(lo) + e.getField("i").cast("double") * lit(w)
        val est = when(hit,
          binLo + (target - acc.getField("cum")).cast("double") /
            e.getField("c").cast("double") * lit(w))
          .otherwise(acc.getField("est"))
        struct(cum2.as("cum"), est.as("est"))
      },
      acc => acc.getField("est"))
    when(total > lit(0L), round(state, 6))
  }
}
