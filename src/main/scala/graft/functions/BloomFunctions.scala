package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Column wrappers over Spark's Catalyst bloom-filter machinery — the same
  * `BloomFilterAggregate` / `BloomFilterMightContain` expression pair the
  * optimizer injects for runtime join pruning (`InjectRuntimeFilter`),
  * exposed here as explicit library operators so a pipeline can build a
  * membership sketch ONCE and reuse it across many probe scans.
  *
  * Keys are hashed with `XxHash64` on both the build and probe side (the
  * canonical pattern from the runtime-filter rule), so any key type works
  * and both sides provably agree on the hash family. The sketch itself is
  * one binary blob — the iterate-a-small-model shape: collect it to the
  * driver, then embed it as a literal in the probe filter, which keeps the
  * probe a pure map-side scan filter (codegen'd, no join, no shuffle)
  * that parquet cannot serve but every executor evaluates at row speed.
  */
object BloomFunctions {

  /** Aggregate column building a bloom filter over `key` sized for
    * `expectedItems` distinct keys at `numBits` bits. Result type BINARY.
    *
    * SIZING CAP: `BloomFilterAggregate` silently clamps both parameters to
    * the runtime-filter conf maxima —
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M) and
    * `...maxNumBits` (default 67108864 ≈ 8 MB) — read from the active
    * session conf at execution. Beyond ~6.7M keys the advertised fpp
    * degrades silently (no failure: false positives just rise, eroding
    * pruning). Builds sized above the defaults run on a child session
    * carrying [[bloomCaps]], as JoinOps.bloomSemiJoin and buildBloomIndex do. */
  def bloom_agg(key: Column, expectedItems: Long, numBits: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.expression(key))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** The runtime-filter caps for a [[graft.util.Sessions.child]] build:
    * `max(caller's value, needed)` each. */
  def bloomCaps(spark: SparkSession, expectedItems: Long,
      numBits: Long): Seq[(String, String)] =
    Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems,
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
      .map { case (k, needed) => k -> math.max(spark.conf.get(k).toLong, needed).toString }

  /** Membership probe against a driver-collected bloom filter blob. False
    * positives possible (rate set by the build sizing), false negatives
    * never — so `might_contain` is a safe PRE-filter for any semi-join. */
  def might_contain(bloom: Array[Byte], key: Column): Column =
    ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bloom, BinaryType),
        new XxHash64(Seq(ColumnBridge.expression(key)))))
}
