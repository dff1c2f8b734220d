package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a global sort of a small input runs in
  * one partition, without the sampling job a multi-partition
  * `RangePartitioner` runs (a job that recomputes the sort's whole input
  * to pick bounds).
  *
  * It matches the exchange `EnsureRequirements` adds under a global sort,
  * `ShuffleExchangeExec(RangePartitioning(order, n > 1), child,
  * ENSURE_REQUIREMENTS)` — never a user's `repartitionByRange`, whose
  * origin is `REPARTITION_BY_NUM`/`REPARTITION_BY_COL` — and fires only
  * when the child's input has a known upper bound of at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`: the size at
  * which AQE's coalescing (under the default `parallelismFirst`) already
  * reads the exchange as one partition. The bound is a materialized query
  * stage's bytes, a local relation's rows, or a file scan's bytes, carried
  * up only through operators that cannot add rows; a `Generate`, an
  * `Expand`, a join or any other operator in the subtree leaves the sort
  * alone.
  *
  * When the child reaches an `ENSURE_REQUIREMENTS` shuffle through an
  * aggregate, project or filter chain, that shuffle gathers to one
  * partition and the range exchange goes: the sort runs in the final
  * aggregate's task (two jobs fewer). Otherwise the range exchange keeps
  * one partition, for which `RangePartitioner` samples nothing.
  *
  * Injected through [[graft.functions.GraftExtensions]]
  * (`injectQueryStagePrepRule`), so it runs inside AQE after
  * `EnsureRequirements`, on the first plan and on every re-plan; plans
  * without AQE, or with partition coalescing off, are unaffected. */
object SmallGlobalSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = {
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) return plan
    val limit = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    plan.transformUp {
      case e @ ShuffleExchangeExec(r: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if r.numPartitions > 1 && inputBound(child).exists(_ <= limit) =>
        gather(child).getOrElse(e.copy(outputPartitioning = r.copy(numPartitions = 1)))
    }
  }

  /** `p` with the first `ENSURE_REQUIREMENTS` shuffle below an
    * aggregate/project/filter chain gathering to one partition, or None
    * when the chain ends anywhere else. */
  private def gather(p: SparkPlan): Option[SparkPlan] = p match {
    case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
      Some(s.copy(outputPartitioning = SinglePartition))
    case _: BaseAggregateExec | _: ProjectExec | _: FilterExec =>
      gather(p.children.head).map(c => p.withNewChildren(Seq(c)))
    case _ => None
  }

  /** An upper bound on the bytes `p` reads, or None when unknown or when
    * an operator below can add rows. */
  private def inputBound(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec if s.isMaterialized => Some(s.getRuntimeStatistics.sizeInBytes)
    case s: QueryStageExec => inputBound(s.plan)
    case s: FileSourceScanExec => Some(BigInt(s.relation.sizeInBytes))
    case l: LocalTableScanExec => Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
    case u: UnionExec =>
      u.children.map(inputBound).foldLeft(Option(BigInt(0))) {
        case (Some(a), Some(b)) => Some(a + b)
        case _ => None
      }
    case _: BaseAggregateExec | _: ProjectExec | _: FilterExec | _: SortExec |
         _: WindowExec | _: WindowGroupLimitExec | _: ShuffleExchangeExec |
         _: AQEShuffleReadExec =>
      inputBound(p.children.head)
    case _ => None
  }
}
