package graft

import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: finish a small global sort in one partition.
  *
  * A global `Sort` plans as a range exchange under a local sort; the
  * exchange costs a sampling job (to pick the range bounds) and a shuffle
  * stage. Once every leaf under the sort is a materialized query stage, the
  * sort's runtime size is known. If it is no larger than the size at which
  * `CoalesceShufflePartitions` would coalesce the range exchange into a
  * single partition anyway, the rule sorts over
  * `Repartition(1, shuffle = false, child)` instead: one task reads the
  * materialized partitions and sorts them: the same rows in sort order,
  * one job and one stage fewer. That size is
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` under the
  * default `parallelismFirst`, else `advisoryPartitionSizeInBytes`. Larger
  * inputs, and sorts over a scan, keep the parallel range sort; a sort
  * whose input already arrives range-partitioned or in one partition is
  * left alone.
  */
object OnePartitionSmallSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan else plan.transformUp {
      case s @ Sort(order, true, child, _) if !distributed(child, order) &&
          materialized(child) && child.stats.sizeInBytes <= singlePartitionBytes =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }

  /** Whether the child already has the partitioning the sort needs, so no
    * range exchange is left to remove: a finished range-exchange stage
    * (AQE links it to the sort's child), one partition, or this rewrite. */
  private def distributed(child: LogicalPlan, order: Seq[SortOrder]): Boolean = child match {
    case q: LogicalQueryStage =>
      q.physicalPlan.outputPartitioning.satisfies(OrderedDistribution(order))
    case Repartition(1, _, _) => true
    case _ => false
  }

  private def materialized(p: LogicalPlan): Boolean = p.collectLeaves().forall {
    case q: LogicalQueryStage => q.physicalPlan.collectLeaves().forall {
      case s: QueryStageExec => s.isMaterialized
      case _ => false
    }
    case _ => false
  }

  private def singlePartitionBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
