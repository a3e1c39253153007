package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, InnerLike, LeftAnti,
  LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec,
  FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}

/** Query-stage preparation rule: a sort's range exchange over an input
  * that is provably ONE partition plans as `RangePartitioning(order, 1)`.
  *
  * Every `ORDER BY` without a limit plans as `Exchange
  * rangepartitioning(order, <shuffle partitions>)`, and Spark's
  * `RangePartitioner` first runs a sampling job over the exchange's input
  * to find the range bounds, recomputing everything below the exchange.
  * Over an input that is one task's data, that job repeats the task for
  * nothing; with one output partition the partitioner samples nothing.
  * The rows and their order are unchanged: the same sort over the same
  * single map output.
  *
  * "Provably one partition" is structural, with no size estimate: a file
  * scan with one split, seen through Project, Filter, Generate and
  * ColumnarToRow nodes and through the streamed side of a broadcast join
  * that keeps its streamed partitions. Only exchanges the planner added
  * for a sort's distribution (`ENSURE_REQUIREMENTS`) change; a user's
  * `repartitionByRange` keeps its count. The plan still reads
  * `rangepartitioning`.
  *
  * Injected by `GraftExtensions` (`injectQueryStagePrepRule`): AQE
  * applies it to the initial plan and again on every re-plan.
  */
object OnePartitionRangeSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
        if n > 1 && onePartition(child) =>
      e.copy(outputPartitioning = RangePartitioning(order, 1))
  }

  private def onePartition(p: SparkPlan): Boolean = p match {
    // a partition filter holding a subquery cannot be evaluated before
    // that subquery runs, so such a scan's splits are not known yet
    case s: FileSourceScanExec =>
      !s.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        s.inputRDD.getNumPartitions == 1
    case _: ProjectExec | _: FilterExec | _: GenerateExec | _: ColumnarToRowExec =>
      onePartition(p.children.head)
    case j: BroadcastHashJoinExec => onePartition(streamed(j.buildSide, j.left, j.right))
    // the join types whose output is the streamed side's partitions
    // (the others union in the build side's unmatched rows)
    case j: BroadcastNestedLoopJoinExec => (j.joinType, j.buildSide) match {
      case (_: InnerLike, _) | (RightOuter, BuildLeft) |
          (LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin, BuildRight) =>
        onePartition(streamed(j.buildSide, j.left, j.right))
      case _ => false
    }
    case _ => false
  }

  private def streamed(build: BuildSide, left: SparkPlan, right: SparkPlan) =
    build match {
      case BuildLeft => right
      case BuildRight => left
    }
}
